"""Differential tests: compiled UDFs vs CPython on the same inputs.

Mirrors the reference's per-feature python tests (test_arithmetic.py,
test_strings.py, test_math.py, test_logical.py, ...) with the
CPython-differential pattern of test_fallback.py.
"""

import math
import random
import sys

import pytest

from conftest import run_diff, run_diff3


NUMS = [1, 2, 3, -4, 10, 0, 7]
FLOATS = [1.5, -2.25, 0.0, 3.75, 100.5]
STRINGS = ["hello", "World", "  pad  ", "a,b,c", "", "MiXeD", "12345",
           "3.75", "x"]
PAIRS = [(1, 10.0), (2, -3.5), (3, 0.25), (0, 7.5)]


class TestArithmetic:
    def test_add_mul(self, ctx):
        run_diff(ctx, NUMS, lambda x: x * 2 + 1)

    def test_true_div(self, ctx):
        run_diff(ctx, NUMS, lambda x: x / 2)

    def test_floor_div_mod(self, ctx):
        run_diff(ctx, NUMS, lambda x: (x // 3, x % 3))

    def test_neg_mod_sign(self, ctx):
        # CPython: sign follows divisor
        run_diff(ctx, [-7, -1, 1, 7], lambda x: (x % 3, x % -3, x // -2))

    def test_pow(self, ctx):
        run_diff(ctx, [1, 2, 3, 4], lambda x: x ** 2)

    def test_float_arith(self, ctx):
        run_diff(ctx, FLOATS, lambda x: x * 0.5 - 1.25)

    def test_div_by_zero_exceptions(self, ctx):
        ds = run_diff(ctx, NUMS, lambda x: 10 // x)
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_unary(self, ctx):
        run_diff(ctx, NUMS, lambda x: (-x, +x, abs(x)))

    def test_bitwise(self, ctx):
        run_diff(ctx, [1, 2, 3, 12], lambda x: (x & 3, x | 8, x ^ 5,
                                                x << 2, x >> 1))

    def test_chained_compare(self, ctx):
        run_diff(ctx, NUMS, lambda x: 0 < x < 5, op="filter")

    def test_ternary(self, ctx):
        run_diff(ctx, NUMS, lambda x: x if x > 0 else -x)

    def test_min_max_round(self, ctx):
        run_diff(ctx, FLOATS, lambda x: (min(x, 2.0), max(x, 0.0),
                                         round(x), round(x, 1)))


class TestStrings:
    def test_case_ops(self, ctx):
        run_diff(ctx, STRINGS, lambda s: (s.lower(), s.upper(),
                                          s.capitalize()))

    def test_strip(self, ctx):
        run_diff(ctx, STRINGS, lambda s: (s.strip(), s.lstrip(), s.rstrip()))

    def test_strip_chars(self, ctx):
        run_diff(ctx, ["xxhixx", "xhix", "hi"], lambda s: s.strip("x"))

    def test_replace_concat_repeat(self, ctx):
        run_diff(ctx, STRINGS, lambda s: (s.replace("l", "L") + "!", s * 2))

    def test_find_index_count(self, ctx):
        run_diff(ctx, STRINGS, lambda s: (s.find("l"), s.rfind("l"),
                                          s.count("l")))

    def test_startswith_contains(self, ctx):
        run_diff(ctx, STRINGS,
                 lambda s: s.startswith("h") or s.endswith("d") or "," in s,
                 op="filter")

    def test_split_join(self, ctx):
        run_diff(ctx, ["a,b,c", "x,y", "solo"],
                 lambda s: "-".join(s.split(",")))

    def test_split_index(self, ctx):
        run_diff(ctx, ["a,b,c", "x,y,z"], lambda s: s.split(",")[1])

    def test_whitespace_split(self, ctx):
        run_diff(ctx, ["a b  c", "  x ", ""], lambda s: len(s.split()))

    def test_subscript_slice(self, ctx):
        run_diff(ctx, ["hello", "world", "ab"],
                 lambda s: (s[0], s[-1], s[1:3], s[:2], s[-2:], s[::-1]))

    def test_is_predicates(self, ctx):
        run_diff(ctx, STRINGS, lambda s: (s.isdigit(), s.isalpha(),
                                          s.isalnum()))

    def test_len_fstring(self, ctx):
        run_diff(ctx, STRINGS, lambda s: f"<{s}:{len(s)}>")

    def test_zfill_center(self, ctx):
        run_diff(ctx, ["5", "42", "-7", "12345"], lambda s: s.zfill(4))

    def test_format(self, ctx):
        run_diff(ctx, NUMS, lambda x: "num={}!".format(x))

    def test_str_cast(self, ctx):
        run_diff(ctx, NUMS, lambda x: str(x))
        run_diff(ctx, [True, False], lambda x: str(x))

    def test_index_raises(self, ctx):
        ds = run_diff(ctx, ["hello", "xyz"], lambda s: s.index("l"))
        assert ds.exception_counts == {"ValueError": 1}


class TestCasts:
    def test_int_of_str(self, ctx):
        ds = run_diff(ctx, ["12", " 34 ", "3.5", "abc", "-7"],
                      lambda s: int(s))
        assert ds.exception_counts == {"ValueError": 2}

    def test_float_of_str(self, ctx):
        ds = run_diff(ctx, ["1.5", "2", "abc", "-3.25"], lambda s: float(s))
        assert ds.exception_counts == {"ValueError": 1}

    def test_int_of_float_truncates(self, ctx):
        run_diff(ctx, [1.9, -1.9, 0.5], lambda x: int(x))

    def test_bool(self, ctx):
        run_diff(ctx, NUMS, lambda x: bool(x))
        run_diff(ctx, STRINGS, lambda s: bool(s))


class TestMath:
    def test_basic(self, ctx):
        run_diff(ctx, [0.5, 1.0, 2.0],
                 lambda x: (math.sin(x), math.cos(x), math.exp(x),
                            math.sqrt(x)))

    def test_log_domain(self, ctx):
        ds = run_diff(ctx, [1.0, math.e, -1.0, 0.0], lambda x: math.log(x))
        assert ds.exception_counts == {"ValueError": 2}

    def test_floor_ceil(self, ctx):
        run_diff(ctx, FLOATS, lambda x: (math.floor(x), math.ceil(x)))

    def test_constants(self, ctx):
        run_diff(ctx, FLOATS, lambda x: x * math.pi + math.e)

    def test_pow_atan2(self, ctx):
        run_diff(ctx, [1.0, 2.0, 3.0],
                 lambda x: (math.pow(x, 2.5), math.atan2(x, 2.0)))


class TestRegex:
    def test_search_filter(self, ctx):
        import re
        run_diff(ctx, STRINGS, lambda s: bool(re.search("l+o", s)),
                 op="filter")

    def test_sub(self, ctx):
        import re
        run_diff(ctx, STRINGS, lambda s: re.sub("[aeiou]", "_", s))

    def test_group(self, ctx):
        import re
        ds = run_diff(ctx, ["ab12cd", "xy99", "none"],
                      lambda s: re.search(r"(\d+)", s).group(1))
        assert ds.exception_counts == {"AttributeError": 1}


class TestRows:
    def test_positional_and_named(self, ctx):
        run_diff(ctx, PAIRS, lambda x: x[0] + x[1], columns=["a", "b"])
        run_diff(ctx, PAIRS, lambda x: x["a"] * x["b"], columns=["a", "b"])

    def test_negative_index(self, ctx):
        run_diff(ctx, PAIRS, lambda x: x[-1], columns=["a", "b"])

    def test_tuple_out(self, ctx):
        run_diff(ctx, PAIRS, lambda x: (x[1], x[0]), columns=["a", "b"])

    def test_dict_out_names(self, ctx):
        ds = ctx.parallelize(PAIRS, columns=["a", "b"]) \
            .map(lambda x: {"s": x["a"] + x["b"], "d": x["a"] - x["b"]})
        assert ds.columns == ["s", "d"]

    def test_multi_arg(self, ctx):
        run_diff(ctx, PAIRS, lambda a, b: a * 10 + b, columns=["a", "b"])


class TestStatements:
    def test_if_else_return(self, ctx):
        def f(x):
            if x > 2:
                return x * 10
            elif x > 0:
                return x
            else:
                return -x
        run_diff(ctx, NUMS, f)

    def test_assign_chain(self, ctx):
        def f(x):
            y = x * 2
            z = y + 1
            y += z
            return y
        run_diff(ctx, NUMS, f)

    def test_partial_return_fallthrough(self, ctx):
        def f(x):
            if x > 3:
                return 99
            y = x + 1
            return y
        run_diff(ctx, NUMS, f)

    def test_raise_in_branch(self, ctx):
        def f(x):
            if x == 0:
                raise ValueError("zero")
            return 10 / x
        ds = run_diff(ctx, NUMS, f)
        assert ds.exception_counts == {"ValueError": 1}

    def test_assert(self, ctx):
        def f(x):
            assert x != 0
            return x + 1
        ds = run_diff(ctx, NUMS, f)
        assert ds.exception_counts == {"AssertionError": 1}

    def test_tuple_destructure(self, ctx):
        def f(x):
            a, b = x[0], x[1]
            return a + b
        run_diff(ctx, PAIRS, f, columns=["a", "b"])


class TestClosures:
    def test_closure_constant(self, ctx):
        k = 7
        run_diff(ctx, NUMS, lambda x: x * k)

    def test_closure_list_membership(self, ctx):
        allowed = [1, 3, 10]
        run_diff(ctx, NUMS, lambda x: x in allowed, op="filter")


class TestFallbackLadder:
    def test_loop_falls_back(self, ctx):
        """UDFs with loops can't compile -> Arrow fallback, same results."""
        def f(x):
            total = 0
            for i in range(x if x > 0 else 0):
                total += i
            return total
        run_diff(ctx, [1, 2, 3, 5], f)

    def test_none_handling(self, ctx):
        ds = run_diff(ctx, [1, 2, None, 4], lambda x: x * 2)
        assert ds.exception_counts == {"TypeError": 1}


class TestExtendedStrings:
    """New §2.6 surface: swapcase/partition/ljust/rjust/remove*/splitlines."""
    EDGE = ["hello world", "MiXeD Case", "", "abXab", "x", "a,b,c",
            "  sp  ", "line1\nline2\n", "multi\n\nblank"]

    def test_swapcase(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: x.swapcase())

    def test_partition(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: x.partition(","))

    def test_rpartition(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: x.rpartition("a"))

    def test_ljust_rjust(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: (x.ljust(8, "."), x.rjust(8)))

    def test_removeprefix_suffix(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: (x.removeprefix("ab"),
                                            x.removesuffix("ab")))

    def test_splitlines(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: x.splitlines())

    def test_reverse_slice(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: x[::-1])

    def test_step_slices_positive(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: x[::2], expect_compiled=True)
        run_diff(ctx, self.EDGE, lambda x: x[1::3], expect_compiled=True)
        run_diff(ctx, self.EDGE, lambda x: x[1:5:2], expect_compiled=True)
        run_diff(ctx, self.EDGE, lambda x: x[-4::2], expect_compiled=True)

    def test_step_slices_negative(self, ctx):
        run_diff(ctx, self.EDGE, lambda x: x[::-2], expect_compiled=True)
        run_diff(ctx, self.EDGE, lambda x: x[4:1:-2],
                 expect_compiled=True)
        run_diff(ctx, self.EDGE, lambda x: x[-1:-6:-3],
                 expect_compiled=True)
        run_diff(ctx, self.EDGE, lambda x: x[5::-1], expect_compiled=True)
        run_diff(ctx, self.EDGE, lambda x: x[:2:-1], expect_compiled=True)

    def test_step_slice_dynamic_bounds(self, ctx):
        run_diff(ctx, self.EDGE,
                 lambda x: x[len(x) - 5::2], expect_compiled=True)
        run_diff(ctx, self.EDGE,
                 lambda x: x[len(x) - 1::-2], expect_compiled=True)

    def test_step_slice_on_array(self, ctx):
        run_diff(ctx, self.EDGE,
                 lambda x: x.split(" ")[::2], expect_compiled=True)
        run_diff(ctx, self.EDGE,
                 lambda x: x.split(" ")[::-2], expect_compiled=True)

    def test_zero_step_raises(self, ctx):
        ds = ctx.parallelize(["abcdef"]).map(lambda x: x[::0])
        assert ds.collect() == []
        assert ds.exception_counts == {"ValueError": 1}


class TestExtendedMath:
    PAIRS2 = [(3, 4.0), (-7, 3.0), (0, -2.5), (5, 0.5), (-1, -1.5)]

    def test_hypot(self, ctx):
        run_diff(ctx, self.PAIRS2, lambda x: math.hypot(x["a"], x["b"]),
                 columns=["a", "b"])

    def test_trunc(self, ctx):
        run_diff(ctx, self.PAIRS2, lambda x: math.trunc(x["b"]),
                 columns=["a", "b"])

    def test_copysign(self, ctx):
        run_diff(ctx, self.PAIRS2, lambda x: math.copysign(x["a"], x["b"]),
                 columns=["a", "b"])

    def test_fmod(self, ctx):
        run_diff(ctx, [(3, 4.0), (-7, 3.0), (5, 0.5), (-1, -1.5)],
                 lambda x: math.fmod(x["a"], x["b"]), columns=["a", "b"])

    def test_fmod_zero_divisor_raises(self, ctx):
        ds = run_diff(ctx, [(3, 4.0), (1, 0.0)],
                      lambda x: math.fmod(x["a"], x["b"]),
                      columns=["a", "b"])
        assert ds.exception_counts == {"ValueError": 1}


class TestComprehensions:
    DATA = ["alpha beta gamma", "one", "", "longword tiny it"]

    def test_listcomp_transform(self, ctx):
        run_diff(ctx, self.DATA, lambda x: [t.upper()
                                            for t in x.split(" ")])

    def test_listcomp_with_filter(self, ctx):
        # expect_compiled guards the arity fix: a defaulted closure param
        # made pyspark pass the array index into the predicate, silently
        # falling back for every comprehension with an `if`
        run_diff(ctx, self.DATA,
                 lambda x: [t for t in x.split(" ") if len(t) > 3],
                 expect_compiled=True)

    def test_sum_listcomp(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda x: sum([len(t) for t in x.split(" ")]))

    def test_sum_genexp_start(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda x: sum((len(t) for t in x.split(" ")), 100))

    def test_sorted_split(self, ctx):
        run_diff(ctx, self.DATA, lambda x: sorted(x.split(" ")))

    def test_random_choice_membership(self, ctx):
        ds = ctx.parallelize([1, 2, 3, 4]).map(
            lambda x: random.choice("ab"))
        assert set(ds.collect()) <= {"a", "b"}


class TestGuardedComprehensionBody:
    """Round 12: a single-generator comprehension whose BODY can raise
    compiles — the per-element guards lift to row scope: the row
    raises iff some surviving element's body raises, at the FIRST
    such element in array order (site order within the element
    preserved), exactly CPython's evaluation order."""

    def test_int_cast_body(self, ctx):
        # ValueError at the first non-digit token
        def f(x):
            return sum([int(t) for t in x.split(" ")])
        run_diff(ctx, ["1 2 3", "4 x 5", "10", "y", "7 8"], f,
                 expect_compiled=True)

    def test_division_body(self, ctx):
        def f(x):
            return sum([10 // (len(t) - 2) for t in x.split(" ")])
        run_diff(ctx, ["a bbb", "ab cd", "abc a", ""], f,
                 expect_compiled=True)

    def test_two_sites_first_raise_order(self, ctx):
        # per element: int(t) (ValueError) evaluates BEFORE the
        # division (ZeroDivisionError); across elements the FIRST bad
        # element decides — "0 x" must raise ZeroDivisionError, "x 0"
        # must raise ValueError
        def f(x):
            return sum([100 // int(t) for t in x.split(" ")])
        ds1 = ctx.parallelize(["0 x"]).map(f)
        ds1.collect()
        assert list(ds1.exception_counts) == ["ZeroDivisionError"]
        ds2 = ctx.parallelize(["x 0"]).map(f)
        ds2.collect()
        assert list(ds2.exception_counts) == ["ValueError"]
        run_diff(ctx, ["1 2 4", "5 0", "z 0", "25"], f,
                 expect_compiled=True)

    def test_filtered_elements_cannot_raise(self, ctx):
        # an element the `if` filters out is never evaluated by
        # CPython — the lifted guard must skip it too
        def f(x):
            return sum([10 // (len(t) - 1)
                        for t in x.split(" ") if len(t) != 1])
        run_diff(ctx, ["ab c ddd", "x", "ab", ""], f,
                 expect_compiled=True)

    def test_guard_resolvable(self, ctx):
        def f(x):
            return sum([int(t) for t in x.split(" ")])
        ds = ctx.parallelize(["1 2", "3 z", "4"]).map(f) \
            .resolve(ValueError, lambda x: -1)
        assert ds.collect() == [3, -1, 4]

    def test_guarded_condition_still_falls_back(self, ctx):
        def f(x):
            return sum([len(t) for t in x.split(" ") if int(t) > 2])
        run_diff(ctx, ["3 4", "1 9"], f, expect_compiled=False)


class TestPositionalColumns:
    def test_mapcolumn_by_index(self, ctx):
        ds = ctx.parallelize([(1, "a"), (2, "b")], columns=["n", "s"])
        assert ds.mapColumn(0, lambda v: v * 10).collect() == \
            [(10, "a"), (20, "b")]
        assert ds.mapColumn(-1, lambda v: v.upper()).collect() == \
            [(1, "A"), (2, "B")]

    def test_mapcolumn_bad_index(self, ctx):
        ds = ctx.parallelize([(1, "a")], columns=["n", "s"])
        import pytest as _pytest
        with _pytest.raises(KeyError):
            ds.mapColumn(5, lambda v: v)


class TestLoops:
    """Compiled for-loops: static unroll + F.aggregate fold translation
    (reference compiles loops natively — SymbolTable.cc:150-364; here the
    compiled path must stay in Catalyst, asserted via expect_compiled)."""

    TEXTS = ["the quick brown fox", "a b", "", "jumps over lazy dogs now",
             "single"]

    def test_fold_sum_over_split(self, ctx):
        def f(x):
            total = 0
            for t in x.split(" "):
                total += len(t)
            return total
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_fold_with_branch(self, ctx):
        def f(x):
            long_len = 0
            n = 0
            for t in x.split(" "):
                if len(t) > 3:
                    long_len += len(t)
                n += 1
            return (long_len, n)
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_fold_with_temp_var(self, ctx):
        def f(x):
            acc = 0
            for t in x.split(" "):
                w = len(t) * 2
                acc += w
            return acc
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_fold_int_widens_to_float(self, ctx):
        def f(x):
            acc = 0
            for t in x.split(" "):
                acc += len(t) * 0.5
            return acc
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_fold_string_accumulator(self, ctx):
        def f(x):
            out = ""
            for t in x.split(" "):
                out += t.upper()
            return out
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_enumerate_fold(self, ctx):
        def f(x):
            weighted = 0
            for i, t in enumerate(x.split(" ")):
                weighted += i * len(t)
            return weighted
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_zip_fold_truncates_like_python(self, ctx):
        def f(x):
            acc = 0
            for a, b in zip(x.split(" "), x.split("o")):
                acc += len(a) * len(b)
            return acc
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_static_range_unroll(self, ctx):
        def f(x):
            s = 0
            for i in range(5):
                s += i * x
            return s
        run_diff(ctx, [1, 2, 3, 10], f, expect_compiled=True)

    def test_static_range_start_stop_step(self, ctx):
        def f(x):
            s = 0
            for i in range(10, 0, -2):
                s += i + x
            return s
        run_diff(ctx, [1, 2, 3], f, expect_compiled=True)

    def test_static_list_literal(self, ctx):
        def f(x):
            best = ""
            for sep in ["#", " ", "-"]:
                if len(x.split(sep)) > len(best.split(sep)):
                    best = sep
            return best
        run_diff(ctx, ["a#b c-d", "x y z"], f, expect_compiled=True)

    def test_static_zip_enumerate(self, ctx):
        def f(x):
            s = 0
            for i, (a, b) in enumerate(zip([1, 2, 3], [4, 5, 6])):
                s += i * a * b + x
            return s
        run_diff(ctx, [1, 2], f, expect_compiled=True)

    def test_conditional_return_in_static_loop(self, ctx):
        def f(x):
            for i in range(4):
                if x % 7 == i:
                    return i * 100
            return -1
        run_diff(ctx, [0, 1, 7, 8, 15, 3, 20], f, expect_compiled=True)

    def test_guard_inside_static_loop(self, ctx):
        def f(x):
            s = 0
            for i in range(3):
                s += 10 // (x - i)
            return s
        # x in {0,1,2} raises ZeroDivisionError at some iteration
        run_diff(ctx, [5, 7, 1, 10], f, expect_compiled=True)

    def test_loop_var_leaks_after_static_loop(self, ctx):
        def f(x):
            for i in range(3):
                pass
            return i + x
        run_diff(ctx, [1, 2], f, expect_compiled=True)

    def test_constant_while_compiles(self, ctx):
        def f(x):
            n = 0
            while n < 3:
                n += 1
            return n + x
        run_diff(ctx, [1, 2], f, expect_compiled=True)

    def test_first_match_return_compiles(self, ctx):
        # the first-match scan shape now compiles (TestFirstMatch);
        # a return plus OTHER statements in the body still falls back
        def f(x):
            for t in x.split(" "):
                if len(t) > 3:
                    return t
            return ""
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_return_plus_accumulation_compiles(self, ctx):
        # round 11: returns mixed with accumulation compile (value +
        # flag fold accumulators; see TestLoopReturnsWithAccumulation)
        def f(x):
            n = 0
            for t in x.split(" "):
                if len(t) > 3:
                    return t
                n += 1
            return str(n)
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_guarded_fold_body_compiles(self, ctx):
        # round 11: guards inside the fold body fold into synthetic
        # (flag, code) accumulators — the first raising iteration's
        # site wins, and the row becomes an ordinary exception row
        def f(x):
            acc = 0
            for t in x.split(" "):
                acc += 10 // len(t)  # ZeroDivisionError on empty token
            return acc
        run_diff(ctx, ["a bb", "ccc dddd", "a  b", ""], f,
                 expect_compiled=True)

    def test_guarded_fold_raise_is_resolvable(self, ctx):
        # the folded raise behaves like any guard row: resolve() takes it
        def f(x):
            acc = 0
            for t in x.split(" "):
                acc += 10 // len(t)
            return acc
        ds = ctx.parallelize(["a bb", "a  b", "cc"]).map(f)
        out = ds.resolve(ZeroDivisionError, lambda x: -1).collect()
        assert out == [15, -1, 5]

    def test_empty_array_fold(self, ctx):
        def f(x):
            n = 0
            for t in x.split("|"):
                n += 1
            return n
        # split never yields [] for these, but "" yields [""] -> n == 1
        run_diff(ctx, ["", "a|b", "c"], f, expect_compiled=True)


class TestDictPopAndMatchObject:
    """Compiled dict.pop/popitem and match groups()/span()/start()/end()
    (reference: SymbolTable.cc:430-492, StandardModules.cc:136-149)."""

    def test_dict_pop(self, ctx):
        def f(x):
            d = {"a": x * 2, "b": x + 1}
            v = d.pop("a")
            return v + len(d)
        run_diff(ctx, [1, 2, 3], f, expect_compiled=True)

    def test_dict_pop_default(self, ctx):
        def f(x):
            d = {"a": x}
            return d.pop("zz", -5)
        run_diff(ctx, [1, 2], f, expect_compiled=True)

    def test_dict_pop_missing_raises(self, ctx):
        def f(x):
            d = {"a": x}
            return d.pop("zz")
        ds = ctx.parallelize([1, 2]).map(f)
        assert ds.collect() == []
        assert ds.exception_counts == {"KeyError": 2}

    def test_dict_popitem_lifo(self, ctx):
        def f(x):
            d = {"a": x, "b": x * 10}
            k, v = d.popitem()
            return (k, v, len(d))
        run_diff(ctx, [1, 2], f, expect_compiled=True)

    def test_dict_pop_in_branch_falls_back(self, ctx):
        def f(x):
            d = {"a": x, "b": 2}
            if x > 1:
                d.pop("a")
            return len(d)
        run_diff(ctx, [1, 2], f, expect_compiled=False)

    def test_match_groups(self, ctx):
        import re as _re

        def f(x):
            m = _re.search(r"([A-Za-z]+)#([0-9]+)", x)
            if m:
                a, b = m.groups()
                return a + ":" + b
            return "none"
        run_diff(ctx, ["Supplier#42", "nohash", "Cust#7 x"], f,
                 expect_compiled=True)

    def test_match_span_start_end(self, ctx):
        import re as _re

        def f(x):
            m = _re.search(r"[0-9]+", x)
            if m:
                s, e = m.span()
                return (s, e, m.start(), m.end())
            return (-1, -1, -1, -1)
        run_diff(ctx, ["ab123cd", "7", "none", "xy99"], f,
                 expect_compiled=True)

    def test_match_groups_optional_falls_back(self, ctx):
        import re as _re

        def f(x):
            m = _re.search(r"(a)(b)?", x)
            if m:
                return str(m.groups()[1])
            return "none"
        run_diff(ctx, ["ab", "a", "zz"], f, expect_compiled=False)


class TestPathConditionedGuards:
    """Guards must fire only where CPython would actually evaluate the
    raising expression — branch bodies, ternary arms, and short-circuited
    and/or operands are conditioned on their control-flow path."""

    def test_guarded_branch_not_taken(self, ctx):
        def f(x):
            if x != 0:
                return 10 // x
            return -1
        run_diff(ctx, [5, 0, 2], f, expect_compiled=True)

    def test_ternary_guard_conditioned(self, ctx):
        def f(x):
            return 100 // x if x != 0 else -1
        run_diff(ctx, [4, 0, 10], f, expect_compiled=True)

    def test_and_short_circuit_guard(self, ctx):
        run_diff(ctx, [3, 0, 7], lambda x: x != 0 and 10 // x > 2,
                 expect_compiled=True)

    def test_or_short_circuit_guard(self, ctx):
        run_diff(ctx, [3, 0, 7], lambda x: x == 0 or 10 // x > 2,
                 expect_compiled=True)

    def test_nested_branch_guards(self, ctx):
        def f(x):
            if x > 0:
                if x != 5:
                    return 10 // (x - 5)
                return 0
            return 10 // x  # raises only for x == 0
        run_diff(ctx, [7, 5, 3, 0, -2], f, expect_compiled=True)

    def test_guard_actually_fires_on_taken_path(self, ctx):
        def f(x):
            if x < 10:
                return 100 // x
            return 0
        ds = ctx.parallelize([2, 0, 20]).map(f)
        assert ds.collect() == [50, 0]
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_bare_expr_statement_raises(self, ctx):
        def f(x):
            10 // x  # CPython evaluates (and raises for 0) despite no use
            return x + 1
        run_diff(ctx, [5, 0, 3], f, expect_compiled=True)


class TestIteratorBuiltins:
    """Compiled iterator builtins as values (reference SymbolTable.cc:150-364):
    list/tuple/any/all/iter/next/reversed/range."""

    def test_list_of_split(self, ctx):
        run_diff(ctx, ["a b c", "x", ""],
                 lambda s: list(s.split(" ")), expect_compiled=True)

    def test_tuple_identity(self, ctx):
        run_diff(ctx, [(1, 2), (3, 4)],
                 lambda a, b: tuple((a, b)), expect_compiled=True)

    def test_any_all_over_comprehension(self, ctx):
        data = ["the fox", "a b", "wordy sentences only"]
        run_diff(ctx, data,
                 lambda s: any(len(t) > 4 for t in s.split(" ")),
                 expect_compiled=True)
        run_diff(ctx, data,
                 lambda s: all(len(t) > 1 for t in s.split(" ")),
                 expect_compiled=True)

    def test_next_iter_first_token(self, ctx):
        run_diff(ctx, ["hello world", "one"],
                 lambda s: next(iter(s.split(" "))), expect_compiled=True)

    def test_next_iter_default(self, ctx):
        run_diff(ctx, ["a,b", "nocomma"],
                 lambda s: next(iter(s.split(",")), "dflt"),
                 expect_compiled=True)

    def test_reversed_array_value(self, ctx):
        run_diff(ctx, ["a b c", "x y"],
                 lambda s: list(reversed(s.split(" "))),
                 expect_compiled=True)

    def test_reversed_tuple_value(self, ctx):
        run_diff(ctx, [(1, 2, 3)],
                 lambda a, b, c: tuple(reversed((a, b, c))),
                 expect_compiled=True)

    def test_range_value_sum(self, ctx):
        run_diff(ctx, [0, 1, 5, 10],
                 lambda x: sum(range(x)), expect_compiled=True)

    def test_range_two_args(self, ctx):
        run_diff(ctx, [3, 7],
                 lambda x: sum(range(2, x)), expect_compiled=True)


class TestPercentFormat:
    """%-formatting compiles onto format_string for an audited specifier
    subset (zero-pad %0Nd, %s, %f) where Java and CPython agree."""

    def test_zero_pad_int(self, ctx):
        run_diff(ctx, ["42", "7", "02125"],
                 lambda s: "%05d" % int(s), expect_compiled=True)

    def test_mixed_tuple_args(self, ctx):
        run_diff(ctx, [(1, "a"), (42, "zz")],
                 lambda a, b: "%s-%03d!" % (b, a), expect_compiled=True)

    def test_float_default_precision(self, ctx):
        run_diff(ctx, [1.5, 0.125, 3.0],
                 lambda x: "%f" % x, expect_compiled=True)

    def test_literal_percent(self, ctx):
        run_diff(ctx, [30, 55], lambda x: "%d%%" % x, expect_compiled=True)

    def test_unsupported_spec_falls_back(self, ctx):
        # %x, %e and %r compile since round 6, %c since round 7; dynamic
        # format strings remain outside the audited subset
        run_diff(ctx, [255.5, 16.25], lambda x: "%e" % x,
                 expect_compiled=True)
        run_diff(ctx, [255.5, 16.25], lambda x: "%r|%10r|%.2r" % (x, x, x),
                 expect_compiled=True)
        run_diff(ctx, ["a'b", "x"], lambda s: "%r|%-8r" % (s, s),
                 expect_compiled=True)
        # genuinely dynamic format string (width from the row) — the
        # one %-format shape still outside the compiled subset
        run_diff(ctx, [1, 3], lambda x: ("%" + str(x) + "d") % x,
                 expect_compiled=False)

    def test_percent_c(self, ctx):
        run_diff(ctx, [65, 97, 955, 8364, 0x1F600, 0x10FFFF, 0, True],
                 lambda x: "%c!" % x, expect_compiled=True)
        # width / left-align / CPython-ignored 0 flag and precision
        run_diff(ctx, [65, 8364], lambda x: "%5c|%-5c|%05c|%.2c"
                 % (x, x, x, x), expect_compiled=True)
        # 1-char strings pass through; longer ones are TypeError rows
        run_diff(ctx, ["a", "€"], lambda s: "%c" % s,
                 expect_compiled=True)
        ds = run_diff(ctx, ["a", "ab", ""], lambda s: "%c" % s,
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 2}
        ds = run_diff(ctx, [65, -1, 0x110000], lambda x: "%c" % x,
                      expect_compiled=True)
        assert ds.exception_counts == {"OverflowError": 2}
        ds = run_diff(ctx, [3.0, 2.5], lambda x: "%c" % x,
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 2}


class TestFallbackFilterTruthiness:
    def test_filter_returning_match_object(self, ctx):
        """A filter UDF may return any object; its TRUTHINESS decides
        (CPython semantics) — a regex match must not be treated as a
        schema violation on the fallback path."""
        import re as _re

        def f(x):
            s = set()  # force fallback (empty set(): unknown elem type)
            return _re.search(r"[0-9]$", x)
        data = ["row1", "rowx", "row2"]
        res = ctx.parallelize(data).filter(f).collect()
        assert res == ["row1", "row2"]


class TestDictMembership:
    def test_in_dict_literal_tests_keys(self, ctx):
        run_diff(ctx, ["a", "b", "z"],
                 lambda s: s in {"a": 1, "b": 2}, expect_compiled=True)
        run_diff(ctx, ["a", "q"],
                 lambda s: s not in {"a": 0}, expect_compiled=True)


class TestFloatStrParity:
    """str(float) must emit CPython repr format, not Spark's Java style
    ('Infinity'/'NaN'/'1.0E16'): plain decimal for decimal exponents in
    [-4, 16), 'd.dde±NN' sci outside, 'inf'/'nan' specials.  Known
    unfixable edge: a few subnormals where pre-Ryu Java emits an extra
    digit (4.9E-324 vs 5e-324)."""

    VALS = [3.141592653589793, float("inf"), float("-inf"), float("nan"),
            1e16, -1e16, 9.999e15, 1.2345678e7, 12345678.9, 1e7, 150.0,
            0.0001, 1.23e-4, 1e-5, -1e-5, 0.001, 123.456, 0.0, -0.0,
            1e22, 1.5e100, -2.5e-100, 2.0000000000000004,
            1.7976931348623157e308, 1.5e-300]

    def test_compiled_str_of_float(self, ctx):
        before = ctx.metrics.compiledUDFs
        res = ctx.parallelize(self.VALS).map(lambda x: str(x)).collect()
        assert ctx.metrics.compiledUDFs == before + 1
        assert res == [str(v) for v in self.VALS]

    def test_fstring_of_float(self, ctx):
        res = ctx.parallelize([1e16, 0.5, 1e-5]) \
            .map(lambda x: f"v={x}").collect()
        assert res == [f"v={v}" for v in [1e16, 0.5, 1e-5]]


class TestFallbackNullVsNan:
    """The Arrow->pandas hand-off shows null AND NaN as NaN in float64
    columns (and upcasts int columns with nulls to float64); JVM-side
    isNull flag columns disambiguate so fallback UDFs see the exact
    values the compiled path would."""

    def test_nan_reaches_fallback_udf(self, ctx):
        def f(x):
            _ = set()  # force fallback (empty set(): unknown elem type)
            return str(x)
        res = ctx.parallelize([float("nan"), 1.5, None]).map(f).collect()
        assert res == ["nan", "1.5", "None"]

    def test_nullable_int_stays_int(self, ctx):
        def g(x):
            _ = set()  # force fallback
            return x[0] // 2 if x[0] is not None else -1
        res = ctx.parallelize([(4, "a"), (None, "b"), (9, "c")],
                              columns=["n", "s"]).map(g).collect()
        assert res == [2, -1, 4]


class TestTitleCompiled:
    """str.title() with CPython word semantics (cased char upper after
    any UNCASED char — not initcap's whitespace-only rule)."""

    VALS = ["x,y", "abc1def", "mIxEd CaSe WoRdS", "", " ", "\t a \n",
            "ALL CAPS", "123", "a,b.c;d", "o'neill", "3rd place",
            "under_score", "déjà vu", "中a文b"]

    def test_title(self, ctx):
        run_diff(ctx, self.VALS, lambda s: s.title(), expect_compiled=True)

    def test_title_chained(self, ctx):
        run_diff(ctx, self.VALS, lambda s: s.upper().title().swapcase(),
                 expect_compiled=True)


class TestBreakContinueCompiled:
    """break/continue in statically-unrolled loops: lowered to guard
    flags (break -> brk=cont=True; continue -> cont=True; trailing
    statements wrapped in `if not cont`, iterations in `if not brk`).
    Constant conditions (unrolled literal indices) fold statically, so
    loops whose exits are index-determined compile flag-free."""

    ROWS = [(0, 1.0, "s"), (1, 2.0, "t"), (2, 0.5, "u"), (3, -1.0, "v"),
            (5, 0.0, "w"), (13, 9.9, "x")]

    def test_data_dependent_break(self, ctx):
        def f(x):
            s = 0
            for i in range(10):
                if i * x["a"] > 12:
                    break
                s += i
            return s
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_continue_then_break(self, ctx):
        def f(x):
            s = 0
            for i in range(8):
                if i % 2 == 0:
                    continue
                if i > x["a"]:
                    break
                s += i * 10
            return s
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_statements_after_continue_and_break(self, ctx):
        def f(x):
            out = 0
            n = 0
            for i in range(6):
                n += 1
                if i == x["a"]:
                    continue
                out += i
                if out > 7:
                    break
                out += 100
            return (out, n)
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_return_from_loop_over_list(self, ctx):
        def f(x):
            for t in ["ab", "cde", "fg", "hij"]:
                if len(t) == x["a"]:
                    return t
            return "none"
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_nested_loops_static_break(self, ctx):
        def f(x):
            s = 0
            for i in range(4):
                for j in range(4):
                    if j >= i:
                        break
                    s += 1
                if i == 3:
                    continue
                s += 10
            return s
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_nested_dynamic_break_falls_back_not_hangs(self, ctx):
        """Deep dynamic-flag nesting exceeds the staged-projection cap:
        must take the Arrow fallback (exact), never stall the optimizer."""
        def f(x):
            s = 0
            for i in range(6):
                for j in range(6):
                    if (i * 6 + j) * x["a"] > 40:
                        break
                    s += j
                if s > 60:
                    break
            return s
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=False)


_STAGED_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession, types as T
from tuplex_spark.udf import compiler


def f(x):
    s = 0
    for i in range(10):
        if i * x["a"] > 12:
            break
        s += i
    return s


spark = (SparkSession.builder.master("local[1]")
         .config("spark.driver.memory", "512m")
         .config("spark.ui.enabled", "false").getOrCreate())
schema = T.StructType([T.StructField("a", T.LongType()),
                       T.StructField("b", T.DoubleType()),
                       T.StructField("s", T.StringType())])
staged = compiler.compile_udf(f, schema).staged
print("RESULT " + json.dumps([[n, str(c)] for n, c in staged]))
spark.stop()
"""


class TestStagedLayers:
    """A compiled UDF's staged locals (``__tN``) go on the frame in one
    projection, as lateral column aliases."""

    def test_layers_do_not_depend_on_the_hash_seed(self, tmp_path):
        # the UDF of TestBreakContinueCompiled.test_data_dependent_break,
        # compiled in two processes with different string hash seeds
        import json
        import os
        import subprocess
        script = tmp_path / "staged.py"
        script.write_text(_STAGED_SCRIPT)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        procs = [subprocess.Popen(
            [sys.executable, str(script), root], stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True, cwd=str(tmp_path),
            env={**os.environ, "PYTHONHASHSEED": seed})
            for seed in ("0", "1")]
        layers = []
        for p in procs:
            out, err = p.communicate(timeout=600)
            line = [x for x in out.splitlines() if x.startswith("RESULT ")]
            assert line, out[-2000:] + err[-4000:]
            layers.append(json.loads(line[-1][len("RESULT "):]))
        assert len(layers[0]) > 1
        assert layers[0] == layers[1]

    def test_session_without_lateral_aliases_demotes(self, ctx):
        import tuplex_spark as tx

        def f(x):
            s = 0
            for i in range(10):
                if i * x["a"] > 12:
                    break
                s += i
            return s
        rows = TestBreakContinueCompiled.ROWS
        session = ctx.spark.newSession()
        session.conf.set(
            "spark.sql.lateralColumnAlias.enableImplicitResolution",
            "false")
        want = [f({"a": r[0]}) for r in rows]
        for c, compiled in ((ctx, 1), (tx.Context(spark=session), 0)):
            before = (c.metrics.compiledUDFs, c.metrics.fallbackUDFs)
            ds = c.parallelize(rows, columns=["a", "b", "s"]).map(f)
            assert (c.metrics.compiledUDFs - before[0],
                    c.metrics.fallbackUDFs - before[1]) == \
                (compiled, 1 - compiled)
            assert ds.collect() == want
            assert ds.exception_counts == {}


class TestWhileCompiled:
    """Constant-condition while loops unroll iteratively (the condition
    must fold each iteration; data-dependent conditions fall back)."""

    ROWS = [(0, 1.0, "s"), (1, 2.0, "t"), (3, 0.5, "u"), (7, -1.0, "v")]

    def test_counter_while(self, ctx):
        def f(x):
            i = 0
            s = 0
            while i < 5:
                s += i * x["a"]
                i += 1
            return s
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_while_false_never_runs(self, ctx):
        def f(x):
            while False:
                return -1
            return x["a"] + 1
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_conditional_return_inside_while(self, ctx):
        def f(x):
            i = 0
            while i < 6:
                if i * 2 == x["a"]:
                    return i
                i += 1
            return -1
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_guard_after_conditional_return(self, ctx):
        """Rows that returned in iteration k must not trip iteration
        k+1's division guard."""
        def f(x):
            i = 0
            while i < 4:
                if i == x["a"]:
                    return 100 + i
                i += 1
            return 10 // x["a"]  # ZeroDivisionError only if no return
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)

    def test_countdown_now_compiles_as_contraction(self, ctx):
        # was a fallback case until the convergence-fold landed: the
        # linear contraction (n -= 1 against n > 0) has a provable
        # per-row iteration bound, so it rides one F.aggregate
        def f(x):
            n = x["a"]
            s = 0
            while n > 0:
                s += n
                n -= 1
            return s
        run_diff(ctx, self.ROWS, f, columns=["a", "b", "s"],
                 expect_compiled=True)


class TestConvergenceWhile:
    """Data-dependent ``while`` loops with a provable contraction bound
    compile onto ONE F.aggregate over sequence(1, K_row) (reference
    compiles arbitrary whiles natively, BlockGeneratorVisitor.cc; here
    the bounded-convergence subset stays compiled, the rest falls
    back).  Iterations past convergence are no-ops, so the analytic
    overshoot is free."""

    # 3000 keeps the slowest shape (0.75-step drain: ~4000 iterations)
    # inside the 4096 cap; the cap path has its own dedicated test
    DATA = [1, 5, 1000, 0, 7, 2, 3000]

    def test_halving_loop(self, ctx):
        def f(x):
            n = 0
            v = float(x)
            while v > 1.0:
                v = v / 2.0
                n += 1
            return (n, v)
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_linear_drain(self, ctx):
        def f(x):
            v = x * 1.0
            while v > 0.5:
                v -= 0.75
            return v
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_int_digit_count(self, ctx):
        def f(x):
            d = 1
            while x >= 10:
                x //= 10
                d += 1
            return d
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_grow_to_threshold(self, ctx):
        def f(x):
            v = x * 1.0
            while v < 100.0:
                v += 7.5
            return v
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_mult_shrink(self, ctx):
        def f(x):
            v = float(x)
            k = 0
            while v >= 2.5:
                v *= 0.5
                k += 1
            return (v, k)
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_reversed_compare_orientation(self, ctx):
        def f(x):
            v = float(x)
            while 1.0 < v:
                v = v / 3.0
            return v
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_float_drift_exceeds_naive_bound(self, ctx):
        # at x0=1e17 the ulp is 16, so `v -= 40` rounds each step to a
        # multiple of 16 (effectively 32): CPython needs 125 iterations
        # where the naive ceil((x0-t)/c)=100 bound (+4 margin) falls
        # short and the cap guard raised a spurious RuntimeError.  The
        # drift-aware bound divides by the worst-case effective step
        # c - ulp/2 instead.
        def f(x):
            v = 1e17 + x
            n = 0
            while v > 1e17 - 4000.0:
                v -= 40.0
                n += 1
            return n
        run_diff(ctx, [0, 1], f, expect_compiled=True)

    def test_int_linear_drain_still_exact(self, ctx):
        # pure-int driver/step/threshold: long arithmetic is exact, the
        # analytic bound must stay tight (no drift slack needed)
        def f(x):
            v = x
            n = 0
            while v > 3:
                v -= 7
                n += 1
            return (v, n)
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_threshold_from_local_constant(self, ctx):
        def f(x):
            eps = 2.0
            v = float(x)
            while v > eps:
                v = v / 2.0
            return v
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_cap_exceeded_is_loud_not_wrong(self, ctx):
        # a row needing more iterations than the cap must become a
        # visible RuntimeError row (documented divergence: CPython
        # would keep iterating), NEVER a silently-wrong value
        def f(x):
            v = x * 1.0
            while v > 0.5:
                v -= 0.25
            return v
        ds = ctx.parallelize([2, 3, 100_000]).map(f)
        assert ds.collect() == [f(2), f(3)] == [0.5, 0.5]
        assert ds.exception_counts == {"RuntimeError": 1}

    def test_growth_loop_compiles(self, ctx):
        # x *= c (c > 1) toward an upper bound: k = ceil(log(t/x0)/
        # log c) for x0 > 0; non-positive starts hang CPython and
        # become guarded RuntimeError rows (tested separately)
        def f(x):
            v = x * 1.0 + 0.5
            n = 0
            while v < 100.0:
                v *= 2.0
                n += 1
            return (v, n)
        run_diff(ctx, [1, 5, 50, 1000], f, expect_compiled=True)

    def test_growth_div_by_fraction_compiles(self, ctx):
        def f(x):
            v = x * 1.0 + 0.25
            while v <= 64.0:
                v /= 0.5
            return v
        run_diff(ctx, [1, 5, 50, 1000], f, expect_compiled=True)

    def test_growth_int_accumulator(self, ctx):
        def f(x):
            v = x + 1
            while v < 1000:
                v *= 3
            return v
        run_diff(ctx, [0, 1, 7, 2000], f, expect_compiled=True)

    def test_growth_nonpositive_start_is_loud(self, ctx):
        # x0 <= 0 never reaches the positive threshold: CPython would
        # hang; the compiled path raises a RuntimeError row instead
        # (documented divergence, never a silently-wrong value)
        def f(x):
            v = x * 1.0
            while v < 100.0:
                v *= 2.0
            return v
        ds = ctx.parallelize([4.0, 0.0, -3.0, 256.0]).map(f)
        assert ds.collect() == [128.0, 256.0]
        assert ds.exception_counts == {"RuntimeError": 2}

    def test_growth_nonpositive_start_int_is_loud(self, ctx):
        # int accumulators shift to exactly 0 under long wraparound —
        # the t > 0 requirement keeps the guard loud for those rows too
        def f(x):
            v = x
            while v < 1000:
                v *= 2
            return v
        ds = ctx.parallelize([3, -5, 0]).map(f)
        assert ds.collect() == [1536]
        assert ds.exception_counts == {"RuntimeError": 2}

    def test_growth_nonpositive_threshold_falls_back(self, ctx):
        # t <= 0: entered rows hang CPython and a wrapped long could
        # exit the guard with a wrong 0 — stays on the exact fallback
        def f(x):
            v = x * 1.0
            while v < -1.0:
                v *= 2.0
            return v
        run_diff(ctx, [5.0, 0.0], f, expect_compiled=False)

    def test_non_invariant_threshold_falls_back(self, ctx):
        def f(x):
            v = float(x)
            t = 1.0
            while v > t:
                v = v / 2.0
                t = t * 1.1
            return v
        run_diff(ctx, self.DATA, f, expect_compiled=False)


class TestDictBuiltins:
    """dict() constructor (reference SymbolTable.cc:82) + literal-key
    subscript assignment on local dicts — the build-a-dict UDF shape."""

    def test_dict_ctor_and_literal(self, ctx):
        def f(x):
            d = dict()
            e = {"a": x * 2}
            return len(d) + e["a"] + len(e)
        run_diff(ctx, [1, 2, 3], f, expect_compiled=True)

    def test_subscript_assign(self, ctx):
        def f(x):
            d = dict()
            d["n"] = x * 2
            d["m"] = x + 1
            d["n"] = d["n"] + 5
            return (d["n"], d["m"], len(d))
        run_diff(ctx, [1, 2, 3, -4], f, expect_compiled=True)

    def test_subscript_assign_in_branches_same_keys(self, ctx):
        def f(x):
            d = {"v": 0}
            if x > 1:
                d["v"] = x * 10
            else:
                d["v"] = -x
            return d["v"]
        run_diff(ctx, [0, 1, 2, 3], f, expect_compiled=True)

    def test_branch_divergent_keys_fall_back(self, ctx):
        def f(x):
            d = dict()
            if x > 1:
                d["a"] = x
            else:
                d["b"] = x
            return len(d)
        run_diff(ctx, [0, 2], f, expect_compiled=False)


class TestFloatDivmodParity:
    """CPython float_divmod semantics (Objects/floatobject.c): fmod with
    ONE conditional divisor-add (the ((a%b)+b)%b trick is catastrophically
    lossy for floats) and an off-by-one-safe floor division.  All cases
    found by the wide fuzz sweep."""

    def test_float_mod_precision(self, ctx):
        run_diff(ctx, [(2, 1e-7), (100, -0.0), (-13, 1e16), (3, 0.25)],
                 lambda a, b: (b + b) % 2 if b != 0 else -1.0,
                 columns=["a", "b"])

    def test_float_mod_sign_cases(self, ctx):
        run_diff(ctx, [1e16, -1e16, 0.25, -0.25, 1e-7],
                 lambda b: (-1 % b, 2 % b, -0.5 % b))

    def test_float_floordiv_boundary(self, ctx):
        run_diff(ctx, [1e-7, -1e-7, 0.25, 3.0, 1e16],
                 lambda b: (-1 // b, 1 // b, 2.5 // b))

    def test_nested_float_mod(self, ctx):
        run_diff(ctx, [(2, 1e-7), (4, 0.3), (6, -0.7)],
                 lambda a, b: (2 % b) % a, columns=["a", "b"])


class TestIntPowExact:
    """Integer ** with constant exponent must be exact 64-bit arithmetic:
    F.pow computes in double (7**19 rounded off by one) and its long
    cast clamps at Long.MAX.  Results beyond 2^63 wrap — the engine's
    I64 model (reference parity), outside CPython's bignum."""

    def test_exact_within_long(self, ctx):
        run_diff(ctx, [3, 7, 9, 2], lambda x: x ** 19,
                 expect_compiled=True)
        run_diff(ctx, [2, 3, 5, -7],
                 lambda x: (x ** 0, x ** 1, x ** 3, x ** 13),
                 expect_compiled=True)

    def test_negative_base(self, ctx):
        run_diff(ctx, [-2, -3, 4], lambda x: x ** 5, expect_compiled=True)

    def test_float_exponent_still_float(self, ctx):
        run_diff(ctx, [2, 4, 9], lambda x: x ** 0.5, expect_compiled=True)


class TestFirstMatch:
    """``for t in <dynamic>: if cond(t): return expr(t)`` — the
    first-match scan — compiles to element_at(filter(arr, cond), 1)
    (reference compiles early returns in loops natively via its codegen;
    ASTNodes.h NFor + return statements)."""

    TEXTS = ["alpha beta gamma", "x y z", "bob", "a bb ccc bd", ""]

    def test_first_match_return_element(self, ctx):
        def f(x):
            for t in x.split(" "):
                if t.startswith("b"):
                    return t.upper()
            return "<none>"
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_first_match_dict_return(self, ctx):
        def f(x):
            for t in x.split(" "):
                if len(t) > 3:
                    return {"tok": t, "n": len(t)}
            return {"tok": "", "n": 0}
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_first_match_for_else(self, ctx):
        def f(x):
            for t in x.split(" "):
                if t == "y":
                    return 1
            else:
                return 2
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_first_match_guard_only_on_hit(self, ctx):
        # the return expr's ZeroDivisionError guard must fire ONLY for
        # rows whose scan actually matched (and on the matched element)
        def f(x):
            for t in x.split(" "):
                if t.isdigit():
                    return 100 // int(t)
            return -1
        run_diff(ctx, ["a 0 b", "5 x", "nope", "7", "0"], f,
                 expect_compiled=True)

    def test_first_match_over_enumerate(self, ctx):
        def f(x):
            for i, t in enumerate(x.split(" ")):
                if len(t) == 1:
                    return i
            return -1
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_guarding_predicate_compiles_via_fold(self, ctx):
        # round 12: int(t) in the PREDICATE can raise per element —
        # the filter/element_at fast path can't host that, but the
        # dispatcher now falls THROUGH to the fold, whose r11
        # guard-capture accumulators raise at the first raising
        # element of any not-yet-returned row (CPython's order)
        def f(x):
            for t in x.split(" "):
                if int(t) > 3:
                    return t
            return ""
        run_diff(ctx, ["1 2 9", "4 5", "1 x 9", "x", "2 1"], f,
                 expect_compiled=True)

    def test_raising_predicate_after_match_no_raise(self, ctx):
        # a row that MATCHES before reaching the raising element must
        # return cleanly — the guard fires only on not-yet-broken
        # iterations
        def f(x):
            for t in x.split(" "):
                if 10 // (len(t) - 2) > 3:   # raises on len==2 tokens
                    return t
            return "none"
        run_diff(ctx, ["abc xy", "xy abc", "a b", "zzz"], f,
                 expect_compiled=True)

    def test_raising_predicate_resolvable(self, ctx):
        # the folded raise must be a STANDARD resolvable exception row
        def f(x):
            for t in x.split(" "):
                if int(t) > 3:
                    return t
            return ""
        ds = ctx.parallelize(["1 9", "a 5", "2"]).map(f) \
            .resolve(ValueError, lambda x: "bad")
        assert ds.collect() == ["9", "bad", ""]

    def test_stale_loop_var_falls_back(self, ctx):
        # referencing the loop var after the loop needs the matched/last
        # element — dropped binding means fallback, never a stale value
        def f(x):
            t = "pre"
            for t in x.split(" "):
                if t == "zzz":
                    return "hit"
            return t
        run_diff(ctx, self.TEXTS, f, expect_compiled=False)


class TestPostLoopPathNarrowing:
    """A conditional return inside a loop must narrow the path for
    statements AFTER the loop: their guards may not fire on rows that
    already returned (CPython never executes that code for them)."""

    def test_static_unroll_then_guard(self, ctx):
        def f(x):
            for i in range(1, 3):
                if x == 0:
                    return -1
            return 10 // x
        run_diff(ctx, [0, 1, 2, 5], f, expect_compiled=True)

    def test_static_unroll_break_then_guard(self, ctx):
        def f(x):
            found = 0
            for i in range(4):
                if x == i:
                    found = 1
                    break
            if found == 1 and x == 0:
                return -1
            return 10 // x
        run_diff(ctx, [0, 1, 3, 9], f, expect_compiled=True)

    def test_first_match_then_guard(self, ctx):
        def f(x):
            for t in x.split(" "):
                if t == "skip":
                    return -1
            return 100 // len(x)
        run_diff(ctx, ["skip ", "abcd", "x skip y"], f,
                 expect_compiled=True)


class TestMultiGeneratorComprehensions:
    """Nested comprehension generators compile to flatten(transform(...))
    per level; inner iterables may reference outer variables (CPython's
    re-evaluation-per-outer-element)."""

    TEXTS = ["ab cd", "x", "", "one two three"]

    def test_cross_product(self, ctx):
        def f(x):
            return len([a + b for a in x.split(" ") for b in x.split(" ")])
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_inner_depends_on_outer(self, ctx):
        def f(x):
            return "|".join([c for t in x.split(" ")
                             for c in t.split("o")])
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_conditions_at_both_levels(self, ctx):
        def f(x):
            return sum(len(a) * len(b)
                       for a in x.split(" ") if len(a) > 1
                       for b in x.split(" ") if b != a)
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_truthiness_condition(self, ctx):
        # `if t` on a str element must use Python truthiness (non-empty)
        def f(x):
            return len([t for t in x.split(" ") if t])
        run_diff(ctx, self.TEXTS + ["  a  "], f, expect_compiled=True)

    def test_triple_nested(self, ctx):
        def f(x):
            return len([a + b + c
                        for a in x.split(" ")
                        for b in x.split(" ")
                        for c in x.split(" ") if c < b])
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)


class TestDynamicDictLookup:
    """Constant lookup tables subscripted by a column value compile to a
    when()-chain with a KeyError guard on misses."""

    def test_int_keyed_table(self, ctx):
        def f(x):
            return {0: "zero", 1: "one", 2: "two"}[x % 3]
        run_diff(ctx, [0, 1, 2, 3, 7], f, expect_compiled=True)

    def test_miss_raises_keyerror(self, ctx):
        def f(x):
            return {1: 10, 2: 20}[x]
        ds = run_diff(ctx, [1, 2, 5, -1], f, expect_compiled=True)
        assert ds.exception_counts == {"KeyError": 2}

    def test_str_keyed_table(self, ctx):
        def f(s):
            return {"a": 1, "b": 2, "c": 3}[s]
        run_diff(ctx, ["a", "b", "c", "z"], f, expect_compiled=True)

    def test_closure_table(self, ctx):
        table = {1: 100, 2: 200, 3: 300}

        def f(x):
            return table[x]
        run_diff(ctx, [1, 2, 3], f, expect_compiled=True)

    def test_local_dict_dynamic_key(self, ctx):
        def f(s):
            d = {"x": len(s), "y": len(s) * 2}
            return d[s[0]] if s and s[0] in d else -1
        run_diff(ctx, ["xab", "ycd", "zz", ""], f, expect_compiled=True)

    def test_mixed_value_types_widen(self, ctx):
        def f(x):
            return {0: 1, 1: 2.5}[x % 2]
        run_diff(ctx, [0, 1, 2, 5], f, expect_compiled=True)

    def test_guard_conditioned_on_branch(self, ctx):
        # the KeyError guard must not fire for rows that never evaluate
        # the lookup
        def f(x):
            if x > 10:
                return {1: 5}[x]
            return 0
        run_diff(ctx, [1, 2, 11, 20], f, expect_compiled=True)

    def test_get_with_dynamic_key(self, ctx):
        # regression: the compiled .get returned the default even when
        # the dynamic key matched
        def f(s):
            d = {"a": 1, "b": 2}
            return d.get(s, -1)
        run_diff(ctx, ["a", "b", "z", ""], f, expect_compiled=True)

    def test_get_dynamic_key_no_default(self, ctx):
        def f(s):
            return {"a": 10, "b": 20}.get(s)
        run_diff(ctx, ["a", "q"], f, expect_compiled=True)

    def test_get_dynamic_int_key_on_const_table(self, ctx):
        def f(x):
            return {1: "one", 2: "two"}.get(x % 4, "?")
        run_diff(ctx, [1, 2, 3, 5, 6], f, expect_compiled=True)


class TestSortedKeyReverse:
    """sorted(key=..., reverse=...) — decorate-sort-undecorate with
    index-field stability (CPython's stable sort semantics)."""

    TEXTS = ["banana apple cherry", "bb a ccc a bb", "", "one"]

    def test_key_len(self, ctx):
        def f(x):
            return "|".join(sorted(x.split(" "), key=len))
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_key_lambda(self, ctx):
        def f(x):
            return "|".join(sorted(x.split(" "), key=lambda t: t.count("a")))
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_reverse_numeric_key(self, ctx):
        def f(x):
            return "|".join(sorted(x.split(" "), key=len, reverse=True))
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_stability_with_ties(self, ctx):
        # "bb a ccc a bb": key=len ties (bb, bb) and (a, a) must keep
        # original order — a descending struct sort would reverse them
        def f(x):
            return sorted(x.split(" "), key=len)[0] if x else ""
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_reverse_string_elements_falls_back(self, ctx):
        def f(x):
            return "|".join(sorted(x.split(" "), reverse=True))
        run_diff(ctx, self.TEXTS, f, expect_compiled=False)

    def test_min_max_with_key(self, ctx):
        def f(x):
            toks = x.split(" ")
            return (min(toks, key=len), max(toks, key=len))
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_min_max_key_first_tie_wins(self, ctx):
        # CPython min AND max both return the FIRST extreme element
        def f(x):
            return (min(x.split(" "), key=lambda t: t.count("a")),
                    max(x.split(" "), key=lambda t: t.count("a")))
        run_diff(ctx, ["ab ba cc aa", "x y"], f, expect_compiled=True)

    def test_min_key_empty_raises(self, ctx):
        def f(x):
            return min(x.split(","), key=len)
        # split(",") on "" yields [""], never empty -> no raise; use a
        # filtered comprehension to reach the empty case
        def g(x):
            return min([t for t in x.split(" ") if len(t) > 90], key=len)
        ds = run_diff(ctx, ["a b", "c"], g, expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 2}


class TestSplitReplaceArgVariants:
    """split(sep, maxsplit) and replace(old, new, count) — the extra
    argument was silently IGNORED on the compiled path (wrong results,
    not a fallback)."""

    DATA = ["a,b,c,d", "x,y", "solo", ""]

    def test_split_maxsplit(self, ctx):
        run_diff(ctx, self.DATA, lambda s: s.split(",", 1)[-1],
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: len(s.split(",", 2)),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: len(s.split(",", 0)),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: len(s.split(",", -1)),
                 expect_compiled=True)

    def test_split_empty_sep_raises(self, ctx):
        ds = run_diff(ctx, ["ab", "c"], lambda s: s.split("")[0],
                      expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 2}

    def test_split_none_sep(self, ctx):
        run_diff(ctx, ["a  b", " x ", ""], lambda s: len(s.split(None)),
                 expect_compiled=True)

    def test_replace_positive_count_compiles(self, ctx):
        # split-with-limit + array_join: the last part keeps the
        # remaining occurrences, exactly CPython's count semantics
        run_diff(ctx, self.DATA, lambda s: s.replace(",", "-", 1),
                 expect_compiled=True)
        run_diff(ctx, ["aaa", "a.b.c.d", ""],
                 lambda s: s.replace(".", "|", 2), expect_compiled=True)

    def test_replace_count_zero_and_negative(self, ctx):
        run_diff(ctx, self.DATA, lambda s: s.replace(",", "-", 0),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.replace(",", "-", -1),
                 expect_compiled=True)

    def test_replace_empty_old_falls_back(self, ctx):
        run_diff(ctx, ["ab", ""], lambda s: s.replace("", "-"),
                 expect_compiled=False)


class TestOptionalArgAudit:
    """Methods whose optional arguments were silently IGNORED on the
    compiled path (audit after the dict.get/split/replace finds): each
    either compiles with correct semantics or falls back — never wrong."""

    DATA = ["hello world hello", "abcabc", "Xyz", ""]

    def test_count_bounds_compile(self, ctx):
        run_diff(ctx, self.DATA, lambda s: s.count("l", 3),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.count("l", 2, 9),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.count("l", -7, -2),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.count("l", len(s) // 2),
                 expect_compiled=True)

    def test_find_with_start_compiles(self, ctx):
        run_diff(ctx, self.DATA, lambda s: s.find("l", 4),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.find("l", 99),
                 expect_compiled=True)

    def test_index_with_start(self, ctx):
        ds = run_diff(ctx, self.DATA, lambda s: s.index("b", 2),
                      expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 3}

    def test_rfind_bounds_compile(self, ctx):
        run_diff(ctx, self.DATA, lambda s: s.rfind("l", 0, 5),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.rfind("l", 2),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.rfind("he", -9),
                 expect_compiled=True)

    def test_find_end_bound_and_negative(self, ctx):
        run_diff(ctx, self.DATA, lambda s: s.find("l", 1, 4),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.find("l", -6, -1),
                 expect_compiled=True)

    def test_rindex_bounds(self, ctx):
        ds = run_diff(ctx, self.DATA, lambda s: s.rindex("b", 0, 5),
                      expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 3}

    def test_startswith_endswith_bounds_compile(self, ctx):
        run_diff(ctx, self.DATA, lambda s: s.startswith("l", 2),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.startswith("ca", 3, 5),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.endswith("ab", 0, 4),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.startswith("a", -3),
                 expect_compiled=True)
        # empty needle past the end is False, not the window's True
        run_diff(ctx, self.DATA, lambda s: s.startswith("", 99),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.startswith("", len(s)),
                 expect_compiled=True)

    def test_startswith_endswith_tuple(self, ctx):
        # previously a hard AnalysisException, not even a fallback
        run_diff(ctx, self.DATA, lambda s: s.startswith(("he", "ab")),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.endswith(("lo", "bc")),
                 expect_compiled=True)

    def test_center_never_truncates(self, ctx):
        run_diff(ctx, self.DATA, lambda s: s.center(10, "*"),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: s.center(3),
                 expect_compiled=True)

    def test_int_base_compiles(self, ctx):
        run_diff(ctx, ["ff", "10", "7f", "-FF", " +0x_ff ", "0x1", "zz"],
                 lambda s: int(s, 16), expect_compiled=True)
        run_diff(ctx, ["101", "0b1_01", "-11", "2"],
                 lambda s: int(s, 2), expect_compiled=True)
        run_diff(ctx, ["z", "10", "-zz", "Zz"],
                 lambda s: int(s, 36), expect_compiled=True)
        run_diff(ctx, ["777", "0o17", "8"],
                 lambda s: int(s, 8), expect_compiled=True)
        ds = run_diff(ctx, ["12", "9", "x"], lambda s: int(s, 8),
                      expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 2}

    def test_re_sub_count_compiles(self, ctx):
        import re
        run_diff(ctx, ["hello jelly lolly", "none here", ""],
                 lambda s: re.sub("l+", "L", s, 2), expect_compiled=True)
        run_diff(ctx, ["aaa bbb", "x"],
                 lambda s: re.sub("[ab]+", "-", s, 1),
                 expect_compiled=True)
        # negative count replaces nothing (unlike str.replace)
        run_diff(ctx, ["aaa"], lambda s: re.sub("a", "X", s, -1),
                 expect_compiled=True)

    def test_re_sub_count_backref_falls_back(self, ctx):
        import re
        # a REAL group reference can't ride the split rewrite
        run_diff(ctx, ["ab ab"],
                 lambda s: re.sub("(a)b", r"\1!", s, 1),
                 expect_compiled=False)
        # ... but r"\\1!" is a LITERAL backslash + "1!" in CPython's
        # template grammar (not a backref) — the template parser
        # compiles it where the old backslash-digit regex check bailed
        run_diff(ctx, ["ab ab"],
                 lambda s: re.sub("(a)b", r"\\1!", s, 1),
                 expect_compiled=True)
        # nullable pattern (matches empty) diverges under split
        run_diff(ctx, ["abc"], lambda s: re.sub("x*", "-", s, 1),
                 expect_compiled=False)

    def test_re_sub_count_contextual_zero_width_falls_back(self, ctx):
        import re
        # matches empty only IN CONTEXT (never on ""), so a
        # search(pat, "") probe misses it; min-width parse catches it
        run_diff(ctx, ["xab xb"],
                 lambda s: re.sub("(?<=x)b*", "-", s, 1),
                 expect_compiled=False)
        run_diff(ctx, ["ab b"], lambda s: re.sub("a?", "_", s, 2),
                 expect_compiled=False)

    def test_re_sub_repl_escapes_expand(self, ctx):
        import re
        # \\\\ is ONE literal backslash in CPython's template; \\n and
        # \\t are control chars — previously passed through verbatim
        run_diff(ctx, ["a b a"], lambda s: re.sub(" ", "\\\\", s),
                 expect_compiled=True)
        run_diff(ctx, ["a b"], lambda s: re.sub(" ", "\\n", s),
                 expect_compiled=True)
        run_diff(ctx, ["x,y,z"], lambda s: re.sub(",", "\\t", s, 1),
                 expect_compiled=True)

    def test_re_sub_repl_literal_dollar(self, ctx):
        import re
        # $ is literal in Python templates but a group ref in Java's —
        # must be Java-escaped, not forwarded
        run_diff(ctx, ["price 5"], lambda s: re.sub("price ", "$", s),
                 expect_compiled=True)
        run_diff(ctx, ["(a)(b)"], lambda s: re.sub(r"\((\w)\)", r"$\1;", s),
                 expect_compiled=True)

    def test_re_sub_repl_missing_group_falls_back(self, ctx):
        import re
        run_diff(ctx, ["ab"], lambda s: re.sub("(a)b", r"\2", s),
                 expect_compiled=False)


class TestReFlagsAndFormatNumbering:
    """re flags compile as Java inline modifiers (previously silently
    ignored — case-insensitive searches matched case-sensitively); str
    .format explicit indices reorder/duplicate correctly (previously
    positional-order results or a runtime crash)."""

    DATA = ["aXbXc", "hello world", "a1b2c3", ""]

    def test_search_ignorecase(self, ctx):
        import re
        run_diff(ctx, self.DATA,
                 lambda s: bool(re.search("HELLO", s, re.IGNORECASE)),
                 op="filter", expect_compiled=True)

    def test_combined_flags(self, ctx):
        import re
        run_diff(ctx, self.DATA,
                 lambda s: bool(re.search("HELLO.WORLD", s, re.I | re.S)),
                 op="filter", expect_compiled=True)

    def test_match_ignorecase_anchor(self, ctx):
        import re
        run_diff(ctx, ["Abc", "abc", "xabc", ""],
                 lambda s: bool(re.match("ab", s, re.I)),
                 op="filter", expect_compiled=True)

    def test_format_explicit_indices(self, ctx):
        run_diff(ctx, self.DATA, lambda s: "{1}:{0}".format(s, len(s)),
                 expect_compiled=True)

    def test_format_repeated_index(self, ctx):
        run_diff(ctx, self.DATA, lambda s: "{0}{0}".format(len(s)),
                 expect_compiled=True)

    def test_format_surplus_args_ok(self, ctx):
        run_diff(ctx, self.DATA, lambda s: "{}!".format(len(s), 99),
                 expect_compiled=True)

    def test_format_too_few_args_raises(self, ctx):
        ds = run_diff(ctx, self.DATA,
                      lambda s: "{} {}".format(len(s)),
                      expect_compiled=True)
        assert ds.exception_counts == {"IndexError": 4}

    def test_format_mixed_numbering_raises(self, ctx):
        ds = run_diff(ctx, self.DATA,
                      lambda s: "{0} {}".format(len(s), 1),
                      expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 4}


class TestCrossTypeCompare:
    """CPython semantics for cross-family comparisons: ==/!= between a
    number and a string are False/True (Spark would implicitly CAST and
    match '5' == 5); ordering raises TypeError."""

    DATA = ["hello", "5", ""]

    def test_mixed_eq_is_false(self, ctx):
        run_diff(ctx, self.DATA, lambda s: (len(s) == "5", s != 5,
                                            s == "5"),
                 expect_compiled=True)

    def test_int_vs_string_literal_eq(self, ctx):
        # the coercion trap: x == '5' on an int column
        run_diff(ctx, [5, 7], lambda x: x == "5", expect_compiled=True)

    def test_mixed_ordering_raises(self, ctx):
        ds = run_diff(ctx, self.DATA, lambda s: len(s) < "a",
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 3}

    def test_mixed_ordering_in_branch_conditioned(self, ctx):
        def f(s):
            if len(s) > 3:
                return 1 if s < 5 else 0
            return -1
        ds = run_diff(ctx, self.DATA, f, expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 1}


class TestFStringConversion:
    def test_repr_conversion_compiles_for_str(self, ctx):
        # !r on strings now compiles via _py_str_repr (exact CPython
        # quoting/escaping); was a fallback through round 6
        run_diff(ctx, ["hello", "Ab", ""], lambda s: f"{s!r}",
                 expect_compiled=True)

    def test_repr_on_number_compiles(self, ctx):
        run_diff(ctx, [1, 20], lambda x: f"{x!r}", expect_compiled=True)

    def test_str_conversion_compiles(self, ctx):
        run_diff(ctx, ["a", ""], lambda s: f"{s!s}!", expect_compiled=True)


class TestFormatSpecs:
    """The audited format-spec subset ({:.2f}, {:03d}, {:5s}, bare
    widths) compiles onto format_string; type mismatches (d-of-float,
    f-of-str, .Ns-of-number) raise ValueError rows like CPython."""

    DATA = [3, 17, 0, 250]

    def test_fstring_numeric_specs(self, ctx):
        run_diff(ctx, self.DATA, lambda x: f"{x * 1.5:.2f}",
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: f"{x:05d}",
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: f"{x / 3:07.2f}",
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: f"{x:f}",
                 expect_compiled=True)

    def test_format_method_specs(self, ctx):
        run_diff(ctx, self.DATA, lambda x: "{:.3f}!".format(x * 0.1),
                 expect_compiled=True)
        run_diff(ctx, self.DATA,
                 lambda x: "{1:.1f}|{0:03d}".format(x, x / 7),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: "{:5}".format(x),
                 expect_compiled=True)

    def test_string_width_and_truncation(self, ctx):
        run_diff(ctx, self.DATA, lambda x: "{:6s}|".format(str(x)),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: "{:.2s}".format(str(x) + "zz"),
                 expect_compiled=True)

    def test_type_mismatch_raises(self, ctx):
        ds = run_diff(ctx, self.DATA, lambda x: f"{x * 1.0:d}",
                      expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 4}

    def test_previously_unsupported_specs_now_compile(self, ctx):
        # alignment/sign compile since round 6 (see
        # TestFormatSpecExtended for the full matrix)
        run_diff(ctx, self.DATA, lambda x: f"{x:>6}",
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: f"{x:+d}",
                 expect_compiled=True)

    def test_exponent_general_specs_compile(self, ctx):
        # e/g compile since round 6 (exact HALF_EVEN rounding via
        # _sci_digits); precisions beyond 14 significant digits remain
        # exact fallback
        run_diff(ctx, self.DATA, lambda x: f"{x:e}",
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: f"{x:g}",
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: f"{x:.17e}",
                 expect_compiled=False)

    def test_percent_literal_in_format_pattern(self, ctx):
        # literal '%' in the pattern must be escaped for java
        # Formatter — previously crashed the job at action time
        run_diff(ctx, self.DATA, lambda x: "{:.1f}%".format(x * 0.5),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: "%{}%%{}".format(x, x + 1),
                 expect_compiled=True)

    def test_half_even_rounding_matches_cpython(self, ctx):
        # java Formatter rounds HALF_UP; CPython rounds half-even on
        # the binary value: 2.675 -> '2.67', 0.125 -> '0.12'
        ties = [2.675, 0.125, 1.005, 2.5, 0.375, -0.125, 7.135]
        run_diff(ctx, ties, lambda x: f"{x:.2f}", expect_compiled=True)
        run_diff(ctx, ties, lambda x: "{:.2f}".format(x),
                 expect_compiled=True)
        run_diff(ctx, ties, lambda x: "%.2f|%f" % (x, x),
                 expect_compiled=True)
        run_diff(ctx, [0.5, 1.5, 2.5, 3.5], lambda x: f"{x:.0f}",
                 expect_compiled=True)


class TestFormatSpecsCountCharacters:
    """String width, precision and alignment count characters, as
    CPython does; java's Formatter counts UTF-16 units, so an emoji
    outside the BMP used to pad one short or be cut in half."""

    DATA = ["😀", "ab", "😀x", "é", ""]

    def test_format_method_width(self, ctx):
        run_diff(ctx, self.DATA, lambda s: "{:5s}|".format(s),
                 expect_compiled=True)

    def test_format_method_precision(self, ctx):
        run_diff(ctx, self.DATA, lambda s: "{:.1s}|".format(s),
                 expect_compiled=True)

    def test_format_method_centered(self, ctx):
        run_diff(ctx, self.DATA, lambda s: "{:^7}|".format(s),
                 expect_compiled=True)

    def test_fstring_width(self, ctx):
        run_diff(ctx, self.DATA, lambda s: f"{s:5}|",
                 expect_compiled=True)

    def test_format_builtin_width(self, ctx):
        run_diff(ctx, self.DATA, lambda s: format(s, "4s") + "|",
                 expect_compiled=True)


class TestMapFilterDivmodBuiltins:
    DATA = ["a bb ccc", "dddd e", ""]

    def test_map_builtin(self, ctx):
        run_diff(ctx, self.DATA, lambda s: list(map(len, s.split(" "))),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: sum(map(len, s.split(" "))),
                 expect_compiled=True)

    def test_map_lambda(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda s: "|".join(map(lambda t: t.upper(),
                                        s.split(" "))),
                 expect_compiled=True)

    def test_filter_lambda(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda s: list(filter(lambda t: len(t) > 1,
                                       s.split(" "))),
                 expect_compiled=True)

    def test_filter_none_truthiness(self, ctx):
        run_diff(ctx, ["a  b", " x ", ""],
                 lambda s: ",".join(filter(None, s.split(" "))),
                 expect_compiled=True)

    def test_divmod(self, ctx):
        run_diff(ctx, [7, -7, 0, 100], lambda x: divmod(x, 3),
                 expect_compiled=True)
        ds = run_diff(ctx, [7, 3], lambda x: divmod(10, x - 3),
                      expect_compiled=True)
        assert ds.exception_counts == {"ZeroDivisionError": 1}


class TestDictIterationAndJoinOverStr:
    DATA = ["abc", "x", ""]

    def test_static_items_loop(self, ctx):
        def f(s):
            acc = 0
            for k, v in {"a": 1, "b": 2, "c": 4}.items():
                if k in s:
                    acc += v
            return acc
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_iterate_dict_yields_keys(self, ctx):
        def f(s):
            best = ""
            for k in {"abc": 1, "x": 2}:
                if k == s:
                    best = k
            return best
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_keys_comprehension(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda s: "|".join([k for k in {"a": 1, "b": 2}]),
                 expect_compiled=True)

    def test_sum_dict_values(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda s: sum({"a": 1, "b": 2}.values()) + len(s),
                 expect_compiled=True)

    def test_join_over_reversed_string(self, ctx):
        run_diff(ctx, self.DATA, lambda s: "".join(reversed(s)),
                 expect_compiled=True)
        run_diff(ctx, self.DATA, lambda s: "-".join(s),
                 expect_compiled=True)


class TestCompiledTryExcept:
    """try/except compiles: body guards whose class matches a handler
    become branch conditions (first-raise dispatch, CPython hierarchy
    matching); unmatched guards stay row failures; finally/else,
    `as name` bindings, and handlers reading body-assigned names fall
    back.  Parity-PLUS: the reference cannot compile try at all."""

    STRS = ["12", "abc", "2", ""]

    def test_return_shape(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError:
                return -1
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_assign_shape(self, ctx):
        def f(s):
            try:
                v = int(s)
            except ValueError:
                v = -1
            return v * 2
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_first_raise_dispatch(self, ctx):
        def f(s):
            try:
                return 10 // (int(s) - 2)
            except ValueError:
                return -1
            except ZeroDivisionError:
                return -2
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_unhandled_propagates(self, ctx):
        def f(s):
            try:
                return 10 // (int(s) - 2)
            except ValueError:
                return -1
        ds = run_diff(ctx, self.STRS, f, expect_compiled=True)
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_bare_except_and_hierarchy(self, ctx):
        def f(s):
            try:
                return 10 // (len(s) - 1)
            except ArithmeticError:
                return -5
        run_diff(ctx, self.STRS, f, expect_compiled=True)

        def g(s):
            try:
                return 10 // (int(s) - 2)
            except:
                return -99
        run_diff(ctx, self.STRS, g, expect_compiled=True)

    def test_raising_handler(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError:
                return 10 // (len(s) - 1)
        # "x": ValueError -> handler -> 10 // 0 raises on the handler path
        ds = run_diff(ctx, self.STRS + ["x"], f, expect_compiled=True)
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_nested_try(self, ctx):
        def f(s):
            try:
                try:
                    return int(s)
                except ValueError:
                    return 100 // (len(s) - 3)
            except ZeroDivisionError:
                return -7
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_in_branch(self, ctx):
        def f(s):
            if len(s) > 1:
                try:
                    return int(s)
                except ValueError:
                    return -1
            return 0
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_resolve_catches_unhandled(self, ctx):
        def f(s):
            try:
                return 10 // (int(s) - 2)
            except ValueError:
                return -1
        ds = ctx.parallelize(self.STRS).map(f) \
                .resolve(ZeroDivisionError, lambda s: -2)
        want = []
        for v in self.STRS:
            try:
                want.append(f(v))
            except ZeroDivisionError:
                want.append(-2)
        assert ds.collect() == want

    def test_handler_reading_body_name_falls_back(self, ctx):
        def f(s):
            y = 0
            try:
                y = len(s) * 2
                return int(s) + y
            except ValueError:
                return y  # raise-point snapshot: y as of the int() raise
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_handler_sees_raise_point_values(self, ctx):
        # two raise sites with DIFFERENT values of y: the handler must
        # see the value as of whichever raise fired per row
        def f(s):
            y = 0
            try:
                y = 1
                a = 10 // len(s)      # raises for ""
                y = 2
                b = int(s)            # raises for "abc"
                return a + b + y
            except (ValueError, ZeroDivisionError):
                return y
        ds = run_diff(ctx, ["4", "abc", ""], f, expect_compiled=True)
        assert ds.collect() == [f("4"), f("abc"), f("")] == [16, 2, 1]

    def test_handler_prefix_value_before_any_assignment(self, ctx):
        # raise BEFORE the body assigns the name: handler sees the
        # pre-try value
        def f(s):
            y = 99
            try:
                n = int(s)
                y = n * 2
                return y
            except ValueError:
                return y
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_finally_compiles_when_guard_free(self, ctx):
        # finally with pure assignments compiles (value-consistent:
        # CPython evaluates return values BEFORE finally runs)
        def f(s):
            n = 0
            try:
                n = int(s)
            except ValueError:
                n = -1
            finally:
                n = n * 10
            return n
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_try_finally_without_except(self, ctx):
        def f(s):
            n = len(s)
            try:
                n = n + 1
            finally:
                n = n * 2
            return n
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_raising_finally_replaces_and_beats_return(self, ctx):
        # an exception in finally REPLACES the in-flight one AND beats
        # the body's return (CPython); the finally guard masks this
        # try's earlier guards and fails the row
        def f(s):
            try:
                return len(s)
            finally:
                _ = int(s)
        ds = run_diff(ctx, self.STRS, f, expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 2}

    def test_finally_exception_class_replacement(self, ctx):
        # body raises ValueError, finally raises ZeroDivisionError for
        # the same rows: the FINALLY class must win (replacement)
        def f(s):
            try:
                n = int(s)
            finally:
                n2 = 10 // (len(s) - 3)
            return n + n2
        ds = ctx.parallelize(["abc", "12", "123x"]).map(f)
        # "abc": int raises ValueError, len=3 -> finally ZeroDivision
        #        REPLACES it; "123x": int raises, len=4 -> ValueError
        assert ds.collect() == [f("12")]
        assert ds.exception_counts == {"ZeroDivisionError": 1,
                                       "ValueError": 1}

    def test_else_runs_only_without_exception(self, ctx):
        def f(s):
            try:
                n = int(s)
            except ValueError:
                n = -1
            else:
                n = n + 100
            return n
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_else_exception_not_caught_by_handlers(self, ctx):
        # a raise in else must NOT dispatch to this try's handlers
        def f(s):
            try:
                n = len(s)
            except ValueError:
                n = -1
            else:
                n = n + int(s)  # ValueError here stays a row failure
            return n
        ds = run_diff(ctx, self.STRS, f, expect_compiled=True)
        assert ds.exception_counts.get("ValueError", 0) >= 1

    def test_else_and_finally_combined(self, ctx):
        def f(s):
            flag = 0
            try:
                n = int(s)
            except ValueError:
                n = -5
            else:
                flag = 1
            finally:
                flag = flag + 10
            return (n, flag)
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_as_name_message_read_compiles(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                return len(str(e))  # raise site records the message
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_as_name_other_read_falls_back(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                return len(dir(e))  # arbitrary reflection -> fallback
        run_diff(ctx, self.STRS, f, expect_compiled=False)

    def test_as_name_repr_len_compiles(self, ctx):
        # round 11: repr(e) derives from the recorded raise site
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                return len(repr(e))
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_as_name_args_read_compiles(self, ctx):
        # round 8: e.args derives (str(e),) from the recorded message
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                return len(e.args[0])
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_as_name_unread_compiles(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError as e:  # bound but never read
                return -1
        run_diff(ctx, self.STRS, f, expect_compiled=True)

    def test_as_name_rebound_falls_back(self, ctx):
        # rebinding the ``as`` name makes later reads refer to the NEW
        # value — the per-guard rewrite would answer from the original
        # exception, so this must take the exact-CPython fallback
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                e = "oops"
                return len(str(e))
        run_diff(ctx, self.STRS, f, expect_compiled=False)

    def test_as_name_deleted_falls_back(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                n = len(str(e))
                del e
                return n
        run_diff(ctx, self.STRS, f, expect_compiled=False)


class TestWhileCounterRewrite:
    """Data-dependent counter whiles (while i < stop: ...; i += 1)
    rewrite to a dynamic range fold — one F.aggregate, no Python;
    non-loop-invariant bounds and other mutations fall back."""

    DATA = [0, 1, 3, 7, 10]

    def test_lt_bound(self, ctx):
        def f(x):
            i = 0
            acc = 0
            while i < x:
                acc += i * 2
                i += 1
            return acc
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_le_bound_and_reversed(self, ctx):
        def f(x):
            i = 1
            s = 0
            while i <= x:
                s += i
                i += 1
            return s
        run_diff(ctx, self.DATA, f, expect_compiled=True)

        def g(x):
            i = 0
            n = 0
            while x > i:
                n += 1
                i += 1
            return n
        run_diff(ctx, self.DATA, g, expect_compiled=True)

    def test_float_bound_ceils(self, ctx):
        def f(x):
            i = 0
            acc = 0
            while i < x * 0.5:
                acc += i
                i += 1
            return acc
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_varying_bound_falls_back(self, ctx):
        def f(x):
            i = 0
            n = x
            acc = 0
            while i < n:
                acc += 1
                n = n - 1
                i += 1
            return acc
        run_diff(ctx, self.DATA, f, expect_compiled=False)

    def test_counter_while_with_break(self, ctx):
        # break lowers to a flag accumulator in the range fold:
        # post-break iterations become no-ops
        def f(x):
            i = 0
            acc = 0
            while i < x:
                if acc > 20:
                    break
                acc += i * 3
                i += 1
            return acc
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_counter_while_with_continue_falls_back(self, ctx):
        # continue skips the hoisted i += 1 in CPython (potential
        # infinite loop) — must NOT rewrite to a range fold
        def f(x):
            i = 0
            acc = 0
            while i < x:
                if i == 2:
                    i += 2
                    continue
                acc += i
                i += 1
            return acc
        run_diff(ctx, self.DATA, f, expect_compiled=False)

    def test_while_true_break_falls_back(self, ctx):
        def f(x):
            acc = x
            while True:
                acc += 1
                if acc > 5:
                    break
            return acc
        run_diff(ctx, self.DATA, f, expect_compiled=False)


class TestDynamicFoldBreakContinue:
    """break/continue inside folds over DYNAMIC arrays (split results,
    dynamic ranges) compile via flag accumulators — previously an
    unconditional Arrow fallback."""

    TEXTS = ["a bb stop ccc", "xx yy zz", "stop", "", "a b c d e f g"]

    def test_break_in_split_fold(self, ctx):
        def f(s):
            total = 0
            for t in s.split(" "):
                if t == "stop":
                    break
                total += len(t)
            return total
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_continue_in_split_fold(self, ctx):
        def f(s):
            total = 0
            for t in s.split(" "):
                if len(t) % 2 == 0:
                    continue
                total += len(t)
            return total
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_break_and_continue_combined(self, ctx):
        def f(s):
            total = 0
            n = 0
            for t in s.split(" "):
                if t == "stop":
                    break
                if t == "yy":
                    continue
                total += len(t)
                n += 1
            return (total, n)
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_break_in_dynamic_range(self, ctx):
        def f(x):
            acc = 0
            for i in range(x):
                if i * i > 20:
                    break
                acc += i
            return acc
        run_diff(ctx, [0, 1, 3, 7, 10, 50], f, expect_compiled=True)


class TestEnumerateStartZip3:
    TEXTS = ["a bb ccc", "x", ""]

    def test_enumerate_with_start(self, ctx):
        def f(s):
            w = 0
            for i, t in enumerate(s.split(" "), 1):
                w += i * len(t)
            return w
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_zip_three_arrays(self, ctx):
        def f(s):
            acc = 0
            for a, b, c in zip(s.split(" "), s.split("b"), s.split("c")):
                acc += len(a) + len(b) * len(c)
            return acc
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)


class TestTranslateMaketrans:
    DATA = ["hello world", "abcabc", ""]

    def test_two_arg_maketrans(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda s: s.translate(str.maketrans("lo", "10")),
                 expect_compiled=True)

    def test_deletion_third_arg(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda s: s.translate(str.maketrans("ab", "xy", "c ")),
                 expect_compiled=True)

    def test_dict_table(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda s: s.translate({ord("h"): "H", ord("w"): None}),
                 expect_compiled=True)

    def test_multichar_falls_back(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda s: s.translate(str.maketrans({"a": "XY"})),
                 expect_compiled=False)

    def test_ord_chr(self, ctx):
        run_diff(ctx, ["a", "Z", "0"], lambda s: ord(s),
                 expect_compiled=True)
        ds = run_diff(ctx, ["a", "ab", ""], lambda s: ord(s),
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 2}
        # dynamic chr compiles via UTF-32 decode (Spark's own char() is
        # mod-256, wrong past latin-1); constant chr folds
        run_diff(ctx, [65, 97, 955, 8364, 0x4E2D, 0x1F600, 0x10FFFF, 0],
                 lambda x: chr(x), expect_compiled=True)
        run_diff(ctx, [1, 2], lambda x: chr(8364) * x,
                 expect_compiled=True)
        ds = run_diff(ctx, [65, -1, 0x110000], lambda x: chr(x),
                      expect_compiled=True)
        assert ds.exception_counts == {"ValueError": 2}

    def test_chr_surrogate_is_loud_not_wrong(self, ctx):
        """CPython's chr(0xD800) returns a lone surrogate — a string
        that cannot exist in UTF-8/Arrow.  The engine raises a
        RuntimeError row instead of silently yielding U+FFFD."""
        ds = ctx.parallelize([0xD7FF, 0xD800, 0xDFFF, 0xE000]) \
            .map(lambda x: len(chr(x)))
        assert ds.collect() == [1, 1]
        assert ds.exception_counts == {"RuntimeError": 2}


class TestTimestampStr:
    def test_str_of_timestamp_matches_cpython(self, spark, ctx):
        import tuplex_spark as tx
        import __spark_entry__ as em
        from conftest import SF_DIR
        ev = em._t(spark, SF_DIR, "events").limit(40)
        ds = tx.DataSet(ctx, ev, list(ev.columns)) \
            .selectColumns(["event_id", "ts"])
        raw = {r[0]: r[1] for r in ds.collect()}
        before = ctx.metrics.compiledUDFs
        out = ds.map(lambda x: {"e": x["event_id"], "s": str(x["ts"])})
        assert ctx.metrics.compiledUDFs == before + 1
        got = {r[0]: r[1] for r in out.collect()}
        # CPython pads microseconds to 6 digits and omits them when 0;
        # Spark's plain string cast trims trailing zeros
        assert all(got[k] == str(raw[k]) for k in raw), [
            (got[k], str(raw[k])) for k in raw if got[k] != str(raw[k])][:3]


class TestDatetimeAccessors:
    def _ds(self, spark, ctx):
        from conftest import SF_DIR
        import os
        # the real source ctor attaches a plan-time sample, which the
        # fallback needs for dict-output schema inference
        return ctx.parquet(os.path.join(SF_DIR, "events.parquet")) \
            .selectColumns(["event_id", "ts"])

    def _diff(self, ctx, ds, f, expect_compiled=True):
        raw = {r[0]: r[1] for r in ds.collect()}
        before = ctx.metrics.compiledUDFs
        out = ds.map(f)
        got = {r[0]: r[1] for r in out.collect()}
        assert (ctx.metrics.compiledUDFs == before + 1) == expect_compiled
        bad = [(k, got[k], f({"event_id": k, "ts": raw[k]})["v"])
               for k in raw
               if got[k] != f({"event_id": k, "ts": raw[k]})["v"]]
        assert not bad, bad[:3]

    def test_field_attributes(self, spark, ctx):
        ds = self._ds(spark, ctx)
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].year * 100
                                       + x["ts"].month})
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].hour * 3600
                                       + x["ts"].minute * 60
                                       + x["ts"].second})
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].microsecond})

    def test_weekday_and_strftime(self, spark, ctx):
        ds = self._ds(spark, ctx)
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].weekday()})
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].isoweekday()})
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].strftime(
                                           "%Y/%m/%d T %H:%M:%S")})

    def test_strftime_literal_quoting(self, spark, ctx):
        # non-alpha literals are NOT all safe bare in DateTimeFormatter
        # patterns: ' opens a quote (crashed at runtime), [ ] are
        # optional-section markers — literal runs are now quoted
        ds = self._ds(spark, ctx)
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].strftime(
                                           "%H o'clock")})
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].strftime(
                                           "[%Y-%m] 100%% #t")})

    def test_unknown_directive_falls_back_not_crash(self, spark, ctx):
        # %A is outside the audited subset: must demote to the fallback
        # (the post-compile materialization failure previously CRASHED)
        ds = self._ds(spark, ctx)
        self._diff(ctx, ds, lambda x: {"e": x["event_id"],
                                       "v": x["ts"].strftime("%A")},
                   expect_compiled=False)


class TestJsonLoads:
    """Compiled json.loads (parity-PLUS: the reference has no json UDF
    support at all, SURVEY 2.6 JSON row).  Value types are data-
    dependent, so consumers dispatch per row on schema_of_variant;
    CPython error semantics (TypeError on non-objects / null values,
    KeyError on missing keys, ValueError on bad parses) ride the guard
    machinery."""

    DOCS = ['{"k": 3, "s": "hi", "f": 2.5, "b": true, "n": null}',
            '{"k": "12", "s": "hi"}',
            '{"k": 4.9}',
            '{"k": true}']

    def test_int_extraction_type_dispatch(self, ctx):
        import json
        # int over BIGINT / numeric-string / DOUBLE (truncates) / bool
        run_diff(ctx, self.DOCS, lambda s: int(json.loads(s)["k"]),
                 expect_compiled=True)

    def test_float_extraction(self, ctx):
        import json
        run_diff(ctx, self.DOCS, lambda s: float(json.loads(s)["k"]),
                 expect_compiled=True)

    def test_eq_string_and_number(self, ctx):
        import json
        # type families must match: 3 == "3" is False; True == 1 is True
        run_diff(ctx, ['{"k": 3}', '{"k": "3"}', '{"k": 3.0}',
                       '{"k": true}', '{"k": null}', '{"k": [1]}'],
                 lambda s: (json.loads(s)["k"] == 3,
                            json.loads(s)["k"] == "3",
                            json.loads(s)["k"] == 1,
                            json.loads(s)["k"] is None),
                 expect_compiled=True)

    def test_missing_key_raises_keyerror(self, ctx):
        import json
        ds = run_diff(ctx, self.DOCS + ['{"other": 1}'],
                      lambda s: int(json.loads(s)["k"]),
                      expect_compiled=True)
        assert ds.exception_counts == {"KeyError": 1}

    def test_non_object_raises_typeerror(self, ctx):
        import json
        ds = run_diff(ctx, ['{"k": 1}', '[1,2]', '"str"', '3', 'null'],
                      lambda s: int(json.loads(s)["k"]),
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 4}

    def test_invalid_json_raises_valueerror(self, ctx):
        import json
        ds = run_diff(ctx, ['{"k": 1}', 'not json', '{broken'],
                      lambda s: int(json.loads(s)["k"]),
                      expect_compiled=True)
        # json.JSONDecodeError subclasses ValueError
        assert ds.exception_counts == {"ValueError": 2}

    def test_null_value_int_raises_typeerror(self, ctx):
        import json
        ds = run_diff(ctx, ['{"k": 1}', '{"k": null}'],
                      lambda s: int(json.loads(s)["k"]),
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 1}

    def test_get_with_default(self, ctx):
        import json
        run_diff(ctx, ['{"k": 5}', '{"other": 1}', '{}'],
                 lambda s: int(json.loads(s).get("k", 7)),
                 expect_compiled=True)
        run_diff(ctx, ['{"k": "x"}', '{}'],
                 lambda s: json.loads(s).get("k", "d") == "x",
                 expect_compiled=True)

    def test_get_no_default_missing_is_typeerror(self, ctx):
        import json
        ds = run_diff(ctx, ['{"k": 5}', '{}'],
                      lambda s: int(json.loads(s).get("k")),
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 1}

    def test_nested_objects(self, ctx):
        import json
        run_diff(ctx, ['{"a": {"b": 2}}', '{"a": {"b": "9"}}'],
                 lambda s: int(json.loads(s)["a"]["b"]),
                 expect_compiled=True)

    def test_json_string_value_is_not_an_object(self, ctx):
        import json
        # a STRING value that looks like JSON stays a string: subscript
        # raises TypeError exactly as CPython
        ds = run_diff(ctx, ['{"a": {"x": 1}}', '{"a": "{\\"x\\": 1}"}'],
                      lambda s: (json.loads(s)["a"] == "nope",),
                      expect_compiled=True)
        assert ds.exception_counts == {}

    def test_string_compare_on_string_value(self, ctx):
        import json
        run_diff(ctx, ['{"s": "abc"}', '{"s": "xyz"}', '{"s": 3}'],
                 lambda s: json.loads(s)["s"] == "abc",
                 op="filter", expect_compiled=True)

    def test_ordering_comparison_falls_back(self, ctx):
        import json
        run_diff(ctx, ['{"k": 3}'], lambda s: json.loads(s)["k"] > 1,
                 expect_compiled=False)

    def test_bare_value_falls_back(self, ctx):
        import json
        run_diff(ctx, ['{"k": 3}', '{"k": "x"}'],
                 lambda s: json.loads(s)["k"], expect_compiled=False)

    def test_len_per_type(self, ctx):
        import json
        run_diff(ctx, ['{"k": "abc"}', '{"k": [1,2,3,4]}',
                       '{"k": {"a": 1, "b": 2}}'],
                 lambda s: len(json.loads(s)["k"]),
                 expect_compiled=True)

    def test_len_of_number_raises(self, ctx):
        import json
        ds = run_diff(ctx, ['{"k": "ab"}', '{"k": 3}', '{"k": null}'],
                      lambda s: len(json.loads(s)["k"]),
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 2}

    def test_truthiness_filter(self, ctx):
        import json
        run_diff(ctx, ['{"k": ""}', '{"k": "x"}', '{"k": 0}',
                       '{"k": 2}', '{"k": null}', '{"k": []}',
                       '{"k": [1]}', '{"k": {}}', '{"k": {"a":1}}',
                       '{"k": false}', '{"k": true}', '{"k": 0.0}'],
                 lambda s: bool(json.loads(s)["k"]),
                 op="filter", expect_compiled=True)

    def test_membership(self, ctx):
        import json
        # substring in strings, KEY test in objects, typed element
        # equality in arrays ("1" must NOT match the number 1)
        run_diff(ctx, ['{"k": "abcdef"}', '{"k": {"cd": 1}}',
                       '{"k": ["x", "cd"]}', '{"k": [1, 2]}',
                       '{"k": ["1"]}'],
                 lambda s: "cd" in json.loads(s)["k"],
                 expect_compiled=True)
        run_diff(ctx, ['{"k": ["1"]}', '{"k": [1]}'],
                 lambda s: "1" in json.loads(s)["k"],
                 expect_compiled=True)

    def test_membership_in_number_raises(self, ctx):
        import json
        ds = run_diff(ctx, ['{"k": "xcdy"}', '{"k": 5}'],
                      lambda s: "cd" in json.loads(s)["k"],
                      expect_compiled=True)
        assert ds.exception_counts == {"TypeError": 1}


class TestCasefold:
    """Full Unicode case folding from the static table (CPython's own
    str.casefold enumerated at compile time) — lower() alone diverges
    on ~1400 chars (sharp-s, ligatures, Greek finals, Deseret...)."""

    def test_casefold_known_divergences(self, ctx):
        run_diff(ctx, ["Straße", "ǅungla", "µ-sign", "ΐ", "İstanbul",
                       "ﬁligature ﬆ", "ẞHOUT", "plain", "",
                       "\U00010400deseret"],
                 lambda s: s.casefold(), expect_compiled=True)

    def test_casefold_equals_cpython_on_full_delta_table(self, ctx):
        # every char whose casefold differs from itself, in 64-char
        # chunks — the compiled output must equal CPython exactly
        delta = [chr(i) for i in range(0x110000)
                 if chr(i).casefold() != chr(i)]
        chunks = ["".join(delta[i:i + 64])
                  for i in range(0, len(delta), 64)]
        run_diff(ctx, chunks, lambda s: s.casefold(),
                 expect_compiled=True)

    def test_casefold_comparison_idiom(self, ctx):
        run_diff(ctx, ["STRASSE", "straße", "Strasse", "nope"],
                 lambda s: s.casefold() == "strasse",
                 op="filter", expect_compiled=True)


_G_NESTED = 100  # mutated by TestCompileCacheStaleness


class TestCompileCacheStaleness:
    """The compile cache must key on globals read ANYWHERE in the UDF —
    including inside nested code objects (lambdas, comprehensions).
    Regression: co_names was taken only from the outer code object, so
    mutating a global read solely inside a sorted(key=lambda ...) body
    returned a stale cached plan with the old value baked in."""

    def test_cache_key_changes_on_nested_lambda_global(self):
        import tuplex_spark.udf.compiler as C
        from pyspark.sql import types as T
        schema = T.StructType([T.StructField("x", T.LongType())])
        fn = lambda x: sorted([x, 3, 1], key=lambda y: _G_NESTED - y)[0]
        k1 = C._compile_cache_key(fn, schema, True, None)
        globals()["_G_NESTED"] = 101
        try:
            k2 = C._compile_cache_key(fn, schema, True, None)
        finally:
            globals()["_G_NESTED"] = 100
        assert k1 is not None and k2 is not None
        assert k1 != k2, "cache key ignored a nested-lambda global"

    def test_mutated_global_in_nested_lambda_recompiles(self, ctx):
        # abs(G - y) genuinely reorders when G moves (a monotonic
        # G - y would not — order independent of G)
        data = [1, 2, 9]
        fn = lambda x: sorted([x, 5], key=lambda y: abs(_G_NESTED - y))[0]
        got1 = ctx.parallelize(data).map(fn).collect()
        globals()["_G_NESTED"] = 0  # flips which element sorts first
        try:
            got2 = ctx.parallelize(data).map(fn).collect()
            want1 = [sorted([x, 5], key=lambda y: abs(100 - y))[0]
                     for x in data]
            want2 = [sorted([x, 5], key=lambda y: abs(0 - y))[0]
                     for x in data]
        finally:
            globals()["_G_NESTED"] = 100
        assert got1 == want1
        assert want1 != want2, "test is vacuous"
        assert got2 == want2, \
            "stale compile cache: old global value baked into plan"

    def test_mutated_global_in_outer_body_still_keyed(self, ctx):
        # control: the previously-working case keeps working
        fn = lambda x: x + _G_NESTED
        got1 = ctx.parallelize([1, 2]).map(fn).collect()
        globals()["_G_NESTED"] = 7
        try:
            got2 = ctx.parallelize([1, 2]).map(fn).collect()
        finally:
            globals()["_G_NESTED"] = 100
        assert got1 == [101, 102] and got2 == [8, 9]

    def test_global_read_by_referenced_helper(self, ctx):
        # a global FUNCTION the UDF calls reads another global inside a
        # nested lambda of its own — the frozen-callable branch must
        # key on those values too
        def helper(x):
            return max([x, 4], key=lambda y: abs(_G_NESTED - y))
        globals()["_G_HELPER"] = helper
        try:
            fn = lambda x: _G_HELPER(x)
            got1 = ctx.parallelize([1, 9]).map(fn).collect()
            globals()["_G_NESTED"] = 0
            got2 = ctx.parallelize([1, 9]).map(fn).collect()
        finally:
            globals()["_G_NESTED"] = 100
            globals().pop("_G_HELPER", None)
        assert got1 == [1, 4]   # closest-to-100 wins the max
        assert got2 == [4, 9]   # farthest-from-0 wins the max


class TestReSubCountEdges:
    """Count-limited re.sub lowers to split+array_join; that rewrite is
    only sound when the pattern can NEVER match empty (in context) and
    the replacement's escapes are expanded before array_join inserts it
    literally.  Differential coverage for the two historical edges."""

    def test_count_with_pure_lookbehind_falls_back_correct(self, ctx):
        # (?<=a)X? can match zero-width in context -> split rewrite
        # must be refused; fallback keeps CPython semantics
        run_diff(ctx, ["aXbaXc", "XX", "", "aX"],
                 lambda s: re.sub(r"(?<=a)X?", "-", s, 1))

    def test_count_with_consuming_lookbehind(self, ctx):
        run_diff(ctx, ["ab ab ab", "b ab", "zzz", ""],
                 lambda s: re.sub(r"(?<=a)b", "Y", s, 2))

    def test_count_with_lookahead(self, ctx):
        run_diff(ctx, ["a1 b2 a3", "a1a2a3", "b9"],
                 lambda s: re.sub(r"a(?=\d)", "_", s, 2))

    def test_count_literal_backslash_replacement(self, ctx):
        run_diff(ctx, ["a,b,c", ",x", "", "nocomma"],
                 lambda s: re.sub(",", "\\\\", s, 1))

    def test_count_newline_tab_escape_replacement(self, ctx):
        run_diff(ctx, ["a,b,c", ",,", ""],
                 lambda s: re.sub(",", "\\n\\t", s, 2))


class TestWhileTrueAndContinue:
    """Round-6 loop coverage: `while True` + statically-resolvable
    break compiles via flag-lowered unrolling; increment-first counter
    whiles tolerate break AND continue (the counter advances before
    either transfers control).  Reference parity:
    codegen/src/BlockGeneratorVisitor.cc compiles all whiles natively."""

    def test_while_true_trailing_break(self, ctx):
        def f(x):
            s, i = x, 0
            while True:
                s += i
                i += 1
                if i >= 4:
                    break
            return s
        run_diff(ctx, NUMS, f, expect_compiled=True)

    def test_while_true_leading_break_guarded_rest(self, ctx):
        def f(x):
            i = 0
            acc = 0
            while True:
                if i == 3:
                    break
                acc += x * i
                i += 1
            return acc
        run_diff(ctx, NUMS, f, expect_compiled=True)

    def test_incfirst_while_with_continue_static(self, ctx):
        def f(x):
            i = 0
            total = 0
            while i < 6:
                i += 1
                if i % 2 == 0:
                    continue
                total += i * x
            return total
        run_diff(ctx, NUMS, f, expect_compiled=True)

    def test_incfirst_while_continue_dynamic_stop(self, ctx):
        def f(n):
            i = 0
            c = 0
            while i < n % 7:
                i += 1
                if i == 2:
                    continue
                c += i
            return c
        run_diff(ctx, [0, 1, 2, 5, 13, 20], f)

    def test_incfirst_while_with_break_dynamic_stop(self, ctx):
        def f(n):
            i = 0
            c = 0
            while i < n % 9:
                i += 1
                if i > 4:
                    break
                c += i * 2
            return c
        run_diff(ctx, [0, 1, 3, 8, 17, 26], f)

    def test_while_true_data_dependent_break_falls_back(self, ctx):
        # break condition never folds -> no unroll bound -> exact
        # CPython fallback, still correct
        def f(x):
            i = 0
            while True:
                i += 1
                if i > x % 5 + 1:
                    break
            return i
        run_diff(ctx, NUMS, f, expect_compiled=False)

    def test_counter_value_after_incfirst_loop(self, ctx):
        # i must equal the bound after the loop (or start if never
        # entered) — the rewrite's trailing sync
        def f(n):
            i = 0
            while i < n % 4:
                i += 1
                if i == 99:
                    continue
            return i * 100 + n
        run_diff(ctx, [0, 1, 2, 3, 4, 7], f)


class TestDynamicSliceStep:
    """Slices with data-dependent steps — both signs selected per row
    at runtime, CPython clamp/default semantics for the bounds."""

    STRS = ["abcdefghij", "ab", "", "xyzw"]

    def test_str_dynamic_positive_step(self, ctx):
        run_diff(ctx, [1, 2, 3, 4], lambda k: "abcdefghij"[::k],
                 expect_compiled=True)

    def test_str_dynamic_step_with_bounds(self, ctx):
        run_diff(ctx, [1, 2, 3], lambda k: "abcdefghij"[1:8:k],
                 expect_compiled=True)

    def test_str_dynamic_negative_step(self, ctx):
        run_diff(ctx, [1, 2, 3], lambda k: "abcdefghij"[::-k],
                 expect_compiled=True)

    def test_str_dynamic_negative_with_bounds(self, ctx):
        run_diff(ctx, [1, 2, 3], lambda k: "abcdefghij"[8:2:-k],
                 expect_compiled=True)

    def test_dynamic_step_sign_varies_per_row(self, ctx):
        run_diff(ctx, [-3, -2, -1, 1, 2, 3],
                 lambda k: "abcdefghij"[::k], expect_compiled=True)

    def test_dynamic_step_zero_raises(self, ctx):
        ds = ctx.parallelize([2, 0, 1]).map(lambda k: "abcdef"[::k])
        got = ds.collect()
        assert got == ["ace", "abcdef"]
        assert ds.exception_counts == {"ValueError": 1}

    def test_array_dynamic_step(self, ctx):
        run_diff(ctx, [1, 2, 3],
                 lambda k: ",".join("a0 b1 c2 d3 e4 f5".split(" ")[::k]),
                 expect_compiled=True)

    def test_array_dynamic_negative_step(self, ctx):
        run_diff(ctx, [1, 2],
                 lambda k: ",".join("a0 b1 c2 d3 e4".split(" ")[1:5:-k]
                                    or ["~"]),
                 expect_compiled=False)  # `or` on list falls back; diff only

    def test_dynamic_bounds_and_step_together(self, ctx):
        run_diff(ctx, [(1, 2), (2, 3), (0, 1), (7, 2)],
                 lambda a, k: "abcdefghij"[a:a + 5:k])


class TestNestedTryRaisePointReads:
    """Handlers reading body-assigned names across NESTED tries: the
    snapshot stack + guard-index remap must bind raise-point values at
    every level (previously an unconditional fallback)."""

    def test_outer_reads_across_inner_catch(self, ctx):
        def f(s):
            r = 0
            try:
                r = 1
                try:
                    x = int(s)
                except ValueError:
                    x = -1
                r = 2
                y = 10 // x
                r = 3
            except ZeroDivisionError:
                return r * 100
            return r + y
        run_diff(ctx, ["abc", "0", "5", "2", ""], f,
                 expect_compiled=True)

    def test_inner_uncaught_propagates_with_raise_point_value(self, ctx):
        def g(s):
            acc = 0
            try:
                acc = 1
                try:
                    acc = 2
                    v = 10 // int(s)
                except KeyError:
                    v = 0
                acc = 3
            except ValueError:
                return acc * 10
            except ZeroDivisionError:
                return acc * 100
            return acc + v
        run_diff(ctx, ["abc", "0", "5", "10"], g, expect_compiled=True)

    def test_both_levels_read_raise_point_values(self, ctx):
        def h(s):
            a = 0
            try:
                a = 1
                try:
                    b = 5
                    c = int(s)
                    b = 6
                    d = 10 // (c - 1)
                except ZeroDivisionError:
                    return b * 1000
                a = 2
                e = 10 // (c - 2)
            except ValueError:
                return a * 10
            except ZeroDivisionError:
                return a * 100
            return a + d + e
        run_diff(ctx, ["1", "abc", "2", "3", "7"], h,
                 expect_compiled=True)

    def test_uncaught_beyond_both_levels_still_fails_row(self, ctx):
        def k(s):
            n = 0
            try:
                n = 1
                try:
                    n = 2
                    v = int(s)
                except KeyError:
                    v = -1
                n = 3
            except ValueError:
                return n * 10
            return 100 // v + n
        ds = ctx.parallelize(["abc", "0", "4"]).map(k)
        got = ds.collect()
        # "abc" -> ValueError handler (n==2 at raise) -> 20;
        # "0" -> ZeroDivision after the try, uncaught -> row dropped;
        # "4" -> 100 // 4 + 3 = 28
        assert got == [20, 28]
        assert ds.exception_counts == {"ZeroDivisionError": 1}


class TestFStringReprNumeric:
    """!r on numbers/bools equals str() — compiled; !r on strings
    compiles through _py_str_repr (exact quoting/escaping)."""

    def test_repr_int_bool(self, ctx):
        run_diff(ctx, [1, -5, 0, 7],
                 lambda x: f"v={x!r} b={(x > 2)!r}",
                 expect_compiled=True)

    def test_repr_float(self, ctx):
        run_diff(ctx, [1.5, -0.25, 2.0, 1e20, 0.0001],
                 lambda x: f"{x!r}", expect_compiled=True)

    def test_repr_str_compiles(self, ctx):
        run_diff(ctx, ["plain", "it's", 'say "hi"', "a\nb", ""],
                 lambda s: f"{s!r}", expect_compiled=True)


class TestWhileTrueContinuePlusBreak:
    def test_while_true_with_continue_and_break(self, ctx):
        def f(x):
            i = 0
            tot = 0
            while True:
                i += 1
                if i >= 6:
                    break
                if i % 2 == 0:
                    continue
                tot += i * x
            return tot
        run_diff(ctx, NUMS, f, expect_compiled=True)


class TestHandlerTypeName:
    """`except X as e` where e is read ONLY as type(e).__name__
    compiles: the class is statically known per guard.  Any other read
    still falls back exactly."""

    def test_single_class_handler(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                return -len(type(e).__name__)
        run_diff(ctx, ["12", "abc", "7", ""], f, expect_compiled=True)

    def test_multi_class_handler_names_differ(self, ctx):
        def g(s):
            try:
                v = int(s)
                return 100 // v
            except (ValueError, ZeroDivisionError) as e:
                return len(type(e).__name__)
        # ValueError (10) vs ZeroDivisionError (17) rows differ
        run_diff(ctx, ["abc", "0", "4", "25"], g, expect_compiled=True)

    def test_name_in_fstring(self, ctx):
        def h(s):
            try:
                return f"ok:{int(s)}"
            except ValueError as e:
                return f"err:{type(e).__name__}"
        run_diff(ctx, ["3", "nope", ""], h, expect_compiled=True)

    def test_message_reads_now_compile(self, ctx):
        def k(s):
            try:
                return int(s)
            except ValueError as e:
                return len(str(e))  # raise site records the message
        run_diff(ctx, ["5", "xyz"], k, expect_compiled=True)

    def test_passing_e_on_still_falls_back(self, ctx):
        def k(s):
            try:
                return int(s)
            except ValueError as e:
                return len(str(e.__cause__))  # other attr -> fallback
        run_diff(ctx, ["5", "xyz"], k, expect_compiled=False)

    def test_repr_e_compiles(self, ctx):
        # round 11: repr(e) == TypeName(repr(args)) derives from the
        # recorded raise-site message (incl. CPython quote selection —
        # the engine message contains single quotes)
        def k(s):
            try:
                return "ok" + str(int(s))
            except ValueError as e:
                return repr(e)
        run_diff(ctx, ["5", "xyz", ""], k, expect_compiled=True)

    def test_fstring_e_repr_compiles(self, ctx):
        def k(s):
            try:
                return f"ok:{int(s)}"
            except ValueError as e:
                return f"err={e!r}"
        run_diff(ctx, ["5", "xyz"], k, expect_compiled=True)

    def test_repr_e_user_raise_multiarg(self, ctx):
        def k(x):
            try:
                if x < 0:
                    raise ValueError("neg", x * 2)
                return "v" + str(x)
            except ValueError as e:
                return repr(e)
        run_diff(ctx, [3, -4, 0], k, expect_compiled=True)

    def test_repr_e_float_arg_falls_back(self, ctx):
        # Python float repr drifts from Spark's double->string cast
        def k(x):
            try:
                if x < 0:
                    raise ValueError(x * 0.5)
                return "v"
            except ValueError as e:
                return repr(e)
        run_diff(ctx, [3, -4], k, expect_compiled=False)

    def test_fstring_e_compiles(self, ctx):
        # round 11 (VERDICT r10 item 7): f"{e}" IS str(e) by CPython
        # definition (no conversion, no spec) — rides the recorded
        # raise-site message machinery
        def k(s):
            try:
                return f"ok:{int(s)}"
            except ValueError as e:
                return f"err:{e}"
        run_diff(ctx, ["5", "xyz", ""], k, expect_compiled=True)

    def test_fstring_e_bang_s_compiles(self, ctx):
        def k(s):
            try:
                return f"ok:{int(s)}"
            except ValueError as e:
                return f"err:{e!s}!"
        run_diff(ctx, ["5", "xyz"], k, expect_compiled=True)

    def test_format_e_compiles(self, ctx):
        # "{}".format(e) calls format(e, '') == str(e)
        def k(s):
            try:
                return int(s)
            except ValueError as e:
                return "bad input -> {}".format(e)
        run_diff(ctx, ["5", "xyz", ""], k, expect_compiled=True)

    def test_format_e_positional_and_mixed_compiles(self, ctx):
        def k(s):
            try:
                return int(s)
            except ValueError as e:
                return "{1} <- {0}".format(e, len(s))
        run_diff(ctx, ["5", "xyz"], k, expect_compiled=True)

    def test_fstring_e_spec_still_falls_back(self, ctx):
        # a format spec on an exception raises TypeError in CPython
        # (object.__format__ rejects non-empty specs) — never fake it
        def k(s):
            try:
                return f"ok:{int(s)}"
            except ValueError as e:
                return f"err:{e:>30}"
        run_diff(ctx, ["5", "xyz"], k, expect_compiled=False)

    def test_format_e_with_spec_still_falls_back(self, ctx):
        def k(s):
            try:
                return int(s)
            except ValueError as e:
                return "{:>30}".format(e)
        run_diff(ctx, ["5", "xyz"], k, expect_compiled=False)


class TestHandlerArgsAndReraise:
    """Round-8: ``e.args`` reads compile (engine raise sites derive
    (str(e),) for one-string-arg builtins; user raise sites record the
    evaluated arg Syms), ``e.__class__.__name__`` joins
    type(e).__name__, and handlers may re-raise (bare ``raise`` /
    ``raise e``) with the original per-guard code+message preserved.
    All CPython-differential."""

    def test_len_args_engine_raise(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                return len(e.args)
        run_diff(ctx, ["5", "xyz", ""], f, expect_compiled=True)

    def test_args0_engine_raise_is_message(self, ctx):
        def f(s):
            try:
                return str(int(s) * 2)
            except ValueError as e:
                return e.args[0]
        run_diff(ctx, ["21", "xyz", ""], f, expect_compiled=True)

    def test_args_unpacking(self, ctx):
        def f(s):
            try:
                return "ok " + str(int(s))
            except ValueError as e:
                (m,) = e.args
                return "got " + m
        run_diff(ctx, ["nope", "12"], f, expect_compiled=True)

    def test_user_raise_one_arg_args(self, ctx):
        def f(x):
            try:
                if x < 0:
                    raise ValueError("negative: " + str(x))
                return x * 2
            except ValueError as e:
                return len(e.args[0])
        run_diff(ctx, [3, -7, -123], f, expect_compiled=True)

    def test_user_raise_nonstring_arg(self, ctx):
        # args[0] keeps the ORIGINAL value (int), not str(e)
        def f(x):
            try:
                if x % 2:
                    raise ValueError(x * 10)
                return -1
            except ValueError as e:
                return e.args[0] + 1
        run_diff(ctx, [1, 2, 3, 4], f, expect_compiled=True)

    def test_zero_arg_raise_empty_args(self, ctx):
        def f(x):
            try:
                if x > 2:
                    raise ValueError
                return x
            except ValueError as e:
                return len(e.args)
        run_diff(ctx, [1, 5, 2, 9], f, expect_compiled=True)

    def test_bare_assert_args_empty(self, ctx):
        # late round 12: a bare assert records args=() — CPython's
        # AssertionError() — so len(e.args) compiles.  UDFs live in
        # udf_shapes.py: pytest's assert rewriting would otherwise
        # give the CPython reference a message arg (args=(msg,))
        from udf_shapes import assert_bare_args_len
        run_diff(ctx, [3, -1, 0, 7], assert_bare_args_len,
                 expect_compiled=True)

    def test_msg_assert_args_value(self, ctx):
        # args=(msg_value,) holds the ORIGINAL message value
        from udf_shapes import assert_msg_args_value
        run_diff(ctx, [2, 3, 4, 7], assert_msg_args_value,
                 expect_compiled=True)

    def test_next_exhausted_args_empty(self, ctx):
        # StopIteration from an exhausted next(): args=() recorded
        def f(s):
            try:
                return next(iter(s.split(",,"))) + "!"
            except StopIteration as e:
                return str(len(e.args))
        # split(",,") of "" yields [''] in CPython — use a shape whose
        # guard actually fires: explicit empty-tuple iteration
        def g(x):
            try:
                return next(iter(())) is None
            except StopIteration as e:
                return len(e.args) == 0
        run_diff(ctx, [1, 2], g, expect_compiled=True)

    def test_second_next_after_consume_falls_back_correct(self, ctx):
        # pre-r12 SILENT-WRONG: every next() returned element 1, so a
        # discarded next(it) didn't advance — two nexts on one
        # iterator compiled wrong.  Positional _SIter state fixes the
        # straight-line case; the consume-then-next-inside-try shape
        # (different depth after a prior consume) now falls back with
        # CORRECT values instead
        def f(s):
            it = iter(s.split(" "))
            next(it)
            try:
                return next(it) + "!"
            except StopIteration as e:
                return str(len(e.args))
        run_diff(ctx, ["a b", "solo", "x y z"], f,
                 expect_compiled=False)

    def test_straight_line_multi_next_compiles(self, ctx):
        # successive straight-line nexts consume successive elements
        def f(s):
            it = iter(s.split(" "))
            a = next(it)
            b = next(it, "none")
            c = next(it, "none")
            return a + "|" + b + "|" + c
        run_diff(ctx, ["x y z", "p q", "solo", "a b c"], f,
                 expect_compiled=True)

    def test_keyerror_args_compile(self, ctx):
        # late round 12: KeyError sites RECORD args=(key,) at the
        # guard, so handlers reading e.args compile over dict misses
        def f(s):
            d = {"a": 1}
            try:
                return d[s]
            except KeyError as e:
                return len(e.args)
        run_diff(ctx, ["a", "b"], f, expect_compiled=True)

    def test_keyerror_args_value_is_the_key(self, ctx):
        # e.args[0] is the KEY VALUE (not its repr)
        def f(s):
            d = {"a": 1, "b": 2}
            try:
                return d[s] * 100
            except KeyError as e:
                return len(e.args[0])
        run_diff(ctx, ["a", "zz", "b", "missing"], f,
                 expect_compiled=True)

    def test_keyerror_args_int_key_dynamic(self, ctx):
        def f(x):
            d = {1: "one", 2: "two"}
            try:
                return d[x]
            except KeyError as e:
                return e.args[0] * 10
        run_diff(ctx, [1, 2, 7, -3], f, expect_compiled=True)

    def test_dict_pop_missing_args(self, ctx):
        # dict MUTATION under a try is a pre-existing structural
        # fallback (pop under conditional control flow) — the recorded
        # KeyError args don't change that; exactness preserved
        def f(x):
            d = {"a": 1}
            try:
                d.pop("zz")
                return 0
            except KeyError as e:
                return e.args[0] + str(x)
        run_diff(ctx, [1, 2], f, expect_compiled=False)

    def test_keyerror_mixed_with_valueerror_site(self, ctx):
        # KeyError (args=(key,)) and ValueError (args=(msg,)) feeding
        # one handler: same-arity merge through the variant machinery
        def f(s):
            d = {"a": 1}
            try:
                if s == "v":
                    raise ValueError("boom")
                return d[s]
            except (KeyError, ValueError) as e:
                return str(e.args[0])
        run_diff(ctx, ["a", "v", "x"], f, expect_compiled=True)

    def test_mixed_arity_len_compiles(self, ctx):
        # one site has args=(), the other args=(msg,): round 12 —
        # len(e.args) rides the SArgsTuple merged-length field
        def f(x):
            try:
                if x > 2:
                    raise ValueError
                if x < 0:
                    raise ValueError("neg")
                return x
            except ValueError as e:
                return len(e.args)
        run_diff(ctx, [1, 5, -3], f, expect_compiled=True)

    def test_class_dunder_name(self, ctx):
        def f(s):
            try:
                return str(int(s))
            except ValueError as e:
                return e.__class__.__name__
        run_diff(ctx, ["4", "nope"], f, expect_compiled=True)

    def test_bare_reraise_propagates_original(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError:
                raise
        ds = ctx.parallelize(["5", "xyz", "7", ""]).map(f)
        assert ds.collect() == [5, 7]
        assert ds.exception_counts == {"ValueError": 2}

    def test_raise_e_by_name_propagates_original(self, ctx):
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                raise e
        ds = ctx.parallelize(["5", "xyz"]).map(f)
        assert ds.collect() == [5]
        assert ds.exception_counts == {"ValueError": 1}

    def test_conditional_reraise(self, ctx):
        # swallow short inputs, re-raise long ones — path-conditioned
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                if len(s) > 3:
                    raise e
                return -1
        ds = ctx.parallelize(["5", "ab", "abcdef", "xyzw"]).map(f)
        assert ds.collect() == [5, -1]
        assert ds.exception_counts == {"ValueError": 2}

    def test_reraise_caught_by_outer_try(self, ctx):
        # the re-raised exception keeps its message for the outer
        # handler's str(e)
        def f(s):
            try:
                try:
                    return int(s)
                except ValueError as e:
                    raise e
            except ValueError as e2:
                return len(str(e2))
        run_diff(ctx, ["9", "bad"], f, expect_compiled=True)

    def test_reraise_resolves_downstream(self, ctx):
        # the reference resolver flow: re-raised rows reach resolve()
        def f(s):
            try:
                return int(s)
            except ValueError:
                raise
        ds = (ctx.parallelize(["5", "xyz", "8"]).map(f)
              .resolve(ValueError, lambda s: -1))
        assert ds.collect() == [5, -1, 8]

    def test_reraise_caught_by_inner_try(self, ctx):
        # raise e inside a NESTED try body: the inner handlers catch
        # the re-raised exception (the re-emitted guards classify like
        # any other raise inside that body)
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                try:
                    raise e
                except ValueError as e2:
                    return -len(str(e2))
        run_diff(ctx, ["7", "bad", ""], f, expect_compiled=True)

    def test_args_in_fstring(self, ctx):
        def f(s):
            try:
                return f"v={int(s)}"
            except ValueError as e:
                return f"err({len(e.args)}):{e.args[0][:12]}"
        run_diff(ctx, ["3", "zzz"], f, expect_compiled=True)

    def test_bare_raise_outside_handler(self, ctx):
        # CPython: RuntimeError("No active exception to re-raise")
        def f(x):
            if x > 1:
                raise
            return x
        ds = ctx.parallelize([0, 5, 1]).map(f)
        assert ds.collect() == [0, 1]
        assert ds.exception_counts == {"RuntimeError": 1}


class TestFormatSpecExtended:
    """fill/align/sign/comma format specs — CPython-differential."""

    def test_align_str(self, ctx):
        run_diff(ctx, ["ab", "", "abcdefgh"],
                 lambda s: f"[{s:<6}][{s:>6}][{s:^7}][{s:*^8}]",
                 expect_compiled=True)

    def test_align_int(self, ctx):
        run_diff(ctx, [-42, 0, 7, 123456],
                 lambda x: f"[{x:<8d}][{x:>8}][{x:^8d}][{x:.>6d}]",
                 expect_compiled=True)

    def test_sign_int(self, ctx):
        run_diff(ctx, [-42, 0, 7],
                 lambda x: f"[{x:+d}][{x: d}][{x:+6d}]",
                 expect_compiled=True)

    def test_zero_equals_pad(self, ctx):
        run_diff(ctx, [-42, 7],
                 lambda x: f"[{x:=6d}][{x:0=7d}][{x:+08d}]",
                 expect_compiled=True)

    def test_comma_grouping(self, ctx):
        run_diff(ctx, [1234567, -9876, 5, 0],
                 lambda x: f"[{x:,}][{x:+,d}][{x:15,d}]",
                 expect_compiled=True)

    def test_float_sign_comma_align(self, ctx):
        run_diff(ctx, [12345.678, -0.5, 0.0],
                 lambda x: f"[{x:+.2f}][{x:,.1f}][{x:>12.3f}][{x:^12.1f}]",
                 expect_compiled=True)

    def test_explicit_s_on_number_raises(self, ctx):
        ds = ctx.parallelize([3, 4]).map(lambda x: f"{x:5s}")
        assert ds.collect() == []
        assert ds.exception_counts == {"ValueError": 2}

    def test_center_left_bias_exact(self, ctx):
        # pad 3 -> left gets 1, right gets 2 (CPython bias)
        run_diff(ctx, ["ab"], lambda s: f"{s:^5}", expect_compiled=True)


class TestFormatSpecIntPresentation:
    def test_hex_octal_binary(self, ctx):
        run_diff(ctx, [255, -255, 0, 5, 1023],
                 lambda x: f"[{x:x}][{x:X}][{x:o}][{x:b}]",
                 expect_compiled=True)

    def test_alt_prefixes(self, ctx):
        run_diff(ctx, [255, -5, 0],
                 lambda x: f"[{x:#x}][{x:#X}][{x:#o}][{x:#b}]",
                 expect_compiled=True)

    def test_zero_pad_after_prefix(self, ctx):
        run_diff(ctx, [255, -255, 1],
                 lambda x: f"[{x:#010x}][{x:08b}][{x:+#8x}]",
                 expect_compiled=True)

    def test_aligned_hex(self, ctx):
        run_diff(ctx, [255, -1],
                 lambda x: f"[{x:>8x}][{x:<8x}][{x:^9x}]",
                 expect_compiled=True)


class TestPercentHexOctal:
    def test_hex_octal(self, ctx):
        run_diff(ctx, [255, -255, 0, 9],
                 lambda x: "%x|%X|%o" % (x, x, x),
                 expect_compiled=True)

    def test_hex_flags_width(self, ctx):
        run_diff(ctx, [255, -255, 1],
                 lambda x: "%08x|%-8x|%8x|%+x" % (x, x, x, x),
                 expect_compiled=True)

    def test_hex_alt_prefix(self, ctx):
        run_diff(ctx, [255, -5],
                 lambda x: "%#x|%#o|%#010x" % (x, x, x),
                 expect_compiled=True)

    def test_hex_precision_falls_back(self, ctx):
        run_diff(ctx, [255], lambda x: "%.5x" % x,
                 expect_compiled=False)


class TestUnderscoreGrouping:
    def test_int_underscore(self, ctx):
        run_diff(ctx, [1234567, -9876543, 42, 0, -1],
                 lambda x: f"[{x:_d}][{x:_}][{x:+_d}][{x:15_d}]",
                 expect_compiled=True)

    def test_base_underscore_groups_of_four(self, ctx):
        run_diff(ctx, [0xABCDE, -0xFFFF1, 255, 0],
                 lambda x: f"[{x:_x}][{x:_b}][{x:#_x}]",
                 expect_compiled=True)

    def test_float_underscore_integer_part(self, ctx):
        run_diff(ctx, [1234567.891, -98765.4, 0.5],
                 lambda x: f"[{x:_.2f}][{x:_.0f}]",
                 expect_compiled=True)

    def test_underscore_zero_pad_threads(self, ctx):
        # grouping threads through zero padding (same as ',')
        run_diff(ctx, [42, 1234], lambda x: f"{x:08_d}",
                 expect_compiled=True)


class TestGroupedZeroPad:
    """',' / '_' grouping threaded through '0' fill (CPython widens
    past the width rather than lead with a separator):
    '{:08,d}'.format(42) == '0,000,042'.  All CPython-differential."""

    def test_int_comma_zero(self, ctx):
        run_diff(ctx, [42, -42, 0, 1234567, -1, 999, 1000],
                 lambda x: f"[{x:08,d}][{x:09,d}][{x:013,d}][{x:04,d}]"
                           f"[{x:05,d}][{x:+09,d}][{x:08,}]",
                 expect_compiled=True)

    def test_int_underscore_and_eq_fill(self, ctx):
        run_diff(ctx, [6042, -6042, 2, 0],
                 lambda x: f"[{x:010_d}][{x:0=10,d}][{x:*=10,d}]"
                           f"[{x:<08,d}][{x:>08,d}]",
                 expect_compiled=True)

    def test_base_underscore_zero(self, ctx):
        run_diff(ctx, [255, -255, 7, 9, 0, 0xABCDE],
                 lambda x: f"[{x:09_x}][{x:#011_x}][{x:06_b}]"
                           f"[{x:08_o}][{x:09_X}][{x:#012_x}]",
                 expect_compiled=True)

    def test_float_comma_zero(self, ctx):
        vals = [3.5, -3.5, 0.0, -0.0, 12345.678, 2.675, -0.004,
                float("inf"), float("-inf"), float("nan")]
        run_diff(ctx, vals,
                 lambda x: f"[{x:012,.2f}][{x:09,.1f}][{x:08,.2f}]"
                           f"[{x:010_.1f}][{x:011,.0f}]",
                 expect_compiled=True)

    def test_float_alt_and_percent(self, ctx):
        run_diff(ctx, [4.0, 0.125, -0.33333, 0.0],
                 lambda x: f"[{x:#08,.0f}][{x:+013,.1%}][{x:010,.0%}]",
                 expect_compiled=True)

    def test_zero_flag_without_width(self, ctx):
        # '{:0d}' is a CPython no-op; java throws MissingFormatWidth on
        # '%0d' if forwarded verbatim — regression for a crash
        run_diff(ctx, [5, -3], lambda x: f"[{x:0d}][{x:0x}]",
                 expect_compiled=True)
        run_diff(ctx, [2.675, -1.0],
                 lambda x: f"[{x:0.2f}][{x:0e}][{x:0g}][{x:0%}]",
                 expect_compiled=True)

    def test_zero_fill_with_explicit_align(self, ctx):
        # the zero flag sets the fill char under ANY align
        run_diff(ctx, [42, -42, 0],
                 lambda x: f"[{x:<08d}][{x:>08d}][{x:^07d}]",
                 expect_compiled=True)
        run_diff(ctx, [-3.5, 0.25],
                 lambda x: f"[{x:<08.1f}][{x:>08.1f}]",
                 expect_compiled=True)

    def test_zero_pad_strings(self, ctx):
        # '{:08}'.format('ab') == 'ab000000' — not a ValueError
        run_diff(ctx, ["ab", "", "abcdefghij"],
                 lambda x: f"[{x:08}][{x:08s}][{x:<08s}][{x:>08}]"
                           f"[{x:^08s}]",
                 expect_compiled=True)

    def test_sci_comma_zero_falls_back(self, ctx):
        # '{:016,e}' threads the grouping through the MANTISSA padding
        # ('0,001.500000e+00') — outside the audited subset
        run_diff(ctx, [1.5], lambda x: f"{x:016,e}",
                 expect_compiled=False)


class TestConversionWithSpec:
    """'{x!r:>12}' — conversion first, then the spec on the string."""

    def test_repr_str_with_spec(self, ctx):
        run_diff(ctx, ["ab", "a'b", ""],
                 lambda s: f"[{s!r:>8}][{s!s:<6}][{s!r:^9}]",
                 expect_compiled=True)

    def test_repr_num_with_spec(self, ctx):
        run_diff(ctx, [42, -7],
                 lambda x: f"[{x!r:>6}][{x!s:5}]",
                 expect_compiled=True)


class TestFormatSpecFuzz:
    """Seeded random sweep over the COMPILABLE spec grammar —
    (fill+align, sign, '#', '0', width, ',_' group, precision, type)
    combinations run_diff'd against CPython.  Specs are generated into
    a real module file (inspect.getsource needs one) with ~6 specs per
    UDF to stay under the staged-projection cap."""

    VALS_NUM = [0.0, -0.0, 2.675, -0.25, 9.995, 1e-5, 12345.678,
                -99999.99999, 0.1, float("inf"), float("-inf"),
                float("nan")]
    VALS_INT = [0, 5, -42, 255, -6042, 123456789]
    VALS_STR = ["", "ab", "hello world", "abcdefghijklmnop"]

    @staticmethod
    def _mk_spec(rng, family):
        fill = ""
        align = rng.choice(["", "<", ">", "^", "="])
        if align and rng.random() < 0.7:
            fill = rng.choice(["*", "0", "~", " ", "@"])
        sign = rng.choice(["", "+", " "])
        alt = "#" if rng.random() < 0.25 else ""
        zero = "0" if rng.random() < 0.35 else ""
        width = rng.choice(["", "4", "8", "11", "15"])
        group = rng.choice(["", ",", "_"])
        prec = rng.choice([None, 0, 1, 2, 5, 8])
        if family == "num":
            typ = rng.choice(["f", "%", "e", "E", "g", "G", ""])
            if typ == "":
                group = ""  # repr-form grouping: honest fallback
                prec = None
            if typ in ("g", "G"):
                group = ""  # ','/'_' with g: honest fallback
            if typ in ("e", "E") and group:
                # grouping threads through the mantissa zero padding —
                # honest fallback; keep the non-thread shapes
                zero = ""
                if align == "=" and fill == "0":
                    fill = "*"
        elif family == "int":
            typ = rng.choice(["d", "x", "X", "o", "b", ""])
            prec = None  # precision with integer types: ValueError
            if typ in ("x", "X", "o", "b"):
                if group == ",":
                    group = rng.choice(["", "_"])
        else:
            typ = rng.choice(["s", ""])
            sign, alt, group = "", "", ""
            if align == "=":
                align = ">"
            if typ == "" and prec is None:
                prec = rng.choice([2, 5, 8])
        p = "" if prec is None else f".{prec}"
        return f"{fill}{align}{sign}{alt}{zero}{width}{group}{p}{typ}"

    def _run_family(self, ctx, tmp_path, family, vals, seed, nfuncs=6):
        import random
        import importlib.util
        rng = random.Random(seed)
        lines = []
        for i in range(nfuncs):
            specs = [self._mk_spec(rng, family) for _ in range(6)]
            body = "".join("[{x:" + s + "}]" for s in specs)
            lines.append(f"def f{i}(x):\n    return f\"{body}\"\n")
        p = tmp_path / f"fuzz_{family}.py"
        p.write_text("".join(lines))
        spec = importlib.util.spec_from_file_location(
            f"fuzz_{family}", p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        for i in range(nfuncs):
            fn = getattr(mod, f"f{i}")
            try:
                run_diff(ctx, vals, fn, expect_compiled=True)
            except AssertionError:
                raise AssertionError(
                    f"spec fuzz {family} f{i}: "
                    + open(p).read().splitlines()[2 * i + 1])

    def test_fuzz_num_specs(self, ctx, tmp_path):
        self._run_family(ctx, tmp_path, "num", self.VALS_NUM, 0xA11CE)

    def test_fuzz_int_specs(self, ctx, tmp_path):
        self._run_family(ctx, tmp_path, "int", self.VALS_INT, 0xB0B)

    def test_fuzz_str_specs(self, ctx, tmp_path):
        self._run_family(ctx, tmp_path, "str", self.VALS_STR, 0xCAFE,
                         nfuncs=4)

    # -- printf-style grammar ------------------------------------------

    @staticmethod
    def _mk_printf(rng, family):
        flags = "".join(c for c in "-+0 "
                        if rng.random() < 0.3)
        width = rng.choice(["", "4", "8", "12"])
        prec = rng.choice([None, 0, 1, 3, 6])
        if family == "num":
            typ = rng.choice(["f", "e", "E", "g", "G"])
        elif family == "int":
            typ = rng.choice(["d", "i", "x", "X", "o"])
            if typ in ("x", "X", "o"):
                prec = None  # precision with %x: honest fallback
        elif family == "char":
            typ = "c"
        else:
            typ = rng.choice(["s", "r"])
        p = "" if prec is None else f".{prec}"
        return f"%{flags}{width}{p}{typ}"

    def _run_printf(self, ctx, tmp_path, family, vals, seed, nfuncs=5):
        import random
        import importlib.util
        rng = random.Random(seed)
        lines = []
        for i in range(nfuncs):
            specs = [self._mk_printf(rng, family) for _ in range(6)]
            pat = "|".join("[" + s + "]" for s in specs)
            args = ", ".join(["x"] * 6)
            lines.append(
                f"def f{i}(x):\n    return \"{pat}\" % ({args})\n")
        p = tmp_path / f"fuzzpf_{family}.py"
        p.write_text("".join(lines))
        spec = importlib.util.spec_from_file_location(
            f"fuzzpf_{family}", p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        for i in range(nfuncs):
            fn = getattr(mod, f"f{i}")
            try:
                run_diff(ctx, vals, fn, expect_compiled=True)
            except AssertionError:
                raise AssertionError(
                    f"printf fuzz {family} f{i}: "
                    + open(p).read().splitlines()[2 * i + 1])

    def test_fuzz_printf_num(self, ctx, tmp_path):
        self._run_printf(ctx, tmp_path, "num", self.VALS_NUM, 0xD00D)

    def test_fuzz_printf_int(self, ctx, tmp_path):
        self._run_printf(ctx, tmp_path, "int", self.VALS_INT, 0xE9)

    def test_fuzz_printf_str(self, ctx, tmp_path):
        self._run_printf(ctx, tmp_path, "str", self.VALS_STR, 0xF00,
                         nfuncs=3)

    def test_printf_width_counts_characters_not_utf16_units(self, ctx):
        """Latent bug caught by the %c fuzzer and fixed for %s/%r too:
        java's '%12s' pads by UTF-16 code units, so an astral char
        (2 units) came back one space short of CPython."""
        run_diff(ctx, ["😀", "ab", "€"],
                 lambda s: "%5s|%-5s|%.1s" % (s, s, s),
                 expect_compiled=True)
        run_diff(ctx, ["😀x", "a"],
                 lambda s: "%8r" % s, expect_compiled=True)

    def test_fuzz_printf_char(self, ctx, tmp_path):
        # valid non-surrogate codepoints across ASCII/BMP/astral
        self._run_printf(ctx, tmp_path, "char",
                         [65, 48, 955, 8364, 0x4E2D, 0x1F600, 1,
                          0x10FFFF], 0xC0DE, nfuncs=3)

    def test_minus_flag_without_width(self, ctx):
        # '-' with no width: CPython no-op; java MissingFormatWidth
        run_diff(ctx, ["hello", ""],
                 lambda s: "%-.6r|%-s|%-.1s|%-0.0s" % (s, s, s, s),
                 expect_compiled=True)
        run_diff(ctx, [42], lambda x: "%-+r|%- r" % (x, x),
                 expect_compiled=True)

    def test_alt_flag_bare_float_spec(self, ctx):
        # '#' with no type forces the decimal point: '1.e-05'
        run_diff(ctx, [1e-05, 2.5, 1e16, float("inf"), float("nan"),
                       -0.0, 100.0],
                 lambda x: f"[{x:#}][{x:+#8}][{x:~^+#4}][{x: ^+#8}]",
                 expect_compiled=True)

    def test_printf_java_hostile_flags(self, ctx):
        # valid CPython, but java's Formatter THROWS on these shapes if
        # passed through verbatim ('-'+'0', 0-without-width, %d
        # precision, flags with %s) — regression for an action-time
        # crash, not just a wrong value
        run_diff(ctx, [42, -3, 0],
                 lambda x: "%-05d|%+0d|% 08d|%+-6d|%.3d|%08.3d|%-8.3d"
                           "|%+.5d|%.0d" % (x, x, x, x, x, x, x, x, x),
                 expect_compiled=True)
        run_diff(ctx, ["ab", ""],
                 lambda s: "%05s|%+s|%0s|% s" % (s, s, s, s),
                 expect_compiled=True)
        run_diff(ctx, [2, -7],
                 lambda x: "%+r|%05r|% r|%-6r" % (x, x, x, x),
                 expect_compiled=True)


class TestFormatBuiltin:
    """format(x, spec) builtin — same lowering as an f-string
    placeholder (CPython-differential)."""

    def test_numeric_specs(self, ctx):
        run_diff(ctx, [2.675, -0.25, 9.995, 0.0],
                 lambda x: format(x, ".2e") + "|" + format(x, ".3g")
                           + "|" + format(x, "08,.1f") + "|" + format(x),
                 expect_compiled=True)

    def test_int_and_str_specs(self, ctx):
        run_diff(ctx, [42, -7, 1234567],
                 lambda x: format(x, "08,d") + "|" + format(x, "#x")
                           + "|" + format(x, ""),
                 expect_compiled=True)
        run_diff(ctx, ["ab", "xyz"],
                 lambda s: format(s, "08") + format(s, ">5"),
                 expect_compiled=True)


class TestSciGeneralFormat:
    """e/E/g/G/% format types — CPython-differential.  Exact HALF_EVEN
    rounding on the binary value via _sci_digits; java's Formatter
    rounds the shortest repr HALF_UP, wrong on e.g.
    '{:.0e}'.format(-0.25), and prints 'Infinity'/'NaN'."""

    VALS = [0.0, -0.0, 1.0, -1.0, 0.1, 2.675, 12345.678, 1e-5,
            123456789.0, 9.995, 0.25, -0.25, 25.0, 1e22, 1.5e-300,
            1.7976931348623157e308, 5e-324, 2.2250738585072011e-309,
            99999.99999, 999999.5, 3.333333333333333e-5,
            float("inf"), float("-inf"), float("nan")]

    def test_e_default_and_precisions(self, ctx):
        run_diff(ctx, self.VALS,
                 lambda x: f"[{x:e}][{x:.0e}][{x:.2e}][{x:.12e}]",
                 expect_compiled=True)

    def test_E_sign_width_align(self, ctx):
        run_diff(ctx, self.VALS,
                 lambda x: f"[{x:E}][{x:+.3e}][{x: .1E}][{x:20.2e}]"
                           f"[{x:<20.2e}][{x:^20.2e}][{x:020.2e}]",
                 expect_compiled=True)

    def test_e_alt_and_int_args(self, ctx):
        run_diff(ctx, [0, 5, -123456, 42],
                 lambda x: f"[{x:.0e}][{x:#.0e}][{x:e}]",
                 expect_compiled=True)

    def test_g_default_and_precisions(self, ctx):
        run_diff(ctx, self.VALS,
                 lambda x: f"[{x:g}][{x:.1g}][{x:.3g}][{x:.10g}]"
                           f"[{x:.0g}]",
                 expect_compiled=True)

    def test_G_alt_sign(self, ctx):
        run_diff(ctx, self.VALS,
                 lambda x: f"[{x:G}][{x:#.3g}][{x:+.2G}][{x:12.4g}]",
                 expect_compiled=True)

    def test_percent_type(self, ctx):
        run_diff(ctx, [0.1, -0.0567, 0.0, 2.0, 0.12345, float("inf")],
                 lambda x: f"[{x:%}][{x:.0%}][{x:.2%}][{x:+,.1%}]"
                           f"[{x:#.0%}]",
                 expect_compiled=True)

    def test_printf_e_g(self, ctx):
        run_diff(ctx, self.VALS,
                 lambda x: "%e|%E|%.0e|%g|%.3g|%G|%12.2e|%-12.2e|%012.3e"
                           % (x, x, x, x, x, x, x, x, x),
                 expect_compiled=True)

    def test_f_inf_nan(self, ctx):
        vals = [float("inf"), float("-inf"), float("nan"), 1.5]
        run_diff(ctx, vals,
                 lambda x: f"[{x:.2f}][{x:8.2f}][{x:08.2f}][{x:+.1f}]",
                 expect_compiled=True)
        run_diff(ctx, vals, lambda x: "%.2f|%8.2f" % (x, x),
                 expect_compiled=True)

    def test_half_even_ties(self, ctx):
        # true binary ties resolved half-even on the exact value
        # (java HALF_UP differs on every one of these)
        ties = [0.25, -0.25, 25.0, 2.5, 0.125, 1.5, 4.5, 7.5e10,
                0.0625, -2.5]
        run_diff(ctx, ties,
                 lambda x: f"[{x:.0e}][{x:.1e}][{x:.1g}][{x:.2g}]",
                 expect_compiled=True)

    def test_fuzz_sci(self, ctx):
        import random
        rng = random.Random(0x5C1F)
        vals = []
        for _ in range(150):
            m = rng.random() * 10 ** rng.randrange(-6, 7)
            vals.append(-m if rng.random() < 0.5 else m)
        vals += [rng.random() * 10 ** rng.randrange(-320, 309)
                 for _ in range(60)]
        vals += [float(rng.randrange(-10 ** 6, 10 ** 6))
                 / 2 ** rng.randrange(0, 8) for _ in range(60)]
        run_diff(ctx, vals,
                 lambda x: f"[{x:e}][{x:.1e}][{x:.7e}][{x:g}][{x:.2g}]"
                           f"[{x:.12g}][{x:.3e}]",
                 expect_compiled=True)

    def test_unsupported_sci_specs_fall_back(self, ctx):
        # >15 significant digits needs exact-binary digit generation
        # the repr doesn't carry; ','+g grouping is unimplemented
        run_diff(ctx, [1 / 3], lambda x: f"{x:.16e}",
                 expect_compiled=False)
        run_diff(ctx, [1 / 3], lambda x: f"{x:.17g}",
                 expect_compiled=False)
        run_diff(ctx, [1234.5], lambda x: f"{x:,g}",
                 expect_compiled=False)


class TestStrReprCompiled:
    """repr() of strings as a pure Column expression (_py_str_repr):
    quote selection, fixed escapes, and the interpreter-exact
    non-printable table (\\x/\\u/\\U hex escapes)."""

    EDGE = ["plain", "it's", 'say "hi"', "mix'd \"both\"", "'", '"',
            "\\", "a\nb", "\t\n\r", "tab\there", "", " ",
            "café", "emoji \U0001F600", "zw​sp", "ctl\x00\x07",
            "del\x7f", "nbsp\xa0", "\U0001FAE8", "  ",
            "\x1b[31m", "end\\"]

    def test_fstring_repr_edge_cases(self, ctx):
        run_diff(ctx, self.EDGE, lambda s: f"{s!r}",
                 expect_compiled=True)

    def test_repr_builtin_str(self, ctx):
        run_diff(ctx, self.EDGE, lambda s: repr(s) + "!",
                 expect_compiled=True)

    def test_repr_builtin_numeric(self, ctx):
        run_diff(ctx, [1, -3, 0], lambda x: repr(x),
                 expect_compiled=True)
        run_diff(ctx, [1.5, -0.25, 1e300], lambda x: repr(x * 2),
                 expect_compiled=True)

    def test_repr_quote_selection_matrix(self, ctx):
        # CPython: single quotes unless the value contains ' and no "
        data = ["no quotes", "only ' single", 'only " double',
                "both ' and \"", "''''", '""""']
        run_diff(ctx, data, lambda s: repr(s), expect_compiled=True)

    def test_repr_fuzz_unicode(self, ctx):
        import random
        rng = random.Random(0xC0DE)
        pool = (
            [chr(i) for i in range(0x00, 0x30)]          # controls+digits
            + list("abc'\"\\\n\r\t ")
            + [chr(i) for i in (0x7f, 0xa0, 0xad, 0x200b, 0x200e,
                                0x2028, 0x2029, 0xe9, 0x4e2d, 0xfeff,
                                0x1f600, 0x1fae8, 0xe0001, 0x10fffd)])
        data = ["".join(rng.choice(pool)
                        for _ in range(rng.randrange(0, 12)))
                for _ in range(120)]
        run_diff(ctx, data, lambda s: f"<{s!r}>", expect_compiled=True)

    def test_repr_of_container_falls_back(self, ctx):
        # list repr embeds element reprs — stays on the exact fallback
        run_diff(ctx, ["a b", "c"], lambda s: repr(s.split(" ")),
                 expect_compiled=False)


class TestExceptionMessageReads:
    """Handlers reading ``str(e)`` compile when every raise site feeding
    them records its exact CPython message (guard(msg=...)): division
    family, int()/float() literals (repr-exact), Key/IndexError,
    math domain, raise/assert statements.  Sites without a recorded
    message send the UDF to the exact fallback — never a made-up
    message."""

    def test_division_messages(self, ctx):
        def f(x):
            try:
                return str(10 // x)
            except ZeroDivisionError as e:
                return str(e)
        run_diff(ctx, [1, 0, 5], f, expect_compiled=True)

        def g(x):
            try:
                return f"{10.5 % x}"
            except ZeroDivisionError as e:
                return "caught: " + str(e)
        run_diff(ctx, [2.0, 0.0], g, expect_compiled=True)

        def h(x):
            try:
                return str(100 / x)
            except ZeroDivisionError as e:
                return str(e)
        run_diff(ctx, [4, 0], h, expect_compiled=True)
        run_diff(ctx, [4.0, 0.0], h, expect_compiled=True)

    def test_int_float_literal_messages_use_repr(self, ctx):
        def f(s):
            try:
                return f"v={int(s)}"
            except ValueError as e:
                return str(e)
        run_diff(ctx, ["12", "x y", " 9 ", "it's bad", "", "a\nb"],
                 f, expect_compiled=True)

        def g(s):
            try:
                return f"{float(s) * 2}"
            except ValueError as e:
                return str(e)
        run_diff(ctx, ["1.5", "no", '"q"'], g, expect_compiled=True)

        def h(s):
            try:
                return str(int(s, 16))
            except ValueError as e:
                return str(e)
        run_diff(ctx, ["ff", "0x1A", "xyz", "12_3"], h,
                 expect_compiled=True)

    def test_key_and_index_messages(self, ctx):
        def f(s):
            try:
                return str({"a": 1, "b": 2}[s])
            except KeyError as e:
                return "missing " + str(e)   # str(KeyError(k)) is repr
        run_diff(ctx, ["a", "zz", "b", "wei'rd"], f,
                 expect_compiled=True)

        def g(x):
            try:
                return str([10, 20][x])
            except IndexError as e:
                return f"{type(e).__name__}: {str(e)}"
        run_diff(ctx, [0, 1, 2, -3], g, expect_compiled=True)

        def h(s):
            try:
                return s[5]
            except IndexError as e:
                return str(e)
        run_diff(ctx, ["abcdef", "ab", ""], h, expect_compiled=True)

    def test_math_domain_message(self, ctx):
        import math

        def f(x):
            try:
                return str(math.sqrt(x - 4))
            except ValueError as e:
                return str(e)
        run_diff(ctx, [8.0, 0.0, 4.0], f, expect_compiled=True)

    def test_raise_statement_messages(self, ctx):
        def f(x):
            try:
                if x < 0:
                    raise ValueError("negative input")
                return f"ok {x}"
            except ValueError as e:
                return "E: " + str(e)
        run_diff(ctx, [5, -2], f, expect_compiled=True)

        def g(x):
            try:
                if x > 10:
                    raise RuntimeError(f"too big: {x}")
                return str(x)
            except RuntimeError as e:
                return str(e)
        run_diff(ctx, [5, 11], g, expect_compiled=True)

        def h(x):
            try:
                if x == 1:
                    raise ValueError     # bare class: str(e) == ''
                return "no"
            except ValueError as e:
                return "<" + str(e) + ">"
        run_diff(ctx, [0, 1], h, expect_compiled=True)

    def test_assert_messages(self, ctx):
        # UDFs live in udf_shapes.py: pytest's assertion rewriting would
        # otherwise alter the AssertionError messages inside this module
        from udf_shapes import assert_with_message, assert_without_message
        run_diff(ctx, [2, 7], assert_with_message, expect_compiled=True)
        run_diff(ctx, [1, 3], assert_without_message,
                 expect_compiled=True)

    def test_nested_try_mixed_reads(self, ctx):
        def f(s):
            try:
                try:
                    return f"n={int(s)}"
                except ValueError as e:
                    return "inner: " + str(e)
            except Exception as e:
                return type(e).__name__
        run_diff(ctx, ["5", "bad'un"], f, expect_compiled=True)

    def test_first_raise_order_raising_message_expr(self, ctx):
        def f(x):
            # CPython evaluates the raise arg first: ZeroDivisionError
            # from the arg expression beats the ValueError
            try:
                if x < 2:
                    raise ValueError(str(10 // (x - 1)))
                return "big"
            except ValueError as e:
                return "V:" + str(e)
            except ZeroDivisionError as e:
                return "Z:" + str(e)
        run_diff(ctx, [5, 0, 1], f, expect_compiled=True)


class TestMoreExceptionMessages:
    """Round-6b second batch of recorded raise-site messages."""

    def test_str_index_message(self, ctx):
        def f(s):
            try:
                return str(s.index("a"))
            except ValueError as e:
                return str(e)
        run_diff(ctx, ["abc", "xyz"], f, expect_compiled=True)

    def test_minmax_empty_messages(self, ctx):
        def f(s):
            try:
                return str(max(s.split(",")[1:]))
            except ValueError as e:
                return str(e)
        run_diff(ctx, ["a,b,c", "solo"], f, expect_compiled=True)

        def g(s):
            try:
                return str(min(s.split(",")[1:], key=len))
            except ValueError as e:
                return str(e)
        run_diff(ctx, ["a,bb,c", "solo"], g, expect_compiled=True)

    def test_list_index_message_uses_repr(self, ctx):
        def f(s):
            try:
                return str(s.split(" ").index("it's"))
            except ValueError as e:
                return str(e)
        run_diff(ctx, ["so it's here", "not here"], f,
                 expect_compiled=True)

    def test_divmod_float_message(self, ctx):
        def f(x):
            try:
                q, r = divmod(10.0, x)
                return f"{q} {r}"
            except ZeroDivisionError as e:
                return str(e)
        run_diff(ctx, [4.0, 0.0], f, expect_compiled=True)

        def g(x):
            try:
                q, r = divmod(10, x)
                return f"{q} {r}"
            except ZeroDivisionError as e:
                return str(e)
        run_diff(ctx, [4, 0], g, expect_compiled=True)


class TestSetSupport:
    """Compiled set() semantics over distinct arrays: len/membership/
    algebra/relations compile; order-leaking shapes (list(s), join,
    iteration) keep the exact fallback.  All CPython-differential."""

    TEXTS = ["a b a c", "x x x", "", "a b c d e", "q w e r t y q w"]

    def test_len_set_split(self, ctx):
        # type-token ratio — the canonical text-pipeline shape
        run_diff(ctx, self.TEXTS,
                 lambda s: len(set(s.split())), expect_compiled=True)

    def test_set_algebra_jaccard(self, ctx):
        def jac(s):
            a = set(s.split())
            b = set("a b c x".split())
            inter = len(a & b)
            union = len(a | b)
            return inter / union if union else -1.0
        run_diff(ctx, self.TEXTS, jac, expect_compiled=True)

    def test_set_difference_symdiff(self, ctx):
        def f(s):
            a = set(s.split())
            b = {"a", "x"}
            return f"{len(a - b)}|{len(a ^ b)}|{len(b - a)}"
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_set_relations(self, ctx):
        def f(s):
            a = set(s.split())
            b = {"a", "b", "c"}
            return (a == b, a != b, a <= b | a, a < a | {"zz"},
                    b >= {"a"}, a > a)
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_set_membership_and_truthy(self, ctx):
        def f(s):
            words = set(s.split())
            return ("a" in words, "zz" not in words, bool(words),
                    1 if words else 0)
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_set_methods(self, ctx):
        def f(s):
            a = set(s.split())
            b = {"a", "c", "zz"}
            return (len(a.union(b)), len(a.intersection(b)),
                    len(a.difference(b)), len(a.symmetric_difference(b)),
                    a.issubset(b), a.issuperset({"a"}), a.isdisjoint(b))
        run_diff(ctx, self.TEXTS, f, expect_compiled=True)

    def test_set_orderfree_consumers(self, ctx):
        def g(s):
            a = set(s.split())
            return "|".join(sorted(a))
        run_diff(ctx, self.TEXTS, g, expect_compiled=True)

    def test_set_of_numbers(self, ctx):
        run_diff(ctx, [1, 2, 5],
                 lambda x: (len({x, 1, 2, x + 1}), sum({x, 1, 2}),
                            min({x, 3}), max({x, 3}),
                            {x} == {1.0}, x in {1, 2.0, 3}),
                 expect_compiled=True)

    def test_set_of_chars_from_str(self, ctx):
        run_diff(ctx, ["banana", "", "abc"],
                 lambda s: len(set(s)), expect_compiled=True)

    def test_order_leaking_falls_back(self, ctx):
        run_diff(ctx, self.TEXTS,
                 lambda s: len(list(set(s.split()))),
                 expect_compiled=False)
        # str(set) output is hash-ordered (differs across processes /
        # PYTHONHASHSEED) — compare an order-free projection of it
        run_diff(ctx, self.TEXTS, lambda s: len(str(set(s.split()))),
                 expect_compiled=False)

    def test_mixed_type_sets(self, ctx):
        run_diff(ctx, [1, 7],
                 lambda x: ({x} == {"a"}, {x} <= {"a", "b"},
                            "b" in {x, 1}),
                 expect_compiled=True)

    def test_set_comprehension(self, ctx):
        def f(s):
            lens = {len(w) for w in s.split() if w}
            caps = set(w.upper() for w in s.split() if len(w) > 1)
            return (len(lens), sum(lens), max(lens) if lens else -1,
                    len(caps), "QQ" in caps)
        run_diff(ctx, self.TEXTS + ["qq ww qq"], f, expect_compiled=True)

    def test_comprehension_over_set_falls_back(self, ctx):
        # iterating a set exposes hash order — exact fallback (sorted
        # on the outside keeps the differential order-free)
        run_diff(ctx, self.TEXTS,
                 lambda s: sorted(w + "!" for w in set(s.split())),
                 expect_compiled=False)

    def test_frozenset_alias(self, ctx):
        run_diff(ctx, self.TEXTS,
                 lambda s: (len(frozenset(s.split())),
                            frozenset(s.split()) <= {"a", "b", "c"},
                            len(frozenset(s.split()) & {"a", "x"})),
                 expect_compiled=True)

    def test_set_return_value_compiles(self, ctx):
        # compiled since round 10: a returned set crosses the boundary
        # as a __sv marker struct and collects as a REAL Python set
        import typing
        before = ctx.metrics.compiledUDFs
        ds = ctx.parallelize(["a b a", "c"]).map(lambda s: set(s.split()))
        got = ds.collect()
        assert ctx.metrics.compiledUDFs == before + 1
        assert got == [{"a", "b"}, {"c"}]
        assert ds.types == [typing.Set[str]]

    def test_set_return_in_tuple_and_dict(self, ctx):
        before = ctx.metrics.compiledUDFs
        got = ctx.parallelize(["a b a", "c d"]) \
                 .map(lambda s: (len(s), set(s.split()) - {"c"})).collect()
        assert ctx.metrics.compiledUDFs == before + 1
        assert got == [(5, {"a", "b"}), (3, {"d"})]
        got2 = ctx.parallelize(["x y x"]) \
                  .map(lambda s: {"n": len(s), "u": set(s.split())}) \
                  .collect()
        assert got2 == [(5, {"x", "y"})]

    def test_compiled_set_column_consumed_downstream(self, ctx):
        # a compiled set return re-binds as a set column: downstream
        # len/membership/algebra stay compiled end-to-end
        before_fb = ctx.metrics.fallbackUDFs
        got = (ctx.parallelize(["a b a", "b c d"])
               .map(lambda s: {"n": len(s), "u": set(s.split())})
               .map(lambda x: (x["n"], len(x["u"]), "b" in x["u"],
                               len(x["u"] & {"a", "d"})))
               .collect())
        assert ctx.metrics.fallbackUDFs == before_fb
        assert got == [(5, 2, True, 1), (5, 3, True, 1)]

    def test_set_return_through_arrow_fallback_boundary(self, ctx):
        # a compiled set column feeding a FALLBACK op must decode to a
        # real set inside the Python UDF (fallback._struct_to_tuple);
        # isinstance doesn't compile, so the second op is the fallback
        got = (ctx.parallelize(["a b a"])
               .map(lambda s: set(s.split()))
               .map(lambda u: sorted(u | {"z"})
                    if isinstance(u, set) else ["NOT A SET"])
               .collect())
        assert got == [["a", "b", "z"]]


class TestVariantReturns:
    """Mixed-type returns (int|str|float|None) compile to a tagged
    variant struct (compiler.SVariant) and decode to EXACT Python
    values at every boundary — the reference routes such rows down its
    interpreted general path (PythonPipelineBuilder.cc); here the whole
    column stays compiled."""

    DATA = [0, 1, 2, 3, 4, 5]

    def test_ifexp_mixed_compiles(self, ctx):
        run_diff(ctx, self.DATA, lambda x: "odd" if x % 2 else x * 10,
                 expect_compiled=True)

    def test_statement_returns_mixed(self, ctx):
        def f(x):
            if x % 2:
                return "odd"
            return x * 10
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_none_and_float_arms(self, ctx):
        def f(x):
            if x == 0:
                return None
            if x == 1:
                return "one"
            return x * 1.5
        run_diff(ctx, self.DATA, f, expect_compiled=True)

    def test_nested_ifexp_widens(self, ctx):
        run_diff(ctx, self.DATA,
                 lambda x: "hi" if x > 3 else (x * 5 if x > 1 else "lo"),
                 expect_compiled=True)

    def test_filter_mixed_truthiness(self, ctx):
        # Python truthiness per arm: "" and 0 falsy, "yes"/nonzero truthy
        run_diff(ctx, self.DATA, lambda x: "yes" if x > 2 else 0,
                 op="filter", expect_compiled=True)
        run_diff(ctx, self.DATA, lambda x: "" if x == 1 else x,
                 op="filter", expect_compiled=True)

    def test_guarded_arm_exceptions_counted(self, ctx):
        # the int() arm raises on non-numeric payloads — guard codes
        # must flow exactly as on single-typed paths
        data = ["n5", "nx", "plain", "n12"]
        run_diff(ctx, data,
                 lambda s: int(s[1:]) if s.startswith("n") else s,
                 expect_compiled=True)

    def test_exact_types_preserved(self, ctx):
        # int arm stays int, float arm stays float — no numeric widening
        out = ctx.parallelize([1, 2]).map(
            lambda x: 1.5 if x == 1 else "s").collect()
        assert out == [1.5, "s"]
        assert isinstance(out[0], float)

    def test_types_reports_union(self, ctx):
        import typing
        ds = ctx.parallelize([1, 2]).map(
            lambda x: "odd" if x % 2 else x * 10)
        t = ds.types[0]
        assert set(typing.get_args(t)) >= {int, str}

    def test_downstream_op_decodes_exactly(self, ctx):
        # a second UDF over the variant column falls back to Arrow and
        # must see real int|str values, not structs
        out = (ctx.parallelize([1, 2, 3, 4])
               .map(lambda x: "odd" if x % 2 else x * 10)
               .map(lambda v: str(v) + "!").collect())
        assert out == ["odd!", "20!", "odd!", "40!"]

    def test_tuple_with_mixed_element(self, ctx):
        run_diff(ctx, [1, 2, 3],
                 lambda x: (x, "odd" if x % 2 else x * 10),
                 expect_compiled=True)

    def test_variant_consumed_by_expr_falls_back(self, ctx):
        # len() over a mixed value has no compiled form — exact fallback
        run_diff(ctx, [1, 2, 3],
                 lambda x: len("odd" if x % 2 else str(x * 10)) if x else 0,
                 expect_compiled=None)


class TestWhileTrueBreakRewrite:
    """``while True: ... break`` with DATA-DEPENDENT break conditions
    respells to a plain condition-driven while (top-break and do-while
    forms), unlocking the counter/contraction/convergence folds —
    previously always an Arrow fallback (COVERAGE.md 'not compiled')."""

    def test_do_while_contraction(self, ctx):
        def f(x):
            v = x
            while True:
                v = v // 2
                if v < 3:
                    break
            return v
        run_diff(ctx, [100, 7, 0, 999, 5], f, expect_compiled=True)

    def test_top_break_contraction(self, ctx):
        def f(x):
            v = x
            while True:
                if v <= 1:
                    break
                v = v // 2
            return v
        run_diff(ctx, [100, 7, 1, 0], f, expect_compiled=True)

    def test_counter_with_accumulation(self, ctx):
        def f(x):
            i, s = 0, 0
            while True:
                if i >= x:
                    break
                s += i
                i += 1
            return s
        run_diff(ctx, [0, 1, 5, 10], f, expect_compiled=True)

    def test_float_halving(self, ctx):
        def f(x):
            v = float(x) + 1.0
            while True:
                v = v / 2.0
                if v <= 0.5:
                    break
            return v
        run_diff(ctx, [1, 10, 1000], f, expect_compiled=True)

    def test_not_condition_unwraps(self, ctx):
        def f(x):
            v = x + 20
            while True:
                if not (v > 4):
                    break
                v = v - 3
            return v
        run_diff(ctx, [0, 5, 30], f, expect_compiled=True)

    def test_static_while_true_still_compiles(self, ctx):
        def f(x):
            i = 0
            while True:
                i += 1
                if i == 3:
                    break
            return x + i
        run_diff(ctx, [1, 2], f, expect_compiled=True)

    def test_mid_body_break_respells(self, ctx):
        # round 11 (VERDICT r10 item 7): a single break that is
        # neither first nor last respells as
        # ``A; while not c: B; A`` — the rotated body is a plain
        # contraction + accumulator, so this compiles now (was an
        # Arrow fallback)
        def f(x):
            v = x
            n = 0
            while True:
                n = n + 1
                if v < 2:
                    break
                v = v - 1
            return v * 100 + n
        run_diff(ctx, [9, 3, 2, 1, 100], f, expect_compiled=True)

    def test_mid_body_break_split_driver_update_falls_back(self, ctx):
        # two updates of the driver in the rotated body: no single
        # recognized step, so the respelled loop falls back exactly
        def f(x):
            v = x
            while True:
                v = v - 1
                if v < 2:
                    break
                v = v - 1
            return v
        run_diff(ctx, [9, 3, 2, 100], f, expect_compiled=False)

    def test_mid_body_break_counter_shape_falls_back(self, ctx):
        # rotation puts the pre-break accumulation AFTER the counter
        # increment, so the for-range rewrite (increment-last) cannot
        # apply and the dynamic stop keeps it off the contraction fold
        # -> exact fallback, same rows
        def f(x):
            i, s = 0, 0
            while True:
                s += i
                if i >= x:
                    break
                i += 1
            return s
        run_diff(ctx, [0, 1, 5, 10], f, expect_compiled=False)

    def test_mid_body_break_first_iteration_exits(self, ctx):
        # the prefix A runs exactly once when c holds immediately
        def f(x):
            v = x
            n = 0
            while True:
                n = n + 1
                if v <= 1:
                    break
                v = v // 2
            return (v, n)
        run_diff(ctx, [0, 1, 2, 9, 64], f)

    def test_mid_body_break_nonfoldable_still_falls_back(self, ctx):
        # respell applies but the rotated loop has no bound proof
        # (loop-variant threshold) -> exact fallback, same rows
        def f(x):
            v = x
            t = 0
            while True:
                v = v - 1
                if v < t:
                    break
                t = t + 1
            return v
        run_diff(ctx, [9, 3, 2], f, expect_compiled=False)

    def test_two_breaks_compile(self, ctx):
        # round 12 (VERDICT r11 item 4): MULTIPLE data-dependent
        # breaks — the leading break-if becomes the loop test and the
        # remaining break-ifs lower to a frozen-flag accumulator in
        # the (now break-tolerant) convergence fold
        def f(x):
            v = x
            while True:
                if v < 0:
                    break
                if v % 7 == 0:
                    break
                v = v - 3
            return v
        run_diff(ctx, [20, 21, 1, -5, 0, 14, 7, -1], f,
                 expect_compiled=True)


class TestContinueAfterDriverUpdate:
    """Round 12: a pure ``if c: continue`` STRICTLY AFTER the driver
    update compiles in the convergence fold — the admitted iteration
    still contracts (the update already ran), and the continue only
    skips trailing accumulator statements, exactly CPython.  A
    continue BEFORE the update could skip it -> still falls back."""

    def test_continue_after_update_compiles(self, ctx):
        def f(x):
            v = x
            s = 0
            while v > 1:
                v = v - 1
                if v % 2 == 0:
                    continue
                s = s + v
            return s  # sums the odd values below x
        run_diff(ctx, [0, 1, 2, 5, 10, 7], f, expect_compiled=True)

    def test_continue_before_update_falls_back(self, ctx):
        # data stays below the loop entry: any entering row would HANG
        # CPython (the continue really does skip the update), which is
        # exactly why this shape must not ride the fold
        def f(x):
            v = x
            s = 0
            while v > 1:
                if v % 2 == 0:
                    continue          # would skip the update -> hang
                v = v - 1
                s = s + v
            return s
        run_diff(ctx, [0, 1, -5], f, expect_compiled=False)

    def test_continue_with_break_and_guard(self, ctx):
        # continue + break + a guard-raising trailing statement in one
        # contraction body: the continue skips the raising statement
        # on even v (CPython), the break freezes, the raise fires at
        # the first admitted odd v == 3
        def f(x):
            v = x
            s = 0
            while v > 1:
                v = v - 1
                if s > 50:
                    break
                if v % 2 == 0:
                    continue
                s = s + 10 // (v - 3)
            return s
        run_diff(ctx, [0, 2, 5, 4, 9, 6], f, expect_compiled=True)

    def test_continue_skips_only_trailing(self, ctx):
        def f(x):
            v = x
            a = 0
            b = 0
            while v > 0:
                v = v - 2
                a = a + 1
                if v == 2:
                    continue
                b = b + v
            return a * 1000 + b
        run_diff(ctx, [0, 2, 4, 6, 8, 7], f, expect_compiled=True)


class TestBreakTolerantConvergenceFold:
    """Round 12 (VERDICT r11 item 4): data-dependent break-ifs inside
    a recognized contraction ``while`` compile — each ``if c: break``
    lowers to a frozen-flag fold accumulator (a broken row stops
    updating, exactly CPython's early exit), and the contraction bound
    stays valid because a break only exits EARLIER."""

    def test_break_guard_over_contraction(self, ctx):
        def f(x):
            v = x
            s = 0
            while v > 1:
                if s > 20:
                    break
                s += v
                v = v // 2
            return (v, s)
        run_diff(ctx, [100, 7, 0, 999, 2, 1, -3], f,
                 expect_compiled=True)

    def test_counter_with_two_guards(self, ctx):
        def f(x):
            i, s = 0, 0
            while True:
                if i >= x:
                    break
                if s > 12:
                    break
                s += i
                i += 1
            return s
        run_diff(ctx, [0, 1, 5, 10, 100, -2], f, expect_compiled=True)

    def test_break_after_driver_update(self, ctx):
        # the break's program point is mid-body AFTER the update: the
        # frozen state is the post-update state
        def f(x):
            v = x
            s = 0
            while v > 0:
                v = v - 2
                if v == 4:
                    break
                s += 1
            return (v, s)
        run_diff(ctx, [10, 8, 6, 5, 0, -4, 100], f, expect_compiled=True)

    def test_break_with_raising_body(self, ctx):
        # guard capture composes with the frozen flag: raises fire
        # only on admitted (test & not-broken) iterations, preserving
        # CPython's first-raise point
        def f(x):
            v = x
            s = 0
            while v > 1:
                if s > 100:
                    break
                s += 20 // (v - 2)
                v = v - 1
            return s
        run_diff(ctx, [10, 5, 4, 3, 2, 0], f)

    def test_break_reads_other_accumulator_float_driver(self, ctx):
        def f(x):
            v = float(x) + 8.0
            n = 0
            while v > 0.5:
                if n >= 6:
                    break
                v = v / 2.0
                n += 1
            return (v, n)
        run_diff(ctx, [1, 100, 0, 7], f, expect_compiled=True)

    def test_break_if_with_else_still_falls_back(self, ctx):
        # NOT a pure break-if (orelse assigns the driver without
        # breaking — would invalidate the contraction bound)
        def f(x):
            v = x
            while v > 1:
                if v % 5 == 0:
                    break
                else:
                    v = v - 1
            return v
        run_diff(ctx, [7, 10, 3], f, expect_compiled=False)

    def test_continue_with_break_after_update_compiles(self, ctx):
        # late round 12: this continue sits AFTER the driver update,
        # so the admitted iteration already contracted — it now rides
        # the continue-flag lowering (TestContinueAfterDriverUpdate)
        # alongside the break freeze
        def f(x):
            v = x
            s = 0
            while v > 0:
                v = v - 1
                if v % 3 == 0:
                    continue
                if s > 50:
                    break
                s += v
            return (v, s)
        run_diff(ctx, [10, 4, 0, 25, 7], f, expect_compiled=True)


class TestMixedArityExcArgs:
    """Round 12 (VERDICT r11 item 4): ``e.args`` over MIXED-arity
    raise sites compiles for len() and literal-index reads — the
    per-site recorded args carry a merged length field (SArgsTuple),
    the index resolves per SITE (negative indices pick each site's
    own position) and merges under the guard conditions."""

    def test_len_over_mixed_arity(self, ctx):
        def f(x):
            try:
                if x % 3 == 0:
                    raise ValueError("triple", x)
                if x % 2 == 0:
                    raise ValueError("even")
                return x
            except ValueError as e:
                return len(e.args) * 100 + x
        run_diff(ctx, [1, 2, 3, 4, 6, 9], f, expect_compiled=True)

    def test_index_zero_mixed_arity_mixed_types(self, ctx):
        # position 0 exists at every site but carries an int at one
        # and a str at the other — merges through the variant
        # machinery, str() decodes per runtime type
        def f(x):
            try:
                if x > 10:
                    raise ValueError(x, "big", 3)
                raise KeyError("small")
            except (ValueError, KeyError) as e:
                return (str(e.args[0]), len(e.args))
        run_diff(ctx, [5, 20, 11, 0], f, expect_compiled=True)

    def test_negative_index_resolves_per_site(self, ctx):
        def f(x):
            try:
                if x % 2 == 0:
                    raise ValueError("a", x)
                raise ValueError(x * 10)
            except ValueError as e:
                return e.args[-1]
        run_diff(ctx, [2, 3, 8, 7], f, expect_compiled=True)

    def test_index_out_of_range_for_one_site_falls_back(self, ctx):
        # e.args[1] would be a per-row IndexError inside the handler
        # for the 1-arg site — exact fallback, not a guard
        def f(x):
            try:
                if x % 2 == 0:
                    raise ValueError("a", "b")
                raise ValueError("solo")
            except ValueError as e:
                return e.args[1] if x % 2 == 0 else str(x)
        run_diff(ctx, [2, 3], f, expect_compiled=False)

    def test_whole_tuple_read_mixed_arity_falls_back(self, ctx):
        # the tuple VALUE has data-dependent length — no static tuple
        def f(x):
            try:
                if x % 2 == 0:
                    raise ValueError("a", x)
                raise ValueError("solo")
            except ValueError as e:
                return str(e.args == ("solo",))
        run_diff(ctx, [2, 3], f, expect_compiled=False)

    def test_str_of_same_arity_mixed_type_arg(self, ctx):
        # round-12 regression fix: str() over the variant-merged arg
        # rendered the raw '{vt, ...}' struct instead of the value
        def f(x):
            try:
                if x > 10:
                    raise ValueError(x)
                raise KeyError("small")
            except (ValueError, KeyError) as e:
                return str(e.args[0])
        run_diff(ctx, [5, 20], f, expect_compiled=True)


class TestLoopReturnsWithAccumulation:
    """Round 11 (VERDICT r10 missing #3): ``return`` MIXED with
    accumulation inside a dynamic loop compiles — each return lowers
    to (value, flag) fold accumulators + break, so the fold stops
    updating at the return point and the flag conditions the emitted
    return exactly like any conditional return."""

    def test_sum_until_threshold(self, ctx):
        def f(s):
            acc = 0
            for t in s.split(" "):
                acc = acc + len(t)
                if acc > 10:
                    return acc * 100
            return acc
        run_diff(ctx, ["a bb ccc dddd eeeee", "a b", "", "xxxxxxxxxxxx"],
                 f, expect_compiled=True)

    def test_return_loop_var_mixed_types(self, ctx):
        # the in-loop return is a str, the post-loop return an int —
        # the top-level variant machinery merges them
        def f(s):
            n = 0
            for t in s.split(" "):
                n = n + 1
                if len(t) >= 4:
                    return t
            return n
        run_diff(ctx, ["ab cdef gh", "a b c", "longword"], f,
                 expect_compiled=True)

    def test_immediate_return_first_iteration(self, ctx):
        def f(s):
            total = 0
            for t in s.split(" "):
                if t == "stop":
                    return -1
                total = total + len(t)
            return total
        run_diff(ctx, ["stop now", "a stop", "none here", ""], f,
                 expect_compiled=True)

    def test_multiple_returns_same_tag(self, ctx):
        def f(s):
            acc = 0
            for t in s.split(" "):
                if t == "a":
                    return 111
                acc = acc + len(t)
                if acc > 6:
                    return acc
            return acc * 10
        run_diff(ctx, ["a b", "bb cc dd ee", "x y", ""], f,
                 expect_compiled=True)

    def test_counter_while_with_return(self, ctx):
        def f(x):
            i, s = 0, 0
            while i < x:
                s = s + i
                if s > 5:
                    return -s
                i += 1
            return s
        run_diff(ctx, [0, 2, 5, 10], f, expect_compiled=True)

    def test_bare_return_compiles(self, ctx):
        # round 12: an all-bare-return loop needs only the flag
        # accumulator — the caller reads the untouched SConst(None)
        # seed, and the None arm merges with the typed post-loop
        # return through the variant machinery
        def f(s):
            acc = 0
            for t in s.split(" "):
                acc = acc + len(t)
                if acc > 4:
                    return
            return acc
        run_diff(ctx, ["abc def", "a", "", "abcde", "ab cd"], f,
                 expect_compiled=True)

    def test_return_none_literal_compiles(self, ctx):
        # `return None` is the same site shape as bare `return`
        def f(s):
            n = 0
            for t in s.split(" "):
                if t == "bad":
                    return None
                n = n + 1
            return n
        run_diff(ctx, ["a bad c", "a b c", "bad", ""], f,
                 expect_compiled=True)

    def test_mixed_bare_and_valued_falls_back(self, ctx):
        # a bare exit would overwrite the value accumulator with a
        # None arm — not expressible in a scalar fold field
        def f(s):
            acc = 0
            for t in s.split(" "):
                if t == "x":
                    return
                acc = acc + len(t)
                if acc > 6:
                    return acc
            return acc
        run_diff(ctx, ["x y", "abc defg", "ab"], f,
                 expect_compiled=False)

    def test_bare_return_none_result_rows(self, ctx):
        # rows that exit via the bare return must collect as REAL None
        def f(s):
            for t in s.split(" "):
                if len(t) > 3:
                    return
            return s
        run_diff(ctx, ["abcd e", "ab c", "", "xyzzy"], f,
                 expect_compiled=True)

    def test_guard_raising_return_expr_compiles(self, ctx):
        # a DYNAMIC loop whose return expression can raise: the guard
        # folds into the (flag, code) accumulators and the raising row
        # becomes an exception row at exactly CPython's raise point
        def f(s):
            acc = 0
            for t in s.split(" "):
                acc = acc + len(t)
                if acc > 5:
                    return 10 // (len(t) - 2)
            return acc
        run_diff(ctx, ["abc defg", "abcd", "a", "abcd ef"], f,
                 expect_compiled=True)

    def test_guarded_while_body_compiles(self, ctx):
        # round 11: guards inside a convergence-while body fold into
        # (flag, code) accumulator fields updated only on iterations
        # the loop test admits — raising rows become exception rows at
        # CPython's raise point, ahead of the cap guard
        def f(x):
            v = x
            acc = 0
            while v > 1:
                acc = acc + 10 // (v - 2)  # raises when v hits 2
                v = v - 1
            return acc
        run_diff(ctx, [0, 1, 5, 3], f, expect_compiled=True)

    def test_guarded_while_raise_resolvable(self, ctx):
        def f(x):
            v = x
            acc = 0
            while v > 1:
                acc = acc + 10 // (v - 2)
                v = v - 1
            return acc
        ds = ctx.parallelize([1, 4, 0]).map(f)
        out = ds.resolve(ZeroDivisionError, lambda x: -1).collect()
        assert out == [0, -1, 0]

    def test_guarded_while_body_no_raise_rows(self, ctx):
        # the guard machinery must not fire on rows whose trajectory
        # never hits the raise condition
        def f(x):
            v = x + 10
            acc = 0
            while v > 1:
                acc = acc + 100 // v  # v never 0 on this trajectory
                v = v // 2
            return acc
        run_diff(ctx, [0, 5, 100], f, expect_compiled=True)

    def test_return_in_nested_loop_falls_back(self, ctx):
        def f(s):
            acc = 0
            for t in s.split(" "):
                for ch in t:
                    if ch == "z":
                        return acc
                acc = acc + 1
            return acc
        run_diff(ctx, ["ab zc", "aa bb"], f, expect_compiled=False)


class TestOneNumericOrder:
    """Arms merged into one value meet on typeutils' lattice (bool ->
    int -> float) and every arm is cast to the shared type: a bool arm
    beside an int arm is 1, as on the interpreter path, not a plan-time
    DATATYPE_MISMATCH."""

    def test_bool_arm_beside_int_arm(self, ctx, ctx_interp):
        run_diff3(ctx, ctx_interp, NUMS, lambda x: True if x > 2 else x,
                  expect_compiled=True)

    def test_bool_list_beside_int_list(self, ctx, ctx_interp):
        run_diff3(ctx, ctx_interp, NUMS,
                  lambda x: [True] if x > 2 else [x], expect_compiled=True)

    def test_bool_and_int_in_one_list(self, ctx, ctx_interp):
        run_diff3(ctx, ctx_interp, NUMS, lambda x: [True, x],
                  expect_compiled=True)

    def test_bool_arms_at_every_merge_site(self, ctx, ctx_interp):
        def returns(x):
            if x > 2:
                return x > 5
            return x
        for f in (returns,
                  lambda x: {0: True, 1: 5}[x % 2],
                  lambda x: {0: False}.get(x, 2.5),
                  lambda x: list((x > 1, x)),
                  lambda x: 0.5 if x > 3 else (x > 1 if x < 7 else x)):
            run_diff3(ctx, ctx_interp, NUMS, f, expect_compiled=True)

    def test_set_algebra_meets_on_the_lattice(self, ctx, ctx_interp):
        """Set algebra and relations meet their elements on the lattice:
        ``{x} | {True}`` keeps int elements, as CPython's ``{1}`` and
        ``{True, 2}`` do, where double-space algebra collected floats."""
        for f in (lambda x: {x} | {True},
                  lambda x: {x} & {True, 2},
                  lambda x: {x} - {True},
                  lambda x: {x} ^ {2.5},
                  lambda x: {x} <= {True, 2},
                  lambda x: {x} == {1.0},
                  lambda x: {x > 1} | {x}):
            run_diff3(ctx, ctx_interp, NUMS, f, expect_compiled=True)
        got = ctx.parallelize([1, 2]).map(lambda x: {x} | {True}).collect()
        assert got == [{1}, {1, 2}]
        assert {type(v) for s in got for v in s} == {int}

    def test_nested_arrays_that_fail_analysis_demote(self, ctx,
                                                     ctx_interp):
        """``_as`` casts one level of array elements, so the arms below
        fail Spark's analysis (ARRAY<ARRAY<BIGINT>> beside
        ARRAY<ARRAY<BOOLEAN>>): the op runs on the interpreter path
        instead of raising out of ``map``."""
        before = ctx.metrics.fallbackUDFs
        run_diff3(ctx, ctx_interp, [1, 2],
                  lambda x: [[[x]], [[True]]], expect_compiled=False)
        assert ctx.metrics.fallbackUDFs == before + 1

    def test_demotion_prints_nothing(self, ctx, capfd, monkeypatch):
        """The ``AnalysisException`` a demotion catches is no error:
        pyspark's query-context logger must not print it."""
        from pyspark.logger import PySparkLogger
        log = PySparkLogger.getLogger("DataFrameQueryContextLogger")
        for h in log.handlers:  # a handler made earlier holds an old stderr
            monkeypatch.setattr(h, "stream", sys.stderr)
        got = ctx.parallelize([1, 2]).map(
            lambda x: [[[x]], [[True]]]).collect()
        assert got == [[[[x]], [[True]]] for x in (1, 2)]
        assert "DATATYPE_MISMATCH" not in capfd.readouterr().err


class TestCompileCache:
    def test_a_full_cache_still_takes_new_udfs(self, ctx, monkeypatch):
        """Past its bound the compile cache drops its oldest entry, so a
        long-lived process keeps caching: a fresh UDF built twice
        compiles once."""
        from collections import OrderedDict
        from tuplex_spark.udf import compiler
        full = OrderedDict((("filler", i), None)
                           for i in range(compiler._COMPILE_CACHE_MAX))
        monkeypatch.setattr(compiler, "_COMPILE_CACHE", full)
        calls = [0]
        compile_ = compiler.Translator.compile

        def counting(self, fn):
            calls[0] += 1
            return compile_(self, fn)

        monkeypatch.setattr(compiler.Translator, "compile", counting)
        fresh = lambda x: x * 7 + 41  # noqa: E731
        for _ in range(2):
            assert ctx.parallelize([1, 2]).map(fresh).collect() == [48, 55]
        assert calls[0] == 1
        assert len(full) == compiler._COMPILE_CACHE_MAX
        assert ("filler", 0) not in full


class TestCounterRewriteStartsFromAnInt:
    """The counter rewrite turns ``while i < stop: ...; i += 1`` into a
    range fold, which counts in ints; a counter that starts from a float
    must not take it (i = 0.5 would run 0, 1, ... instead of 0.5, 1.5,
    ...)."""

    def test_float_start(self, ctx, ctx_interp):
        def f(x):
            i = 0.5
            s = 0.0
            while i < x:
                s += i
                i += 1
            return s
        run_diff3(ctx, ctx_interp, [0, 1, 3, 5], f)


class TestHandlerReadScopes:
    """A handler's reads of its ``as`` name follow Python scope: a
    nested ``except ... as <same name>`` owns its reads and unbinds the
    name when it ends, and a lambda parameter of that name is the
    parameter.  Compiled, interpreted and CPython agree."""

    def test_nested_handler_reads_its_own_message(self, ctx, ctx_interp):
        def f(s):
            try:
                x = int(s)
            except ValueError as e:
                try:
                    return 1.0 if s != "q" else int("zz")
                except ValueError as e:
                    return str(e)
            return x
        run_diff3(ctx, ctx_interp, ["1", "q", "2.5"], f)

    def test_nested_handler_reads_its_own_type(self, ctx, ctx_interp):
        def f(s):
            try:
                x = int(s)
            except ValueError as e:
                try:
                    return str(1 // len(s[5:]))
                except ZeroDivisionError as e:
                    return type(e).__name__
            return str(x)
        run_diff3(ctx, ctx_interp, ["1", "q", "2.5"], f)

    def test_nested_handler_of_another_name_reads_the_outer(
            self, ctx, ctx_interp):
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                try:
                    return 10 // (len(s) - 1)
                except ZeroDivisionError as k:
                    return len(str(e)) + len(type(k).__name__)
        run_diff3(ctx, ctx_interp, ["1", "q", "ab"], f,
                  expect_compiled=True)

    def test_read_after_nested_handler_is_unbound(self, ctx, ctx_interp):
        def f(s):
            try:
                return int(s)
            except ValueError as e:
                try:
                    1 // (len(s) - len(s))
                except ZeroDivisionError as e:
                    pass
                return str(e)
        run_diff3(ctx, ctx_interp, ["1", "q"], f)

    def test_lambda_parameter_shadows_the_name(self, ctx, ctx_interp):
        def f(s):
            try:
                x = int(s)
            except ValueError as e:
                return len(list(map(lambda e: str(e), ["ab", "c"]))[0])
            return x
        run_diff3(ctx, ctx_interp, ["1", "q"], f)

    def test_sort_key_lambda_parameter_compiles(self, ctx, ctx_interp):
        def f(s):
            try:
                return str(int(s))
            except ValueError as e:
                return sorted(["bb", "a"], key=lambda e: len(str(e)))[0]
        run_diff3(ctx, ctx_interp, ["1", "q"], f, expect_compiled=True)


class TestFormatSpecOverNoneAndStr:
    """CPython's ``format(None, spec)`` raises TypeError for a non-empty
    spec and gives ``'None'`` for an empty one; the integer presentation
    types raise ValueError on a str."""

    @pytest.mark.parametrize("fn", [
        lambda x: f"{x:5d}",
        lambda x: f"{x:5}",
        lambda x: "{:>4}".format(x),
        lambda x: f"{x:.2f}",
        lambda x: format(x, "x"),
    ], ids=["5d", "5", "format_align", "2f", "format_builtin"])
    def test_non_empty_spec_over_none(self, ctx, ctx_interp, fn):
        run_diff3(ctx, ctx_interp, [1, None, 25], fn, expect_compiled=True)

    def test_empty_spec_over_none(self, ctx, ctx_interp):
        run_diff3(ctx, ctx_interp, [1, None, 25], lambda x: "{:}".format(x),
                  expect_compiled=True)

    @pytest.mark.parametrize("fn", [
        lambda s: f"{s:x}",
        lambda s: f"{s:d}",
        lambda s: f"{s:>5X}",
        lambda s: f"{s:o}",
        lambda s: f"{s:b}",
    ], ids=["x", "d", "X", "o", "b"])
    def test_integer_type_over_str(self, ctx, ctx_interp, fn):
        run_diff3(ctx, ctx_interp, ["ab", "12", "😀", None], fn,
                  expect_compiled=True)
