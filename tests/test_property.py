"""Randomized differential testing: seeded generator builds arithmetic /
string / conditional expressions and runs each one three ways on the same
rows: the compiled path, the interpreter path (``tuplex.useCompiledUDFs``
off) and plain CPython, comparing rows and exception counts per class.

Mirrors the reference's pervasive differential-vs-CPython pattern
(python/tests/*) with generated rather than hand-picked expressions.
Deterministic (fixed seed) so failures reproduce.
"""

import datetime
import os
import random
import tempfile

import pytest

from conftest import _approx_eq, run_diff3
from tuplex_spark.plans.inspect import formatted_plan

NUM_ATOMS = ["x['a']", "x['b']", "2", "3", "-1", "10"]
NUM_OPS = ["+", "-", "*", "//", "%"]
FLT_OPS = ["+", "-", "*", "/"]
STR_ATOMS = ["x['s']", "'abc'", "'Zw '"]
STR_METHODS = ["lower()", "upper()", "strip()", "swapcase()",
               "replace('a','X')", "zfill(6)", "title()"]

NUM_ROWS = [(3, 1.5, "hello"), (-7, 0.25, "Wor ld"), (0, -2.0, ""),
            (12, 100.0, "aAbB"), (5, 0.0, "  pad  "), (-1, -0.5, "x,y")]


def gen_num_expr(rng, depth=0):
    if depth >= 2 or rng.random() < 0.35:
        return rng.choice(NUM_ATOMS)
    a = gen_num_expr(rng, depth + 1)
    b = gen_num_expr(rng, depth + 1)
    return f"({a} {rng.choice(NUM_OPS)} {b})"


def gen_flt_expr(rng, depth=0):
    if depth >= 2 or rng.random() < 0.35:
        return rng.choice(["x['b']", "0.5", "2.0", "-1.5"])
    a = gen_flt_expr(rng, depth + 1)
    b = gen_flt_expr(rng, depth + 1)
    return f"({a} {rng.choice(FLT_OPS)} {b})"


def gen_str_expr(rng):
    base = rng.choice(STR_ATOMS)
    n = rng.randint(1, 3)
    for _ in range(n):
        base = f"{base}.{rng.choice(STR_METHODS)}"
    return base


BOOL_ATOMS = ["True", "False", "x['a'] > 0", "x['b'] < 1.0"]


def gen_cond_expr(rng):
    """A conditional whose arms are int, float or bool expressions, so
    both paths must widen mixed arms along bool -> int -> float."""
    arms = [gen_num_expr(rng), f"len({gen_str_expr(rng)})",
            gen_flt_expr(rng), rng.choice(BOOL_ATOMS)]
    cmp_ = rng.choice(["x['a'] > 2", "x['b'] < 1.0", "len(x['s']) > 3",
                       "x['a'] % 2 == 0"])
    a, b = rng.sample(arms, 2)
    return f"({a} if {cmp_} else {b})"


_TMPFILES = []


def _build_fn(exprs):
    """Write the generated lambda to a real file that OUTLIVES the call —
    inspect.getsource reads it lazily at compile time, so deleting it
    immediately would silently push every case onto the fallback path."""
    src = "fn = lambda x: (" + ", ".join(exprs) + ",)\n"
    f = tempfile.NamedTemporaryFile("w", suffix=".py", delete=False)
    f.write(src)
    f.close()
    _TMPFILES.append(f.name)
    ns = {}
    exec(compile(src, f.name, "exec"), ns)
    return ns["fn"]


def teardown_module():
    for p in _TMPFILES:
        try:
            os.unlink(p)
        except OSError:
            pass


class TestGeneratedExpressions:
    def test_integer_arithmetic_batch(self, ctx, ctx_interp):
        rng = random.Random(1234)
        exprs = [gen_num_expr(rng) for _ in range(15)]
        fn = _build_fn(exprs)
        run_diff3(ctx, ctx_interp, NUM_ROWS, fn, columns=["a", "b", "s"],
                  expect_compiled=True)

    def test_float_arithmetic_batch(self, ctx, ctx_interp):
        rng = random.Random(99)
        exprs = [gen_flt_expr(rng) for _ in range(15)]
        fn = _build_fn(exprs)
        run_diff3(ctx, ctx_interp, NUM_ROWS, fn, columns=["a", "b", "s"],
                  expect_compiled=True)

    def test_string_chain_batch(self, ctx, ctx_interp):
        rng = random.Random(7)
        exprs = [gen_str_expr(rng) for _ in range(12)]
        fn = _build_fn(exprs)
        run_diff3(ctx, ctx_interp, NUM_ROWS, fn, columns=["a", "b", "s"])

    def test_conditional_batch(self, ctx, ctx_interp):
        rng = random.Random(2025)
        exprs = [gen_cond_expr(rng) for _ in range(10)]
        fn = _build_fn(exprs)
        run_diff3(ctx, ctx_interp, NUM_ROWS, fn, columns=["a", "b", "s"],
                  expect_compiled=True)

    def test_mixed_arm_conditional_batch(self, ctx, ctx_interp):
        rng = random.Random(6)
        exprs = [gen_cond_expr(rng) for _ in range(12)]
        fn = _build_fn(exprs)
        run_diff3(ctx, ctx_interp, NUM_ROWS, fn, columns=["a", "b", "s"],
                  expect_compiled=True)

    def test_exception_heavy_batch(self, ctx, ctx_interp):
        """Division-shaped expressions: engine exception rows must match
        CPython raise-counts exactly (one failing component poisons the
        whole row on both sides)."""
        rng = random.Random(77)
        exprs = [f"(10 {rng.choice(['//', '%'])} {gen_num_expr(rng)})"
                 for _ in range(8)]
        fn = _build_fn(exprs)
        run_diff3(ctx, ctx_interp, NUM_ROWS, fn, columns=["a", "b", "s"],
                  expect_compiled=True)

    def test_string_edge_inputs(self, ctx, ctx_interp):
        rng = random.Random(4242)
        exprs = [gen_str_expr(rng) for _ in range(10)]
        fn = _build_fn(exprs)
        edge_rows = [(1, 0.0, ""), (2, 1.0, " "), (3, 2.0, "\t a \n"),
                     (4, 3.0, "ALL CAPS"), (5, 4.0, "123"),
                     (6, 5.0, "a" * 300), (7, 6.0, "mIxEd CaSe WoRdS")]
        run_diff3(ctx, ctx_interp, edge_rows, fn, columns=["a", "b", "s"])

    def test_deep_seeds_sweep(self, ctx, ctx_interp):
        """Five more seeds over the mixed grammar — cheap breadth."""
        for seed in (11, 222, 3333, 44444, 5):
            rng = random.Random(seed)
            exprs = ([gen_num_expr(rng) for _ in range(4)]
                     + [gen_flt_expr(rng) for _ in range(4)]
                     + [gen_cond_expr(rng) for _ in range(4)])
            fn = _build_fn(exprs)
            run_diff3(ctx, ctx_interp, NUM_ROWS, fn, columns=["a", "b", "s"])


LOOP_ELEM_EXPRS = ["len(t)", "t.count('a')", "len(t) * 2", "len(t) % 3",
                   "1"]
LOOP_SEPS = ["' '", "','", "'a'"]
LOOP_CONDS = ["len(t) > 2", "len(t) % 2 == 0", "t.startswith('a')"]


def _build_def_fn(body_lines):
    src = "def fn(x):\n" + "\n".join("    " + ln for ln in body_lines) + "\n"
    f = tempfile.NamedTemporaryFile("w", suffix=".py", delete=False)
    f.write(src)
    f.close()
    _TMPFILES.append(f.name)
    ns = {}
    exec(compile(src, f.name, "exec"), ns)
    return ns["fn"]


def gen_fold_loop(rng):
    sep = rng.choice(LOOP_SEPS)
    lines = ["acc = 0", "n = 0", f"for t in x['s'].split({sep}):"]
    if rng.random() < 0.5:
        lines.append(f"    if {rng.choice(LOOP_CONDS)}:")
        lines.append(f"        acc += {rng.choice(LOOP_ELEM_EXPRS)}")
    else:
        lines.append(f"    acc += {rng.choice(LOOP_ELEM_EXPRS)}")
    lines.append("    n += 1")
    lines.append("return (acc, n)")
    return lines


def gen_static_loop(rng):
    lo, hi = sorted(rng.sample(range(-3, 8), 2))
    lines = ["s = 0",
             f"for i in range({lo}, {hi}):",
             f"    s += i * x['a'] + {rng.randint(-2, 5)}",
             "return s"]
    return lines


class TestGeneratedLoops:
    """Seeded fold/unroll loop fuzzing — loops must match CPython whether
    they compile (F.aggregate / unroll) or fall back."""

    def test_fold_loops_sweep(self, ctx, ctx_interp):
        for seed in (1, 17, 404, 9001):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_fold_loop(rng))
                run_diff3(ctx, ctx_interp, NUM_ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)

    def test_static_loops_sweep(self, ctx, ctx_interp):
        for seed in (2, 42, 777):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_static_loop(rng))
                run_diff3(ctx, ctx_interp, NUM_ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)


def gen_while_loop(rng):
    """Counter while with a data-dependent body (condition must stay
    constant-foldable -> compiled)."""
    bound = rng.randint(2, 6)
    step = rng.choice([1, 2])
    body_expr = rng.choice(["i * x['a']", "i + x['a']", "x['a'] - i", "i"])
    lines = ["i = 0", "s = 0", f"while i < {bound}:"]
    if rng.random() < 0.4:
        lines.append(f"    if i % 2 == {rng.randint(0, 1)}:")
        lines.append(f"        s += {body_expr}")
    else:
        lines.append(f"    s += {body_expr}")
    lines.append(f"    i += {step}")
    lines.append("return s")
    return lines


def gen_break_loop(rng):
    """Static range loop with data-dependent break/continue."""
    lo, hi = 0, rng.randint(3, 8)
    cond = rng.choice([f"i * x['a'] > {rng.randint(2, 20)}",
                       f"i + x['a'] == {rng.randint(0, 6)}",
                       f"i > x['a']"])
    kw = rng.choice(["break", "continue"])
    lines = ["s = 0",
             f"for i in range({lo}, {hi}):",
             f"    if {cond}:",
             f"        {kw}",
             f"    s += i + {rng.randint(-2, 3)}",
             "return s"]
    return lines


def gen_dict_build(rng):
    """dict() ctor + literal-key subscript assignment."""
    lines = ["d = dict()",
             f"d['a'] = x['a'] * {rng.randint(1, 5)}",
             f"d['b'] = x['a'] + {rng.randint(-3, 3)}"]
    if rng.random() < 0.5:
        lines.append(f"if x['a'] > {rng.randint(0, 4)}:")
        lines.append("    d['a'] = d['a'] + d['b']")
    lines.append("return (d['a'], d['b'], len(d))")
    return lines


class TestGeneratedWhileBreakDict:
    """Seeded fuzzing over the round-2 compiler features: constant-bound
    while unrolling, break/continue flag lowering, dict building."""

    def test_while_sweep(self, ctx, ctx_interp):
        for seed in (3, 31, 314, 3141):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_while_loop(rng))
                run_diff3(ctx, ctx_interp, NUM_ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)

    def test_break_continue_sweep(self, ctx, ctx_interp):
        for seed in (7, 77, 777, 7777):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_break_loop(rng))
                run_diff3(ctx, ctx_interp, NUM_ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)

    def test_dict_build_sweep(self, ctx, ctx_interp):
        for seed in (5, 55, 555):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_dict_build(rng))
                run_diff3(ctx, ctx_interp, NUM_ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)


def gen_first_match(rng):
    """for t in split: if cond(t): return expr(t)  (+ fallthrough)."""
    sep = rng.choice(LOOP_SEPS)
    cond = rng.choice(LOOP_CONDS)
    ret = rng.choice(["len(t)", "t.count('a')", "len(t) * 2", "0"])
    dflt = rng.choice(["-1", "len(x['s'])", "99"])
    return [f"for t in x['s'].split({sep}):",
            f"    if {cond}:",
            f"        return {ret}",
            f"return {dflt}"]


def gen_multigen_comp(rng):
    """Two-generator comprehension, optional conditions per level."""
    sep1, sep2 = rng.choice(LOOP_SEPS), rng.choice(LOOP_SEPS)
    elt = rng.choice(["len(a) + len(b)", "len(a) * len(b)", "1"])
    c1 = f" if {rng.choice(LOOP_CONDS).replace('t', 'a')}" \
        if rng.random() < 0.5 else ""
    c2 = f" if len(b) > {rng.randint(0, 2)}" if rng.random() < 0.5 else ""
    inner = rng.choice([f"x['s'].split({sep2})", f"a.split('a')"])
    return [f"return sum([{elt} for a in x['s'].split({sep1}){c1} "
            f"for b in {inner}{c2}])"]


class TestGeneratedFirstMatchAndComprehensions:
    """Seeded fuzzing over the first-match scan lowering and
    multi-generator comprehension flattening."""

    def test_first_match_sweep(self, ctx, ctx_interp):
        for seed in (13, 131, 1313):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_first_match(rng))
                run_diff3(ctx, ctx_interp, NUM_ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)

    def test_multigen_comp_sweep(self, ctx, ctx_interp):
        for seed in (19, 191, 1919):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_multigen_comp(rng))
                run_diff3(ctx, ctx_interp, NUM_ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)


DYN_ARG_EXPRS = [
    "x['s'].count(x['s'][0:1])",
    "x['s'].startswith(x['s'][0:1])",
    "x['s'].endswith(x['s'][-1:])",
    "x['s'].find(x['s'][1:2])",
    "x['s'].replace(x['s'][0:1], '_')",
    "x['s'].strip(x['s'][0:1])",
    "(x['s'] + x['s']).rfind(x['s'][0:1])",
    "x['s'][0:1] in x['s']",
    "x['s'].split(x['s'][0:1] if len(x['s']) > 0 else ',')[0]",
    "{'a': 1, 'b': 2}.get(x['s'][0:1], -5)",
    "x['s'].removeprefix(x['s'][0:1])",
    "x['s'].removesuffix(x['s'][-1:])",
]


class TestDynamicMethodArgs:
    """String/dict methods whose ARGUMENTS are column-derived (not
    constants) — the shape that exposed the dict.get default bug.  Every
    expression must match CPython whether compiled or fallen back."""

    def test_dynamic_arg_batch(self, ctx, ctx_interp):
        fn = _build_fn(DYN_ARG_EXPRS)
        rows = [(1, 0.0, "hello"), (2, 1.0, "aabba"), (3, 2.0, "x"),
                (4, 3.0, "abcabc"), (5, 4.0, "zzz y zz")]
        run_diff3(ctx, ctx_interp, rows, fn, columns=["a", "b", "s"])

    def test_dynamic_arg_edge_strings(self, ctx, ctx_interp):
        # NOTE: the empty string is deliberately absent — ""[0:1] makes
        # several CPython calls raise where slices stay total; covered
        # one expression at a time below
        fn = _build_fn(DYN_ARG_EXPRS)
        rows = [(1, 0.0, " "), (2, 1.0, "aa"), (3, 2.0, "ab"),
                (4, 3.0, "a b a"), (5, 4.0, "\tx\n")]
        run_diff3(ctx, ctx_interp, rows, fn, columns=["a", "b", "s"])

    def test_dynamic_arg_singletons_with_empty(self, ctx, ctx_interp):
        rows = [(1, 0.0, ""), (2, 1.0, "q"), (3, 2.0, "qq")]
        for expr in DYN_ARG_EXPRS:
            fn = _build_fn([expr])
            run_diff3(ctx, ctx_interp, rows, fn, columns=["a", "b", "s"])

    def test_bounds_sweep(self, ctx, ctx_interp):
        # slice-notation start/end bounds on find/rfind/count/
        # startswith/endswith, constant and column-derived, incl.
        # negative and out-of-range values
        rng = random.Random(47)
        methods = ["count", "find", "rfind", "startswith", "endswith"]
        bound_exprs = ["1", "-2", "0", "99", "-99", "x['a']",
                       "len(x['s']) - 2", "x['a'] - 4"]
        rows = [(1, 0.0, "hello world"), (3, 1.0, "aabbaabb"),
                (0, 2.0, "x"), (7, 3.0, ""), (2, 4.0, "ll llll l")]
        for _ in range(20):
            m = rng.choice(methods)
            needle = rng.choice(["'l'", "'ab'", "'he'", "'x'"])
            b1 = rng.choice(bound_exprs)
            use_end = rng.random() < 0.5
            b2 = ", " + rng.choice(bound_exprs) if use_end else ""
            fn = _build_fn([f"x['s'].{m}({needle}, {b1}{b2})"])
            run_diff3(ctx, ctx_interp, rows, fn, columns=["a", "b", "s"])


TRY_BODIES = ["return int(x['s'])",
              "return 10 // (x['a'] % 4)",
              "return 100 // (int(x['s']) - 3)",
              "return x['a'] // (len(x['s']) - 5)"]
TRY_HANDLERS = [("ValueError", ["return -1", "return len(x['s'])"]),
                ("ZeroDivisionError", ["return -2", "return 0"]),
                ("ArithmeticError", ["return -3"]),
                ("Exception", ["return -9"])]


def gen_try(rng):
    body = rng.choice(TRY_BODIES)
    n_handlers = rng.randint(1, 2)
    hs = rng.sample(TRY_HANDLERS, n_handlers)
    lines = ["try:", f"    {body}"]
    for cls, rets in hs:
        lines.append(f"except {cls}:")
        lines.append(f"    {rng.choice(rets)}")
    lines.append(f"return {rng.randint(-5, 5)}")
    return lines


class TestGeneratedTryExcept:
    """Seeded try/except fuzzing: random bodies x handler sets must
    match CPython's dispatch, including unhandled propagation counts."""

    def test_try_sweep(self, ctx, ctx_interp):
        rows = [(3, 1.5, "12"), (0, 0.5, "abc"), (5, -1, "3"),
                (7, 2.0, ""), (4, 1.0, "x2345")]
        for seed in (23, 230, 2300, 23000):
            rng = random.Random(seed)
            for _ in range(4):
                fn = _build_def_fn(gen_try(rng))
                run_diff3(ctx, ctx_interp, rows, fn, columns=["a", "b", "s"],
                          expect_compiled=True)


def gen_dyn_while(rng):
    """Counter while with a DATA-DEPENDENT bound (range-fold rewrite)."""
    bound = rng.choice(["x['a']", "x['a'] % 5", "len(x['s'])",
                        "x['a'] - 2"])
    op = rng.choice(["<", "<="])
    lines = ["i = 0", "acc = 0", f"while i {op} {bound}:",
             f"    acc += i * {rng.randint(1, 3)} + {rng.randint(0, 2)}",
             "    i += 1", "return acc"]
    return lines


def gen_format_spec(rng):
    spec = rng.choice([":.2f", ":.4f", ":05d", ":07.3f", ":6s", ""])
    val = {"f": "x['b'] * 1.5", "d": "x['a']", "s": "x['s']",
           "": "x['a']"}[spec[-1:] if spec else ""]
    return [f"return f\"v={{{val}{spec}}}!\""]


def gen_sorted_key(rng):
    sep = rng.choice(LOOP_SEPS)
    key = rng.choice(["len", "lambda t: t.count('a')",
                      "lambda t: len(t) % 3"])
    rev = ", reverse=True" if rng.random() < 0.4 and key != "str" else ""
    agg = rng.choice(["'|'.join({})", "{}[0] if x['s'] else ''",
                      "len({})"])
    expr = f"sorted(x['s'].split({sep}), key={key}{rev})"
    return [f"return {agg.format(expr)}"]


class TestGeneratedNewShapes:
    ROWS = [(3, 1.5, "ab a c"), (0, 0.25, ""), (7, -2.0, "dd ee"),
            (5, 0.0, "x"), (12, 3.5, "aaa bb aaa")]

    def test_dynamic_while_sweep(self, ctx, ctx_interp):
        for seed in (29, 290, 2900):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_dyn_while(rng))
                run_diff3(ctx, ctx_interp, self.ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)

    def test_format_spec_sweep(self, ctx, ctx_interp):
        for seed in (31, 310, 3100):
            rng = random.Random(seed)
            for _ in range(4):
                fn = _build_def_fn(gen_format_spec(rng))
                run_diff3(ctx, ctx_interp, self.ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)

    def test_convergence_while_sweep(self, ctx, ctx_interp):
        # contraction whiles (x /= c, x -= c, x *= c<1, x //= c) with a
        # constant threshold ride the F.aggregate convergence fold
        rng = random.Random(43)
        shapes = [
            ("v = v / {c}", "v > {t}", lambda: (rng.uniform(1.5, 4.0),
                                                rng.uniform(0.5, 3.0))),
            ("v = v - {c}", "v > {t}", lambda: (rng.uniform(0.5, 2.0),
                                                rng.uniform(-1.0, 2.0))),
            ("v = v * {c}", "v >= {t}", lambda: (rng.uniform(0.2, 0.8),
                                                 rng.uniform(0.5, 3.0))),
            ("v = v + {c}", "v < {t}", lambda: (rng.uniform(0.5, 2.0),
                                                rng.uniform(5.0, 50.0))),
        ]
        for upd, test, gen in shapes:
            for _ in range(3):
                c, t = gen()
                fn = _build_def_fn([
                    "v = x['b'] * 3.0 + x['a']",
                    "n = 0",
                    f"while {test.format(t=t)}:",
                    f"    {upd.format(c=c)}",
                    "    n = n + 1",
                    "return (n, v)"])
                run_diff3(ctx, ctx_interp, self.ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)

    def test_fixed_format_tie_sweep(self, ctx, ctx_interp):
        # rounding of %.Nf must match CPython exactly, including repr
        # ties (2.675), binary ties (0.125), and negatives — the java
        # Formatter HALF_UPs the shortest repr, we pre-round exactly
        rng = random.Random(41)
        vals = [rng.randint(-10_000, 10_000) / 10 ** rng.randint(0, 4)
                for _ in range(200)]
        vals += [2.675, 0.125, -2.675, 7.135, 0.5, -0.5, 1.005,
                 0.0, -0.001, 1e15 + 0.5]
        for prec in (0, 1, 2, 6):
            fn = _build_def_fn([f"return f\"{{x:.{prec}f}}\""])
            run_diff3(ctx, ctx_interp, vals, fn, expect_compiled=True)

    def test_sorted_key_sweep(self, ctx, ctx_interp):
        for seed in (37, 370, 3700):
            rng = random.Random(seed)
            for _ in range(3):
                fn = _build_def_fn(gen_sorted_key(rng))
                run_diff3(ctx, ctx_interp, self.ROWS, fn,
                          columns=["a", "b", "s"],
                          expect_compiled=True)


class TestRound6Sweeps:
    """Fuzz sweeps for the round-6 compiled paths: dynamic slice steps
    (bounds × step sign × emptiness) and the extended format-spec
    grammar (fill/align/sign/comma/presentation-type matrix)."""

    def test_dynamic_slice_step_sweep(self, ctx, ctx_interp):
        import random as _r
        rng = _r.Random(61)
        data = [-4, -3, -2, -1, 1, 2, 3, 4, 5]
        for _ in range(12):
            lo = rng.choice(["", str(rng.randint(-12, 12))])
            hi = rng.choice(["", str(rng.randint(-12, 12))])
            base = rng.choice(['"abcdefghijk"', '"ab"', '""'])
            fn = _build_def_fn([
                "k = x if x != 0 else 1",
                f"return {base}[{lo}:{hi}:k]"])
            run_diff3(ctx, ctx_interp, data, fn, expect_compiled=True)

    def test_format_spec_matrix_sweep(self, ctx, ctx_interp):
        import random as _r
        rng = _r.Random(62)
        ints = [-1234567, -42, 0, 7, 999, 123456789]
        for _ in range(18):
            fill = rng.choice(["", "*", ".", "0", "x"])
            align = rng.choice(["<", ">", "^", "="])
            sign = rng.choice(["", "+", " "])
            width = rng.choice(["", "4", "9", "14"])
            comma = rng.choice(["", ","])
            typ = rng.choice(["d", ""])
            spec = (fill + align if (fill or rng.random() < 0.7)
                    else "") + sign + width + comma + typ
            if not spec:
                continue
            fn = _build_def_fn([f'return f"[{{x:{spec}}}]"'])
            want_ok = True
            try:
                format(3, spec)
            except ValueError:
                want_ok = False
            if want_ok:
                run_diff3(ctx, ctx_interp, ints, fn)

    def test_presentation_type_sweep(self, ctx, ctx_interp):
        import random as _r
        rng = _r.Random(63)
        ints = [-255, -1, 0, 1, 255, 4095, 123456]
        for _ in range(12):
            alt = rng.choice(["", "#"])
            zero = rng.choice(["", "0"])
            width = rng.choice(["", "6", "12"])
            typ = rng.choice(["x", "X", "o", "b"])
            spec = alt + (zero + width if width else "") + typ
            fn = _build_def_fn([f'return f"[{{x:{spec}}}]"'])
            run_diff3(ctx, ctx_interp, ints, fn, expect_compiled=True)


NAN, INF = float("nan"), float("inf")
# adversarial rows: None, NaN, +-inf, the edges of the long range, empty
# and non-ASCII strings, bytes
ADV_COLS = ["a", "b", "s", "y"]
ADV_ROWS = [(0, NAN, "", b""),
            (2 ** 63 - 1, INF, "héllo ☃", b"\x00\xff"),
            (-2 ** 63, -INF, "日本", b"abc"),
            (None, 0.0, " ", None),
            (7, None, None, b"x"),
            (-1, -0.0, "a\tb", b"")]
ADV_ATOMS = {
    "a": ["x['a'] // 3", "x['a'] % 7", "x['a'] > 0", "str(x['a'])",
          "x['a'] == 0", "float(x['a'])"],
    "b": ["x['b'] * 2", "x['b'] + 1.0", "x['b'] > 0", "str(x['b'])",
          "x['b'] == x['b']", "int(x['b'])", "x['b']"],
    "s": ["x['s'].upper()", "len(x['s'])", "x['s'][::-1]", "x['s'] + '!'",
          "x['s'].strip()"],
    "y": ["len(x['y'])", "x['y']", "x['y'] + b'!'"],
}

STRUCT_COLS = ["t", "d", "arr", "m", "st"]
STRUCT_ROWS = [(datetime.datetime(2020, 1, 2, 3, 4, 5, 6),
                datetime.date(1999, 12, 31), [1, None, 3],
                {"a": 1.5, "b": NAN}, (1, "x")),
               (datetime.datetime(1970, 1, 1), datetime.date(2024, 2, 29),
                [], {}, (-2 ** 63, "")),
               (None, None, None, None, None)]


class TestAdversarialThreeWay:
    """Generated UDFs over adversarial rows: compiled, interpreted and
    CPython agree on rows and per-class exception counts."""

    def test_adversarial_scalar_sweep(self, ctx, ctx_interp):
        for seed in (3, 30, 300, 3000):
            rng = random.Random(seed)
            for _ in range(4):
                exprs = [rng.choice(ADV_ATOMS[c])
                         for c in rng.sample(ADV_COLS, 2)]
                run_diff3(ctx, ctx_interp, ADV_ROWS, _build_fn(exprs),
                          columns=ADV_COLS)

    def test_adversarial_single_atoms(self, ctx, ctx_interp):
        for atoms in ADV_ATOMS.values():
            for expr in atoms:
                run_diff3(ctx, ctx_interp, ADV_ROWS, _build_fn([expr]),
                          columns=ADV_COLS)

    def test_adversarial_filter(self, ctx, ctx_interp):
        for expr in ("x['b'] > 0", "x['a'] % 2 == 0", "len(x['s']) > 1",
                     "x['b'] != x['b']"):
            run_diff3(ctx, ctx_interp, ADV_ROWS, _build_def_fn(
                [f"return {expr}"]), columns=ADV_COLS, op="filter")

    def test_structured_inputs(self, ctx, ctx_interp):
        exprs = ["type(x['t']).__name__", "x['t'].year", "str(x['t'])",
                 "x['d'].isoformat()", "type(x['d']).__name__",
                 "len(x['arr'])", "x['arr'][-1]", "sorted(x['m'].items())",
                 "x['m'].get('b')", "x['st'][1] + '!'",
                 "type(x['st']).__name__", "x['arr']"]
        for expr in exprs:
            run_diff3(ctx, ctx_interp, STRUCT_ROWS, _build_fn([expr]),
                      columns=STRUCT_COLS)

    @pytest.mark.xfail(strict=True, reason="the compiled path reads a "
                       "null struct column as a tuple of Nones")
    def test_null_struct_passes_through(self, ctx, ctx_interp):
        run_diff3(ctx, ctx_interp, STRUCT_ROWS, _build_fn(["x['st']"]),
                  columns=STRUCT_COLS)

    @pytest.mark.xfail(strict=True, reason="the compiled path wraps, "
                       "saturates or nulls a result past the long range")
    def test_long_overflow_is_a_violation_row(self, ctx, ctx_interp):
        """Where CPython makes an int past the long range, which has no
        Spark type, the interpreter path leaves the row out as a
        NormalCaseViolation; the compiled path should too, not wrap
        (``x * x``, ``x + x``), saturate (``int``/``round`` of a float)
        or return None (``int`` of a str)."""
        cases = [([3, 2 ** 40], lambda x: x * x),
                 ([3, 2 ** 62], lambda x: x + x),
                 ([2.5, 1e30], lambda x: int(x)),
                 ([2.5, 1e30], lambda x: round(x)),
                 (["12", "9" * 25], lambda s: int(s)),
                 (["ff", "f" * 20], lambda s: int(s, 16))]
        differ = []
        for data, fn in cases:
            compiled, interpreted = [
                (ds.collect(), ds.exception_counts)
                for ds in (c.parallelize(data).map(fn)
                           for c in (ctx, ctx_interp))]
            if compiled != interpreted:
                differ.append((data, compiled, interpreted))
        assert not differ, differ


class TestArrowHandoff:
    """The interpreter path hands UDFs and the engine exactly the values
    CPython has: no NaN/null confusion, no pandas types, no float ints."""

    def test_passthrough_nan_stays_nan(self, ctx, ctx_interp):
        import hashlib

        def hexlen(x):  # hashlib does not compile
            return len(hashlib.md5(repr(x).encode()).hexdigest())
        data = [(1, NAN), (2, None), (3, 2.0)]
        for c in (ctx_interp, ctx):
            got = c.parallelize(data, columns=["k", "x"]) \
                .withColumn("y", hexlen).collect()
            assert _approx_eq(got, [(1, NAN, 32), (2, None, 32),
                                    (3, 2.0, 32)]), got

    def test_nan_in_non_nullable_float_column(self, ctx_interp):
        got = ctx_interp.parallelize([NAN, 2.0]).map(lambda x: x * 2) \
            .collect()
        assert _approx_eq(got, [NAN, 4.0]), got

    def test_udf_returning_nan(self, ctx_interp):
        got = ctx_interp.parallelize([1, 2]) \
            .map(lambda x: float("nan") if x == 1 else 1.0).collect()
        assert _approx_eq(got, [NAN, 1.0]), got

    def test_timestamp_reaches_udf_as_datetime(self, ctx_interp):
        ts = datetime.datetime(2020, 1, 2, 3, 4, 5, 6)
        got = ctx_interp.parallelize([ts]) \
            .map(lambda x: (type(x).__name__, x.tzinfo is None, str(x))) \
            .collect()
        assert got == [("datetime", True, str(ts))]

    def test_keyed_fold_sees_cpython_values(self, ctx):
        data = [(1, NAN, 1, (1, "a")), (1, 2.0, None, (2, "b")),
                (2, 0.5, 3, (3, "c"))]
        cols = ["k", "v", "i", "s"]

        def fold(acc, x):
            return acc + repr(x["v"]) + type(x["i"]).__name__ \
                + type(x["s"]).__name__ + ","
        ds = ctx.parallelize(data, columns=cols) \
            .aggregateByKey(lambda a, b: a + b, fold, "", ["k"])
        assert "FlatMapGroupsInArrow" in formatted_plan(ds._df)
        want = {}
        for row in data:
            want[row[0]] = fold(want.get(row[0], ""), dict(zip(cols, row)))
        assert sorted(ds.collect()) == sorted(want.items())

    def test_out_of_range_int_fails_one_row(self, ctx_interp):
        ds = ctx_interp.parallelize(list(range(1, 200))) \
            .map(lambda x: 2 ** 70 if x == 150 else x * 2)
        got = ds.collect()
        assert got == [x * 2 for x in range(1, 200) if x != 150]
        assert ds.exception_counts == {"NormalCaseViolation": 1}

    def test_no_key_fold_passes_tuples(self, ctx):
        got = ctx.parallelize([(1, (1, "a")), (2, (2, "b"))],
                              columns=["k", "s"]) \
            .aggregate(lambda a, b: a + b,
                       lambda acc, x: acc + type(x["s"]).__name__ + ",",
                       "").collect()
        assert got == ["tuple,tuple,"]
