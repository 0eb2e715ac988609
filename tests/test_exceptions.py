"""Exception-model semantics: implicit drop, resolve chains, ignore,
in-order merge (reference: test_exceptions.py, test_resolve.py)."""

import hashlib
import itertools
import json
import os
import re
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import types as T

from conftest import run_diff3
from tuplex_spark.plans.inspect import explain_summary, formatted_plan
from tuplex_spark.typeutils import conforms, super_type


class TestImplicitDrop:
    def test_none_rows_dropped_and_counted(self, ctx):
        ds = ctx.parallelize([1, 2, None, 4]).map(lambda x: x * 2)
        assert ds.collect() == [2, 4, 8]
        assert ds.exception_counts == {"TypeError": 1}

    def test_order_preserved_across_drop(self, ctx):
        ds = ctx.parallelize([3, 0, 5, 0, 7]).map(lambda x: 100 // x)
        assert ds.collect() == [33, 20, 14]


class TestResolve:
    def test_basic(self, ctx):
        ds = (ctx.parallelize([1, 2, 0, 4])
              .map(lambda x: 10 // x)
              .resolve(ZeroDivisionError, lambda x: -1))
        assert ds.collect() == [10, 5, -1, 2]
        assert ds.exception_counts == {}

    def test_resolve_wrong_class_keeps_exception(self, ctx):
        ds = (ctx.parallelize([1, 0, 2])
              .map(lambda x: 10 // x)
              .resolve(ValueError, lambda x: -1))
        assert ds.collect() == [10, 5]
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_resolver_chain(self, ctx):
        def second(x):
            return -99

        def first(x):
            if x == 0:
                raise ValueError("pass along")
            return 0
        ds = (ctx.parallelize([4, 0, 2])
              .map(lambda x: 8 // x)
              .resolve(ZeroDivisionError, first)
              .resolve(ValueError, second))
        assert ds.collect() == [2, -99, 4]

    def test_resolve_base_class_catches_subclass(self, ctx):
        ds = (ctx.parallelize([1, 0, 2])
              .map(lambda x: 10 // x)
              .resolve(Exception, lambda x: 0))
        assert ds.collect() == [10, 0, 5]

    def test_resolve_on_filter(self, ctx):
        ds = (ctx.parallelize(["1", "x", "3"])
              .filter(lambda s: int(s) > 1)
              .resolve(ValueError, lambda s: True))
        assert ds.collect() == ["x", "3"]

    def test_resolve_fallback_resolver(self, ctx):
        """A resolver the compiler rejects runs on the interpreter path:
        behind a compiled map it is the plan's one MapInArrow node."""
        def hex_len(x):  # hashlib does not compile
            return len(hashlib.sha256(str(x).encode()).hexdigest())
        ds = (ctx.parallelize([1, 0, 5])
              .map(lambda x: 10 // x)
              .resolve(ZeroDivisionError, hex_len))
        plan = formatted_plan(ds._df)
        assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1
        assert ds.collect() == [10, 64, 2]
        assert ds.exception_counts == {}


class TestInterpreterPath:
    """Regressions from the time the interpreter path had one copy per
    operator kind: plan-time sampling, payload encoding and resolver
    output conformance now behave the same for every op.  The UDFs use
    hashlib, which the compiler rejects, so they and their resolvers run
    on the interpreter path."""

    def test_withcolumn_sample_is_budgeted(self, ctx):
        def grow(x):
            n = x["n"]
            while n < 100:
                n *= 2
            return n
        # n=0 never reaches 100: CPython would loop forever on it, the
        # compiled plan guards it into RuntimeError, and plan-time
        # sampling must give up on the row instead of hanging
        rows = [(3, "a"), (0, "b"), (7, "c")]
        ds = ctx.parallelize(rows, columns=["n", "s"]).withColumn("g", grow)
        assert ds.collect() == [(3, "a", 192), (7, "c", 112)]
        assert ds.exception_counts == {"RuntimeError": 1}

    def test_python_resolver_reads_bytes_payload(self, ctx):
        def digest(x):
            if x["n"] <= 0:
                raise ValueError("no digest for a non-positive n")
            return hashlib.sha1(x["b"]).hexdigest()[:8]

        def digest_fallback(x):
            return hashlib.md5(x["b"]).hexdigest()[:8]
        rows = [(b"ab", 1), (b"cd", -1), (b"\x00\xff", -2)]
        ds = (ctx.parallelize(rows, columns=["b", "n"])
              .map(digest)
              .resolve(ValueError, digest_fallback))
        want = []
        for b, n in rows:
            try:
                want.append(digest({"b": b, "n": n}))
            except ValueError:
                want.append(digest_fallback({"b": b, "n": n}))
        assert ds.collect() == want
        assert ds.exception_counts == {}

    def test_python_resolver_misfit_is_normal_case_violation(self, ctx):
        # the resolver returns an int into the UDF's string column: that
        # row becomes an exception row, the job does not fail
        def tag(x):
            if x["n"] <= 0:
                raise ValueError("no tag for a non-positive n")
            return hashlib.md5(x["s"].encode()).hexdigest()[:6]

        def tag_width(x):
            return len(hashlib.md5(x["s"].encode()).digest())
        rows = [("ab", 1), ("cd", -1), ("ef", 2)]
        ds = (ctx.parallelize(rows, columns=["s", "n"])
              .withColumn("t", tag)
              .resolve(ValueError, tag_width))
        assert ds.collect() == [("ab", 1, tag({"s": "ab", "n": 1})),
                                ("ef", 2, tag({"s": "ef", "n": 2}))]
        assert ds.exception_counts == {"NormalCaseViolation": 1}


class TestIgnore:
    def test_ignore_drops_silently(self, ctx):
        ds = (ctx.parallelize([1, 2, 0, 4])
              .map(lambda x: 10 // x)
              .ignore(ZeroDivisionError))
        assert ds.collect() == [10, 5, 2]
        assert ds.exception_counts == {}

    def test_ignore_specific_class_only(self, ctx):
        def f(x):
            if x < 0:
                raise ValueError("neg")
            return 10 // x
        ds = (ctx.parallelize([1, -1, 0, 2])
              .map(f)
              .ignore(ValueError))
        assert ds.collect() == [10, 5]
        assert ds.exception_counts == {"ZeroDivisionError": 1}


class TestAcrossOperators:
    def test_exceptions_survive_downstream_ops(self, ctx):
        ds = (ctx.parallelize([1, 0, 4])
              .map(lambda x: 10 // x)
              .map(lambda x: x + 1))
        assert ds.collect() == [11, 3]
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_exceptions_parked_at_join(self, ctx):
        left = ctx.parallelize([(1, 2), (2, 0), (3, 4)], ["k", "d"]) \
            .withColumn("q", lambda x: 10 // x["d"])
        right = ctx.parallelize([(1, "a"), (3, "b")], ["k", "v"])
        j = left.join(right, "k", "k")
        rows = j.collect()
        assert sorted(rows) == [(2, 5, 1, "a"), (4, 2, 3, "b")]
        assert j.exception_counts == {"ZeroDivisionError": 1}

    def test_exception_counts_with_multiple_classes(self, ctx):
        def f(x):
            if x == "a":
                raise ValueError("a")
            return 10 // int(x)
        ds = ctx.parallelize(["2", "a", "0", "5"]).map(f)
        assert ds.collect() == [5, 2]
        assert ds.exception_counts == {"ValueError": 1,
                                       "ZeroDivisionError": 1}

    def test_exceptions_option_is_ignored(self, ctx):
        """There is one way to treat a raising row: ``tuplex.exceptions``
        is not a key, so with it False the row is still left out and
        counted, on the compiled and the interpreter path alike."""
        import tuplex_spark as tx
        for compiled in (True, False):
            c = tx.Context(conf={"tuplex.exceptions": False,
                                 "tuplex.useCompiledUDFs": compiled},
                           spark=ctx.spark)
            ds = c.parallelize([1, 0, 2]).map(lambda x: 10 // x)
            assert c.metrics.compiledUDFs == compiled
            assert ds.collect() == [10, 5]
            assert ds.exception_counts == {"ZeroDivisionError": 1}


class TestMajorityTypeVoting:
    """parallelize normal-case typing votes per column: the MAJORITY
    type family is the schema; minority rows quarantine as
    BadParallelizeInput (reference normalcaseThreshold semantics,
    FileInputOperator.cc:229-299 — the reference additionally re-runs
    violators through the pipeline's interpreter path; here they are
    counted and excluded)."""

    def test_minority_string_is_the_violation(self, ctx):
        ds = ctx.parallelize([0, "e1", 0]).filter(lambda x: x != 0)
        assert ds.collect() == []
        assert ds.exception_counts.get("BadParallelizeInput") == 1

    def test_majority_flows_through_pipeline(self, ctx):
        ds = ctx.parallelize([1, 2, "x", 4]).map(lambda x: x * 10)
        assert ds.collect() == [10, 20, 40]
        assert ds.exception_counts.get("BadParallelizeInput") == 1

    def test_numeric_mixes_widen_not_quarantine(self, ctx):
        ds = ctx.parallelize([1, 2.5, True])
        assert ds.collect() == [1.0, 2.5, 1.0]
        assert ds.exception_counts == {}

    def test_per_column_vote(self, ctx):
        ds = ctx.parallelize([(1, "a"), (2, "b"), ("x", "c")],
                             columns=["n", "s"])
        assert ds.collect() == [(1, "a"), (2, "b")]
        assert ds.exception_counts.get("BadParallelizeInput") == 1


_L, _D, _B, _S = T.LongType(), T.DoubleType(), T.BooleanType(), \
    T.StringType()


def _st(*types):
    return T.StructType([T.StructField(f"_{i}", t, True)
                         for i, t in enumerate(types)])


_VARIANT = T.StructType([T.StructField(n, t, True) for n, t in
                         [("__vt", T.IntegerType()), ("__vi", _L),
                          ("__vs", _S)]])

# (a, b, super_type(a, b)): None means no common type, never string
_SUPER_TYPES = [
    (_L, _L, _L), (_B, _L, _L), (_L, _D, _D), (_B, _D, _D),
    (_S, _S, _S), (T.NullType(), _S, _S), (_L, _S, None),
    (_B, _S, None), (T.BinaryType(), _S, None),
    (T.ArrayType(_L), T.ArrayType(_D), T.ArrayType(_D)),
    (T.ArrayType(_L), T.ArrayType(_S), None),
    (T.MapType(_S, _L), T.MapType(_S, _B), T.MapType(_S, _L)),
    (T.MapType(_S, _L), T.MapType(_S, _S), None),
    (_st(_L, _S), _st(_D, _S), _st(_D, _S)),
    (_st(_L, _S), _st(_S, _S), None),
    (_st(_L), _st(_L, _L), None),
]

# (value, type, conforms(value, type))
_CONFORMS = [
    (None, _L, True), (True, _B, True), (1, _B, False),
    (True, _L, True), (1, _D, True), (1.5, _L, False), ("a", _L, False),
    (2 ** 63 - 1, _L, True), (2 ** 63, _L, False),
    (-2 ** 63, _L, True), (-2 ** 63 - 1, _L, False),
    (2 ** 63, _D, False),
    ([1, 2], T.ArrayType(_L, False), True),
    ([1, "z"], T.ArrayType(_L), False),
    ([1, None], T.ArrayType(_L, False), False),
    ([1, None], T.ArrayType(_L, True), True),
    ([[1], [2 ** 63]], T.ArrayType(T.ArrayType(_L)), False),
    ({"a": 1}, T.MapType(_S, _L), True),
    ({"a": "b"}, T.MapType(_S, _L), False),
    ({1: 1}, T.MapType(_S, _L), False),
    ((1, "a"), _st(_L, _S), True),
    ((1, 2), _st(_L, _S), False),
    ((1,), _st(_L, _S), False),
    ("s", _VARIANT, True), (3, _VARIANT, True), (1.5, _VARIANT, False),
]


class TestOneLattice:
    """One lattice types every sampled value (typeutils): a pair with no
    common type is a violation or a variant, never a string; every
    value written is checked against its type, nested values too."""

    @pytest.mark.parametrize("a, b, want", _SUPER_TYPES)
    def test_super_type(self, a, b, want):
        assert super_type(a, b) == want
        assert super_type(b, a) == want

    @pytest.mark.parametrize("v, t, want", _CONFORMS)
    def test_conforms(self, v, t, want):
        assert conforms(v, t) is want

    def test_mixed_family_lists_are_violations(self, ctx):
        ds = ctx.parallelize([[1], [2], ["a"]])
        assert ds.collect() == [[1], [2]]
        assert ds.exception_counts == {"BadParallelizeInput": 1}

    def test_mixed_list_outputs_keep_their_values(self, ctx, ctx_interp):
        def f(x):
            return ["a"] if x % 3 == 0 else [x]
        data = list(range(10))
        for c in (ctx, ctx_interp):
            ds = c.parallelize(data).map(f)
            assert ds.collect() == [f(x) for x in data]
            assert ds.exception_counts == {}

    def test_parallelize_builds_one_frame(self, ctx, monkeypatch):
        from tuplex_spark import context
        calls = []
        create = context.to_frame

        def spy(*args, **kwargs):
            calls.append(1)
            return create(*args, **kwargs)
        monkeypatch.setattr(context, "to_frame", spy)
        ds = ctx.parallelize(list(range(4000)) + [2 ** 70])
        assert len(calls) == 1
        monkeypatch.undo()
        assert ds.collect() == list(range(4000))
        assert ds.exception_counts == {"BadParallelizeInput": 1}

    def test_nested_misfit_fails_only_its_row(self, ctx_interp):
        data = list(range(200))
        ds = ctx_interp.parallelize(data).map(
            lambda x: [x, "z"] if x == 150 else [x, x])
        assert ds.collect() == [[x, x] for x in data if x != 150]
        assert ds.exception_counts == {"NormalCaseViolation": 1}

    def test_none_inside_nested_output_is_kept(self, ctx, ctx_interp):
        # the sample holds only [x, x]; list elements are nullable anyway
        run_diff3(ctx, ctx_interp, list(range(200)) + [1000],
                  lambda x: [x, None] if x > 500 else [x, x],
                  expect_compiled=True)

    def test_mixed_scalar_sample_is_a_variant(self, ctx_interp):
        def f(x):
            return "s" if x["a"] == 3 else x["a"]
        rows = [(i, str(i)) for i in range(6)]
        ds = ctx_interp.parallelize(rows, columns=["a", "b"]) \
            .withColumn("c", f)
        assert ds.collect() == [(a, b, f({"a": a})) for a, b in rows]
        assert ds.exception_counts == {}
        m = ctx_interp.parallelize(list(range(6))).map(
            lambda x: "s" if x == 3 else x)
        assert not m._pyobj
        assert m.collect() == [0, 1, 2, "s", 4, 5]

    def test_keyed_fold_state_misfit_is_a_violation(self, ctx):
        # two statements: not lowered onto native aggregates
        def f(a, r):
            v = r["v"]
            return a + (v if v < 1000 else 0.5)
        rows = [("k", i % 7) for i in range(300)] + [("k", 5000)]
        ds = ctx.parallelize(rows, columns=["k", "v"]).aggregateByKey(
            lambda a, b: a + b, f, 0, ["k"])
        assert ds.collect() == []
        assert ds.exception_counts == {"NormalCaseViolation": 1}


# resolvers of ``10 // x`` over [1, 2, 0, 5] (a long column): the rows
# and counts both paths must give
_VIOLATION = ([10, 5, 2], {"NormalCaseViolation": 1})
_RESOLVERS = {
    "str": (lambda x: "inf", _VIOLATION),
    "float": (lambda x: 0.5, _VIOLATION),
    "list": (lambda x: [x], _VIOLATION),
    "nested_list": (lambda x: [[[x]], [[True]]], _VIOLATION),
    "int": (lambda x: -1, ([10, 5, -1, 2], {})),
    "bool": (lambda x: True, ([10, 5, 1, 2], {})),
    "none": (lambda x: None, ([10, 5, None, 2], {})),
}


class TestResolverResultTyping:
    """A compiled resolver's result is typed by the one lattice, as the
    row runner's 'fill' mode types an interpreted one: it fits the op's
    column type C when super_type(R, C) == C and is cast to C.  A misfit
    demotes the resolver to the row runner, which makes the row a
    NormalCaseViolation.  Neither path counts a resolver in
    ``compiledUDFs``/``fallbackUDFs``, which count ops."""

    @pytest.mark.parametrize("name", list(_RESOLVERS))
    def test_both_paths_agree(self, ctx, ctx_interp, name):
        resolver, (want, counts) = _RESOLVERS[name]
        for c in (ctx, ctx_interp):
            ds = c.parallelize([1, 2, 0, 5]).map(lambda x: 10 // x)
            ops = (c.metrics.compiledUDFs, c.metrics.fallbackUDFs)
            ds = ds.resolve(ZeroDivisionError, resolver)
            assert (c.metrics.compiledUDFs, c.metrics.fallbackUDFs) == ops
            assert ds.collect() == want
            assert ds.exception_counts == counts
            # a fitting compiled resolver stays compiled
            assert explain_summary(ds._df)["python_eval"] is \
                (c is ctx_interp or counts != {})

    def test_widening_result_is_cast(self, ctx, ctx_interp):
        for c in (ctx, ctx_interp):
            ds = c.parallelize([1, 2, 0, 5]).map(lambda x: 10 / x) \
                .resolve(ZeroDivisionError, lambda x: 0)
            out = ds.collect()
            assert out == [10.0, 5.0, 0.0, 2.0]
            assert all(type(v) is float for v in out)
            assert ds.exception_counts == {}

    def test_compiled_resolver_misfit_is_normal_case_violation(
            self, ctx, ctx_interp):
        # the compiled twin of TestInterpreterPath's misfit test: the
        # resolver returns an int into the op's string column
        rows = [("ab", 1), ("cd", 0), ("ef", 2)]
        for c in (ctx, ctx_interp):
            before = c.metrics.compiledUDFs
            ds = c.parallelize(rows, columns=["s", "n"]) \
                .withColumn("t", lambda x: x["s"] * (2 // x["n"]))
            assert c.metrics.compiledUDFs == before + (c is ctx)
            ds = ds.resolve(ZeroDivisionError, lambda x: len(x["s"]))
            assert ds.collect() == [("ab", 1, "abab"), ("ef", 2, "ef")]
            assert ds.exception_counts == {"NormalCaseViolation": 1}


class TestResolveWithRound2Shapes:
    """The exception model composed with the newer compiled shapes:
    guards raised inside first-match scans / dict lookups / mixed
    compares must be resolvable and ignorable like any other."""

    def test_resolve_first_match_guard(self, ctx):
        def f(s):
            for t in s.split(" "):
                if t.isdigit():
                    return 100 // int(t)
            return -1
        ds = ctx.parallelize(["a 0 b", "5 x", "nope"]).map(f) \
                .resolve(ZeroDivisionError, lambda s: -99)
        assert ds.collect() == [-99, 20, -1]
        assert ds.exception_counts == {}

    def test_resolver_uses_dict_lookup(self, ctx):
        ds = ctx.parallelize([1, 3, 5, 6]).map(lambda x: 10 // (x % 3)) \
                .resolve(ZeroDivisionError,
                         lambda x: {0: -1, 3: -3}.get(x % 7, -9))
        assert ds.collect() == [10, -3, 5, -9]

    def test_ignore_dict_keyerror(self, ctx):
        ds = ctx.parallelize([1, 2, 9]) \
                .map(lambda x: {1: "a", 2: "b"}[x]).ignore(KeyError)
        assert ds.collect() == ["a", "b"]

    def test_resolve_mixed_compare_typeerror(self, ctx):
        ds = ctx.parallelize(["ab", "abcd"]) \
                .map(lambda s: (s < 5) if len(s) > 3 else True) \
                .resolve(TypeError, lambda s: False)
        assert ds.collect() == [True, False]

    def test_resolver_sees_exact_timestamp_payload(self, ctx):
        """Payloads round-trip through to_json/from_json; the default
        timestampFormat truncated microseconds, so a resolver reading a
        timestamp column got a subtly different value than the failing
        UDF saw (reference semantics: the exact input row)."""
        import datetime
        rows = [(1, datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)),
                (0, datetime.datetime(2022, 1, 2, 3, 4, 5, 987654)),
                (2, datetime.datetime(2020, 6, 7, 8, 9, 10, 1))]
        ds = ctx.parallelize(rows, columns=["k", "ts"]) \
                .map(lambda x: 100 // x["k"]) \
                .resolve(ZeroDivisionError,
                         lambda x: x["ts"].microsecond)
        assert ds.collect() == [100, 987654, 50]
        assert ds.exception_counts == {}

    def test_resolver_sees_exact_binary_payload(self, ctx):
        rows = [(1, b"ok"), (0, b"\x00\xff weird \x01"), (5, b"")]
        ds = ctx.parallelize(rows, columns=["k", "b"]) \
                .map(lambda x: 100 // x["k"]) \
                .resolve(ZeroDivisionError, lambda x: len(x["b"]))
        assert ds.collect() == [100, len(b"\x00\xff weird \x01"), 20]
        assert ds.exception_counts == {}

    def test_staged_cse_resolver_stays_compiled(self, ctx):
        """A resolver body complex enough to need staged CSE layers
        (string-pipeline shape: find/slice/replace chains) must compile
        onto the resolve select chain like map() bodies do — until
        round 3 it silently demoted to the Arrow fallback."""
        def res(s):
            t = s.replace("-", " ").strip()
            head = t[:t.find(" ")] if t.find(" ") >= 0 else t
            tail = t[t.rfind(" ") + 1:]
            mid = t.upper().replace(" ", "_")
            return head + "|" + mid + "|" + tail + "|" + str(len(t))
        data = ["a-bc d", "12", "  q-r  ", "one two three", "7"]
        ds = ctx.parallelize(data) \
                .map(lambda s: "n=" + str(int(s) * 2)) \
                .resolve(ValueError, res)
        assert not explain_summary(ds._df)["python_eval"], \
            "resolver fell back to the interpreter path"

        def ref(s):
            try:
                return "n=" + str(int(s) * 2)
            except ValueError:
                return res(s)
        assert ds.collect() == [ref(s) for s in data]
        assert ds.exception_counts == {}


_GROUPS = itertools.count()
EXACT = "exception_counts exact pass"


def _job_labels(ctx, action):
    """Run ``action`` in a job group of its own; returns the description
    of every Spark job it started."""
    sc = ctx.spark.sparkContext
    group = f"test-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, "action")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    labels = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(job).description()
        labels.append(d.get() if d.isDefined() else None)
    return labels


def _exact_passes(labels):
    return [x for x in labels if x and x.startswith(EXACT)]


def _failing(ctx, n=40, m=5):
    """``n`` rows, of which those with ``k % m == 0`` raise
    ZeroDivisionError."""
    return ctx.parallelize([(k, k % m) for k in range(n)], ["k", "d"]) \
        .withColumn("q", lambda x: 10 // x["d"])


def _right(ctx):
    return ctx.parallelize([(k, f"v{k}") for k in range(0, 40, 2)],
                           ["k", "v"])


class TestOnePassCounts:
    """``collect`` reads exception counts from the observed metrics of
    the job that produces its rows; the eager whole-dataset fold reads
    those of the splits it consumes in its own job.  Counts are exact,
    and the exact ``groupBy`` pass runs only where no job observes a
    split exactly once: take(n)/limit, a split parked before an
    ``orderBy`` (whose range partitioner samples its input in a job of
    its own), and a split whose observed node AQE dropped from the
    executed plan."""

    def _counts(self, ctx, ds, exact: bool, action=None):
        labels = _job_labels(ctx, action or ds.collect)
        assert bool(_exact_passes(labels)) == exact, labels
        return ds.exception_counts

    def test_join_counts_in_the_collect_job(self, ctx):
        j = _failing(ctx).join(_right(ctx), "k", "k")
        assert self._counts(ctx, j, False) == {"ZeroDivisionError": 8}

    def test_repeated_collect(self, ctx):
        j = _failing(ctx).join(_right(ctx), "k", "k")
        for _ in range(3):
            assert len(j.collect()) == 16
            assert j.exception_counts == {"ZeroDivisionError": 8}
        ds = _failing(ctx)
        for _ in range(2):
            assert len(ds.collect()) == 32
            assert ds.exception_counts == {"ZeroDivisionError": 8}

    def test_cache_after_join(self, ctx):
        j = _failing(ctx).join(_right(ctx), "k", "k").cache()
        assert self._counts(ctx, j, False) == {"ZeroDivisionError": 8}
        assert len(j.collect()) == 16

    def test_self_union_counts_both_sides(self, ctx):
        ds = _failing(ctx)
        u = ds.union(ds)
        assert self._counts(ctx, u, False) == {"ZeroDivisionError": 16}
        j = _failing(ctx).join(_right(ctx), "k", "k")
        assert self._counts(ctx, j.union(j), False) == \
            {"ZeroDivisionError": 16}

    def test_exceptions_on_the_right_side(self, ctx):
        right = ctx.parallelize([(k, k % 4) for k in range(40)],
                                ["k", "e"]) \
            .withColumn("w", lambda x: 7 // x["e"])
        j = _right(ctx).join(right, "k", "k")
        assert self._counts(ctx, j, False) == {"ZeroDivisionError": 10}
        assert len(j.collect()) == 10

    def test_inner_join_with_an_empty_side(self, ctx):
        empty = ctx.parallelize([(1, "a")], ["k", "v"]) \
            .filter(lambda r: r["k"] > 5)
        j = _failing(ctx).join(empty, "k", "k")
        assert self._counts(ctx, j, True) == {"ZeroDivisionError": 8}
        assert j.collect() == []

    def test_every_row_fails_before_a_join(self, ctx):
        j = _failing(ctx, m=1).join(_right(ctx), "k", "k")
        assert self._counts(ctx, j, True) == {"ZeroDivisionError": 40}
        assert j.collect() == []

    def test_take_counts_the_whole_input(self, ctx):
        ds = _failing(ctx, 45, 3)
        assert self._counts(ctx, ds, True, lambda: ds.take(2)) == \
            {"ZeroDivisionError": 15}
        j = _failing(ctx, 45, 3).join(_right(ctx), "k", "k")
        assert self._counts(ctx, j, True, lambda: j.take(1)) == \
            {"ZeroDivisionError": 15}

    def test_limit_counts_the_whole_input(self, ctx):
        ds = _failing(ctx, 45, 3).limit(3)
        assert self._counts(ctx, ds, True) == {"ZeroDivisionError": 15}
        assert len(ds.collect()) == 3

    def test_unique(self, ctx):
        ds = _failing(ctx).selectColumns(["d", "q"]).unique()
        assert self._counts(ctx, ds, False) == {"ZeroDivisionError": 8}
        assert sorted(ds.collect()) == [(1, 10), (2, 5), (3, 3), (4, 2)]

    def test_order_by(self, ctx):
        # the failed rows travel through the sort: the action splits
        # them off above the range exchange
        ds = _failing(ctx).orderBy("k")
        assert self._counts(ctx, ds, False) == {"ZeroDivisionError": 8}
        assert [r[0] for r in ds.collect()] == \
            [k for k in range(40) if k % 5]

    def test_order_by_after_a_join(self, ctx):
        # the join's splits lie below the range exchange, in a stage the
        # partitioner's sampling job may run again: counted exactly
        ds = _failing(ctx).join(_right(ctx), "k", "k").orderBy("k")
        assert self._counts(ctx, ds, True) == {"ZeroDivisionError": 8}
        assert [r[2] for r in ds.collect()] == \
            [k for k in range(0, 40, 2) if k % 5]

    def test_order_by_after_a_union(self, ctx):
        # the union's splits lie in the stage whose rows the range
        # partitioner samples in a job of its own: counted exactly
        ds = _failing(ctx)
        u = ds.union(ds).orderBy("k")
        assert self._counts(ctx, u, True) == {"ZeroDivisionError": 16}
        assert [r[0] for r in u.collect()] == \
            sorted(2 * [k for k in range(40) if k % 5])

    def test_order_by_after_a_broadcast_join(self, ctx, tmp_path):
        # the join's split on the stream side lies in the sampled stage
        path = tmp_path / "right.csv"
        path.write_text("k,v\n" + "".join(f"{k},v{k}\n"
                                          for k in range(0, 40, 2)))
        j = _failing(ctx).join(ctx.csv(str(path)), "k", "k")
        assert explain_summary(j.toDF())["broadcast_join"]
        ds = j.orderBy("k")
        assert self._counts(ctx, ds, True) == {"ZeroDivisionError": 8}
        k = ds.columns.index("k")
        assert [r[k] for r in ds.collect()] == \
            [k for k in range(0, 40, 2) if k % 5]

    def test_ignore_after_order_by(self, ctx):
        # as after selectColumns, ignore sees the rows an earlier op failed
        ds = _failing(ctx).orderBy("k").ignore(ZeroDivisionError)
        assert self._counts(ctx, ds, False) == {}
        assert len(ds.collect()) == 32

    def test_keyed_slot_aggregate(self, ctx):
        ds = _failing(ctx).aggregateByKey(
            lambda a, b: a + b, lambda a, x: a + x["q"], 0, ["d"])
        assert self._counts(ctx, ds, False) == {"ZeroDivisionError": 8}
        assert sorted(ds.collect()) == [(1, 80), (2, 40), (3, 24),
                                        (4, 16)]

    def test_generic_fold_without_key(self, ctx):
        # the fold runs when it is built, and its own job counts the
        # split it consumes
        folds = []
        labels = _job_labels(ctx, lambda: folds.append(
            _failing(ctx).aggregate(lambda a, b: a + b,
                                    lambda a, x: a * 1 + x["q"] % 7, 0)))
        assert labels and not _exact_passes(labels), labels
        ds, = folds
        assert self._counts(ctx, ds, False) == {"ZeroDivisionError": 8}
        assert ds.collect() == [8 * (3 + 5 + 3 + 2)]

    def test_collect_runs_no_more_jobs_than_the_clean_rows(self, ctx):
        j = (_failing(ctx).join(_right(ctx), "k", "k")
             .withColumn("r", lambda x: 100 // (x["k"] % 3)))
        clean = len(_job_labels(ctx, lambda: j.toDF().collect()))
        assert len(_job_labels(ctx, j.collect)) <= clean
        assert j.exception_counts == {"ZeroDivisionError": 13}

    def test_dirty_parallelize_parks_a_count(self, ctx):
        ds = ctx.parallelize([1, 2, "x", 4, "y"]).map(lambda x: x * 10)
        clean = len(_job_labels(ctx, lambda: ds.toDF().collect()))
        assert len(_job_labels(ctx, ds.collect)) == clean
        assert ds.exception_counts == {"BadParallelizeInput": 2}
        assert ds.collect() == [10, 20, 40]


_LEFT = [(i, "k%d" % (i % 3)) for i in range(20)]
_KEYED = [("k%d" % i, i * 10) for i in range(3)]


class TestPlanTimeSample:
    """A DataSet reads its plan-time sample on first use: an interpreted
    op after a join, ``unique`` or an aggregate types its output from
    the rows that op makes, as CPython's rows show, and a compiled chain
    over a source starts no Spark job until an action."""

    @pytest.mark.parametrize("path", ["ctx", "ctx_interp"])
    def test_interpreted_ops_after_split_points(self, path, request):
        c = request.getfixturevalue(path)
        left = c.parallelize(_LEFT, ["a", "k"])
        right = c.parallelize(_KEYED, ["k", "v"])
        joined = [(a, k, v) for a, k in _LEFT for k2, v in _KEYED
                  if k == k2]
        sums = {}
        for a, k in _LEFT:
            sums[k] = sums.get(k, 0) + a
        # hashlib does not compile: every op below takes the interpreter
        # path, which types its output from the sample
        h = lambda x: int(  # noqa: E731
            hashlib.md5(str(x[0]).encode()).hexdigest()[:4], 16)
        cases = [
            (left.join(right, "k", "k").withColumn("h", h),
             [r + (h(r),) for r in joined]),
            (left.unique().withColumn("h", h), [r + (h(r),) for r in _LEFT]),
            (left.join(right, "k", "k").map(lambda x: (x[0], h(x))),
             [(r[0], h(r)) for r in joined]),
            (left.aggregateByKey(lambda p, q: p + q,
                                 lambda s, x: s + x["a"], 0, ["k"])
             .withColumn("h", lambda x: h((x[1],))),
             [(k, n, h((n,))) for k, n in sums.items()]),
        ]
        for ds, want in cases:
            assert explain_summary(ds.toDF())["python_eval"]
            assert not ds._pyobj
            assert sorted(ds.collect()) == sorted(want)
            assert ds.exception_counts == {}

    def test_long_chain_reads_its_sample(self, ctx):
        # each op's sample traces its parent's: a chain longer than the
        # interpreter's recursion limit allows still resolves
        ds = ctx.parallelize(_LEFT, ["a", "k"])
        for _ in range(sys.getrecursionlimit() // 2):
            ds = ds.selectColumns(["a", "k"])
        h = lambda x: int(  # noqa: E731
            hashlib.md5(str(x[0]).encode()).hexdigest()[:4], 16)
        ds = ds.withColumn("h", h)
        assert explain_summary(ds.toDF())["python_eval"]
        assert ds.collect() == [r + (h(r),) for r in _LEFT]

    def test_compiled_chain_over_a_source_starts_no_job(self, ctx,
                                                        tmp_path):
        path = tmp_path / "in.csv"
        path.write_text("a,b\n" + "".join(f"{i},x{i}\n" for i in range(50)))
        built = []

        def build():
            built.append(ctx.csv(str(path))
                         .withColumn("c", lambda x: x["a"] * 2)
                         .filter(lambda x: x["c"] > 10)
                         .mapColumn("b", lambda s: s.upper()))
        assert _job_labels(ctx, build) == []
        assert not explain_summary(built[0].toDF())["python_eval"]
        assert sorted(built[0].collect()) == \
            [(i, f"X{i}", 2 * i) for i in range(6, 50)]

    def test_part_size_after_a_join(self, ctx, spark, tmp_path):
        # the record cap reads the join's sample before the write
        # registers its observations
        out = str(tmp_path / "out")
        j = _failing(ctx).join(_right(ctx), "k", "k")
        j.tocsv(out, part_size=64)
        assert j.exception_counts == {"ZeroDivisionError": 8}
        assert spark.read.option("header", True).csv(out).count() == 16


# engine writer, and the same write of a plain DataFrame: (format read
# back, write(ds, path), write(DataFrameWriter, path))
_WRITERS = {
    "csv": ("csv", lambda ds, p: ds.tocsv(p),
            lambda w, p: w.option("header", True).csv(p)),
    "orc": ("orc", lambda ds, p: ds.toorc(p), lambda w, p: w.orc(p)),
    "json": ("json", lambda ds, p: ds.tojson(p), lambda w, p: w.json(p)),
    "parquet": ("parquet", lambda ds, p: ds.toparquet(p),
                lambda w, p: w.parquet(p)),
    "partition_by": ("parquet",
                     lambda ds, p: ds.toparquet(p, partition_by="d"),
                     lambda w, p: w.partitionBy("d").parquet(p)),
    "bucket_by": ("parquet",
                  lambda ds, p: ds.toparquet(p, bucket_by="k",
                                             num_buckets=4,
                                             table="writer_counts_ds"),
                  lambda w, p: w.format("parquet").option("path", p)
                  .bucketBy(4, "k").saveAsTable("writer_counts_df")),
}


class TestWriterCounts:
    """Writers are actions: like ``collect``, each counts the failed
    rows in the job that writes the clean ones."""

    @pytest.mark.parametrize("kind", sorted(_WRITERS))
    def test_writer_counts_in_its_own_job(self, ctx, tmp_path, kind):
        fmt, write, plain = _WRITERS[kind]
        ds = _failing(ctx)
        out = str(tmp_path / "ds")
        labels = _job_labels(ctx, lambda: write(ds, out))
        assert not _exact_passes(labels), labels
        assert ds.exception_counts == {"ZeroDivisionError": 8}
        assert ctx.spark.read.format(fmt).option("header", True) \
            .load(out).count() == 32
        clean = _job_labels(ctx, lambda: plain(
            ds.toDF().write.mode("overwrite"), str(tmp_path / "df")))
        assert len(labels) <= len(clean), (labels, clean)

    def test_num_rows_counts_the_whole_input(self, ctx, tmp_path):
        ds = _failing(ctx)
        out = str(tmp_path / "ds")
        labels = _job_labels(ctx, lambda: ds.tocsv(out, num_rows=3))
        assert set(_exact_passes(labels)) == {f"{EXACT}: num_rows"}, labels
        assert ds.exception_counts == {"ZeroDivisionError": 8}
        assert ctx.spark.read.option("header", True).csv(out).count() == 3

    def test_write_after_a_join_with_an_empty_side(self, ctx, tmp_path):
        empty = ctx.parallelize([(1, "a")], ["k", "v"]) \
            .filter(lambda r: r["k"] > 5)
        j = _failing(ctx).join(empty, "k", "k")
        labels = _job_labels(ctx, lambda: j.toparquet(str(tmp_path)))
        assert _exact_passes(labels), labels
        assert j.exception_counts == {"ZeroDivisionError": 8}

    def test_writing_one_dataset_twice(self, ctx, tmp_path):
        j = _failing(ctx).join(_right(ctx), "k", "k")
        for _ in range(2):
            labels = _job_labels(ctx, lambda: j.tocsv(str(tmp_path)))
            assert not _exact_passes(labels), labels
            assert j.exception_counts == {"ZeroDivisionError": 8}

    def test_writers_count_as_actions(self, ctx, tmp_path):
        m = ctx.metrics
        before = m.as_dict()
        _failing(ctx).tojson(str(tmp_path))
        after = m.as_dict()
        assert after["numActions"] == before["numActions"] + 1
        assert after["totalRunTime"] > before["totalRunTime"]
        assert after["totalExceptionCount"] == \
            before["totalExceptionCount"] + 8
        assert after["lastActionRowCount"] == before["lastActionRowCount"]


_RETRY_SCRIPT = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
import tuplex_spark as tx

def first_attempt_dies(x):
    from pyspark import TaskContext
    tc = TaskContext.get()
    if tc is not None and tc.attemptNumber() == 0:
        os._exit(1)
    return 10 // x

data = [k % 5 for k in range(40)]
want = {}
for x in data:
    try:
        first_attempt_dies(x)
    except Exception as e:
        want[type(e).__name__] = want.get(type(e).__name__, 0) + 1
spark = (SparkSession.builder.master("local[4,2]")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.ansi.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
sc = spark.sparkContext
c = tx.Context(spark=spark)
ds = c.parallelize(data, columns=["x"]).map(first_attempt_dies)
out = {"want": want, "fallback": c.metrics.fallbackUDFs}
sc.setJobGroup("retry", "retry")
out["rows"] = sorted(ds.collect())
out["counts"] = ds.exception_counts
u = ds.unique()
out["unique_rows"] = sorted(u.collect())
out["unique_counts"] = u.exception_counts
sc._jsc.sc().listenerBus().waitUntilEmpty()
st = sc.statusTracker()
out["failed_tasks"] = sum(
    st.getStageInfo(s).numFailedTasks
    for j in st.getJobIdsForGroup("retry")
    for s in st.getJobInfo(j).stageIds if st.getStageInfo(s))
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_retried_tasks_are_counted_once(tmp_path):
    """Under local[4,2] every task of the interpreted UDF dies on its
    first attempt and succeeds on the retry: the observed counts must
    not include the failed attempts."""
    script = tmp_path / "retry.py"
    script.write_text(textwrap.dedent(_RETRY_SCRIPT))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, str(script), root],
                          capture_output=True, text=True, timeout=600,
                          cwd=str(tmp_path))
    line = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert line, proc.stdout[-2000:] + proc.stderr[-4000:]
    out = json.loads(line[-1][len("RESULT "):])
    assert out["fallback"] == 1
    assert out["failed_tasks"] > 0
    assert out["want"] == {"ZeroDivisionError": 8}
    assert out["counts"] == out["want"]
    assert out["unique_counts"] == out["want"]
    assert out["rows"] == sorted(10 // (k % 5) for k in range(40) if k % 5)
    assert out["unique_rows"] == [2, 3, 5, 10]
