"""One Arrow boundary for every Python value.

Values enter Spark through ``fallback.to_frame`` (``parallelize``, the
no-key fold's result) and leave through ``fallback.from_frame``
(``collect``/``take``, sources' plan-time samples, the no-key fold's
partial states), both built on the row runner's ``encode_column`` /
``decode_columns``.  So the compiled path, the interpreter path and
CPython see the same values, whatever the driver's time zone.
"""

import ast
import datetime
import os
import pathlib
import time

import pytest

from conftest import run_diff3

# a DST gap (2:30 on 2020-03-08 does not exist in New York), a DST
# fold (1:30 on 2020-11-01 happens twice), before the epoch, and the
# last microsecond of a day
TIMES = [datetime.datetime(2020, 1, 1, 12),
         datetime.datetime(2020, 3, 8, 2, 30),
         datetime.datetime(2020, 11, 1, 1, 30),
         datetime.datetime(1969, 12, 31, 23, 0, 0, 1),
         datetime.datetime(2020, 7, 1, 23, 59, 59, 999999)]

# one list per column shape; each must come back from collect() as is
ADVERSARIAL = {
    "floats": [1.5, float("nan"), float("inf"), -float("inf"), -0.0, None],
    "bytes": [b"", b"\x00\xff", b"abc", None],
    "timestamps": TIMES + [None],
    "struct_tuples": [(1, ((2, 2.5), "x")), (2, None),
                      (3, ((4, float("nan")), "é")),
                      (4, ((None, -float("inf")), ""))],
    "null_structs": [((1, "a"), 0), (None, 1), ((2, None), 2)],
    "timestamp_in_tuple": [(1, (TIMES[0], "a")), (2, None),
                           (3, (TIMES[1], "b"))],
}


@pytest.fixture
def new_york():
    """The driver runs in America/New_York, not in the session's UTC."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


def _reprs(values):
    """Values as reprs: NaN equals NaN, and bytes differ from bytearray,
    a float from an int and a naive datetime from an aware one."""
    return [repr(v) for v in values]


class TestDriverTimeZone:
    def test_hour_after_parallelize(self, ctx, ctx_interp, new_york):
        run_diff3(ctx, ctx_interp, TIMES, lambda d: d.hour,
                  expect_compiled=True)
        run_diff3(ctx, ctx_interp, TIMES,
                  lambda d: (d.day, d.hour, d.minute))

    def test_parquet_sample_matches_runtime(self, ctx, ctx_interp,
                                            new_york, tmp_path):
        path = str(tmp_path / "times")
        ctx.parallelize(TIMES).toparquet(path)
        for c in (ctx, ctx_interp):
            src = c.parquet(path)
            assert sorted(src._sample) == sorted(TIMES)
            assert sorted(src.collect()) == sorted(TIMES)
            assert sorted(src.map(lambda d: d.hour).collect()) == \
                sorted(d.hour for d in TIMES)

    @pytest.mark.parametrize("shape", sorted(ADVERSARIAL))
    def test_values_round_trip(self, ctx, ctx_interp, new_york, shape):
        data = ADVERSARIAL[shape]
        for c in (ctx, ctx_interp):
            ds = c.parallelize(data)
            assert _reprs(ds.collect()) == _reprs(data)
            assert _reprs(ds.take(2)) == _reprs(data[:2])
            assert ds.exception_counts == {}
        # through the row runner and back (a compiled identity map reads
        # a null struct as a tuple of Nones: ROADMAP, null structs)
        ident = (lambda a, b: (a, b)) if isinstance(data[0], tuple) \
            else (lambda x: x)
        got = ctx_interp.parallelize(data).map(ident).collect()
        assert _reprs(got) == _reprs(data)

    @pytest.mark.parametrize("shape", sorted(ADVERSARIAL))
    def test_no_key_fold_sees_cpython_values(self, ctx, new_york, shape):
        data = ADVERSARIAL[shape]
        r = ctx.parallelize(data).aggregate(
            lambda a, b: a + b, lambda a, x: a + [repr(x)], []).collect()
        assert len(r) == 1 and sorted(r[0]) == sorted(_reprs(data))

    def test_variant_and_set_structs(self, ctx, ctx_interp, new_york):
        nums = [1, 2, 3, 4, 0]
        variant = lambda x: "odd" if x % 2 else x * 10  # noqa: E731
        as_set = lambda x: {x, x % 2}  # noqa: E731
        for f in (variant, as_set):
            run_diff3(ctx, ctx_interp, nums, f, expect_compiled=True)
            folded = ctx.parallelize(nums).map(f).aggregate(
                lambda a, b: a + b, lambda a, x: a + [repr(x)],
                []).collect()
            assert sorted(folded[0]) == sorted(repr(f(x)) for x in nums)

    def test_fold_result_crosses_back(self, ctx, new_york):
        r = ctx.parallelize(TIMES).aggregate(
            lambda a, b: (min(a[0], b[0]), a[1] + b[1]),
            lambda a, x: (min(a[0], x), a[1] + [x.hour]),
            (datetime.datetime.max, [])).collect()
        assert r[0][0] == min(TIMES)
        assert sorted(r[0][1]) == sorted(d.hour for d in TIMES)
        # no partition holds a row: the initial value
        empty = ctx.parallelize([1, 2]).filter(lambda x: x > 5).aggregate(
            lambda a, b: a + b, lambda a, x: a + [x], [])
        assert empty.collect() == [[]]


ROWS = [(1, "a"), (2, "b"), (3, "")]

# withColumn UDFs over ROWS whose result is not a scalar, whether the
# compiled path keeps them (a dict result takes the interpreter path)
WHOLE_RESULTS = {
    "tuple": (lambda x: (x["a"], x["a"] + 1), True),
    "one_tuple": (lambda x: (x["s"],), True),
    "nested_tuple": (lambda x: (x["s"], (x["a"], x["a"] * 0.5)), True),
    "dict": (lambda x: {"k": x["a"], "j": x["a"] * 2}, False),
}


class TestWholeResultInOneColumn:
    """withColumn/mapColumn put the UDF's whole result in the one new
    column: a tuple as a struct (collected as a tuple), a dict as a
    map, on both paths, as CPython computes them."""

    @pytest.mark.parametrize("shape", sorted(WHOLE_RESULTS))
    def test_with_column(self, ctx, ctx_interp, shape):
        fn, compiles = WHOLE_RESULTS[shape]
        want = [(a, s, fn({"a": a, "s": s})) for a, s in ROWS]
        for c, compiled in ((ctx, compiles), (ctx_interp, False)):
            before = c.metrics.compiledUDFs
            ds = c.parallelize(ROWS, columns=["a", "s"]).withColumn("t", fn)
            assert c.metrics.compiledUDFs == before + compiled
            assert _reprs(ds.collect()) == _reprs(want)
            assert ds.exception_counts == {}

    def test_map_column(self, ctx, ctx_interp):
        for c, compiled in ((ctx, True), (ctx_interp, False)):
            before = c.metrics.compiledUDFs
            ds = c.parallelize(ROWS, columns=["a", "s"]) \
                .mapColumn("a", lambda v: (v, v * 2))
            assert c.metrics.compiledUDFs == before + compiled
            assert ds.collect() == [((a, a * 2), s) for a, s in ROWS]
            # a later op reads the struct column as the tuple
            assert ds.map(lambda x: x["a"][1] + len(x["s"])).collect() == \
                [a * 2 + len(s) for a, s in ROWS]

    @pytest.mark.parametrize("shape", ["tuple", "dict"])
    def test_resolver_fills_the_whole_column(self, ctx, ctx_interp, shape):
        rows = ROWS + [(0, "z")]
        fn = (lambda x: (10 // x["a"], x["s"])) if shape == "tuple" \
            else (lambda x: {"q": 10 // x["a"]})
        fix = (lambda x: (-1, "?")) if shape == "tuple" \
            else (lambda x: {"q": -1})
        want = [(a, s, fn({"a": a, "s": s}) if a else fix(None))
                for a, s in rows]
        for c in (ctx, ctx_interp):
            ds = c.parallelize(rows, columns=["a", "s"]).withColumn("t", fn)
            assert _reprs(ds.collect()) == _reprs(want[:-1])
            assert ds.exception_counts == {"ZeroDivisionError": 1}
            fixed = ds.resolve(ZeroDivisionError, fix)
            assert _reprs(fixed.collect()) == _reprs(want)
            assert fixed.exception_counts == {}

# ---------------------------------------------------------------- tooling

ROOT = pathlib.Path(__file__).resolve().parent.parent / "tuplex_spark"
FROZEN = ("functions", "streaming")

# Spark calls that move rows between Python and the JVM, and the one
# place each may appear: the boundary in udf/fallback.py
ROW_MOVERS = {"createDataFrame", "toArrow", "_collect_as_arrow",
              "toDataFrame", "collect", "toPandas", "toLocalIterator"}
ALLOWED = {("udf/fallback.py", "to_frame", "toDataFrame"),
           ("udf/fallback.py", "from_frame", "_collect_as_arrow")}


def _core_modules():
    for p in sorted(ROOT.rglob("*.py")):
        rel = p.relative_to(ROOT).as_posix()
        if rel.split("/")[0] not in FROZEN:
            yield rel, p.read_text()


# JVM calls that read exception counts, which only the one count reader
# makes; and the writers, which are actions, not toDF() escapes
COUNT_READS = {"observedMetrics", "getOrNewObservation", "getRowOrEmpty"}
WRITERS = ("tocsv", "toorc", "tojson", "toparquet")

# the compiler's one format-spec lowering, the four constructs that use
# it (f-strings, str.format, format() and %-formats), and the second
# lowerings it replaced
FORMAT_SPEC_CALLERS = ("_ev_JoinedStr", "_str_method", "_b_format",
                       "_percent_format")
SECOND_LOWERINGS = {"_format_spec_col", "_format_spec_full", "_SPEC_RE",
                    "_while_counter_rewrite_incfirst"}
# the flags of the second way to treat a raising row, which recorded
# nothing (a compile without guards, a row runner without capture)
RAISING_ROW_FLAGS = {"with_guards", "_exc_enabled", "capture"}
# the guard side tables, the second comprehension lowering and the
# classify-then-rewrite pair over a handler's exception reads, which one
# guard record, one comprehension lowering and one pass replaced
DELETED_TRANSLATOR_NAMES = {"_guard_msgs", "_guard_args", "_record_args",
                            "_truncate_guards", "_ev_listcomp_strict",
                            "_ev_listcomp_guarded", "_exc_read_kinds",
                            "_ExcReadRewriter"}


def _uses(rel, src, attrs):
    """(module, enclosing function, attribute) of every attribute in
    ``attrs`` the module uses."""
    found = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if isinstance(child, ast.Attribute) and child.attr in attrs:
                found.append((rel, fn, child.attr))
            walk(child, fn)
    walk(ast.parse(src), None)
    return found


class TestOneBoundary:
    def test_no_rdd_and_no_second_decoder(self):
        for rel, src in _core_modules():
            assert "_py_value" not in src, rel
            assert ".rdd" not in src, rel

    def test_rows_move_only_at_the_boundary(self):
        found = [f for rel, src in _core_modules()
                 for f in _uses(rel, src, ROW_MOVERS)]
        assert set(found) <= ALLOWED, sorted(set(found) - ALLOWED)
        assert set(found) == ALLOWED

    def test_one_action_path_and_one_count_reader(self):
        found = {f for rel, src in _core_modules()
                 for f in _uses(rel, src, COUNT_READS)}
        at = ("dataset.py", "_collect_exception_counts")
        assert found == {at + ("getOrNewObservation",),
                         at + ("getRowOrEmpty",)}, sorted(found)
        tree = ast.parse((ROOT / "dataset.py").read_text())
        methods = {n.name: n for n in ast.walk(tree)
                   if isinstance(n, ast.FunctionDef)}
        for w in WRITERS:
            assert not any(isinstance(n, ast.Attribute) and n.attr == "toDF"
                           for n in ast.walk(methods[w])), w

    def test_one_owner_of_the_struct_layouts(self):
        # the variant and set structs' field names are typeutils'
        found = {rel for rel, src in _core_modules()
                 for n in ast.walk(ast.parse(src))
                 if isinstance(n, ast.Constant) and n.value in ("__vt",
                                                                "__sv")}
        assert found == {"typeutils.py"}, sorted(found)

    def test_one_lowering_per_compiled_construct(self):
        found = {f for rel, src in _core_modules()
                 for f in _uses(rel, src, {"_format_spec"})}
        assert found == {("udf/compiler.py", fn, "_format_spec")
                         for fn in FORMAT_SPEC_CALLERS}, sorted(found)
        tree = ast.parse((ROOT / "udf/compiler.py").read_text())
        names = {n.name for n in ast.walk(tree)
                 if isinstance(n, (ast.FunctionDef, ast.ClassDef))}
        names |= {t.id for n in ast.walk(tree) if isinstance(n, ast.Assign)
                  for t in n.targets if isinstance(t, ast.Name)}
        assert "_format_spec" in names
        assert not names & SECOND_LOWERINGS, sorted(names & SECOND_LOWERINGS)
        attrs = {n.attr for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute)
                 and isinstance(n.value, ast.Name) and n.value.id == "self"}
        gone = (names | attrs) & DELETED_TRANSLATOR_NAMES
        assert not gone, sorted(gone)
        # one lambda scope: the higher-order-function depth rises in one
        # method only
        scopes = {f.name for f in ast.walk(tree)
                  if isinstance(f, ast.FunctionDef)
                  for n in ast.walk(f)
                  if isinstance(n, ast.AugAssign)
                  and isinstance(n.target, ast.Attribute)
                  and n.target.attr == "_hof_depth"
                  and isinstance(n.op, ast.Add)}
        assert scopes == {"_lambda_scope"}, sorted(scopes)
        # one staging call: a single method appends the staged layers
        stagers = {f.name for f in ast.walk(tree)
                   if isinstance(f, ast.FunctionDef)
                   for n in ast.walk(f)
                   if isinstance(n, ast.Attribute) and n.attr == "append"
                   and isinstance(n.value, ast.Attribute)
                   and n.value.attr == "staged"
                   and isinstance(n.value.value, ast.Name)
                   and n.value.value.id == "self"}
        assert len(stagers) == 1, sorted(stagers)
        # no lowering is chosen by a CompileError's text
        for h in ast.walk(tree):
            if isinstance(h, ast.ExceptHandler) and h.name \
                    and isinstance(h.type, ast.Name) \
                    and h.type.id == "CompileError":
                reads = [n for s in h.body for c in ast.walk(s)
                         if isinstance(c, ast.Compare)
                         for n in ast.walk(c)
                         if isinstance(n, ast.Name) and n.id == h.name]
                assert not reads, h.lineno
        # one way to treat a raising row: nothing turns the compiler's
        # guards or the row runner's exception codes off
        for rel, src in _core_modules():
            flags = set()
            for n in ast.walk(ast.parse(src)):
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    flags |= {n.name} | {a.arg for a in ast.walk(n.args)
                                         if isinstance(a, ast.arg)}
                elif isinstance(n, ast.Attribute):
                    flags.add(n.attr)
                elif isinstance(n, ast.keyword):
                    flags.add(n.arg)
            assert not flags & RAISING_ROW_FLAGS, \
                (rel, sorted(flags & RAISING_ROW_FLAGS))
