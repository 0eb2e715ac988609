"""Aggregate triples: recognized native lowering + generic fold fallback
(reference: test_aggregates.py)."""

import copy
import json
from collections import Counter
from fractions import Fraction

import pytest

from tuplex_spark.exceptions import code_for_instance, name_for_code
from tuplex_spark.operators.aggregate import recognize
from tuplex_spark.plans.inspect import explain_summary
from tuplex_spark.udf.fallback import UDFRow


class TestWholeDataset:
    def test_count_shape(self, ctx):
        data = [1, 2, 3, 4, 5, 6]
        r = ctx.parallelize(data).aggregate(
            lambda a, b: a + b, lambda a, x: a + 1, 0).collect()
        assert r[0] == len(data)

    def test_sum_shape(self, ctx):
        data = [1, 2, 3, 4, 5, 6]
        r = ctx.parallelize(data).aggregate(
            lambda a, b: a + b, lambda a, x: a + x, 0).collect()
        assert r[0] == sum(data)

    def test_min_max_tuple_state(self, ctx):
        data = [5.0, -2.0, 9.5, 1.0]
        r = ctx.parallelize(data).aggregate(
            lambda a, b: (min(a[0], b[0]), max(a[1], b[1])),
            lambda a, x: (min(a[0], x), max(a[1], x)),
            (1e18, -1e18)).collect()
        assert r == [(-2.0, 9.5)]

    def test_initial_value_added(self, ctx):
        r = ctx.parallelize([1, 2, 3]).aggregate(
            lambda a, b: a + b, lambda a, x: a + x, 100).collect()
        assert r[0] == 106

    def test_conditional_sum(self, ctx):
        data = [(1, 5.0), (2, 6.0), (3, 7.0)]
        r = ctx.parallelize(data, ["k", "v"]).aggregate(
            lambda a, b: a + b,
            lambda a, x: a + (x["v"] if x["k"] % 2 == 1 else 0.0),
            0.0).collect()
        assert r == [12.0]

    def test_generic_fold_fallback_dict_state(self, ctx):
        """Dict-state folds can't lower to native aggs -> rdd path."""
        data = ["a", "b", "a", "c", "a"]

        def agg(d, x):
            d = dict(d)
            d[x] = d.get(x, 0) + 1
            return d

        def comb(d1, d2):
            out = dict(d1)
            for k, v in d2.items():
                out[k] = out.get(k, 0) + v
            return out
        r = ctx.parallelize(data).aggregate(comb, agg, {}).collect()
        assert r == [{"a": 3, "b": 1, "c": 1}]


class TestByKey:
    DATA = [(0, 10.0), (1, 20.0), (0, -4.5)]

    def test_sum_by_key(self, ctx):
        res = ctx.parallelize(self.DATA, ["id", "volume"]).aggregateByKey(
            lambda a, b: a + b, lambda a, x: a + x["volume"], 0.0,
            ["id"]).collect()
        res = sorted(res)
        assert res[0][0] == 0 and abs(res[0][1] - 5.5) < 1e-9
        assert res[1][0] == 1 and abs(res[1][1] - 20.0) < 1e-9

    def test_multi_slot(self, ctx):
        res = ctx.parallelize(self.DATA, ["id", "volume"]).aggregateByKey(
            lambda a, b: (a[0] + b[0], a[1] + b[1]),
            lambda a, x: (a[0] + x["volume"], a[1] + 1),
            (0.0, 0), ["id"]).collect()
        assert sorted(res) == [(0, 5.5, 2), (1, 20.0, 1)]

    def test_fold_fallback_by_key(self, ctx):
        """Non-monoid fold (list state) -> applyInPandas path."""
        def agg(acc, x):
            return acc + [x["volume"]]

        def comb(a, b):
            return a + b
        res = ctx.parallelize(self.DATA, ["id", "volume"]).aggregateByKey(
            comb, agg, [], ["id"]).collect()
        got = {k: sorted(v) for k, v in res}
        assert got == {0: [-4.5, 10.0], 1: [20.0]}


class TestUnique:
    def test_unique(self, ctx):
        data = [(1, "a"), (1, "a"), (2, "b"), (1, "c")]
        r = ctx.parallelize(data, ["n", "s"]).unique().collect()
        assert sorted(r) == [(1, "a"), (1, "c"), (2, "b")]

    def test_unique_scalar(self, ctx):
        r = ctx.parallelize([3, 1, 3, 2, 1]).unique().collect()
        assert sorted(r) == [1, 2, 3]


def fold_oracle(data, aggregate, initial_value, columns=None, keys=()):
    """CPython's fold: a row on which ``aggregate(state, row)`` raises
    leaves the state unchanged and counts under its nearest coded class.
    Returns (rows, exception_counts) as ``collect`` would; by key, a key
    whose every row raised has no row."""
    states, counts = {}, Counter()
    for row in data:
        key = tuple(row[columns.index(k)] for k in keys)
        state = states.get(key, copy.deepcopy(initial_value))
        try:
            states[key] = aggregate(
                state, UDFRow(row, columns) if columns else row)
        except Exception as e:
            counts[name_for_code(code_for_instance(e))] += 1
    if not keys:
        return [states.get((), initial_value)], dict(counts)
    return sorted(k + (s if isinstance(s, tuple) else (s,))
                  for k, s in states.items()), dict(counts)


KV = ["k", "v"]
# (data, columns, keys, combine, aggregate, initial value, lowers natively)
FOLDS = {
    "floordiv_by_zero": (
        [1, 0, 2], None, (), lambda a, b: a + b,
        lambda a, x: a + 10 // x, 0, True),
    "floordiv_by_zero_by_key": (
        [("a", 1), ("a", 0), ("b", 2)], KV, ("k",), lambda a, b: a + b,
        lambda a, x: a + 10 // x["v"], 0, True),
    "sum_over_none": (
        [1, None, 3], None, (), lambda a, b: a + b,
        lambda a, x: a + x, 0, True),
    "min_over_none": (
        [1, None, 3], None, (), lambda a, b: min(a, b),
        lambda a, x: min(a, x), 0, True),
    # key "b" has only a raising row: no row for it
    "max_over_none_by_key": (
        [("a", 1), ("a", None), ("b", None)], KV, ("k",),
        lambda a, b: max(a, b), lambda a, x: max(a, x["v"]), 0, True),
    "int_of_str_by_key": (
        [("a", "1"), ("a", "x"), ("b", "3")], KV, ("k",),
        lambda a, b: a + b, lambda a, x: a + int(x["v"]), 0, True),
    # the raising row is left out of every slot, not only the raising one
    "one_slot_raises": (
        [1, 0, 2], None, (), lambda a, b: (a[0] + b[0], a[1] + b[1]),
        lambda a, x: (a[0] + 1, a[1] + 10 // x), (0, 0), True),
    "json_loads": (
        ['{"n": 1}', '{"n": 2}', "bad"], None, (), lambda a, b: a + b,
        lambda a, x: a + json.loads(x)["n"], 0, False),
    # key "c" has only a raising row: no row for it
    "json_loads_by_key": (
        [("a", '{"n": 1}'), ("a", "bad"), ("b", '{"n": 2}'), ("c", "[")],
        KV, ("k",), lambda a, b: a + b,
        lambda a, x: a + json.loads(x["v"])["n"], 0, False),
}


class TestFoldExceptions:
    """A row on which the aggregate UDF raises is left out and counted,
    never fails the job, on the native and the generic path, with and
    without a key, as CPython's fold (``fold_oracle``) does."""

    @pytest.mark.parametrize("name", sorted(FOLDS))
    @pytest.mark.parametrize("path", ["ctx", "ctx_interp"])
    def test_matches_cpython_fold(self, name, path, request):
        c = request.getfixturevalue(path)
        data, cols, keys, combine, agg, init, native = FOLDS[name]
        ds = c.parallelize(data, columns=cols)
        assert (recognize(agg, combine, init, ds._schema_of_visible())
                is not None) == native
        out = ds.aggregateByKey(combine, agg, init, list(keys)) if keys \
            else ds.aggregate(combine, agg, init)
        assert (sorted(out.collect()), out.exception_counts) \
            == fold_oracle(data, agg, init, cols, keys)

    def test_compiler_off_folds_generically(self, ctx, ctx_interp):
        """``tuplex.useCompiledUDFs=False`` reaches the recognizer: the
        same ``state + f(row)`` fold runs on the generic fold loop."""
        data = [(k % 3, k) for k in range(12)]
        for c, python_eval in ((ctx, False), (ctx_interp, True)):
            out = c.parallelize(data, columns=KV).aggregateByKey(
                lambda a, b: a + b, lambda s, x: s + x["v"] * 2, 0, ["k"])
            assert explain_summary(out.toDF())["python_eval"] == python_eval
            assert sorted(out.collect()) == [(0, 36), (1, 44), (2, 52)]

    @pytest.mark.parametrize("path", ["ctx", "ctx_interp"])
    def test_objects_reach_the_fold_as_objects(self, path, request):
        """A PYOBJECT dataset is one column of pickled objects: the fold
        gets the objects, never the pickled bytes (whose ``len`` a native
        lowering would sum)."""
        c = request.getfixturevalue(path)
        data = [Fraction(1, 2), Fraction(2, 3), "x"]
        for agg in (lambda a, x: a + x.numerator, lambda a, x: a + len(x)):
            out = c.parallelize(data).aggregate(lambda a, b: a + b, agg, 0)
            assert (out.collect(), out.exception_counts) \
                == fold_oracle(data, agg, 0)
