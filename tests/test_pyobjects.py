"""PYOBJECT fallback path: arbitrary Python objects through the pipeline
(reference: TypeSystem.h PYOBJECT, test_fallback.py:25-47 numpy flows)."""

from fractions import Fraction

import numpy as np
import pytest


class TestPyObjects:
    def test_numpy_map_promotes_to_structured(self, ctx):
        data = [np.array([1, 2]), np.array([3, 4]), np.array([5, 6])]
        ds = ctx.parallelize(data).map(lambda a: int(a.sum()))
        assert ds.collect() == [3, 7, 11]

    def test_map_keeps_objects_when_unrepresentable(self, ctx):
        data = [np.array([1.0, 2.0]), np.array([3.0, 4.0])]
        ds = ctx.parallelize(data).map(lambda a: a * 2)
        out = ds.collect()
        assert [list(o) for o in out] == [[2.0, 4.0], [6.0, 8.0]]

    def test_filter_on_objects(self, ctx):
        data = [np.array([1, 2]), np.array([10, 20]), np.array([3, 3])]
        ds = ctx.parallelize(data).filter(lambda a: a.sum() > 5)
        out = ds.collect()
        assert [list(o) for o in out] == [[10, 20], [3, 3]]

    def test_exceptions_counted_on_pyobj_path(self, ctx):
        data = [np.array([1, 2]), "not-an-array", np.array([3, 4])]
        ds = ctx.parallelize(data).map(lambda a: int(a.sum()))
        assert ds.collect() == [3, 7]
        assert ds.exception_counts == {"AttributeError": 1}

    def test_differential_vs_plain_python(self, ctx):
        """Reference pattern (test_fallback.py): same lambdas through the
        engine and through builtins must agree."""
        data = [np.array([i, i * 2]) for i in range(5)]
        f = lambda a: float(a.mean())
        got = ctx.parallelize(data).map(f).collect()
        want = [f(a) for a in data]
        assert got == want

    def test_object_past_the_first_rows(self, ctx):
        # every row is checked for a value with no Spark type, not a prefix
        data = list(range(600)) + [Fraction(7)]
        f = lambda x: x if isinstance(x, int) else x.numerator
        ds = ctx.parallelize(data).map(f)
        assert ds.collect() == [f(x) for x in data]
        assert ds.exception_counts == {}

    def test_unsupported_op_raises_cleanly(self, ctx):
        data = [np.array([1, 2])]
        ds = ctx.parallelize(data)
        with pytest.raises(NotImplementedError):
            ds.withColumn("x", lambda a: 1)


class TestTypeUnstableOutputs:
    """Reference dual-mode parity: UDF outputs with no common Spark type
    demote to PYOBJECT rows (exact heterogeneous values); runtime rows
    that deviate from a stable sampled type become NormalCaseViolation
    exception rows instead of crashing the stage."""

    def test_map_heterogeneous_promotes_to_pyobj(self, ctx):
        def f(x):
            # str for odd, int for even -> no common type; loop blocks
            # compilation so this exercises the fallback path
            v = 0
            for i in range(1):
                v = x
            return "odd" if v % 2 else v * 10

        ds = ctx.parallelize([1, 2, 3, 4]).map(f)
        assert ds.collect() == ["odd", 20, "odd", 40]

    def test_pyobj_filter_then_map(self, ctx):
        def f(x):
            v = 0
            for i in range(1):
                v = x
            return "odd" if v % 2 else v * 10

        ds = (ctx.parallelize([1, 2, 3, 4]).map(f)
              .filter(lambda r: isinstance(r, int))
              .map(lambda r: r + 1))
        assert ds.collect() == [21, 41]

    def test_variant_rows_share_a_batch(self, ctx):
        # eight rows over at most four partitions put int and str rows
        # into one Arrow batch, where pandas reads the int arm as float
        def f(x):
            v = 0
            for i in range(1):
                v = x
            return "odd" if v % 2 else v * 10

        ds = (ctx.parallelize(list(range(1, 9))).map(f)
              .filter(lambda r: isinstance(r, int))
              .map(lambda r: r + 1))
        assert ds.collect() == [21, 41, 61, 81]

    def test_compiled_mixed_deviation_is_exact_value(self, ctx):
        # int|str returns COMPILE since round 9 (variant struct): the
        # row that returns a string is an exact VALUE in the output —
        # the true dual-mode merge (the reference's general path would
        # succeed on the row and merge it back), not a violation.
        def f(x):
            v = 0
            for i in range(1):
                v = x
            return "surprise" if v == 150 else v

        data = list(range(200))
        ds = ctx.parallelize(data).map(f)
        got = ds.collect()
        assert got == ["surprise" if v == 150 else v for v in data]
        assert ds.exception_counts == {}

    def test_runtime_deviation_is_exception_row(self, ctx):
        # sample (first 100 rows) is all-int; row 150 returns a LIST —
        # outside the compilable variant families, so this exercises
        # the sampled-type fallback, where a deviating runtime row is
        # a NormalCaseViolation exception row
        def f(x):
            v = 0
            for i in range(1):
                v = x
            return ["surprise"] if v == 150 else v

        data = list(range(200))
        ds = ctx.parallelize(data).map(f)
        got = ds.collect()
        assert got == [v for v in data if v != 150]
        assert ds.exception_counts == {"NormalCaseViolation": 1}

    def test_runtime_deviation_resolvable(self, ctx):
        def f(x):
            v = 0
            for i in range(1):
                v = x
            return ["surprise"] if v == 150 else v

        data = list(range(200))
        ds = (ctx.parallelize(data).map(f)
              .resolve(Exception, lambda x: -1))
        got = ds.collect()
        assert got == [v if v != 150 else -1 for v in data]


class TestTupleObjects:
    """A pickled object that is a tuple reaches the UDF as that tuple,
    exactly as in plain CPython — on the plan-time sample and in the
    executors alike."""

    DATA = [(np.array([i]), i) for i in range(4)]

    @staticmethod
    def _plain(v):
        # ndarrays compare elementwise: compare their lists instead
        if isinstance(v, tuple):
            return tuple(TestTupleObjects._plain(x) for x in v)
        return v.tolist() if isinstance(v, np.ndarray) else v

    def _check_map(self, ctx, f):
        got = ctx.parallelize(self.DATA).map(f).collect()
        assert [type(v) for v in got] == [type(f(t)) for t in self.DATA]
        assert [self._plain(v) for v in got] == \
            [self._plain(f(t)) for t in self.DATA]

    def test_tuple_concat_map(self, ctx):
        self._check_map(ctx, lambda t: t + (0,))

    def test_identity_map_returns_tuples(self, ctx):
        self._check_map(ctx, lambda t: t)

    def test_isinstance_filter_keeps_rows(self, ctx):
        ds = ctx.parallelize(self.DATA).filter(
            lambda t: isinstance(t, tuple))
        assert [self._plain(v) for v in ds.collect()] == \
            [self._plain(t) for t in self.DATA]
        assert ds.exception_counts == {}

    def test_untyped_sample_keeps_objects(self, ctx):
        # the 100-row sample maps to None only; later rows' values come
        # back exact, not as NormalCaseViolation rows
        data = [np.array([i]) for i in range(150)]
        f = lambda a: None if a[0] < 120 else (int(a[0]), "x")
        ds = ctx.parallelize(data).map(f)
        assert ds.collect() == [f(a) for a in data]
        assert ds.exception_counts == {}
