import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def ctx():
    import tuplex_spark as tx
    c = tx.Context(name="tests")
    c.spark.sparkContext.setLogLevel("ERROR")
    yield c


@pytest.fixture(scope="session")
def spark(ctx):
    return ctx.spark


@pytest.fixture(scope="session")
def ctx_interp(ctx):
    """The same session with every UDF on the interpreter path."""
    import tuplex_spark as tx
    return tx.Context(conf={"tuplex.useCompiledUDFs": False},
                      spark=ctx.spark)


def cpython_reference(data, fn, columns=None, op="map"):
    """Run the same UDF through plain CPython (the reference's differential
    pattern, e.g. test_fallback.py) — returns (results, {exception class:
    count})."""
    from collections import Counter
    from tuplex_spark.udf.fallback import _apply
    out, excs = [], Counter()
    arity = getattr(getattr(fn, "__code__", None), "co_argcount", 1)
    for row in data:
        try:
            r = _apply(fn, row, arity, columns)
        except Exception as e:
            excs[type(e).__name__] += 1
            continue
        if op == "filter":
            if r:
                out.append(row)
        else:
            out.append(r)
    return out, dict(excs)


def _approx_eq(a, b, rel=1e-12):
    """Exact equality except floats, which tolerate JVM-vs-CPython libm
    1-ULP differences (pow/sqrt/exp); NaN equals NaN."""
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(
            _approx_eq(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if a == b or (a != a and b != b):
            return True
        return abs(a - b) <= rel * max(abs(a), abs(b))
    return a == b


def run_diff(ctx, data, fn, columns=None, op="map", expect_compiled=None):
    """Differential check: engine vs CPython on the same data + UDF.
    ``expect_compiled=True`` additionally asserts the UDF took the
    compiled Column path (guards against silent fallback)."""
    ds = ctx.parallelize(data, columns=columns)
    before = ctx.metrics.compiledUDFs
    out_ds = getattr(ds, op)(fn)
    if expect_compiled is True:
        assert ctx.metrics.compiledUDFs == before + 1, \
            "UDF silently fell back to the interpreted path"
    elif expect_compiled is False:
        assert ctx.metrics.compiledUDFs == before
    got = out_ds.collect()
    want, excs = cpython_reference(data, fn, columns, op)
    n_exc = sum(excs.values())
    norm = [tuple(w) if isinstance(w, (list, tuple)) else w for w in want]
    if want and isinstance(want[0], dict):
        norm = [tuple(w.values()) for w in want]
        if len(norm[0]) == 1:
            norm = [v[0] for v in norm]
    assert _approx_eq(got, norm), f"engine={got!r} cpython={norm!r}"
    total_exc = sum(out_ds.exception_counts.values())
    assert total_exc == n_exc, \
        f"exception counts: engine={out_ds.exception_counts} want={n_exc}"
    return out_ds


def run_diff3(ctx, ctx_interp, data, fn, columns=None, op="map",
              expect_compiled=None):
    """run_diff three ways: the compiled path (``ctx``), the interpreter
    path (``ctx_interp``) and CPython must agree on rows and on
    ``exception_counts`` per exception class."""
    want = cpython_reference(data, fn, columns, op)[1]
    for c, exp in ((ctx, expect_compiled), (ctx_interp, False)):
        got = run_diff(c, data, fn, columns, op, exp).exception_counts
        assert got == want, f"exception counts: engine={got} want={want}"
