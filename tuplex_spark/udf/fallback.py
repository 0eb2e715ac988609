"""The interpreter path (the "general case"): one row runner.

Reference analog: the pure-Python pipeline fallback
(core/src/physical/PythonPipelineBuilder.cc) plus the resolve tasks
(core/include/physical/ResolveTask.h) that run the rows CPython can
handle but the compiled path can't.  Every UDF or resolver that does not
compile runs through ``make_row_runner``: the original function object
is cloudpickled into one Arrow-batched ``mapInPandas`` stage and applied
row-at-a-time.

- input: rows decode from typed columns (with the JVM-computed null
  flags) or from one pickled-object column;
- output: results encode as typed columns, checked by ``_conforms`` so a
  value that misfits the declared type becomes a NormalCaseViolation
  row, or as pickled objects;
- exceptions: each row's exception becomes its code in ``ROW_CODE``;
  rows whose ``GATE`` is false (already failed, or not matched by a
  resolver) pass through untouched.

The exception payload (the failing row as JSON) and the op tag are not
written here: the caller folds ``ROW_CODE`` into the hidden exception
columns JVM-side, with the same encoder compiled operators use.

Output types come from running the UDF over the plan-time sample
(reference analog: tracing type inference, core/src/TraceVisitor.cc),
always under ``call_budgeted``'s line budget.
"""

from __future__ import annotations

import math

from pyspark.sql import types as T

from ..exceptions import code_for_instance
from ..typeutils import infer_type, super_type

EXC_CODE = "__exc_code"
EXC_PAYLOAD = "__exc_payload"
EXC_OP = "__exc_op"

ROW_CODE = "__rc"   # runner output: this op's exception code per row
GATE = "__gate"     # runner input: rows where it is false are skipped


def out_col(i: int) -> str:
    """Name of the runner's i-th output column."""
    return f"__o{i}"


class AllSampleRowsFailed(Exception):
    """The UDF raised on every plan-time sample row — nothing to infer
    from.  map() demotes to PYOBJECT (any runtime successes keep exact
    types); withColumn/mapColumn declare a string column with runtime
    conformance (non-string successes become NormalCaseViolation)."""


class TypeUnstableError(Exception):
    """Sampled UDF outputs have no common Spark type (e.g. int on some
    rows, str on others, or tuple vs scalar).  Reference analog: rows
    that violate the normal case go to the dual-mode fallback path; here
    the caller promotes the dataset to PYOBJECT (pickled) rows so the
    heterogeneous values round-trip exactly."""


class NormalCaseViolation(TypeError):
    """A runtime UDF result does not fit the sample-inferred column
    type (exception code NormalCaseViolation)."""


class SampleBudgetExceeded(Exception):
    """Plan-time sample evaluation ran past its line budget."""


def arity_of(fn) -> int:
    return getattr(getattr(fn, "__code__", None), "co_argcount", 1)


def call_budgeted(fn, row, arity, names, budget: int = 200_000):
    """_apply under a line-event budget: plan-time samples run REAL
    CPython, so a row on which the UDF never terminates (compiled plans
    guard such rows into RuntimeError; CPython itself would hang) must
    abort instead of freezing the driver.  200k line events covers
    thousands of loop iterations; tracing costs ~ms and only applies to
    the <= 100 sample rows, never to cluster-side execution."""
    import sys
    count = 0

    def tracer(frame, event, arg):
        nonlocal count
        if event == "line":
            count += 1
            if count > budget:
                raise SampleBudgetExceeded()
        return tracer

    old = sys.gettrace()
    sys.settrace(tracer)
    try:
        return _apply(fn, row, arity, names)
    finally:
        sys.settrace(old)


def infer_output_type(results):
    """Widen the types of a UDF's sampled results.

    Returns (result_type_per_output, out_kind) where out_kind is
    'scalar' | 'tuple' | 'dict'.  Raises AllSampleRowsFailed when there
    are no results and TypeUnstableError on heterogeneous result
    shapes/types.
    """
    if not results:
        raise AllSampleRowsFailed(
            "UDF raised on every sample row; output type unknown")
    kind = "scalar"
    r0 = results[0]
    if isinstance(r0, tuple):
        kind = "tuple"
    elif isinstance(r0, dict):
        kind = "dict"
    for r in results:
        rk = "tuple" if isinstance(r, tuple) else \
            "dict" if isinstance(r, dict) else "scalar"
        if rk != kind or (kind == "tuple" and len(r) != len(r0)) \
                or (kind == "dict" and list(r.keys()) != list(r0.keys())):
            raise TypeUnstableError(f"result shape {rk} vs {kind}")
    if kind == "scalar":
        t, nullable = _widen(results)
        return [(None, t, nullable)], kind
    keys = list(r0.keys()) if kind == "dict" else range(len(r0))
    outs = []
    for k in keys:
        t, nullable = _widen([r[k] for r in results])
        outs.append((k if kind == "dict" else None, t, nullable))
    return outs, kind


def _widen(values):
    t = None
    nullable = False
    for v in values:
        vt = infer_type(v)
        if vt is None:
            if v is not None:
                # non-None value with no Spark type (empty tuple, user
                # object): only the pickled PYOBJECT path can hold it
                raise TypeUnstableError(
                    f"unrepresentable value of type {type(v).__name__}")
            nullable = True
        else:
            if t is not None:
                merged = super_type(t, vt)
                # super_type's universal-string fallback means the mix
                # had no real common type — that's instability, not a
                # stringly-typed column
                if isinstance(merged, T.StringType) and not (
                        isinstance(t, T.StringType)
                        and isinstance(vt, T.StringType)):
                    raise TypeUnstableError(
                        f"{t.simpleString()} vs {vt.simpleString()}")
                t = merged
            else:
                t = vt
    return (t or T.NullType()), nullable or t is None


class UDFRow:
    """Row passed to fallback UDFs: supports both positional (x[0]) and
    column-name (x['col']) access, mirroring the reference's dict-access
    rewriting (core/src/UDF.cc rewriteDictAccessInAST) at runtime."""
    __slots__ = ("_v", "_names")

    def __init__(self, values, names):
        self._v = tuple(values)
        self._names = names

    def __getitem__(self, k):
        if isinstance(k, str):
            return self._v[self._names.index(k)]
        return self._v[k]

    def __len__(self):
        return len(self._v)

    def __iter__(self):
        return iter(self._v)

    def __eq__(self, other):
        return tuple(self) == tuple(other)

    def __repr__(self):
        return repr(self._v)


def _apply(fn, row, arity, names=None):
    """Call fn the way the reference calls row UDFs: a single-column row is
    passed as the bare value, a multi-column row as one row arg (positional
    + named access) unless the function declares matching arity.  A single
    tuple-typed column auto-unpacks into a matching multi-param UDF."""
    if isinstance(row, (tuple, UDFRow)):
        if arity == len(row) and arity > 1:
            return fn(*row)
        if len(row) == 1:
            inner = tuple(row)[0]
            if isinstance(inner, tuple) and arity == len(inner) \
                    and arity > 1:
                return fn(*inner)
            return fn(inner)
        if names is not None and not isinstance(row, UDFRow):
            row = UDFRow(row, names)
        return fn(row)
    return fn(row)


def _conforms(v, t: T.DataType) -> bool:
    """Shallow runtime check that a produced Python value fits the
    declared (sample-inferred) Spark type.  Rows that fail become
    NormalCaseViolation exception rows rather than crashing the Arrow
    serializer for the whole batch — at scale one odd row must never
    kill a stage."""
    if v is None:
        return True
    if isinstance(t, T.NullType):
        return False
    if isinstance(t, T.BooleanType):
        return isinstance(v, bool)
    if isinstance(t, (T.LongType, T.IntegerType)):
        return isinstance(v, int) and not isinstance(v, bool)
    if isinstance(t, T.DoubleType):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if isinstance(t, T.StringType):
        return isinstance(v, str)
    if isinstance(t, T.BinaryType):
        return isinstance(v, (bytes, bytearray))
    if isinstance(t, T.ArrayType):
        return isinstance(v, list)
    if isinstance(t, T.MapType):
        return isinstance(v, dict)
    if isinstance(t, T.StructType):
        return isinstance(v, (tuple, dict))
    return True


def _clean(v):
    """numpy / pandas scalars -> python scalars.  NaN maps to None — the
    legacy ambiguous path for callers that provide no null flags (Arrow
    nulls surface as NaN in pandas float columns, so without a flag NaN
    must be read as null)."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (str, bytes)):
        try:
            return v.item()
        except Exception:
            return v
    return v


_INT_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _clean_typed(v, t):
    """Exact scalar extraction when the caller supplies per-row null
    flags: NaN stays NaN (``str(float('nan')) == 'nan'``, not None), and
    integer columns that pandas upcast to float64 (because the Arrow
    batch had nulls elsewhere) come back as Python ints."""
    if v is None:
        return None
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (str, bytes)):
        try:
            v = v.item()
        except Exception:
            pass
    if isinstance(t, _INT_TYPES) and isinstance(v, float):
        return int(v)
    return v


_VARIANT_ARMS = {1: "__vb", 2: "__vi", 3: "__vf", 4: "__vs"}


def _struct_to_tuple(v, t: T.DataType):
    """Arrow hands struct columns to pandas as dicts; the engine's tuple
    convention (_0.._n fields) must surface as Python tuples in UDFs,
    and variant structs (compiled mixed-type returns) as the exact
    per-row Python value."""
    if (isinstance(t, T.StructType) and t.fields
            and t.fields[0].name == "__vt"):
        # the tag picks the arm: a null arm may read NaN, not None
        arm = _VARIANT_ARMS.get(v.get("__vt")) if v is not None else None
        f = next((f for f in t.fields if f.name == arm), None)
        return None if f is None else _struct_to_tuple(v.get(f.name),
                                                       f.dataType)
    if (isinstance(t, T.StructType) and len(t.fields) == 1
            and t.fields[0].name == "__sv"
            and isinstance(t.fields[0].dataType, T.ArrayType)):
        # compiled set return (compiler.is_set_struct)
        if v is None:
            return None
        inner = v.get("__sv") if isinstance(v, dict) else v[0]
        return set(inner) if inner is not None else None
    if v is None:
        return None
    if isinstance(t, T.StructType) and isinstance(v, dict):
        return tuple(_struct_to_tuple(v.get(f.name), f.dataType)
                     for f in t.fields)
    if isinstance(t, T.ArrayType) and isinstance(v, list):
        return [_struct_to_tuple(x, t.elementType) for x in v]
    if isinstance(t, _INT_TYPES) and isinstance(v, float):
        # pandas upcasts an int field with nulls in the batch to float
        return int(v)
    return v


def make_row_runner(fn, in_fields: list[str], in_types: list | None,
                    out_types: list, out_kind: str,
                    out_keys: list | None = None,
                    row_names: list[str] | None = None,
                    null_flags: dict | None = None,
                    keep: list[str] = (), capture: bool = True):
    """Build the ``mapInPandas`` function applying ``fn`` row-at-a-time.

    in_fields:  input columns, in row order
    in_types:   their Spark types (struct inputs -> tuples); None means
                ``in_fields`` is one column of pickled Python objects
    out_types:  Spark types of the outputs, written to out_col(i)
    out_kind:   how a result splits into outputs: 'scalar' | 'tuple' |
                'dict' (by ``out_keys``) | 'fill' (a resolver: a tuple's
                items, a dict's values or a scalar fill the outputs by
                position, missing ones are None — as a compiled
                resolver's columns do) | 'pred' (filter predicates use
                Python TRUTHINESS — a UDF may return any object, e.g. a
                regex match) | 'pickle' (one pickled-object column)
    row_names:  names for ``x['col']`` access (default: in_fields)
    null_flags: {in_field: bool_flag_column} — flag is True exactly when
                the field is NULL, computed JVM-side before the Arrow
                hand-off.  Disambiguates null from NaN (pandas shows
                both as NaN in float64) and lets nulls-elsewhere-upcast
                int columns surface as Python ints again.
    keep:       columns copied to the output unchanged
    capture:    write each row's exception code to ROW_CODE; without it
                the first exception fails the task
    """
    import pickle

    arity = arity_of(fn)
    # a pickled object reaches the UDF as itself, never as a named row
    names = None if in_types is None else list(row_names or in_fields)
    null_flags = null_flags or {}
    n_out = len(out_types)

    def decode(pdf):
        if in_types is None:
            return [None if b is None else pickle.loads(bytes(b))
                    for b in pdf[in_fields[0]]]
        cols = []
        for f, t in zip(in_fields, in_types):
            vals = pdf[f].tolist()
            flag = null_flags.get(f)
            if flag is not None:
                vals = [None if z else _clean_typed(v, t)
                        for v, z in zip(vals, pdf[flag].tolist())]
            else:
                vals = [_clean(v) for v in vals]
            if isinstance(t, (T.StructType, T.ArrayType)):
                vals = [_struct_to_tuple(v, t) for v in vals]
            cols.append(vals)
        return cols[0] if len(cols) == 1 else list(zip(*cols))

    def encode(r):
        if out_kind == "pickle":
            return [pickle.dumps(r)]
        if out_kind == "pred":
            return [bool(r)]
        if out_kind == "fill":
            vals = list(r.values()) if isinstance(r, dict) else \
                list(r) if isinstance(r, tuple) else [r]
            vals = (vals + [None] * n_out)[:n_out]
        elif out_kind == "tuple":
            vals = [r[j] for j in range(n_out)]
        elif out_kind == "dict":
            vals = [r[k] for k in out_keys]
        else:
            vals = [r]
        if not all(_conforms(v, t) for v, t in zip(vals, out_types)):
            raise NormalCaseViolation(
                f"UDF output {vals!r} does not fit the sample-inferred "
                "schema")
        return vals

    def run(batches):
        import pandas as pd
        for pdf in batches:
            n = len(pdf)
            gate = pdf[GATE].tolist() if GATE in pdf.columns else None
            outs = [[None] * n for _ in range(n_out)]
            codes = [0] * n
            for i, row in enumerate(decode(pdf)):
                if gate is not None and not gate[i]:
                    continue
                try:
                    vals = encode(_apply(fn, row, arity, names))
                except Exception as e:
                    if not capture:
                        raise
                    codes[i] = code_for_instance(e)
                    continue
                for col, v in zip(outs, vals):
                    col[i] = v
            data = {f: pdf[f] for f in keep}
            data.update((out_col(j), col) for j, col in enumerate(outs))
            if capture:
                data[ROW_CODE] = codes
            yield pd.DataFrame(data)

    return run
