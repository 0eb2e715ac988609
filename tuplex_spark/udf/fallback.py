"""The interpreter path (the "general case"): one row runner.

Reference analog: the pure-Python pipeline fallback
(core/src/physical/PythonPipelineBuilder.cc) plus the resolve tasks
(core/include/physical/ResolveTask.h) that run the rows CPython can
handle but the compiled path can't.  Every UDF or resolver that does not
compile runs through ``make_row_runner``: the original function object
is cloudpickled into one ``mapInArrow`` stage and applied row-at-a-time.
Arrow is the only way any Python value crosses the boundary: the row
runner's and the folds' batches, and the driver's own crossings
(``to_frame`` in, ``from_frame`` out).

- input: ``decode_columns`` turns each input column (``to_pylist()``,
  or numpy where that gives the same values) into the exact values
  CPython would see (None stays None, NaN stays NaN, ints stay ints,
  structs become tuples, maps dicts, timestamps naive UTC datetimes),
  or unpickles one pickled-object column;
- output: results are checked by ``typeutils.conforms`` — a value that
  misfits the declared type becomes a NormalCaseViolation row — laid
  out by ``typeutils.coerce`` and built into Arrow arrays of the Spark
  output type (``encode_column``), or pickled;
  pass-through columns go back as the input batch's own Arrow arrays;
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

from pyspark.sql import types as T

from ..exceptions import code_for_instance
from ..typeutils import SET_FIELD, VARIANT_ARMS, VARIANT_TAG, coerce, \
    conforms, infer_type, is_set_struct, is_variant_struct, widen

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

    Returns ([(dict key or None, Spark type)] per output, out_kind)
    where out_kind is 'scalar' | 'tuple' | 'dict'.  An output whose
    scalars have no common type but all come from the bool/int/float/
    str families is the compiler's variant struct
    (``typeutils.VARIANT_ARMS``).
    Raises AllSampleRowsFailed when there are no results and
    TypeUnstableError on heterogeneous result shapes or any other mix.
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
        return [(None, _output_type(results))], kind
    keys = list(r0.keys()) if kind == "dict" else range(len(r0))
    return [(k if kind == "dict" else None,
             _output_type([r[k] for r in results]))
            for k in keys], kind


def _output_type(values) -> T.DataType:
    t, _ = widen(values)
    if t is not None:
        return t
    arms = {}
    for v in values:
        if v is not None:
            arms.setdefault(type(v).__name__, infer_type(v))
    if not arms.keys() <= VARIANT_ARMS.keys():
        raise TypeUnstableError(
            "sampled outputs have no common type: "
            + ", ".join(sorted(arms)))
    present = sorted(arms, key=lambda f: VARIANT_ARMS[f].code)
    return T.StructType(
        [T.StructField(VARIANT_TAG, T.IntegerType(), True)]
        + [T.StructField(VARIANT_ARMS[f].field, arms[f], True)
           for f in present])


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


_ARM_OF_CODE = {a.code: a.field for a in VARIANT_ARMS.values()}
# types whose Arrow Python values need _struct_to_tuple
_WALKED = (T.StructType, T.ArrayType, T.MapType, T.TimestampType)
# types whose numpy conversion gives to_pylist's exact values, an order
# of magnitude faster: always (object arrays keep None), or only without
# nulls (numpy shows a null int or float as NaN)
_NUMPY_EXACT = (T.StringType, T.BinaryType, T.BooleanType)
_NUMPY_NO_NULLS = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                   T.DoubleType, T.FloatType)


def _struct_to_tuple(v, t: T.DataType):
    """One value as Arrow's ``to_pylist`` hands it over -> the value
    CPython would see: structs (dicts) become tuples, maps (lists of
    pairs) dicts, UTC-aware timestamps naive datetimes (the session time
    zone is UTC); variant and set structs (compiled mixed-type and set
    returns) become the exact per-row Python value, picked by tag."""
    if v is None:
        return None
    if isinstance(t, T.StructType):
        if is_variant_struct(t):
            arm = _ARM_OF_CODE.get(v[VARIANT_TAG])
            f = next((f for f in t.fields if f.name == arm), None)
            return None if f is None else _struct_to_tuple(v[arm],
                                                           f.dataType)
        if is_set_struct(t):
            inner = _struct_to_tuple(v[SET_FIELD], t.fields[0].dataType)
            return None if inner is None else set(inner)
        return tuple(_struct_to_tuple(v[f.name], f.dataType)
                     for f in t.fields)
    if isinstance(t, T.ArrayType):
        return [_struct_to_tuple(x, t.elementType) for x in v]
    if isinstance(t, T.MapType):
        return {_struct_to_tuple(k, t.keyType):
                _struct_to_tuple(x, t.valueType) for k, x in v}
    if isinstance(t, T.TimestampType):
        return v.replace(tzinfo=None)
    return v


def decode_columns(data, fields: list, types: list) -> list[list]:
    """Columns ``fields`` (names or positions) of an Arrow RecordBatch or
    Table -> one list of exact Python values per column: the one decoder
    of Python rows."""
    cols = []
    for f, t in zip(fields, types):
        arr = data.column(f)
        if isinstance(t, _NUMPY_EXACT) or (isinstance(t, _NUMPY_NO_NULLS)
                                           and not arr.null_count):
            vals = arr.to_numpy(zero_copy_only=False).tolist()
        else:
            vals = arr.to_pylist()
            if isinstance(t, _WALKED):
                vals = [_struct_to_tuple(v, t) for v in vals]
        cols.append(vals)
    return cols


def decode_values(data, fields: list, types: list | None) -> list[list]:
    """``decode_columns``, or with ``types`` None the one column of
    pickled Python objects ``fields[0]`` unpickled."""
    if types is None:
        import pickle
        return [[None if b is None else pickle.loads(b)
                 for b in data.column(fields[0]).to_pylist()]]
    return decode_columns(data, fields, types)


def encode_column(values: list, t: T.DataType):
    """Python values already checked by ``conforms`` and laid out by
    ``coerce`` -> an Arrow array of Spark type ``t`` (tuples fill
    structs, NaN stays NaN)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    return pa.array(values, type=to_arrow_type(t))


def to_frame(spark, rows: list[tuple], schema: T.StructType):
    """Rows laid out by ``coerce`` -> a DataFrame of ``schema``: one
    Arrow table of ``encode_column`` arrays (naive datetimes as UTC,
    whatever the driver's time zone), handed to the JVM as it is.
    ``createDataFrame(table)`` would rebuild nested arrays first, losing
    struct field nullability (a tuple holding a tuple or a datetime
    fails to cast) and, before pyarrow 17, a null map's null."""
    import pyarrow as pa
    from pyspark.sql import DataFrame
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [encode_column(list(c), f.dataType)
         for c, f in zip(cols, schema.fields)],
        names=schema.fieldNames())
    # one batch per partition (build_session's localRelationThreshold)
    sc = spark.sparkContext
    size = max(1, -(-table.num_rows // sc.defaultParallelism))
    jvm = spark._jvm
    batches = sc._serialize_to_jvm(
        table.to_batches(size), ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile, jvm.ArrowIteratorServer)
    return DataFrame(jvm.PythonSQLUtils.toDataFrame(
        batches, schema.json(), spark._jsparkSession), spark)


def from_frame(df) -> list[tuple]:
    """A DataFrame's rows as tuples of the values CPython would see,
    decoded from the Arrow batches the JVM sends.  Not through
    ``toArrow()``: its cast to the schema fails on a null struct whose
    fields are not nullable."""
    types = [f.dataType for f in df.schema.fields]
    rows = []
    for batch in df._collect_as_arrow():
        cols = decode_columns(batch, range(batch.num_columns), types)
        rows += zip(*cols) if cols else [()] * batch.num_rows
    return rows


def make_row_runner(fn, in_fields: list[str], in_types: list | None,
                    out_types: list, out_kind: str,
                    out_keys: list | None = None,
                    row_names: list[str] | None = None,
                    keep: list[str] = ()):
    """Build the ``mapInArrow`` function applying ``fn`` row-at-a-time.
    A row on which ``fn`` raises, or whose result misfits ``out_types``
    (NormalCaseViolation), gets its exception code in the ROW_CODE
    output and None in every out_col(i); the others get code 0.

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
    keep:       columns copied to the output unchanged, as the input
                batch's own Arrow arrays
    """
    import pickle

    arity = arity_of(fn)
    # a pickled object reaches the UDF as itself, never as a named row
    names = None if in_types is None else list(row_names or in_fields)
    n_out = len(out_types)
    out_names = list(keep) + [out_col(j) for j in range(n_out)] + [ROW_CODE]

    def decode(batch):
        cols = decode_values(batch, in_fields, in_types)
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
        if not all(conforms(v, t) for v, t in zip(vals, out_types)):
            raise NormalCaseViolation(
                f"UDF output {vals!r} does not fit the sample-inferred "
                "schema")
        return [coerce(v, t) for v, t in zip(vals, out_types)]

    def run(batches):
        import pyarrow as pa
        for batch in batches:
            n = batch.num_rows
            gate = decode_columns(batch, [GATE], [T.BooleanType()])[0] \
                if GATE in batch.schema.names else None
            outs = [[None] * n for _ in range(n_out)]
            codes = [0] * n
            for i, row in enumerate(decode(batch)):
                if gate is not None and not gate[i]:
                    continue
                try:
                    vals = encode(_apply(fn, row, arity, names))
                except Exception as e:
                    codes[i] = code_for_instance(e)
                    continue
                for col, v in zip(outs, vals):
                    col[i] = v
            arrays = [batch.column(f) for f in keep]
            arrays += [encode_column(col, t)
                       for col, t in zip(outs, out_types)]
            arrays.append(pa.array(codes, type=pa.int32()))
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return run
