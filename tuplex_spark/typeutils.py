"""The one type lattice: which Spark type a Python value has.

Replicates the reference's lattice (utils/include/TypeSystem.h:253
``superType``: bool -> int -> float; Option[T] for nullable) on Spark
types.  Every sampler types values here, and the compiler merges
arms on the same order:

- ``Context.parallelize`` (schema of the rows it keeps, ``conforms``
  and ``coerce`` for every row before the one ``createDataFrame``);
- ``sources/csv_inference`` (widening of sampled cell types);
- ``udf/fallback`` (``infer_output_type`` over a UDF's sampled
  results, ``conforms``/``coerce`` for every row the runner writes);
- ``operators/aggregate`` (the keyed fold's state);
- ``udf/compiler`` (``_unify_tags`` meets two arms' tags in
  ``super_type``; ``Translator._as`` casts each arm to the shared type);
- ``DataSet.types`` of a PYOBJECT dataset (``dataset._py_type_of_value``).

Two vote rules pick the normal case, on purpose, because the inputs
differ.  CSV cells are text: the most specific type that covers
``tuplex.normalcaseThreshold`` of the cells wins, else string, which
loses nothing.  ``parallelize`` values are typed Python objects: the
plurality family (values whose types have a ``super_type``) wins and
widens within itself, so ``[1, 2.5, True]`` keeps every row.
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import types as T


def _numeric_rank(t: T.DataType) -> int | None:
    """Position in the reference's numeric lattice bool < int < float
    (TypeSystem.h:253 superType)."""
    if isinstance(t, T.BooleanType):
        return 0
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return 1
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return 2
    return None


# exact Python scalar type -> Spark type (subclasses take the long way)
_SCALARS = {bool: T.BooleanType(), int: T.LongType(), float: T.DoubleType(),
            str: T.StringType(), bytes: T.BinaryType(),
            bytearray: T.BinaryType()}


def infer_type(value) -> T.DataType | None:
    """Spark type of one Python value; None for Python ``None`` and for
    values no Spark type holds (callers pickle those as PYOBJECT)."""
    t = _SCALARS.get(type(value))
    if t is not None or value is None:
        return t
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, str):
        return T.StringType()
    if isinstance(value, (bytes, bytearray)):
        return T.BinaryType()
    if isinstance(value, tuple):
        if not value:
            # unit type: Spark has no empty struct (reference:
            # TypeSystem EMPTYTUPLE)
            return None
        fields = []
        for i, v in enumerate(value):
            t = infer_type(v)
            if t is None and v is not None:
                return None  # nested unrepresentable value
            fields.append(T.StructField(f"_{i}", t or T.NullType(),
                                        v is None))
        return T.StructType(fields)
    # list elements and map values are declared nullable, whatever the
    # sample holds: a later [x, None] among sampled [x, x] is the
    # general case (Option[T]), not a violation, as on the compiled path
    if isinstance(value, list):
        elem, _ = widen(value)
        if elem is None:
            return None  # unrepresentable or mixed elements
        return T.ArrayType(elem, containsNull=True)
    if isinstance(value, dict):
        kt, _ = widen(value.keys())
        vt, _ = widen(value.values())
        if kt is None or vt is None or None in value:
            return None
        return T.MapType(T.StringType() if isinstance(kt, T.NullType)
                         else kt, vt, valueContainsNull=True)
    if isinstance(value, datetime.datetime):
        return T.TimestampType()
    if isinstance(value, datetime.date):
        return T.DateType()
    return None


def super_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Least common supertype (numeric lattice bool < long < double,
    NullType below everything, containers element-wise); None when the
    two types have none."""
    if a is b or a == b:
        return a
    ra, rb = _numeric_rank(a), _numeric_rank(b)
    if ra is not None and rb is not None:
        return a if ra >= rb else b
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        e = super_type(a.elementType, b.elementType)
        return None if e is None else \
            T.ArrayType(e, a.containsNull or b.containsNull)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType) \
            and a.fieldNames() == b.fieldNames():
        fields = []
        for fa, fb in zip(a.fields, b.fields):
            t = super_type(fa.dataType, fb.dataType)
            if t is None:
                return None
            fields.append(T.StructField(fa.name, t,
                                        fa.nullable or fb.nullable))
        return T.StructType(fields)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        k = super_type(a.keyType, b.keyType)
        v = super_type(a.valueType, b.valueType)
        return None if k is None or v is None else \
            T.MapType(k, v, a.valueContainsNull or b.valueContainsNull)
    return None


def widen(values) -> tuple[T.DataType | None, bool]:
    """(common type, nullable) of Python values.  The type is None when
    a value has no Spark type or two values have no common type;
    NullType when every value is None."""
    t = None
    nullable = False
    for v in values:
        vt = infer_type(v)
        if vt is None:
            if v is not None:
                return None, nullable
            nullable = True
        elif t is None:
            t = vt
        else:
            t = super_type(t, vt)
            if t is None:
                return None, nullable
    return (t or T.NullType()), nullable or t is None


def infer_schema_from_rows(rows, columns: list[str] | None = None) -> T.StructType:
    """Schema for a list of Python rows (scalars or tuples), widening
    column-wise; None contributes nullability (Option[T] semantics)."""
    width = None
    for r in rows:
        w = len(r) if isinstance(r, tuple) else 1
        if width is None:
            width = w
        elif width != w:
            raise ValueError(f"non-uniform row width: {width} vs {w}")
    width = width or 1
    cols = list(zip(*[r if isinstance(r, tuple) else (r,) for r in rows])) \
        or [()] * width
    names = columns or [f"column{i}" for i in range(width)]
    fields = []
    for name, col in zip(names, cols):
        t, nullable = widen(col)
        if t is None:
            raise ValueError(f"column {name!r} has no common type")
        fields.append(T.StructField(name, t, nullable))
    return T.StructType(fields)


# ints each numeric type holds (a double takes any int64)
_INT_BOUND = {T.LongType: 2 ** 63, T.IntegerType: 2 ** 31,
              T.ShortType: 2 ** 15, T.ByteType: 2 ** 7,
              T.DoubleType: 2 ** 63, T.FloatType: 2 ** 63}
# the Python type each arm of a variant struct holds (compiler's
# _VARIANT_FIELDS: __vt is the tag, one nullable field per family)
_VARIANT_ARMS = {bool: ("__vb", 1), int: ("__vi", 2), float: ("__vf", 3),
                 str: ("__vs", 4)}
_ATOMIC = {T.StringType: str, T.BinaryType: (bytes, bytearray),
           T.TimestampType: datetime.datetime,
           T.TimestampNTZType: datetime.datetime,
           T.DateType: datetime.date, T.DecimalType: decimal.Decimal}


def _is_variant(t: T.DataType) -> bool:
    return isinstance(t, T.StructType) and bool(t.fields) \
        and t.fields[0].name == "__vt"


def conforms(v, t: T.DataType) -> bool:
    """True when Python value ``v`` fits Spark type ``t``: ``t`` is a
    supertype of ``v``'s type, ints lie in the type's range, and nested
    values fit their element, value and field types and nullability.
    A variant struct takes a scalar of any family it has an arm for."""
    if v is None:
        return True
    tt = type(t)
    if tt in _INT_BOUND:
        if isinstance(v, float):
            return tt in (T.DoubleType, T.FloatType)
        bound = _INT_BOUND[tt]
        return isinstance(v, int) and -bound <= v < bound
    if tt is T.BooleanType:
        return isinstance(v, bool)
    if tt in _ATOMIC:
        return isinstance(v, _ATOMIC[tt])
    if tt is T.ArrayType:
        return isinstance(v, list) and all(
            conforms(x, t.elementType) if x is not None else t.containsNull
            for x in v)
    if tt is T.MapType:
        return isinstance(v, dict) and all(
            k is not None and conforms(k, t.keyType)
            and (conforms(x, t.valueType) if x is not None
                 else t.valueContainsNull)
            for k, x in v.items())
    if tt is T.StructType:
        if _is_variant(t):
            arm = _VARIANT_ARMS.get(type(v))
            return arm is not None and arm[0] in t.fieldNames() and \
                (type(v) is not int or -2 ** 63 <= v < 2 ** 63)
        if isinstance(v, dict):
            v = tuple(v.get(n) for n in t.fieldNames())
        return isinstance(v, tuple) and len(v) == len(t.fields) and all(
            conforms(x, f.dataType) if x is not None else f.nullable
            for x, f in zip(v, t.fields))
    return not isinstance(t, T.NullType)


def coerce(v, t: T.DataType):
    """A value that ``conforms`` to ``t``, laid out as ``t`` stores it:
    bools and ints upcast along the lattice (Spark's createDataFrame
    verifier and ``pa.array`` take no int for a double nor a bool for a
    long; the widened type IS the declared semantics), and a scalar in
    a variant struct becomes ``{"__vt": tag, arm: value}``."""
    if v is None:
        return None
    tt = type(t)
    if tt in (T.DoubleType, T.FloatType):
        return float(v)
    if tt in (T.LongType, T.IntegerType, T.ShortType, T.ByteType):
        return int(v)
    if tt is T.StructType:
        if _is_variant(t):
            arm, tag = _VARIANT_ARMS[type(v)]
            return {"__vt": tag, arm: v}
        if isinstance(v, dict):
            v = tuple(v.get(n) for n in t.fieldNames())
        return tuple(coerce(x, f.dataType) for x, f in zip(v, t.fields))
    if tt is T.ArrayType:
        return [coerce(x, t.elementType) for x in v]
    if tt is T.MapType:
        return {coerce(k, t.keyType): coerce(x, t.valueType)
                for k, x in v.items()}
    return v
