"""Aggregate operators: (combine, aggregate, initial_value) fold triples.

Reference model: core/include/logical/AggregateOperator.h (AGG_GENERAL /
AGG_BYKEY / AGG_UNIQUE), python surface dataset.py:593-704.

Spark-first strategy: a *recognizer* inspects the ``aggregate`` UDF's AST
and, when each state slot evolves as ``state + expr(row)`` /
``min(state, expr)`` / ``max(state, expr)``, lowers the fold onto native
Catalyst aggregates (F.sum/F.min/F.max with map-side partial aggregation —
the built-in analog of the reference's thread-local hash-agg + combine,
LocalBackend.cc:912-919).  Unrecognizable folds run the fold UDF in
Python over rows decoded by the row runner's ``decode_columns``, in one
fold loop (``_fold``): per partition in ``mapInArrow`` (whole-dataset;
the driver combines the pickled partial states with ``combine``) or per
group in ``applyInArrow`` (by key) — still a distributed partial/final
fold, just not codegen'd.  Both hand the fold UDF the values CPython
would see: struct columns as tuples, NaN as NaN, ints as ints.
"""

from __future__ import annotations

import ast
import copy
import functools
import pickle

from pyspark.sql import functions as F, types as T

from ..udf import reflection
from ..udf.compiler import CompileError, SRow, Translator
from ..exceptions import code_for
from ..typeutils import coerce, conforms, infer_type
from ..udf import fallback as FB


class _Slot:
    def __init__(self, op: str, col, tag: str, init):
        self.op, self.col, self.tag, self.init = op, col, tag, init


def _body_expr(node):
    if isinstance(node, ast.Lambda):
        return node.body
    stmts = [s for s in node.body
             if not (isinstance(s, ast.Expr)
                     and isinstance(s.value, ast.Constant))]
    if len(stmts) == 1 and isinstance(stmts[0], ast.Return):
        return stmts[0].value
    raise CompileError("aggregate UDF must be a single expression")


def _agg_ref_slot(node, agg_name: str, n_slots: int):
    """Return slot index if node is exactly the agg state (or a slot)."""
    if isinstance(node, ast.Name) and node.id == agg_name:
        return -1  # whole scalar state
    if isinstance(node, ast.Subscript) and \
            isinstance(node.value, ast.Name) and node.value.id == agg_name \
            and isinstance(node.slice, ast.Constant) \
            and isinstance(node.slice.value, int):
        return node.slice.value
    return None


def _mentions(node, name: str) -> bool:
    return any(isinstance(n, ast.Name) and n.id == name
               for n in ast.walk(node))


def recognize(aggregate_fn, combine_fn, initial_value, schema: T.StructType):
    """Try to lower the fold onto native aggregates; None if not possible."""
    try:
        node = reflection.function_ast(aggregate_fn)
    except Exception:
        return None
    params = [a.arg for a in node.args.args]
    if len(params) != 2:
        return None
    agg_name, row_name = params
    try:
        body = _body_expr(node)
    except CompileError:
        return None

    inits = list(initial_value) if isinstance(initial_value, tuple) \
        else [initial_value]
    # native lowering only for numeric scalar state slots
    if not all(isinstance(i, (int, float)) and not isinstance(i, bool)
               for i in inits):
        return None
    slots_ast = list(body.elts) if isinstance(body, ast.Tuple) else [body]
    if isinstance(body, ast.Tuple) != isinstance(initial_value, tuple) \
            or len(slots_ast) != len(inits):
        return None

    env = reflection.closure_env(aggregate_fn)
    slots: list[_Slot] = []
    for i, (sl, init) in enumerate(zip(slots_ast, inits)):
        want = -1 if not isinstance(body, ast.Tuple) else i
        parsed = _match_slot(sl, agg_name, row_name, want, env, schema)
        if parsed is None:
            return None
        parsed.init = init
        slots.append(parsed)
    if not _combine_matches(combine_fn, [s.op for s in slots]):
        return None
    return slots


def _match_slot(sl, agg_name, row_name, want, env, schema):
    def is_ref(n):
        return _agg_ref_slot(n, agg_name, 10 ** 6) == want

    op = None
    expr_ast = None
    if isinstance(sl, ast.BinOp) and isinstance(sl.op, ast.Add):
        if is_ref(sl.left) and not _mentions(sl.right, agg_name):
            op, expr_ast = "sum", sl.right
        elif is_ref(sl.right) and not _mentions(sl.left, agg_name):
            op, expr_ast = "sum", sl.left
    elif isinstance(sl, ast.Call) and isinstance(sl.func, ast.Name) \
            and sl.func.id in ("min", "max") and len(sl.args) == 2:
        a, b = sl.args
        if is_ref(a) and not _mentions(b, agg_name):
            op, expr_ast = sl.func.id, b
        elif is_ref(b) and not _mentions(a, agg_name):
            op, expr_ast = sl.func.id, a
    if op is None:
        return None
    tr = Translator(schema, env, with_guards=False)
    if len(schema.fields) == 1:
        tr._locals[row_name] = tr._field_sym(schema.fields[0])
    else:
        tr._locals[row_name] = SRow(tr)
    try:
        sym = tr.eval(expr_ast)
        col = tr.to_col(sym)
    except CompileError:
        return None
    if sym.tag not in ("bool", "int", "float"):
        return None
    return _Slot(op, col, sym.tag, None)


def _combine_matches(combine_fn, ops) -> bool:
    """Light shape check: combine must be the matching monoid."""
    try:
        node = reflection.function_ast(combine_fn)
        params = [a.arg for a in node.args.args]
        if len(params) != 2:
            return False
        body = _body_expr(node)
    except Exception:
        return False
    slots = list(body.elts) if isinstance(body, ast.Tuple) else [body]
    if len(slots) != len(ops):
        return False
    for sl, op in zip(slots, ops):
        if op == "sum":
            if not (isinstance(sl, ast.BinOp) and isinstance(sl.op, ast.Add)):
                return False
        else:
            if not (isinstance(sl, ast.Call)
                    and isinstance(sl.func, ast.Name)
                    and sl.func.id == op):
                return False
    return True


def _slot_agg_col(slot: _Slot, name: str):
    init = slot.init
    if slot.op == "sum":
        zero = F.lit(0).cast("double") if isinstance(init, float) \
            else F.lit(0)
        base = F.coalesce(F.sum(slot.col), zero)
        if init:
            base = base + F.lit(init)
        out_is_float = slot.tag == "float" or isinstance(init, float)
        return base.cast("double" if out_is_float else "long").alias(name)
    f = F.min if slot.op == "min" else F.max
    cmb = F.least if slot.op == "min" else F.greatest
    base = cmb(f(slot.col), F.lit(init))
    out_is_float = slot.tag == "float" or isinstance(init, float)
    return base.cast("double" if out_is_float else "long").alias(name)


def aggregate_general(ds, combine, aggregate, initial_value, keys):
    from ..dataset import DataSet, _exact

    df, parked = ds._split_exceptions()
    schema = ds._schema_of_visible()
    # the fold UDF receives the FULL row (key columns included) — reference
    # behavior per test_aggregates.py:45 (x['volume'] on ['id','volume'])
    slots = recognize(aggregate, combine, initial_value, schema)
    n_out = len(initial_value) if isinstance(initial_value, tuple) else 1
    out_names = [f"column{i}" for i in range(n_out)] if n_out > 1 \
        else ["column0"]

    if slots is not None:
        aggs = [_slot_agg_col(s, n) for s, n in zip(slots, out_names)]
        if keys:
            out = df.groupBy(*keys).agg(*aggs)
            cols = list(keys) + out_names
        else:
            out = df.agg(*aggs)
            cols = out_names
        return DataSet(ds._ctx, out, cols, sample=[], parked=parked,
                       op_seq=ds._op_seq + 1)

    # ---- generic fold fallback ----
    if keys:
        return _fold_by_key(ds, df, parked, combine, aggregate,
                            initial_value, keys, schema, out_names)
    # the fold runs now, in a job of its own: no action job observes
    # the splits it consumes
    parked = _exact(parked, "an eager fold consumed the split")
    cols = [f.name for f in schema.fields]
    in_types = [f.dataType for f in schema.fields]

    def partial(batches):
        # one pickled state per partition; the driver combines them
        import pyarrow as pa
        state = copy.deepcopy(initial_value)
        for batch in batches:
            state = _fold(aggregate, state, batch, cols, in_types)
        yield pa.RecordBatch.from_arrays(
            [pa.array([pickle.dumps(state)], pa.binary())],
            names=["__state"])
    states = [pickle.loads(r[0]) for r in FB.from_frame(
        df.mapInArrow(partial, "__state binary"))]
    result = functools.reduce(combine, states) if states \
        else copy.deepcopy(initial_value)
    outs = result if isinstance(result, tuple) else (result,)
    stypes = [infer_type(v) or T.NullType() for v in outs]
    out_schema = T.StructType([
        T.StructField(n, t, True) for n, t in zip(out_names, stypes)])
    out = FB.to_frame(ds._ctx.spark,
                      [tuple(coerce(v, t) for v, t in zip(outs, stypes))],
                      out_schema)
    return DataSet(ds._ctx, out, out_names, sample=[result], parked=parked,
                   op_seq=ds._op_seq + 1)


def _fold(aggregate, state, data, cols, in_types):
    """``state`` folded with ``aggregate`` over the rows of Arrow
    ``data``, each row decoded as CPython sees it: one column's value
    bare, several as a ``UDFRow``."""
    for row in zip(*FB.decode_columns(data, cols, in_types)):
        state = aggregate(state, FB.UDFRow(row, cols) if len(row) != 1
                          else row[0])
    return state


def _fold_by_key(ds, df, parked, combine, aggregate, initial_value, keys,
                 schema, out_names):
    """applyInArrow fold per key.  The state's types come from folding
    the plan-time sample; a group whose final state does not fit them
    becomes one NormalCaseViolation row (null state, no payload, this
    op's tag) instead of a value ``pa.array`` would truncate."""
    from ..dataset import DataSet

    cols = [f.name for f in schema.fields]
    # output type: fold the plan-time sample to observe the state type
    state = copy.deepcopy(initial_value)
    for row in ds._sample[:50]:
        r = row if isinstance(row, tuple) else (row,)
        try:
            state = aggregate(state,
                              FB.UDFRow(r, cols) if len(r) != 1 else r[0])
        except Exception:
            continue
    outs = state if isinstance(state, tuple) else (state,)
    stypes = [infer_type(v) or T.DoubleType() for v in outs]
    key_fields = [schema[k] for k in keys]
    capture = ds._exc_enabled
    hidden = [T.StructField(FB.EXC_CODE, T.IntegerType(), False),
              T.StructField(FB.EXC_PAYLOAD, T.StringType(), True),
              T.StructField(FB.EXC_OP, T.StringType(), True)] \
        if capture else []
    out_schema = T.StructType(
        list(key_fields) + [T.StructField(n, t, True)
                            for n, t in zip(out_names, stypes)] + hidden)

    init = initial_value
    in_types = [f.dataType for f in schema.fields]
    op_name = ds._next_op("aggregateByKey")
    violation = code_for("NormalCaseViolation")

    def fold(table):
        import pyarrow as pa
        state = _fold(aggregate, copy.deepcopy(init), table, cols,
                      in_types)
        outs = state if isinstance(state, tuple) else (state,)
        fits = len(outs) == len(stypes) and all(
            conforms(v, t) for v, t in zip(outs, stypes))
        if not (fits or capture):
            raise FB.NormalCaseViolation(
                f"fold state {state!r} does not fit the sample-inferred "
                "schema")
        if not fits:
            outs = [None] * len(stypes)
        arrays = [table.column(k).slice(0, 1) for k in keys]
        arrays += [FB.encode_column([coerce(v, t)], t)
                   for v, t in zip(outs, stypes)]
        if capture:
            arrays += [pa.array([0 if fits else violation], pa.int32()),
                       pa.nulls(1, pa.string()),
                       pa.array([None if fits else op_name], pa.string())]
        return pa.Table.from_arrays(arrays, names=out_schema.fieldNames())

    out = df.groupBy(*keys).applyInArrow(fold, schema=out_schema)
    return DataSet(ds._ctx, out, list(keys) + out_names, sample=[],
                   parked=parked, op_seq=ds._op_seq + 1)
