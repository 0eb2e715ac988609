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
would see: struct columns as tuples, NaN as NaN, ints as ints.  On both
paths a row on which ``aggregate(state, row)`` raises is left out and
counted, as in CPython, where the raising call leaves the state as is.
"""

from __future__ import annotations

import ast
import copy
import functools
import pickle
from collections import Counter

from pyspark.sql import functions as F, types as T

from ..udf import reflection
from ..udf.compiler import _NUM_TAGS, CompileError, CompiledUDF, STuple, \
    Translator
from ..exceptions import code_for, code_for_instance, name_for_code
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
    """Try to lower the fold onto native aggregates: (slots, the
    CompiledUDF of the slots' row values, whose guards and staged layers
    their columns need), or None if not possible."""
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

    matched = [_match_slot(sl, agg_name,
                           -1 if not isinstance(body, ast.Tuple) else i)
               for i, sl in enumerate(slots_ast)]
    if None in matched or \
            not _combine_matches(combine_fn, [op for op, _ in matched]):
        return None
    # one translator, guards on, for every slot: a row that raises in any
    # slot leaves all of them, as CPython's raising call changes no state
    tr = Translator(schema, reflection.closure_env(aggregate_fn))
    tr._bind_params([row_name])
    try:
        # a None row value is a TypeError in CPython's + / min / max
        syms = [tr._deref(tr.eval(e)) for _, e in matched]
        slots = [_Slot(op, tr.to_col(s), s.tag, init)
                 for (op, _), s, init in zip(matched, syms, inits)]
    except CompileError:
        return None
    if any(s.tag not in _NUM_TAGS for s in slots):
        return None
    return slots, CompiledUDF(STuple(syms),
                              [(g.cond, g.code) for g in tr.guards],
                              tr.accessed, tr)


def _match_slot(sl, agg_name, want):
    """(native op, the row expression it folds in) of one state slot's
    update, or None."""
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
    return None if op is None else (op, expr_ast)


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


def _slot_agg_col(slot: _Slot, value: str, name: str):
    init = slot.init
    if slot.op == "sum":
        zero = F.lit(0).cast("double") if isinstance(init, float) \
            else F.lit(0)
        base = F.coalesce(F.sum(value), zero)
        if init:
            base = base + F.lit(init)
        out_is_float = slot.tag == "float" or isinstance(init, float)
        return base.cast("double" if out_is_float else "long").alias(name)
    f = F.min if slot.op == "min" else F.max
    cmb = F.least if slot.op == "min" else F.greatest
    base = cmb(f(value), F.lit(init))
    out_is_float = slot.tag == "float" or isinstance(init, float)
    return base.cast("double" if out_is_float else "long").alias(name)


def aggregate_general(ds, combine, aggregate, initial_value, keys):
    from ..dataset import DataSet, _guard_code, _stage

    schema = ds._schema_of_visible()
    # the fold UDF receives the FULL row (key columns included) — reference
    # behavior per test_aggregates.py:45 (x['volume'] on ['id','volume']);
    # a PYOBJECT row is one pickled column, which only the fold loop
    # unpickles; with the compiler off, every fold is generic
    native = None if ds._pyobj or \
        not ds._ctx._options.get("tuplex.useCompiledUDFs", True) else \
        recognize(aggregate, combine, initial_value, schema)
    n_out = len(initial_value) if isinstance(initial_value, tuple) else 1
    out_names = [f"column{i}" for i in range(n_out)] if n_out > 1 \
        else ["column0"]
    op_name = ds._next_op("aggregateByKey" if keys else "aggregate")

    if native is not None:
        # the slot values are a compiled withColumn's columns (no barrier:
        # the aggregate consumes them); their guards' rows split off
        slots, compiled = native
        values = [f"__slot{i}" for i in range(len(slots))]
        df, vis = ds._finish_op(
            _stage(ds._df, compiled)[0], "withColumn", op_name,
            {v: s.col for v, s in zip(values, slots)},
            _guard_code(compiled.guards) if compiled.guards else None,
            payload=False)
        df, parked = ds._spawn(df, columns=vis)._split_exceptions()
        aggs = [_slot_agg_col(s, v, n)
                for s, v, n in zip(slots, values, out_names)]
        if keys:
            out = df.groupBy(*keys).agg(*aggs)
            cols = list(keys) + out_names
        else:
            out = df.agg(*aggs)
            cols = out_names
        return DataSet(ds._ctx, out, cols, parked=parked,
                       op_seq=ds._op_seq + 1)

    # ---- generic fold fallback ----
    df, parked = ds._split_exceptions()
    if keys:
        return _fold_by_key(ds, df, parked, combine, aggregate,
                            initial_value, keys, schema, out_names, op_name)
    cols = [f.name for f in schema.fields]
    in_types = None if ds._pyobj else [f.dataType for f in schema.fields]

    def partial(batches):
        # one pickled (state, raising rows' codes) per partition; the
        # driver combines the states and counts the codes
        import pyarrow as pa
        state, raised = copy.deepcopy(initial_value), []
        for batch in batches:
            state = _fold(aggregate, state, batch, cols, in_types, raised)
        yield pa.RecordBatch.from_arrays(
            [pa.array([pickle.dumps((state, Counter(raised)))],
                      pa.binary())],
            names=["__state"])
    # the fold runs now, in a job of its own, which counts the splits it
    # consumes: the action after it finds their counts known
    rows, counts = ds._collect_exception_counts(
        parked, lambda: FB.from_frame(df.mapInArrow(partial,
                                                    "__state binary")))
    parts = [pickle.loads(r[0]) for r in rows]
    raised = sum((codes for _, codes in parts), Counter())
    parked = [counts, {name_for_code(c): n for c, n in raised.items()}]
    states = [state for state, _ in parts]
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


def _fold(aggregate, state, data, cols, in_types, raised: list):
    """``state`` folded with ``aggregate`` over the rows of Arrow
    ``data``, each row decoded as CPython sees it: one column's value
    bare, several as a ``UDFRow``; ``in_types`` None: one column of
    pickled objects.  A row on which ``aggregate`` raises leaves the
    state as it was; its exception code goes on ``raised``."""
    for row in zip(*FB.decode_values(data, cols, in_types)):
        try:
            state = aggregate(state, FB.UDFRow(row, cols) if len(row) != 1
                              else row[0])
        except Exception as e:
            raised.append(code_for_instance(e))
    return state


def _fold_by_key(ds, df, parked, combine, aggregate, initial_value, keys,
                 schema, out_names, op_name):
    """applyInArrow fold per key.  The state's types come from folding
    the plan-time sample, under fallback.call_budgeted's line budget (a
    fold that never ends on a sample row must not hang the driver).  A
    group emits its state row, unless every one of its rows raised, and
    one exception row (null state, no payload, this op's tag) per
    raising row; a state that does not fit the types makes the state
    row a NormalCaseViolation row instead of a value ``pa.array`` would
    truncate."""
    from ..dataset import DataSet

    cols = [f.name for f in schema.fields]
    # output type: fold the plan-time sample to observe the state type
    state = copy.deepcopy(initial_value)
    for row in ds._sample[:50]:
        r = row if isinstance(row, tuple) else (row,)
        try:
            state = FB.call_budgeted(
                aggregate,
                (state, FB.UDFRow(r, cols) if len(r) != 1 else r[0]), 2,
                None)
        except Exception:
            continue
    outs = state if isinstance(state, tuple) else (state,)
    stypes = [infer_type(v) or T.DoubleType() for v in outs]
    key_fields = [schema[k] for k in keys]
    hidden = [T.StructField(FB.EXC_CODE, T.IntegerType(), False),
              T.StructField(FB.EXC_PAYLOAD, T.StringType(), True),
              T.StructField(FB.EXC_OP, T.StringType(), True)]
    out_schema = T.StructType(
        list(key_fields) + [T.StructField(n, t, True)
                            for n, t in zip(out_names, stypes)] + hidden)

    init = initial_value
    in_types = [f.dataType for f in schema.fields]
    violation = code_for("NormalCaseViolation")
    nulls = [None] * len(stypes)

    def fold(table):
        import pyarrow as pa
        raised = []
        state = _fold(aggregate, copy.deepcopy(init), table, cols,
                      in_types, raised)
        outs = state if isinstance(state, tuple) else (state,)
        fits = len(outs) == len(stypes) and all(
            conforms(v, t) for v, t in zip(outs, stypes))
        # (state values, code) per output row
        rows = [(outs, 0) if fits else (nulls, violation)] \
            if len(raised) < table.num_rows else []
        rows += [(nulls, code) for code in raised]
        arrays = [table.column(k).take([0] * len(rows)) for k in keys]
        arrays += [FB.encode_column([coerce(vals[j], t) for vals, _ in rows],
                                    t)
                   for j, t in enumerate(stypes)]
        arrays += [pa.array([c for _, c in rows], pa.int32()),
                   pa.nulls(len(rows), pa.string()),
                   pa.array([op_name if c else None for _, c in rows],
                            pa.string())]
        return pa.Table.from_arrays(arrays, names=out_schema.fieldNames())

    out = df.groupBy(*keys).applyInArrow(fold, schema=out_schema)
    return DataSet(ds._ctx, out, list(keys) + out_names, parked=parked,
                   op_seq=ds._op_seq + 1)
