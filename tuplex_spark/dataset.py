"""DataSet — the reference's user-facing abstraction on a Spark DataFrame.

API parity target: python/tuplex/dataset.py of the reference (map/filter/
withColumn/mapColumn/selectColumns/renameColumn/join/leftJoin/aggregate/
aggregateByKey/unique/resolve/ignore/cache/collect/take/show/tocsv/...).

Execution model (Spark-first, not a port):
- every transform builds on the wrapped DataFrame lazily; Catalyst does the
  optimizing (predicate pushdown, pruning, join strategy).
- UDFs and resolvers go through a compile ladder: (a) Python-AST -> Column
  expressions (udf/compiler.py) so the hot path stays in whole-stage
  codegen; (b) the interpreter path: one ``mapInArrow`` row runner
  (udf/fallback.py, staged by ``DataSet._run_rows``) applying the
  pickled original function to rows decoded straight from Arrow, so it
  sees exactly the values CPython would.  PYOBJECT datasets (pickled
  rows) take (b) too.  Both paths end in ``DataSet._finish_op``, so they
  share one output projection and one exception bookkeeping.  Compiled
  ops and resolvers stage their CSE layers in one projection
  (``_stage``) and fall back from (a) to (b) by one rule (``_demoting``).
- actions decode their rows from Arrow with (b)'s decoder
  (``fallback.from_frame``): they return the values (b) and CPython see.
- exception semantics (reference §2.7: rows that raise are excluded from
  output, countable, resolvable) are carried IN the DataFrame as three
  hidden columns (__exc_code, __exc_payload, __exc_op).  The payload has
  one format, written by one encoder (``DataSet._code_exprs``): the
  failing op's input row as Spark ``to_json`` (_PAYLOAD_JSON), or null
  after an op on or to pickled objects, which no resolver can follow.
  Resolvers read it back only through ``from_json``, compiled or not, and
  their result fills the failing op's columns by position.  Rows never
  leave their DataFrame, so the reference's "merge exceptions in order"
  behavior (tuplex.optimizer.mergeExceptionsInOrder) is free, and when a
  pipeline has no fallible operator the hidden columns are never
  materialized — the plan is indistinguishable from hand-written
  DataFrame code.
- exception counts come from the job that produces an action's rows.
  Each split point (join, unique, set ops, orderBy, limit, aggregates,
  the action itself) parks its failed rows as a named
  ``DataFrame.observe`` of one ``count_if`` per exception class; every
  action (collect, take, the writers) runs ``DataSet._action``, which
  reads the counts from the session's observations of its own job.  One
  exact ``groupBy`` pass over the codes of every split that no action
  job observes completely runs only when the action stops early (take(n),
  limit, num_rows), a sort or an eager fold consumed the split, or AQE
  dropped the observed node from the executed plan.  show and toDF
  report no counts and split without observing.
"""

from __future__ import annotations

import itertools as _itertools
import json as _json
import re as _re
from collections import Counter as _Counter
from functools import reduce as _reduce
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, functions as F, types as T

from . import exceptions as E
from .typeutils import infer_type, super_type
from .udf import compiler, fallback
from .udf.compiler import CompileError
from .udf.fallback import EXC_CODE, EXC_OP, EXC_PAYLOAD, GATE, ROW_CODE, \
    out_col

_HIDDEN = (EXC_CODE, EXC_PAYLOAD, EXC_OP)

# exception payloads round-trip through to_json/from_json; the default
# timestampFormat keeps only milliseconds, silently handing resolvers a
# truncated value (reference semantics: the resolver sees the EXACT
# failing input row) — pin a microsecond format on both directions
_PAYLOAD_JSON = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


class _Split(NamedTuple):
    """Failed rows parked at one split point.  The observation ``name``
    counts them per exception class in the job that consumes the split;
    ``frame`` (visible columns and the code) is what the exact pass
    counts when no action job observes all of it (``exact`` says why)."""
    name: str
    frame: DataFrame
    exact: str | None = None


_SPLIT_IDS = _itertools.count()

# the per-class counts a split observes, as one SQL struct (one py4j
# call, where a count_if Column per class takes ~150)
_COUNTS = "struct(" + ", ".join(
    f"count_if(`{EXC_CODE}` = {c}) AS {cls}"
    for cls, c in E._CODES.items()) + ")"


def _exact(parked, why: str):
    """``parked`` with every observed split sent to the exact pass."""
    return [p._replace(exact=why) if isinstance(p, _Split) and not p.exact
            else p for p in parked]


class UDFOpInfo:
    """What resolve()/ignore() need to know about the preceding UDF op:
    its name (the __exc_op tag), kind, input schema (the payload's
    fields) and the visible columns it produced, which a resolver's
    result fills by position."""

    def __init__(self, name: str, kind: str, in_schema: T.StructType,
                 out_cols: list[str]):
        self.name, self.kind, self.in_schema = name, kind, in_schema
        self.out_cols = out_cols


PYOBJ_COL = "__pyobj"

def _guard_code(guards):
    """Per-row exception code Column of a compiled UDF's guards: the
    first guard that holds wins, 0 when none does."""
    code = None
    for g, c in guards:
        code = F.when(g, c) if code is None else code.when(g, c)
    return code.otherwise(0) if code is not None else F.lit(0)


def _whole_result(compiled):
    """The one column a withColumn/mapColumn UDF (or its resolver)
    fills: the whole result.  A tuple is one struct column in the
    engine's _0.._n convention; a dict, one map column, is left to the
    interpreter path."""
    if isinstance(compiled.result, compiler.SDict):
        raise CompileError("dict result of a column op")
    outs = compiled.as_columns()
    if isinstance(compiled.result, compiler.STuple):
        return F.struct(*[c.alias(f"_{i}")
                          for i, (_, c, _) in enumerate(outs)])
    return outs[0][1]


def _stage(df, compiled):
    """(``df`` with a compiled UDF's CSE layers, the ``__tN`` locals its
    output and guard Columns read, whether there were any).  All go in
    one projection: a layer that reads an earlier one is a lateral
    column alias, which Spark resolves into one Project per dependency
    level.  No op lists them in its output, so they never escape it."""
    staged = [c.alias(n) for n, c in compiled.staged]
    return (df.select("*", *staged), True) if staged else (df, False)


def _demoting(compiled, build, interpret):
    """The one demotion rule of a compiled op or resolver: (result of
    ``build(compiled)``, True), or (result of ``interpret()``, the
    interpreter path, False) when the UDF did not compile (``compiled``
    None) or building it failed: materializing (CompileError: a bound
    method returned as a value, a resolver result that misfits its
    column) or Spark's analysis (AnalysisException: arms whose nested
    element types differ, lateral column aliases switched off)."""
    if compiled is not None:
        # pyspark logs every AnalysisException it raises, with the JVM
        # stack; one caught here is a demotion, not an error
        log = PySparkLogger.getLogger("DataFrameQueryContextLogger")
        was, log.disabled = log.disabled, True
        try:
            return build(compiled), True
        except (CompileError, AnalysisException):
            pass
        finally:
            log.disabled = was
    return interpret(), False


def _project(vis, new_cols: dict, value, barrier: bool):
    """Select list of a UDF op's visible columns ``vis``: a column in
    ``new_cols`` becomes ``value(name, new Column)``, the rest pass
    through.  With ``barrier``, the first computed column is wrapped in
    a pushdown barrier: a nondeterministic IDENTITY (shuffle of a
    1-element array) makes the Project pushdown- and collapse-opaque.
    Its seed is fixed: Spark inlines the seed into the generated code,
    so a drawn one (fresh at every analysis) would defeat the codegen
    cache and make a warm execution compile its stage again.
    Without it, a later filter's predicate gets rewritten by
    substituting the computed columns' expression trees through every
    staged layer — a 10-op find/rfind/slice pipeline's plan grew
    exponentially (multi-MB, minutes in the optimizer).  Losing
    pushdown through a heavy UDF projection costs one linear stage,
    never correctness; plain scan pushdown (filters over cheap
    projections) is unaffected."""
    sel = []
    for v in vis:
        if v not in new_cols:
            sel.append(F.col(v))
            continue
        expr = value(v, new_cols[v])
        if barrier:
            expr = F.element_at(F.shuffle(F.array(expr), 0), 1)
            barrier = False
        sel.append(expr.alias(v))
    return sel


def _py_type(dt: T.DataType, nullable: bool):
    """Spark type -> Python typing object (the reference's .types
    convention, dataset.py:375): Optional[] wraps nullable columns,
    struct-tuple columns (_0.._n field names) come back as REAL tuples
    of types, arrays/maps as typing.List/Dict."""
    import typing
    if isinstance(dt, T.NullType):
        return type(None)
    if isinstance(dt, T.StructType) and dt.fields \
            and dt.fields[0].name == "__vt":
        # variant struct (compiled mixed-type return): Union of the
        # families present, Optional because any arm may be None
        fam = {"__vb": bool, "__vi": int, "__vf": float, "__vs": str}
        opts = tuple(fam[f.name] for f in dt.fields[1:] if f.name in fam)
        return typing.Optional[typing.Union[opts]] if opts else object
    if isinstance(dt, T.StructType) and len(dt.fields) == 1 \
            and dt.fields[0].name == "__sv" \
            and isinstance(dt.fields[0].dataType, T.ArrayType):
        # compiled set return (compiler.is_set_struct)
        return typing.Set[
            _py_type(dt.fields[0].dataType.elementType, False)]
    if isinstance(dt, T.StructType) and \
            all(_re.fullmatch(r"_\d+", f.name) for f in dt.fields):
        base = tuple(_py_type(f.dataType, f.nullable) for f in dt.fields)
    elif isinstance(dt, T.ArrayType):
        base = typing.List[_py_type(dt.elementType, False)]
    elif isinstance(dt, T.MapType):
        base = typing.Dict[_py_type(dt.keyType, False),
                           _py_type(dt.valueType, False)]
    else:
        import datetime
        base = {T.LongType: int, T.IntegerType: int, T.ShortType: int,
                T.ByteType: int, T.DoubleType: float, T.FloatType: float,
                T.StringType: str, T.BooleanType: bool,
                T.BinaryType: bytes,
                T.TimestampType: datetime.datetime,
                T.TimestampNTZType: datetime.datetime,
                T.DateType: datetime.date}.get(type(dt), object)
    if nullable and not isinstance(base, tuple):
        return typing.Optional[base]
    return base


def _py_type_of_value(v):
    """Python value -> typing object (for PYOBJECT datasets, whose Spark
    schema is one pickled binary column — types come from the sample):
    the lattice's type where the value has one, else by hand for
    ``None``, tuples (empty, or holding an object), sets and objects."""
    import typing
    t = infer_type(v)
    if t is not None:
        return _py_type(t, False)
    if v is None:
        return type(None)
    if isinstance(v, tuple):
        return tuple(_py_type_of_value(x) for x in v)
    if isinstance(v, (set, frozenset)):
        return typing.Set[_py_type_of_value(next(iter(v)))] if v else set
    return object


class DataSet:
    def __init__(self, ctx, df: DataFrame, columns: list[str],
                 sample: list | None = None, parked=None, last_op=None,
                 op_seq: int = 0, pyobj: bool = False,
                 tuple1: bool = False):
        self._ctx = ctx
        self._df = df
        self._columns = list(columns)
        self._pyobj = pyobj  # PYOBJECT mode: rows are pickled objects
        self._sample = sample if sample is not None else []
        # failed rows cut off at split points (join/aggregate/unique/...):
        # _Split entries, or {class: count} dicts a source knows already
        self._parked = list(parked or [])
        self._last_op = last_op  # UDFOpInfo of the last resolvable op
        self._op_seq = op_seq
        self._exception_counts: dict[str, int] = {}
        # single visible column that is semantically a 1-TUPLE row
        # (UDF returned `(v,)`): collect yields (v,) instead of v
        self._tuple1 = tuple1

    # ------------------------------------------------------------- helpers
    @property
    def _has_exc(self) -> bool:
        return EXC_CODE in self._df.columns

    def _schema_of_visible(self) -> T.StructType:
        fields = {f.name: f for f in self._df.schema.fields}
        return T.StructType([fields[c] for c in self._columns])

    def _spawn(self, df, columns=None, sample=None, parked=None,
               last_op=None, bump=True, tuple1=None, pyobj=None):
        return DataSet(self._ctx, df,
                       self._columns if columns is None else columns,
                       self._sample if sample is None else sample,
                       self._parked if parked is None else parked,
                       last_op,
                       self._op_seq + (1 if bump else 0),
                       pyobj=self._pyobj if pyobj is None else pyobj,
                       tuple1=self._tuple1 if tuple1 is None else tuple1)

    def _next_op(self, kind: str) -> str:
        return f"{kind}_{self._op_seq}"

    def _sample_eval(self, fn, kind, target_col=None, new_col=None):
        """Run ``fn`` over the plan-time sample, calling it exactly as
        the row runner does, under fallback.call_budgeted's line budget:
        a sample row on which the UDF never terminates in CPython (e.g.
        a growth while from a non-positive start, which the compiled
        plan turns into a guarded RuntimeError row) must not hang plan
        building on the driver.  Returns (results, sample): the UDF's
        results on the rows that did not raise (for output typing) and
        the op's output sample."""
        cols = self._columns
        produced = new_col or target_col
        out_cols = cols if produced is None or produced in cols \
            else cols + [produced]
        arity = fallback.arity_of(fn)
        results, sample = [], []
        for row in self._sample:
            tup = row if isinstance(row, tuple) and len(row) == len(cols) \
                else (row,)
            if self._pyobj:
                args, names = row, None
            elif kind == "mapColumn":
                args, names = tup[cols.index(target_col)], [target_col]
            else:
                args, names = tup if len(tup) != 1 else tup[0], cols
            try:
                r = fallback.call_budgeted(fn, args, arity, names)
            except Exception:
                continue
            results.append(r)
            if kind == "filter":
                if r:
                    sample.append(row)
            elif kind == "map":
                sample.append(r)
            else:
                vals = dict(zip(cols, tup))
                vals[produced] = r
                new = tuple(vals[c] for c in out_cols)
                sample.append(new if len(new) != 1 else new[0])
        return results, sample

    def _try_compile(self, fn, in_schema, col_map=None):
        if not self._ctx._options.get("tuplex.useCompiledUDFs", True):
            return None
        try:
            return compiler.compile_udf(fn, in_schema, col_map=col_map)
        except CompileError:
            return None

    # ------------------------------------------------------- UDF machinery
    def _apply_udf(self, fn, kind: str, target_col: str | None = None,
                   new_col: str | None = None):
        """Shared implementation of map/filter/withColumn/mapColumn."""
        import time as _time
        if self._pyobj and kind not in ("map", "filter"):
            raise NotImplementedError(
                f"{kind} is not available on PYOBJECT datasets "
                "(reference parity: fallback datasets support "
                "map/filter)")
        op_name = self._next_op(kind)
        in_schema = self._schema_of_visible()
        if kind == "mapColumn":
            in_schema = T.StructType([in_schema[target_col]])
        m = self._ctx._metrics
        t0 = _time.time()
        compiled = None if self._pyobj else self._try_compile(fn, in_schema)
        m.totalCompilationTime += _time.time() - t0
        results, sample = self._sample_eval(fn, kind, target_col, new_col)
        (out, vis, out_kind), was_compiled = _demoting(
            compiled,
            lambda cu: self._apply_compiled(cu, kind, op_name, target_col,
                                            new_col),
            lambda: self._apply_interpreted(
                fn, kind, op_name, in_schema.fieldNames(), target_col,
                new_col, results))
        m.compiledUDFs += was_compiled
        m.fallbackUDFs += not was_compiled
        if out_kind == "dict":
            # the op's output has one column per key: sample rows too
            sample = [tuple(r.values()) if isinstance(r, dict) else r
                      for r in sample]
        pickled = out_kind == "pickle" or (self._pyobj and kind == "filter")
        info = None
        if not (self._pyobj or pickled):
            # a resolver's result fills the op's produced columns; only a
            # map produces several
            produced = vis if kind == "map" else \
                [] if kind == "filter" else [new_col or target_col]
            info = UDFOpInfo(op_name, kind, in_schema, produced)
        tup1 = (out_kind == "tuple" and len(vis) == 1) \
            if kind == "map" else None
        return self._spawn(out, columns=vis, sample=sample, last_op=info,
                           tuple1=tup1, pyobj=pickled)

    def _code_exprs(self, code, op_name, payload=True):
        """(code, payload, op) Columns folding the previous exception
        state with this op's per-row ``code`` Column (None: the op
        cannot fail).  The one payload encoder: a row that newly fails
        gets its input row as Spark ``to_json`` — the form resolvers
        read back with ``from_json`` — or, without ``payload`` (no
        resolver can follow the op), null."""
        if code is None:
            code = F.lit(0)
        payload_src = F.to_json(
            F.struct(*[F.col(c) for c in self._columns]), _PAYLOAD_JSON) \
            if payload else F.lit(None).cast("string")
        if not self._has_exc:
            new_fail = code != 0
            return (code, F.when(new_fail, payload_src),
                    F.when(new_fail, F.lit(op_name)))
        prev_code = F.col(EXC_CODE)
        new_fail = (prev_code == 0) & (code != 0)
        out_code = F.when(prev_code != 0, prev_code).otherwise(code)
        out_payload = F.when(prev_code != 0, F.col(EXC_PAYLOAD)) \
            .when(new_fail, payload_src)
        out_op = F.when(prev_code != 0, F.col(EXC_OP)) \
            .when(new_fail, F.lit(op_name))
        return out_code, out_payload, out_op

    def _finish_op(self, df, kind, op_name, new_cols: dict, code,
                   pred=None, barrier=False, payload=True):
        """Output projection of a UDF op, shared by the compiled and the
        interpreter path.  ``new_cols`` maps produced visible columns to
        their value Columns (``pred`` is a filter's predicate), ``code``
        is this op's per-row exception code (None: cannot fail); both
        fold into the visible and hidden columns.  Returns (frame,
        visible columns)."""
        ok = None
        hidden = []
        if code is not None or self._has_exc:
            code_e, payload_e, op_e = self._code_exprs(code, op_name,
                                                       payload)
            ok = code_e == 0
            hidden = [code_e.alias(EXC_CODE), payload_e.alias(EXC_PAYLOAD),
                      op_e.alias(EXC_OP)]
        if kind == "filter":
            # filter BEFORE the projection that drops __t columns — the
            # predicate may reference staged locals
            cond = F.coalesce(pred, F.lit(False))
            if ok is not None:
                cond = (code_e != 0) | cond
            return (df.filter(cond).select(*self._columns, *hidden),
                    list(self._columns))
        vis = list(new_cols) if kind == "map" else \
            self._columns + [c for c in new_cols if c not in self._columns]
        sel = _project(vis, new_cols,
                       lambda v, e: e if ok is None else F.when(ok, e),
                       barrier)
        return df.select(*sel, *hidden), vis

    # -- compiled path ----------------------------------------------------
    def _apply_compiled(self, compiled, kind, op_name, target_col, new_col):
        df, barrier = _stage(self._df, compiled)
        code = _guard_code(compiled.guards) if compiled.guards else None
        if kind == "filter":
            out, vis = self._finish_op(df, kind, op_name, {}, code,
                                       pred=compiled.as_predicate())
            return out, vis, "pred"
        if kind == "map":
            outs = compiled.as_columns()
            new_cols = dict(zip(self._out_names(outs),
                                (c for _, c, _ in outs)))
            out_kind = "dict" if outs[0][0] is not None else \
                "tuple" if isinstance(compiled.result, compiler.STuple) \
                else "scalar"
        else:
            new_cols = {new_col or target_col: _whole_result(compiled)}
            out_kind = "scalar"
        out, vis = self._finish_op(df, kind, op_name, new_cols, code,
                                   barrier=barrier)
        return out, vis, out_kind

    def _out_names(self, outs):
        if len(outs) == 1 and outs[0][0] is None:
            return ["column0"]
        return [o[0] if o[0] is not None else f"column{i}"
                for i, o in enumerate(outs)]

    # -- interpreter path -------------------------------------------------
    def _apply_interpreted(self, fn, kind, op_name, in_cols, target_col,
                           new_col, results):
        if kind == "filter":
            specs, out_kind = [(None, T.BooleanType())], "pred"
        else:
            try:
                # a column op's new column holds the whole result: a
                # tuple is one struct column, a dict one map column
                specs, out_kind = fallback.infer_output_type(
                    results if kind == "map" else [(r,) for r in results])
                if self._pyobj and any(isinstance(t, T.NullType)
                                       for _, t in specs):
                    # objects promote to typed columns only when every
                    # output's type is known
                    raise fallback.TypeUnstableError("untyped output")
            except (fallback.TypeUnstableError,
                    fallback.AllSampleRowsFailed) as e:
                if kind == "map":
                    # heterogeneous/unknown outputs: no Spark schema can
                    # hold them — demote to PYOBJECT rows (reference
                    # dual-mode: rows keep their own types on the
                    # fallback path)
                    specs, out_kind = [(None, T.BinaryType())], \
                        "pickle"
                elif isinstance(e, fallback.AllSampleRowsFailed):
                    # every sampled row raised: expect all-exception
                    # output; declare a string column, runtime successes
                    # that aren't strings become NormalCaseViolation
                    specs, out_kind = [(None, T.StringType())], \
                        "scalar"
                else:
                    raise
        if kind == "map":
            names = [PYOBJ_COL] if out_kind == "pickle" \
                else self._out_names(specs)
        elif kind == "filter":
            names = []
        else:
            names, out_kind = [new_col or target_col], "scalar"
        # a map needs its inputs afterwards only as the payload of newly
        # failing rows, which only a resolver reads: none can follow an
        # op on or to pickled objects
        payload = not (self._pyobj or out_kind == "pickle")
        keep = self._df.columns
        if kind == "map" and not payload:
            keep = [c for c in keep if c in _HIDDEN]
        df, code = self._run_rows(
            self._df, fn, in_cols, [t for _, t in specs], out_kind,
            out_keys=[k for k, _ in specs], keep=keep)
        new_cols = {n: F.col(out_col(i)) for i, n in enumerate(names)}
        out, vis = self._finish_op(df, kind, op_name, new_cols, code,
                                   pred=F.col(out_col(0)), payload=payload)
        return out, vis, out_kind

    def _run_rows(self, df, fn, in_cols, out_types, out_kind,
                  out_keys=None, keep=(), gate=None, row_names=None):
        """The interpreter path's one Spark stage: ``fn`` runs
        row-at-a-time over ``in_cols`` of ``df`` inside
        fallback.make_row_runner's mapInArrow.  Rows where ``gate``
        (default: not failed yet) is false pass through.  Returns (frame
        of ``keep`` + out_col(i) outputs + ROW_CODE, the ROW_CODE
        Column)."""
        if gate is None and self._has_exc:
            gate = F.col(EXC_CODE) == 0
        src = df if gate is None else df.select("*", gate.alias(GATE))
        schema = T.StructType(
            [df.schema[c] for c in keep]
            + [T.StructField(out_col(i), t, True)
               for i, t in enumerate(out_types)]
            + [T.StructField(ROW_CODE, T.IntegerType(), False)])
        runner = fallback.make_row_runner(
            fn, in_cols,
            None if self._pyobj else [df.schema[c].dataType
                                      for c in in_cols],
            out_types, out_kind, out_keys=out_keys, row_names=row_names,
            keep=list(keep))
        return src.mapInArrow(runner, schema=schema), F.col(ROW_CODE)

    # ---------------------------------------------------------- transforms
    def map(self, ftor) -> "DataSet":
        """Row -> row transform (reference: dataset.py:49, MapOperator.cc)."""
        return self._apply_udf(ftor, "map")

    def filter(self, ftor) -> "DataSet":
        """Keep rows where ftor(row) is truthy (reference: dataset.py:83)."""
        return self._apply_udf(ftor, "filter")

    def withColumn(self, column: str, ftor) -> "DataSet":
        """Append/replace a column computed from the whole row
        (reference: dataset.py:201, WithColumnOperator.cc)."""
        return self._apply_udf(ftor, "withColumn", new_col=column)

    def mapColumn(self, column, ftor) -> "DataSet":
        """Transform a single column's value; addressed by name or
        (negative-ok) index (reference: dataset.py:231 Union[int, str])."""
        if isinstance(column, int):
            if not -len(self._columns) <= column < len(self._columns):
                raise KeyError(f"no column {column!r}")
            column = self._columns[column]
        if column not in self._columns:
            raise KeyError(f"no column {column!r}")
        return self._apply_udf(ftor, "mapColumn", target_col=column)

    def selectColumns(self, columns) -> "DataSet":
        """Project/reorder by names or (negative-ok) indices
        (reference: dataset.py:262, DataSet.cc:318-471)."""
        if not isinstance(columns, (list, tuple)):
            columns = [columns]
        names = []
        for c in columns:
            if isinstance(c, int):
                names.append(self._columns[c])
            elif c in self._columns:
                names.append(c)
            else:
                raise KeyError(f"no column {c!r}")
        keep = names + [h for h in _HIDDEN if h in self._df.columns]
        idx = [self._columns.index(n) for n in names]
        sample = [tuple((r if isinstance(r, tuple) else (r,))[i] for i in idx)
                  for r in self._sample]
        return self._spawn(self._df.select(*keep), columns=names,
                           sample=sample)

    def renameColumn(self, old, new: str) -> "DataSet":
        """Rename by name or position (reference: dataset.py:293)."""
        if isinstance(old, int):
            old = self._columns[old]
        if old not in self._columns:
            raise KeyError(f"no column {old!r}")
        cols = [new if c == old else c for c in self._columns]
        return self._spawn(self._df.withColumnRenamed(old, new),
                           columns=cols)

    def unique(self) -> "DataSet":
        """Row-level distinct (reference: dataset.py:36 — AGG_UNIQUE)."""
        df, parked = self._split_exceptions()
        return self._spawn(df.dropDuplicates(), parked=parked, sample=[])

    def cache(self, store_specialized: bool = True) -> "DataSet":
        """Materialize for reuse (reference: dataset.py:346)."""
        df = self._df.persist()
        df.count()
        return self._spawn(df, bump=False)

    # ------------------------------------- relational extensions
    # (parity-plus: the reference has NO sort/limit-transform/set ops —
    # SURVEY §2.5 — but a training-data pipeline engine wants them, and
    # on Spark each is a one-line delegation with exception bookkeeping)

    def orderBy(self, *cols, ascending: bool = True) -> "DataSet":
        """Total sort (Spark range-partitions on sampled bounds — scales
        to arbitrary data; output order is the contract, so exception
        rows are split out first).  The range partitioner samples its
        input in a job of its own, which would count the rows of an
        observed split in the same stage twice: exact counts instead."""
        df, parked = self._split_exceptions()
        names = [c for c in cols] or list(self._columns)
        return self._spawn(df.orderBy(*names, ascending=ascending),
                           parked=_exact(parked, "orderBy samples its "
                                                 "input twice"))

    def limit(self, n: int) -> "DataSet":
        """First n rows as a TRANSFORM (take(n) is the action variant).
        The limit stops reading early, so counts are exact, over the
        whole input."""
        df, parked = self._split_exceptions()
        return self._spawn(df.limit(n), parked=_exact(parked, "limit"))

    def union(self, other: "DataSet") -> "DataSet":
        """Bag union by column NAME (both sides keep their exception
        rows; schemas must have the same column set)."""
        a, pa = self._split_exceptions()
        b, pb = other._split_exceptions()
        return self._spawn(a.unionByName(b.select(*a.columns)),
                           parked=pa + pb)

    def intersect(self, other: "DataSet") -> "DataSet":
        """Set intersection (distinct rows present on both sides)."""
        a, pa = self._split_exceptions()
        b, pb = other._split_exceptions()
        return self._spawn(a.intersect(b.select(*a.columns)),
                           parked=pa + pb)

    def subtract(self, other: "DataSet") -> "DataSet":
        """Set difference (distinct rows of self absent from other —
        SQL EXCEPT; a row matched in ``other`` is removed entirely, not
        per-occurrence like exceptAll)."""
        a, pa = self._split_exceptions()
        b, pb = other._split_exceptions()
        return self._spawn(a.subtract(b.select(*a.columns)),
                           parked=pa + pb)

    # ---------------------------------------------------------- exceptions
    def _split_exceptions(self):
        """Move failed rows out of the frame into the parked list.  The
        frame, pruned to the visible columns and the code (so no payload
        is built), is observed under a fresh name with one ``count_if``
        per exception class: the job that consumes the clean rows counts
        the failed ones.  Where no job of the action observes the whole
        split (take(n), limit, orderBy, an eager fold, or AQE dropping the
        node), the action counts the pruned frame in one exact pass
        instead.  Returns (clean frame, parked list)."""
        if not self._has_exc:
            return self._df, list(self._parked)
        code = F.col(EXC_CODE)
        pruned = self._df.select(*self._columns, code)
        name = f"tuplex_exceptions_{next(_SPLIT_IDS)}"
        observed = pruned.observe(name, F.expr(_COUNTS).alias("counts"))
        good = observed.filter(code == 0).select(*self._columns)
        return good, list(self._parked) + [_Split(name, pruned)]

    def resolve(self, exc_class, ftor) -> "DataSet":
        """Re-run rows that raised ``exc_class`` in the preceding operator
        through ``ftor`` (same signature) — reference: dataset.py:162,
        ResolveOperator.cc; §2.7 of SURVEY.md."""
        if self._last_op is None:
            raise ValueError("resolve() must follow a UDF operator")
        op = self._last_op
        codes = sorted(E.codes_caught_by(exc_class))
        if not self._has_exc:
            return self._spawn(self._df, last_op=op, bump=False)
        in_struct = T.StructType([
            T.StructField(f.name, f.dataType, True)
            for f in op.in_schema.fields])
        payload = F.from_json(F.col(EXC_PAYLOAD), in_struct, _PAYLOAD_JSON)
        match = (F.col(EXC_OP) == op.name) & F.col(EXC_CODE).isin(codes)

        # the resolver reads the parsed payload fields, materialized as
        # __res_in_* columns (a compiled resolver's column references
        # bind onto them via col_map)
        names = in_struct.fieldNames()
        remap = {n: f"__res_in_{n}" for n in names}
        sub = self._df.select(
            *self._df.columns,
            *[payload.getField(n).alias(remap[n]) for n in names])
        # a resolver's result fills the op's produced columns by
        # position, or is the whole value of a column op's one column
        out_types = [T.BooleanType()] if op.kind == "filter" else \
            [self._df.schema[c].dataType for c in op.out_cols]
        whole = op.kind in ("withColumn", "mapColumn")

        def finish(df, outs, res_code, barrier=False):
            # if the resolver itself raises, the row's exception class
            # becomes the resolver's exception (resolvable by later
            # resolvers) — reference semantics, ResolveOperator.cc.  The
            # __t/__res_in_ columns are never listed: they don't escape
            resolved_ok = match & (res_code == 0)
            hidden = [
                F.when(~match, F.col(EXC_CODE)).when(res_code == 0, 0)
                .otherwise(res_code).cast("int").alias(EXC_CODE),
                F.when(resolved_ok, F.lit(None))
                .otherwise(F.col(EXC_PAYLOAD)).alias(EXC_PAYLOAD),
                F.when(resolved_ok, F.lit(None))
                .otherwise(F.col(EXC_OP)).alias(EXC_OP)]
            if op.kind == "filter":
                keep = F.when(resolved_ok, F.coalesce(outs[0], F.lit(False)))
                return df.filter(keep.otherwise(F.lit(True))) \
                    .select(*self._columns, *hidden)
            sel = _project(
                self._columns, dict(zip(op.out_cols, outs)),
                lambda v, e: F.when(resolved_ok, e).otherwise(F.col(v)),
                barrier)
            return df.select(*sel, *hidden)

        def compiled_path(compiled):
            df, barrier = _stage(sub, compiled)
            outs = [compiled.as_predicate()] if op.kind == "filter" else \
                [_whole_result(compiled)] if whole else \
                [c for _, c, _ in compiled.as_columns()][:len(out_types)]
            # the one lattice types the result, as the row runner's
            # 'fill' does: column type C takes result type R when
            # super_type(C, R) == C (C first: an int literal's int
            # meets a long column at the same rank), cast to C; a
            # misfit demotes, and the row runner makes each misfit row
            # a NormalCaseViolation
            for f, t in zip(df.select(*outs).schema.fields, out_types):
                if super_type(t, f.dataType) != t:
                    raise CompileError(f"resolver result {f.dataType} "
                                       f"does not fit {t}")
            return finish(df, [c.cast(t) for c, t in zip(outs, out_types)],
                          _guard_code(compiled.guards), barrier)

        def interpreted():
            df, code = self._run_rows(
                sub, ftor, list(remap.values()), out_types,
                "pred" if op.kind == "filter" else
                "scalar" if whole else "fill",
                keep=self._df.columns, gate=match, row_names=names)
            return finish(df, [F.col(out_col(i))
                               for i in range(len(out_types))], code)

        out, _ = _demoting(self._try_compile(ftor, in_struct, col_map=remap),
                           compiled_path, interpreted)
        return self._spawn(out, last_op=op)

    def ignore(self, exc_class) -> "DataSet":
        """Silently drop rows that raised ``exc_class`` in the preceding
        operator (reference: dataset.py:319, IgnoreOperator.h).  Like the
        reference's compiled ignore path (PipelineBuilder.cc:172 addIgnore
        exits "without writing the row"), ignored rows do NOT appear in
        ``exception_counts``."""
        if not self._has_exc:
            return self
        codes = sorted(E.codes_caught_by(exc_class))
        cond = F.col(EXC_CODE).isin(codes)
        if self._last_op is not None:
            cond = cond & (F.col(EXC_OP) == self._last_op.name)
        return self._spawn(self._df.filter(~cond), last_op=self._last_op,
                           bump=False)

    @property
    def exception_counts(self) -> dict[str, int]:
        """Exception class -> count, populated by the last action
        (reference: dataset.py:706)."""
        return dict(self._exception_counts)

    def _collect_exception_counts(self, parked, run):
        """Run an action's ``run()``; set the counts of ``parked`` from
        session observations keyed like their ``CollectMetrics`` nodes
        (name, frame id), which any query that runs the node completes.
        Splits with no observed row (exact ones; an empty row: AQE
        dropped the node; none within the read's 100 ms wait) are counted
        in one exact job grouping their codes, labelled with the reason."""
        manager = self._ctx.spark._jsparkSession.observationManager()
        obs = [None if isinstance(p, dict) or p.exact else
               manager.getOrNewObservation(p.name, p.frame._jdf.id())
               for p in parked]
        out = run()
        counts = _Counter()
        exact, why = [], {}
        for p, o in zip(parked, obs):
            if isinstance(p, dict):
                counts.update(p)
                continue
            row = None if o is None else o.getRowOrEmpty()
            if row is not None and row.isDefined() and row.get().length():
                counts.update(_json.loads(row.get().json())["counts"])
                continue
            exact.append(p.frame.select(EXC_CODE))
            why[p.exact or ("observed node dropped" if row.isDefined()
                            else "observation incomplete")] = None
        if exact:
            sc = self._ctx.spark.sparkContext
            prev = sc.getLocalProperty("spark.job.description")
            sc.setLocalProperty("spark.job.description",
                                "exception_counts exact pass: "
                                + "; ".join(why))
            try:
                rows = fallback.from_frame(_reduce(
                    DataFrame.union, exact).groupBy(EXC_CODE).count())
            finally:
                sc.setLocalProperty("spark.job.description", prev)
            for code, n in rows:
                if code:
                    counts[E.name_for_code(code)] += n
        self._exception_counts = {c: n for c, n in counts.items() if n}
        return out

    # -------------------------------------------------------------- joins
    def join(self, right: "DataSet", leftKeyColumn: str,
             rightKeyColumn: str, prefixes=None, suffixes=None) -> "DataSet":
        """Inner equi-join, single key; output column order = left non-key,
        key, right non-key (reference: dataset.py:384, JoinOperator.cc)."""
        from .operators.join import join_datasets
        return join_datasets(self, right, leftKeyColumn, rightKeyColumn,
                             "inner", prefixes, suffixes)

    def rightJoin(self, right: "DataSet", leftKeyColumn: str,
                  rightKeyColumn: str, prefixes=None,
                  suffixes=None) -> "DataSet":
        """Right outer equi-join — parity-plus: the reference declares
        JoinType::RIGHT (JoinOperator.h:62-69) but never implements it;
        on Spark it is the same shuffled/broadcast hash join as left."""
        from .operators.join import join_datasets
        return join_datasets(self, right, leftKeyColumn, rightKeyColumn,
                             "right", prefixes, suffixes)

    def leftJoin(self, right: "DataSet", leftKeyColumn: str,
                 rightKeyColumn: str, prefixes=None, suffixes=None
                 ) -> "DataSet":
        """Left outer join (reference: dataset.py:442)."""
        from .operators.join import join_datasets
        return join_datasets(self, right, leftKeyColumn, rightKeyColumn,
                             "left", prefixes, suffixes)

    # --------------------------------------------------------- aggregates
    def aggregate(self, combine, aggregate, initial_value):
        """Whole-dataset fold with a (combine, aggregate, initial) UDF
        triple (reference: dataset.py:593)."""
        from .operators.aggregate import aggregate_general
        return aggregate_general(self, combine, aggregate, initial_value,
                                 keys=None)

    def aggregateByKey(self, combine, aggregate, initial_value,
                       key_columns):
        """Per-key fold (reference: dataset.py:644)."""
        from .operators.aggregate import aggregate_general
        return aggregate_general(self, combine, aggregate, initial_value,
                                 keys=list(key_columns))

    # ------------------------------------------------------------- actions
    @property
    def columns(self) -> list[str]:
        return list(self._columns)

    @property
    def types(self) -> list:
        """Column types as Python typing objects, reference semantics
        (reference dataset.py:375 and its test_inspect.py: ``int``,
        ``typing.Optional[float]``, ``typing.List[int]``, struct-tuple
        columns as real tuples of types).  The Spark schema remains
        available via ``toDF().schema``.  PYOBJECT datasets (whose Spark
        schema is one pickled column) infer from the sample, per
        row-tuple position like the reference's tracer."""
        if self._pyobj:
            rows = self._sample
            if not rows:
                return [object]
            first = rows[0]
            if isinstance(first, tuple) and all(
                    isinstance(r, tuple) and len(r) == len(first)
                    for r in rows):
                return [_py_type_of_value(v) for v in first]
            return [_py_type_of_value(first)]
        s = self._schema_of_visible()
        return [_py_type(f.dataType, f.nullable) for f in s.fields]

    def toDF(self) -> DataFrame:
        """The clean Spark DataFrame (escape hatch; failed rows removed).
        It is no action and reports no counts, so it splits without
        observing; the writers count theirs."""
        if not self._has_exc:
            return self._df
        return self._df.filter(F.col(EXC_CODE) == 0).select(*self._columns)

    def createOrReplaceTempView(self, name: str) -> None:
        """Register the clean rows as a session temp view for
        Context.sql (Spark-native SQL over engine pipelines —
        parity-plus; the reference has no SQL surface)."""
        self.toDF().createOrReplaceTempView(name)

    def _action(self, body, limit=None, why=None):
        """The one action path: split the failed rows off, run ``body``
        on the clean frame (its first ``limit`` rows: the splits then
        take the exact pass, labelled ``why``), read the counts and book
        the action in ``Context.metrics``.  Returns ``body``'s result."""
        import time as _time
        t0 = _time.time()
        df, parked = self._split_exceptions()
        if limit is not None:
            df, parked = df.limit(limit), _exact(parked, why)
        out = self._collect_exception_counts(parked, lambda: body(df))
        m = self._ctx._metrics
        m.totalRunTime += _time.time() - t0
        m.numActions += 1
        m.totalExceptionCount += sum(self._exception_counts.values())
        return out

    def collect(self) -> list:
        return self.take(-1)

    def take(self, nmax: int = 5) -> list:
        # the reference runs the whole input for take: exact counts
        rows = self._action(fallback.from_frame,
                            None if nmax is None or nmax < 0 else nmax,
                            "take(n)")
        self._ctx._metrics.lastActionRowCount = len(rows)
        if self._pyobj:
            import pickle
            return [pickle.loads(r[0]) for r in rows]
        if len(self._columns) == 1 and not self._tuple1:
            return [r[0] for r in rows]
        return rows

    def _records_per_file(self, part_size) -> int:
        """``maxRecordsPerFile`` for a ``part_size`` byte cap per output
        file (Spark caps files by record count, not bytes): the cap over
        the sampled rows' mean width as CSV text, 100 bytes without a
        sample.  Parquet encodes and compresses, so there the width is
        an upper bound on the file size, the safe direction for the
        small-files problem the cap exists to fix."""
        est = 100
        if self._sample:
            widths = [len(",".join(str(v) for v in
                          (r if isinstance(r, tuple) else (r,)))) + 1
                      for r in self._sample[:50]]
            est = max(1, sum(widths) // len(widths))
        return max(1, int(part_size) // est)

    def show(self, nrows: int = None):
        self.toDF().show(nrows if nrows else 20)

    def _write(self, save, kwargs, prep=None):
        """Writer action: ``save`` the ``prep``-ed clean frame's writer.
        ``num_rows`` -> limit, ``num_parts`` -> repartition, ``part_size``
        (bytes per part file) -> ``maxRecordsPerFile``.  Writers know no
        row count without another pass: ``lastActionRowCount`` stays."""
        n, parts = kwargs.get("num_rows"), kwargs.get("num_parts")
        size = kwargs.get("part_size")

        def body(df):
            df = df.repartition(parts) if parts else df
            w = (prep(df) if prep else df).write.mode("overwrite")
            save(w.option("maxRecordsPerFile", self._records_per_file(size))
                 if size else w)
        self._action(body, int(n) if n else None, "num_rows")

    def tocsv(self, path: str, header: bool = True, null_value: str = "",
              part_name_generator=None, **kwargs):
        """Write CSV (reference: dataset.py:500); num_rows, num_parts
        and part_size as in ``_write``.

        header may be a list of names to write instead of the column
        names (reference signature);
        part_name_generator(part_no) -> custom part file names applied by
        post-hoc rename (Spark has no naming hook; same caveat as the
        reference's callback, which names parts by output task)."""
        prep = None
        if isinstance(header, list):
            if len(header) != len(self._columns):
                raise ValueError(
                    f"header names {len(header)} != columns "
                    f"{len(self._columns)}")
            names, header = header, True

            def prep(df):
                return df.select(*[F.col(c).alias(h)
                                   for c, h in zip(self._columns, names)])
        self._write(lambda w: w.option("header", header)
                    .option("nullValue", null_value).csv(path), kwargs, prep)
        if part_name_generator is not None:
            import glob as _glob
            import os as _os
            parts = sorted(_glob.glob(_os.path.join(path, "part-*")))
            for i, p in enumerate(parts):
                new = _os.path.join(path, part_name_generator(i))
                _os.rename(p, new)
                # drop the stale Hadoop checksum for the old name
                crc = _os.path.join(_os.path.dirname(p),
                                    f".{_os.path.basename(p)}.crc")
                if _os.path.exists(crc):
                    _os.remove(crc)

    def toorc(self, path: str, **kwargs):
        self._write(lambda w: w.orc(path), kwargs)

    def tojson(self, path: str, **kwargs):
        """JSON-lines sink (write side of Context.json) — the
        training-data interchange format; one JSON object per line,
        Spark-native writer (beyond the reference's csv/orc pair)."""
        self._write(lambda w: w.json(path), kwargs)

    def toparquet(self, path: str, bucket_by=None, num_buckets: int = 32,
                  sort_by=None, table: str | None = None,
                  partition_by=None, **kwargs):
        """Parquet sink (beyond the reference's csv/orc pair).

        ``bucket_by`` pre-shuffles the data into ``num_buckets`` hash
        buckets on the given column(s) at WRITE time — the 100 TB lever
        for repeated joins/aggregations on the same key: two tables
        bucketed on their join key with the same bucket count join with
        NO exchange on either side (asserted in tests/test_scale.py).
        Bucket metadata lives in the session catalog, not the files, so
        bucketed writes register a path-backed table (``table`` or a
        name derived from the path); read it back with Context.table().
        ``sort_by`` sorts within each output file: under ``bucket_by``
        that lets sort-merge joins skip their per-task sort; without it
        (plain parquet) the within-partition sort tightens every row
        group's min/max statistics so reader-side filters on the sort
        column skip whole row groups — the cheap cousin of directory
        partitioning for high-cardinality columns (was silently ignored
        in the non-bucketed path before round 7)."""
        def names(c):
            return [c] if isinstance(c, str) else list(c or ())
        sb = names(sort_by)
        if bucket_by is None:
            # hive-layout directory partitioning: every reader's filter
            # on these columns becomes directory PRUNING (the same lever
            # ivf_build uses for probe pruning)
            self._write(lambda w: w.partitionBy(*names(partition_by))
                        .parquet(path), kwargs,
                        lambda df: df.sortWithinPartitions(*sb) if sb
                        else df)
            return
        if partition_by:
            raise ValueError("partition_by and bucket_by are exclusive")
        name = table or _re.sub(r"[^A-Za-z0-9_]", "_",
                                path.rstrip("/").rsplit("/", 1)[-1])

        def save(w):
            w = w.format("parquet").option("path", path) \
                .bucketBy(num_buckets, *names(bucket_by))
            (w.sortBy(*sb) if sb else w).saveAsTable(name)
        self._write(save, kwargs)
