"""Context — entry point, owns the SparkSession and options.

API parity target: python/tuplex/context.py of the reference
(parallelize/csv/text/orc + options).  ``parquet`` is an added source (the
test corpus is parquet; the reference gets ORC the same way).

Options use the reference's ``tuplex.*`` naming where a Spark equivalent
exists; unknown keys are accepted and ignored (the reference tolerates
unknown keys the same way).
"""

from __future__ import annotations

import json
import pickle
from collections import OrderedDict

from pyspark.sql import SparkSession, functions as F, types as T

from .dataset import _SAMPLE_ROWS, PYOBJ_COL, DataSet
from .exceptions import code_for
from .typeutils import coerce, conforms, infer_schema_from_rows, \
    infer_type, super_type
from .sources import csv_inference as CSV
from .udf.fallback import EXC_CODE, EXC_OP, EXC_PAYLOAD, to_frame

DEFAULTS = {
    "tuplex.useCompiledUDFs": True,      # AST->Column compiler on
    "tuplex.inputSplitSize": "64MB",     # reference ContextOptions.cc:227
    "tuplex.shufflePartitions": None,    # None -> leave Spark default
}


def _plurality_family(rows: list, width: int) -> list | None:
    """The rows of ``width`` values whose every value belongs to its
    column's plurality family (reference normalcaseThreshold voting,
    FileInputOperator.cc:229-299, as a plurality).  A family is a run of
    values whose types have a ``super_type``; it widens as values join,
    so ``[1, 2.5, True]`` is one family.  None when any row holds a
    value with no Spark type: the list takes the PYOBJECT path."""
    families = [[] for _ in range(width)]  # per column: [type, count]

    def join(fams, t):
        if t is None:
            return -1
        for i, f in enumerate(fams):
            w = super_type(f[0], t)
            if w is not None:
                f[0], f[1] = w, f[1] + 1
                return i
        fams.append([t, 1])
        return len(fams) - 1

    # -1: no Spark type; rows of another width are only checked for that
    tags = [[None if v is None else join(fams, infer_type(v))
             for v, fams in zip(r, families)] if len(r) == width else
            [-1 for v in r if v is not None and infer_type(v) is None]
            for r in rows]
    if any(-1 in tag for tag in tags):
        return None
    major = [max(range(len(f)), key=lambda i: f[i][1]) if f else None
             for f in families]
    return [r for r, tag in zip(rows, tags) if len(r) == width
            and all(i is None or i == m for i, m in zip(tag, major))]


class Context:
    """Owns the SparkSession and the ``tuplex.*`` options.

    Without ``spark`` the session comes from ``build_session``, which
    turns off pyspark's per-call origin capture
    (``spark.python.sql.dataFrameDebugging.enabled``) to save py4j round
    trips while plans are built.  A session passed in as ``spark`` keeps
    its own setting.  pyspark reads that setting once per process, at
    its first ``pyspark.sql.functions`` call with a session, and the
    engine never writes pyspark's cached copy of it.

    A compiled UDF's staged locals go on the frame in one projection, as
    lateral column aliases, so they need
    ``spark.sql.lateralColumnAlias.enableImplicitResolution``, which
    engine sessions keep at Spark's default (true).  In a session passed
    in with it off, a UDF whose staged locals read each other demotes to
    the interpreter path, with the same rows."""

    def __init__(self, conf: dict | None = None, spark: SparkSession = None,
                 name: str = "tuplex_spark", **kwargs):
        def norm(d):
            # reference behavior (utils/common.py): bare keys get the
            # tuplex. prefix, so Context(conf={'executorMemory': '1MB'})
            # and conf={'tuplex.executorMemory': '1MB'} are the same
            return {(k if "." in k else f"tuplex.{k}"): v
                    for k, v in d.items()}

        self._options = dict(DEFAULTS)
        self._options.update(norm(conf or {}))
        self._options.update(norm(kwargs))
        if spark is None:
            spark = build_session(name, self._options)
        else:
            _ship_package(spark)  # externally-built sessions too
        self.spark = spark
        from .metrics import Metrics
        self._metrics = Metrics()
        # (pattern, columns, mtime) -> the scan's DataSet, whose frame
        # and sample every read shares: repeated scans of the same files
        # otherwise pay parquet footer analysis and a sample collect —
        # plan-build overhead that dominated sub-second queries.  The
        # mtime key drops the entry when the files change.  Past 256
        # entries the oldest goes.
        self._scan_cache: OrderedDict = OrderedDict()

    @property
    def metrics(self):
        """Engine metrics (reference: python/tuplex/metrics.py surface)."""
        return self._metrics

    # ------------------------------------------------------------ options
    def options(self, nested: bool = False) -> dict:
        """Current option dict (reference: context.py:407); ``nested``
        splits dotted keys into sub-dicts."""
        flat = dict(self._options)
        if not nested:
            return flat
        out: dict = {}
        for k, v in flat.items():
            parts = k.split(".")
            cur = out
            for p in parts[:-1]:
                cur = cur.setdefault(p, {})
            cur[parts[-1]] = v
        return out

    def optionsToYAML(self, file_path: str = "config.yaml") -> None:
        """Write options as YAML (reference: context.py:428).  Hand-rolled
        emitter — flat scalar values only — to avoid a yaml dependency."""
        def emit(d, indent=0):
            lines = []
            for k in sorted(d):
                v = d[k]
                pad = "  " * indent
                if isinstance(v, dict):
                    lines.append(f"{pad}{k}:")
                    lines.extend(emit(v, indent + 1))
                else:
                    sv = "null" if v is None else \
                        ("true" if v is True else
                         "false" if v is False else
                         json.dumps(v) if isinstance(v, str) else str(v))
                    lines.append(f"{pad}{k}: {sv}")
            return lines
        with open(file_path, "w") as f:
            f.write("\n".join(emit(self.options(nested=True))) + "\n")

    def getOption(self, key):
        return self._options.get(key)

    # ------------------------------------------------- file-system helpers
    def ls(self, pattern: str) -> list:
        """List files matching a glob pattern (reference: context.py:437;
        local paths — distributed storage globbing comes from Spark's
        readers directly)."""
        import glob as _glob
        return sorted(_glob.glob(pattern.removeprefix("file://")))

    def cp(self, pattern: str, target_uri: str) -> None:
        """Copy matching files to target dir (reference: context.py:450)."""
        import os as _os
        import shutil as _shutil
        target = target_uri.removeprefix("file://")
        _os.makedirs(target, exist_ok=True)
        for p in self.ls(pattern):
            _shutil.copy(p, target)

    def rm(self, pattern: str) -> None:
        """Remove matching files/dirs (reference: context.py:465)."""
        import os as _os
        import shutil as _shutil
        for p in self.ls(pattern):
            if _os.path.isdir(p):
                _shutil.rmtree(p)
            else:
                _os.remove(p)

    @property
    def uiWebURL(self) -> str:
        """Spark UI URL (reference WebUI analog: context.py:479).  Empty
        when the UI is disabled (the engine default for benchmarks)."""
        return self.spark.sparkContext.uiWebUrl or ""

    # ------------------------------------------------------------ sources
    def parallelize(self, value_list, columns=None, schema=None,
                    auto_unpack: bool = True) -> DataSet:
        """Python list -> DataSet (reference: context.py:246).

        Rows that don't conform to the unified schema are quarantined as
        BadParallelizeInput exceptions instead of failing the job
        (reference: PythonContext.cc:621-673 fallback rows)."""
        rows = list(value_list)
        if auto_unpack and rows and all(isinstance(r, dict) for r in rows):
            keys: list[str] = []
            for r in rows:
                for k in r:
                    if k not in keys:
                        keys.append(k)
            columns = columns or keys
            rows = [tuple(r.get(k) for k in keys) for r in rows]

        data = [r if isinstance(r, tuple) else (r,) for r in rows]
        # normal case: the plurality row width, then per column the
        # plurality type family; every other row is a violation
        widths: dict[int, int] = {}
        for r in data:
            widths[len(r)] = widths.get(len(r), 0) + 1
        width = max(widths, key=widths.get) if widths else 1
        good = _plurality_family(data, width)
        if good is None:
            # PYOBJECT escape hatch (reference TypeSystem.h PYOBJECT +
            # python-object fallback datasets): values with no Spark
            # type (numpy arrays, user classes, ...) go to a
            # pickled-binary column; map/filter still work, and a map
            # producing representable values promotes back to the
            # structured path.
            df = to_frame(self.spark, [(pickle.dumps(r),) for r in rows],
                          T.StructType([T.StructField(PYOBJ_COL,
                                                      T.BinaryType())]))
            return DataSet(self, df, [PYOBJ_COL],
                           sample=rows[:_SAMPLE_ROWS], pyobj=True)
        sschema = infer_schema_from_rows(good, columns) if schema is None \
            else schema
        fields = sschema.fields
        kept = [tuple(coerce(v, f.dataType) for v, f in zip(r, fields))
                for r in good if len(r) == len(fields) and all(
                    conforms(v, f.dataType) if v is not None else f.nullable
                    for v, f in zip(r, fields))]
        df = to_frame(self.spark, kept, sschema)
        # the rejected rows never reach Spark: park their known count
        bad = len(data) - len(kept)
        parked = [{"BadParallelizeInput": bad}] if bad else []
        return DataSet(self, df, sschema.fieldNames(),
                       sample=kept[:_SAMPLE_ROWS], parked=parked)

    def csv(self, pattern: str, columns=None, header=None, delimiter=None,
            quotechar: str = '"', null_values=None, type_hints=None
            ) -> DataSet:
        """CSV scan with driver-side sampling inference (reference:
        context.py:288, FileInputOperator.cc:195-313)."""
        null_values = list(null_values or [""])
        delim, has_header, det_cols, types, multiline = CSV.detect(
            pattern, delimiter, header, null_values, quotechar,
            float(self._options.get("tuplex.normalcaseThreshold", 0.9)))
        cols = list(columns) if columns else det_cols
        if not cols:
            raise ValueError(
                f"could not detect any columns in {pattern!r} "
                "(empty file?); pass columns= explicitly")
        fields = CSV.build_schema(cols, types, type_hints)
        schema = T.StructType(list(fields) + [
            T.StructField("_corrupt_record", T.StringType(), True)])
        reader = (self.spark.read
                  .option("header", has_header)
                  .option("sep", delim)
                  .option("quote", quotechar)
                  # quoted fields spanning physical lines (RFC-4180):
                  # whole-record parsing, enabled only when the sample
                  # shows an unterminated quote on a line
                  .option("multiLine", bool(multiline))
                  # RFC-4180 doubled-quote escaping ("" inside a quoted
                  # field); Spark's default escape is backslash
                  .option("escape", quotechar)
                  .option("nullValue", null_values[0])
                  .option("mode", "PERMISSIVE")
                  .option("columnNameOfCorruptRecord", "_corrupt_record")
                  .schema(schema))
        df = reader.csv(pattern)
        if len(null_values) > 1:
            for f in fields:
                if isinstance(f.dataType, T.StringType) \
                        and f.name != "_corrupt_record":
                    df = df.withColumn(f.name, F.when(
                        F.col(f.name).isin(null_values), None)
                        .otherwise(F.col(f.name)))
        names = [f.name for f in fields]
        bad = F.col("_corrupt_record").isNotNull()
        # the `+ coalesce(col0*0, 0)` term keeps a real data column in
        # the scan's required schema: Spark rejects queries whose scan
        # references ONLY _corrupt_record (QUERY_ONLY_CORRUPT_RECORD_
        # COLUMN), which exception-count queries would otherwise be
        anchor = F.coalesce(
            F.col(names[0]).cast("double") * 0, F.lit(0.0)).cast("int")
        df = df.select(
            *names,
            (F.when(bad, code_for("BadParseInput")).otherwise(0)
             + anchor).cast("int").alias(EXC_CODE),
            F.when(bad, F.col("_corrupt_record")).alias(EXC_PAYLOAD),
            F.when(bad, F.lit("csv")).alias(EXC_OP))
        return DataSet(self, df, names)

    def text(self, pattern: str, null_values=None) -> DataSet:
        """One row per line, single str column (reference: context.py:367)."""
        df = self.spark.read.text(pattern).withColumnRenamed(
            "value", "column0")
        if null_values:
            df = df.withColumn("column0", F.when(
                F.col("column0").isin(list(null_values)), None)
                .otherwise(F.col("column0")))
        return DataSet(self, df, ["column0"])

    def orc(self, pattern: str, columns=None) -> DataSet:
        """ORC scan (reference: context.py:389)."""
        df = self.spark.read.orc(pattern)
        if columns:
            df = df.toDF(*columns)
        return DataSet(self, df, df.columns)

    def json(self, pattern: str, columns=None, multiline: bool = False,
             schema=None) -> DataSet:
        """JSON-lines (or multiline-document) scan — Spark-native
        addition beyond the reference (which only auto-unpacks dicts in
        parallelize, SURVEY §2.6 JSON row).  Schema is inferred by
        Spark's sampling pass unless given; malformed records are
        quarantined like bad CSV cells (PERMISSIVE + corrupt-record)."""
        reader = self.spark.read.option("multiLine", multiline) \
            .option("mode", "PERMISSIVE") \
            .option("columnNameOfCorruptRecord", "_corrupt_record")
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.json(pattern)
        if "_corrupt_record" not in df.columns:
            if columns:
                df = df.toDF(*columns)
            return DataSet(self, df, df.columns)
        # malformed records travel as failed rows, like bad CSV cells;
        # the rows are cached because a query on raw JSON may not read
        # only the corrupt-record column
        cached = df.cache()
        clean = cached.drop("_corrupt_record")
        names = clean.toDF(*columns).columns if columns else clean.columns
        bad = F.col("_corrupt_record").isNotNull()
        df = cached.select(
            *[F.col(c).alias(n) for c, n in zip(clean.columns, names)],
            F.when(bad, code_for("BadParseInput")).otherwise(0)
            .cast("int").alias(EXC_CODE),
            F.when(bad, F.col("_corrupt_record")).alias(EXC_PAYLOAD),
            F.when(bad, F.lit("json")).alias(EXC_OP))
        return DataSet(self, df, names)

    def table(self, name: str, columns=None) -> DataSet:
        """Catalog table source — the read side of bucketed
        ``DataSet.toparquet(bucket_by=...)`` writes.  Reading through the
        catalog (not the bare parquet path) is what carries the bucket
        spec into planning, so joins/aggregations on the bucket key skip
        their exchange (tests/test_scale.py asserts the plan)."""
        df = self.spark.table(name)
        if columns:
            df = df.select(*columns)
        return DataSet(self, df, list(df.columns))

    def sql(self, query: str) -> DataSet:
        """ANSI SQL over registered views (DataSet.createOrReplaceTempView
        / Context.table) — the full Catalyst SQL surface as a DataSet
        (parity-plus; the reference has no SQL entry point)."""
        df = self.spark.sql(query)
        return DataSet(self, df, list(df.columns))

    def parquet(self, pattern: str, columns=None) -> DataSet:
        """Parquet scan (Spark-native addition; same shape as orc()).

        Files with TIMESTAMP(NANOS) columns (which Spark's reader rejects)
        are read with nanos-as-long and truncated to micros, matching what
        DuckDB/Arrow do."""
        key = ("parquet", pattern, tuple(columns or ()),
               _scan_mtime(pattern))
        scan = self._scan_cache.get(key)
        if scan is None:
            df = self._read_parquet_nanos_safe(pattern)
            if columns:
                df = df.toDF(*columns)
            scan = self._scan_cache[key] = DataSet(self, df, df.columns)
            if len(self._scan_cache) > 256:
                self._scan_cache.popitem(last=False)
        return scan._spawn(scan._df, bump=False)

    def _read_parquet_nanos_safe(self, pattern: str):
        from pyspark.sql import functions as F  # noqa: F811
        try:
            df = self.spark.read.parquet(pattern)
            df.schema  # force analysis
            return df
        except Exception as e:
            if "PARQUET_TYPE_ILLEGAL" not in str(e) and "NANOS" not in str(e):
                raise
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = self.spark.read.parquet(pattern)
        import pyarrow.parquet as pq
        import glob as _glob
        import os as _os
        p = (sorted(_glob.glob(pattern)) or [pattern])[0]
        if _os.path.isdir(p):
            inner = sorted(_glob.glob(_os.path.join(p, "*.parquet"))) \
                or sorted(_glob.glob(_os.path.join(p, "part-*")))
            if inner:
                p = inner[0]
        meta = pq.read_schema(p)
        df = raw
        for field in meta:
            if str(field.type) == "timestamp[ns]":
                df = df.withColumn(field.name, F.timestamp_micros(
                    (F.col(field.name) / 1000).cast("long")))
        return df


_SCAN_MTIME_CAP = 4096  # stat budget per cache probe


def _scan_mtime(pattern: str) -> float:
    """Latest mtime across the glob, descending into directories (a
    bounded os.walk): an IN-PLACE part-file rewrite changes only the
    file's own mtime — not any ancestor directory's — so nested
    partitioned layouts (out/year=2024/part-*.parquet) need the files
    themselves statted, not just one scandir level.  Directories past
    the _SCAN_MTIME_CAP stat budget return +inf, degrading to a cache
    miss (always re-scan) rather than ever serving a stale sample.
    Missing paths return -1; the subsequent read raises the real
    error."""
    import glob as _glob
    import os as _os
    try:
        paths = _glob.glob(pattern) or [pattern]
        ts = []
        budget = _SCAN_MTIME_CAP
        for p in paths:
            ts.append(_os.stat(p).st_mtime)
            if _os.path.isdir(p):  # in-place part-file rewrites
                for root, dirs, files in _os.walk(p):
                    for name in dirs + files:
                        budget -= 1
                        if budget < 0:
                            return float("inf")
                        ts.append(_os.stat(
                            _os.path.join(root, name)).st_mtime)
        return max(ts)
    except OSError:
        return -1.0


def _default_driver_memory() -> str:
    """min(16g, 40% of physical memory): the pre-touched heap is
    committed at launch, so a fixed 16g default cannot start on a host
    with less free memory than that."""
    import os
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "16g"
    return f"{max(1024, min(16 << 10, int(total * 0.4) >> 20))}m"


def build_session(name: str, options: dict | None = None) -> SparkSession:
    """Engine-default SparkSession. ANSI off is load-bearing: the exception
    model relies on NULL-on-error expression semantics plus explicit guard
    predicates (udf/compiler.py) rather than JVM-side throws."""
    options = options or {}
    import os
    cpus = str(options.get("tuplex.executorCount")
               or os.environ.get("SPARK_GRAFT_CPUS") or "32")
    shuffle = options.get("tuplex.shufflePartitions") or cpus
    # ONE BLAS thread per Python worker: every Arrow kernel here
    # (centroid assignment, PQ encode, SemDeDup verify) calls numpy
    # matmuls from N concurrent task workers, and an uncapped OpenBLAS
    # starts a full #cores thread pool PER WORKER — 10 tasks x 32
    # threads = 320 runnable threads thrashing one 32-CPU host
    # (measured: the same 20000x64 @ 64x2500 screen matmul runs at
    # 1.6-16 GFLOP/s uncapped vs 27 GFLOP/s single-threaded; in-Spark
    # assignment passes swung 2-60 s).  Tasks are the parallelism
    # unit; per-task BLAS threading only ever oversubscribes (guide
    # §4.2).  setdefault so an operator can still override per-run;
    # os.environ covers local mode (workers inherit the driver env),
    # executorEnv covers a real cluster.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
               "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    # Keep Python-worker malloc arenas MAPPED across batches.  Every
    # Arrow kernel allocates multi-MB numpy temporaries (the centroid
    # screen's (blk, C) cosine block is ~32 MB); glibc serves those
    # via mmap and returns them to the OS on free, so EVERY batch
    # re-faults the pages in — and this host's fault path degrades
    # ~25-150x for the first seconds after a worker has sat idle
    # (measured: the same 2000x64 @ 64x2500 matmul reads 0.02 s hot,
    # 0.44-5.4 s after a 4-10 s idle gap, and 0.02 s again with the
    # arena pinned).  MMAP_MAX_=0 routes large blocks onto the brk
    # heap, TRIM_THRESHOLD_=-1 stops glibc giving the heap back:
    # together each worker keeps its high-water arena (bounded by the
    # kernels' chunking, ~tens of MB) and batch N+1 reuses batch N's
    # hot pages.  Same class of fix as the JVM's -Xms/+AlwaysPreTouch
    # above, applied to the Python side of the boundary.  glibc reads
    # these at process start, so they only affect the workers the JVM
    # forks (and executors via executorEnv below), never this driver.
    for _v in ("MALLOC_MMAP_MAX_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(_v, "0" if _v == "MALLOC_MMAP_MAX_"
                              else "-1")
    # pymalloc's 256 KB object arenas are mmap'd DIRECTLY (not via
    # malloc), so the pure-Python codec stages (multimodal JPEG/GIF)
    # still churned unmapped-and-refaulted arenas under the fix above
    # — measured as late-leg 6x inflation (mm_jpeg 8.9 s in-leg vs
    # 1.3-1.5 s standalone) with the glibc arena already pinned.
    # Routing object allocation through malloc puts it under the same
    # pinned arena; standalone cost is a wash (A/B 1.45-1.7 s both
    # ways on mm_jpeg).
    os.environ.setdefault("PYTHONMALLOC", "malloc")
    b = (SparkSession.builder
         .master(f"local[{cpus}]")
         .appName(name)
         .config("spark.sql.ansi.enabled", "false")
         .config("spark.sql.shuffle.partitions", str(shuffle))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         # AQE sizes post-shuffle partitions from the exchange's INPUT
         # bytes; stages whose output explodes relative to input (the
         # LSH pair generators: C(k,2) pairs per bucket from a skinny
         # (id, band, h) table) get collapsed to 1 task when that input
         # compresses under the default 1 MB floor — measured as a 33 s
         # single-task stage inside an otherwise 7 s sf1 dedup run, the
         # dominant LSH variance.  A 64 KB floor keeps parallelism-first
         # sizing at ~defaultParallelism once a shuffle exceeds ~2 MB,
         # while genuinely tiny shuffles still coalesce.
         .config("spark.sql.adaptive.coalescePartitions"
                 ".minPartitionSize", "64KB")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.files.maxPartitionBytes",
                 options.get("tuplex.inputSplitSize", "64MB"))
         .config("spark.ui.enabled", "false")
         # Plans are built Column by Column over py4j, and with this
         # flag on (pyspark's default) every pyspark.sql.functions call
         # also records its Python call site in the JVM: about 7 more
         # round trips per call (getActiveSession, a JVM class lookup,
         # conf.get, PySparkCurrentOrigin.set/clear).  Off, the zillow
         # port's 11-UDF chain builds in 5,226 round trips instead of
         # 14,746 (tests/test_zillow_port.py).  No error loses anything:
         # an AnalysisException keeps its DataFrame query context
         # (fragment and JVM call site), and pyspark still logs it.
         # pyspark reads the flag once per process, at its first wrapped
         # call with a session.
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         # InferFiltersFromGenerate synthesizes size(gen_input) > 0 and
         # predicate pushdown then INLINES the generator's whole input
         # expression into the filter.  For explode(expensive-HOF) —
         # every dedup/shingle pipeline here — that re-evaluates the
         # array per row below the stage that was deliberately staged to
         # compute it once (measured 6-10x slowdown at sf0.1).  The
         # inferred filter only skips empty arrays; never worth it.
         # Predicate pushdown through HEAVY compiled-UDF projections is
         # blocked per-operator instead (dataset.py: nondeterministic
         # identity wrapper), so plain scan pushdown keeps working.
         .config("spark.sql.optimizer.excludedRules",
                 "org.apache.spark.sql.catalyst.optimizer."
                 "InferFiltersFromGenerate")
         # Arrow tables from the driver (parallelize) become RDD scans
         # split over the cores, as Row lists were, not local relations
         # whose compiled UDFs the optimizer would evaluate in the driver
         .config("spark.sql.execution.arrow.localRelationThreshold", "0")
         # CSV malformation detection must not depend on which columns a
         # query touches: with parser column pruning, a row with extra
         # tokens is corrupt under the full parse (collect drops it) but
         # CLEAN under the pruned parse (the exception-count aggregation,
         # which requires only one anchor column + _corrupt_record, sees
         # 0 bad rows) — inconsistent quarantine accounting.  Full-row
         # parsing only affects CSV scans; parquet pruning is untouched.
         .config("spark.sql.csv.parser.columnPruning.enabled", "false")
         # keep Python UDF workers alive across stages/jobs: the Arrow
         # signature stages (dedup_embedding, multimodal) otherwise pay
         # interpreter fork + numpy import per stage — the dominant term
         # in their run-to-run variance at sf1 (measured 2.4x max/min)
         .config("spark.python.worker.reuse", "true")
         # generated-class churn is the other variance source: the
         # stock 100-entry codegen class cache evicts constantly once a
         # session has run a few dozen distinct plans, and every
         # re-compiled class re-enters HotSpot cold (plus deopt storms
         # in shared framework call sites) — measured as NON-monotonic
         # 10-40x same-stage CPU inflation with clean GC and a clean
         # 32-thread spin probe (dedup stages at 574 s CPU vs 12 s on
         # identical data).  A 10k cache + 512 MB code cache keeps the
         # full working set of generated classes warm (measured: all
         # five sf1 LSH queries stable at 1.5-2.7 s after one pass vs
         # 40-90 s outliers recurring indefinitely before).
         .config("spark.sql.codegen.cache.maxEntries", "10000")
         # localCheckpoint blocks from finished queries stay pinned
         # until the JVM collects their RDD objects and ContextCleaner
         # unpersists them; with a pre-touched 16 GB heap old-gen GCs
         # are rare, so a long session accumulates dead blocks (and
         # their block-manager bookkeeping) — measured as monotonic
         # in-leg inflation of late checkpoint-heavy queries (the r12
         # semdedup samples grew 17 -> 33 s across one bench leg).
         # The stock 30 MIN periodic-GC interval is tuned for clusters
         # where a driver System.gc() is expensive; at one driver GC
         # per 90 s the cleaner keeps the block store bounded for
         # pennies (a full G1 pass on this heap is ~0.1 s).
         .config("spark.cleaner.periodicGC.interval", "90s")
         # cluster-mode twin of the os.environ BLAS cap above (local
         # workers inherit the driver env; executors need it passed)
         .config("spark.executorEnv.OPENBLAS_NUM_THREADS",
                 os.environ["OPENBLAS_NUM_THREADS"])
         .config("spark.executorEnv.OMP_NUM_THREADS",
                 os.environ["OMP_NUM_THREADS"])
         .config("spark.executorEnv.MKL_NUM_THREADS",
                 os.environ["MKL_NUM_THREADS"])
         .config("spark.executorEnv.MALLOC_MMAP_MAX_",
                 os.environ["MALLOC_MMAP_MAX_"])
         .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                 os.environ["MALLOC_TRIM_THRESHOLD_"])
         .config("spark.executorEnv.PYTHONMALLOC",
                 os.environ["PYTHONMALLOC"]))
    # Right-sized, PRE-TOUCHED heap.  The old 90 GB lazily-committed
    # heap let G1 grow young gen by tens of GB between collections;
    # every fresh GB is first-touch page faults against the OS, which
    # showed up as NON-GC, NON-JIT 10-20x run stalls (measured: 48-51 s
    # dedup_embedding sf1 runs with gc_ms=0 while the heap ballooned
    # 10->57 GB, vs 2.4-4.7 s across 10 runs at -Xms16g=-Xmx16g with
    # +AlwaysPreTouch).  This — with the codegen-class churn above —
    # is what rounds 5-7 kept adjudicating as "host CPU variance".
    # NOTE: -Xms=-Xmx + AlwaysPreTouch COMMITS AND TOUCHES the whole
    # heap at startup (the point: no first-touch page faults mid-query).
    # On a host without `mem` free this fails to launch rather than
    # degrading, so without tuplex.driverMemory / SPARK_DRIVER_MEMORY
    # the default is sized from the host (_default_driver_memory).
    mem = str(options.get("tuplex.driverMemory")
              or os.environ.get("SPARK_DRIVER_MEMORY")
              or _default_driver_memory())
    b = (b
         .config("spark.driver.extraJavaOptions",
                 f"-XX:ReservedCodeCacheSize=512m -Xms{mem} "
                 "-XX:+AlwaysPreTouch")
         .config("spark.driver.memory", mem))
    if options.get("tuplex.scratchDir"):
        b = b.config("spark.local.dir", options["tuplex.scratchDir"])
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``tuplex_spark`` importable on every executor.

    Fallback-path UDFs (udf/fallback.py) are cloudpickled BY REFERENCE —
    the worker must be able to ``import tuplex_spark``.  In local mode
    with the repo as cwd that works by accident; on a real cluster (or
    any other cwd) it is a ModuleNotFoundError at task time.  Shipping a
    zip of the package via addPyFile is the standard Spark deployment
    path and costs one ~100 KB broadcast per session."""
    if id(spark) in _SHIPPED:
        return
    import os
    import tempfile
    import zipfile
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        fd, zpath = tempfile.mkstemp(prefix="tuplex_spark_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join("tuplex_spark",
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        spark.sparkContext.addPyFile(zpath)
        _SHIPPED.add(id(spark))
    except Exception:
        # best-effort: local-mode sessions launched from the repo root
        # resolve the module from cwd anyway
        pass
