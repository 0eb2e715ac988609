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

from pyspark.sql import SparkSession, functions as F, types as T

from .dataset import DataSet
from .exceptions import code_for
from .typeutils import infer_schema_from_rows
from .sources import csv_inference as CSV
from .udf.fallback import EXC_CODE, EXC_OP, EXC_PAYLOAD

_SAMPLE_ROWS = 100

DEFAULTS = {
    "tuplex.exceptions": True,           # capture per-row exceptions
    "tuplex.useCompiledUDFs": True,      # AST->Column compiler on
    "tuplex.inputSplitSize": "64MB",     # reference ContextOptions.cc:227
    "tuplex.shufflePartitions": None,    # None -> leave Spark default
}


def _type_family(v) -> str | None:
    """Coarse type family for normal-case voting: values within one
    family always widen (bool<int<float lattice, str+str, ...); values
    across families have no common type."""
    if v is None:
        return None
    if isinstance(v, (bool, int, float)):
        return "num"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bin"
    return type(v).__name__


def _majority_family_split(rows: list, width: int):
    """Partition rows into (conforming, violating) by per-column majority
    type family.  No-op (all conforming) when every column is
    single-family."""
    from collections import Counter
    counts = [Counter() for _ in range(width)]
    fams_per_row = []
    for r in rows:
        vals = r if isinstance(r, tuple) else (r,)
        fams = tuple(_type_family(v) for v in vals)
        fams_per_row.append(fams)
        for i, f in enumerate(fams):
            if f is not None:
                counts[i][f] += 1
    if all(len(c) <= 1 for c in counts):
        return rows, []
    prio = {"num": 0, "str": 1, "bin": 2}
    major = [min(c.items(), key=lambda kv: (-kv[1], prio.get(kv[0], 9)))[0]
             if c else None for c in counts]
    good, bad = [], []
    for r, fams in zip(rows, fams_per_row):
        ok = all(f is None or m is None or f == m
                 for f, m in zip(fams, major))
        (good if ok else bad).append(r)
    return good, bad


def _coerce_val(v, t: T.DataType):
    """Upcast a Python value along the widened schema's numeric lattice
    (bool -> int -> float, reference TypeSystem.h superType): Spark's
    createDataFrame verifier is strict (an int is rejected by a double
    field), but the unified type IS the declared semantics — a
    ``parallelize([1, 2.5])`` must collect as [1.0, 2.5], not quarantine
    the int row."""
    if v is None:
        return None
    if isinstance(t, T.DoubleType) and isinstance(v, (bool, int)):
        return float(v)
    if isinstance(t, (T.LongType, T.IntegerType)) and isinstance(v, bool):
        return int(v)
    if isinstance(t, T.StructType) and isinstance(v, tuple):
        return tuple(_coerce_val(x, f.dataType)
                     for x, f in zip(v, t.fields))
    if isinstance(t, T.ArrayType) and isinstance(v, list):
        return [_coerce_val(x, t.elementType) for x in v]
    if isinstance(t, T.MapType) and isinstance(v, dict):
        return {_coerce_val(k, t.keyType): _coerce_val(x, t.valueType)
                for k, x in v.items()}
    return v


def _coerce_row(row: tuple, schema: T.StructType) -> tuple:
    return tuple(_coerce_val(v, f.dataType)
                 for v, f in zip(row, schema.fields))


class Context:
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
        # (pattern, columns, mtime) -> (DataFrame, sample): repeated
        # scans of the same files otherwise pay parquet footer analysis
        # plus a driver-side sample collect per call (~0.2s each) —
        # plan-build overhead that dominated sub-second queries.  The
        # mtime key drops the entry when the files change.
        self._scan_cache: dict = {}

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

        # PYOBJECT escape hatch (reference TypeSystem.h PYOBJECT +
        # python-object fallback datasets): values with no Spark type
        # (numpy arrays, user classes, ...) go to a pickled-binary column;
        # map/filter still work, and a map producing representable values
        # promotes back to the structured path.
        if self._has_unrepresentable(rows):
            return self._parallelize_pyobjects(rows)

        norm = [r if isinstance(r, tuple) else r for r in rows]
        # split conforming vs bad rows by width
        widths = {}
        for r in norm:
            w = len(r) if isinstance(r, tuple) else 1
            widths[w] = widths.get(w, 0) + 1
        major_w = max(widths, key=widths.get) if widths else 1
        good, bad = [], []
        for r in norm:
            w = len(r) if isinstance(r, tuple) else 1
            (good if w == major_w else bad).append(r)
        # normal-case typing: when a column mixes INCOMPATIBLE families
        # (ints alongside strings), the MAJORITY family is the schema and
        # minority rows are the violations (reference normalcaseThreshold
        # voting, FileInputOperator.cc:229-299) — the supertype fallback
        # would declare the column string and quarantine the majority
        good, type_bad = _majority_family_split(good, major_w)
        bad += type_bad
        if schema is None:
            sschema = infer_schema_from_rows(good, columns)
        else:
            sschema = schema
        data = [r if isinstance(r, tuple) else (r,) for r in good]
        data = [_coerce_row(r, sschema) for r in data]
        try:
            df = self.spark.createDataFrame(data, sschema)
        except Exception:
            # type-nonconforming rows: route through per-row validation
            df, extra_bad = self._parallelize_lenient(data, sschema)
            bad += extra_bad
        cols = [f.name for f in sschema.fields]
        parked = []
        if bad:
            code = code_for("BadParallelizeInput")
            bad_rows = [(code, json.dumps({"row": list(r) if isinstance(
                r, tuple) else r}, default=str), "parallelize")
                for r in bad]
            parked = [self.spark.createDataFrame(
                bad_rows, "code int, payload string, op string")]
        return DataSet(self, df, cols, sample=good[:_SAMPLE_ROWS],
                       parked=parked)

    @staticmethod
    def _has_unrepresentable(rows) -> bool:
        from .typeutils import infer_type
        for r in rows[:500]:
            vals = r if isinstance(r, tuple) else (r,)
            for v in vals:
                if v is not None and infer_type(v) is None:
                    return True
        return False

    def _parallelize_pyobjects(self, rows) -> DataSet:
        import pickle
        from .dataset import PYOBJ_COL
        data = [(pickle.dumps(r),) for r in rows]
        schema = T.StructType([T.StructField(PYOBJ_COL, T.BinaryType(),
                                             True)])
        df = self.spark.createDataFrame(data, schema)
        return DataSet(self, df, [PYOBJ_COL], sample=rows[:_SAMPLE_ROWS],
                       pyobj=True)

    def _parallelize_lenient(self, data, sschema):
        ok, bad = [], []
        for r in data:
            try:
                self.spark.createDataFrame([r], sschema)
                ok.append(r)
            except Exception:
                bad.append(r)
        return self.spark.createDataFrame(ok, sschema), bad

    def csv(self, pattern: str, columns=None, header=None, delimiter=None,
            quotechar: str = '"', null_values=None, type_hints=None
            ) -> DataSet:
        """CSV scan with driver-side sampling inference (reference:
        context.py:288, FileInputOperator.cc:195-313)."""
        null_values = list(null_values or [""])
        delim, has_header, det_cols, tags, multiline = CSV.detect(
            pattern, delimiter, header, null_values, quotechar,
            float(self._options.get("tuplex.normalcaseThreshold", 0.9)))
        cols = list(columns) if columns else det_cols
        if not cols:
            raise ValueError(
                f"could not detect any columns in {pattern!r} "
                "(empty file?); pass columns= explicitly")
        fields = CSV.build_schema(cols, tags, type_hints)
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
        exc = self._options.get("tuplex.exceptions", True)
        names = [f.name for f in fields]
        if exc:
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
        else:
            df = df.select(*names)
        sample = self._sample_from_df(df.select(*names))
        return DataSet(self, df, names, sample=sample)

    def text(self, pattern: str, null_values=None) -> DataSet:
        """One row per line, single str column (reference: context.py:367)."""
        df = self.spark.read.text(pattern).withColumnRenamed(
            "value", "column0")
        if null_values:
            df = df.withColumn("column0", F.when(
                F.col("column0").isin(list(null_values)), None)
                .otherwise(F.col("column0")))
        return DataSet(self, df, ["column0"],
                       sample=self._sample_from_df(df))

    def orc(self, pattern: str, columns=None) -> DataSet:
        """ORC scan (reference: context.py:389)."""
        df = self.spark.read.orc(pattern)
        if columns:
            df = df.toDF(*columns)
        return DataSet(self, df, df.columns,
                       sample=self._sample_from_df(df))

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
        bad = None
        if "_corrupt_record" in df.columns:
            cached = df.cache()
            bad = cached.filter(F.col("_corrupt_record").isNotNull()) \
                .select("_corrupt_record")
            df = cached.filter(F.col("_corrupt_record").isNull()) \
                .drop("_corrupt_record")
        if columns:
            df = df.toDF(*columns)
        parked = []
        if bad is not None:
            code = code_for("BadParseInput")
            parked = [bad.select(F.lit(code).alias("code"),
                                 F.col("_corrupt_record").alias("payload"),
                                 F.lit("json").alias("op"))]
        return DataSet(self, df, df.columns,
                       sample=self._sample_from_df(df), parked=parked)

    def table(self, name: str, columns=None) -> DataSet:
        """Catalog table source — the read side of bucketed
        ``DataSet.toparquet(bucket_by=...)`` writes.  Reading through the
        catalog (not the bare parquet path) is what carries the bucket
        spec into planning, so joins/aggregations on the bucket key skip
        their exchange (tests/test_scale.py asserts the plan)."""
        df = self.spark.table(name)
        if columns:
            df = df.select(*columns)
        return DataSet(self, df, list(df.columns),
                       sample=self._sample_from_df(df))

    def sql(self, query: str) -> DataSet:
        """ANSI SQL over registered views (DataSet.createOrReplaceTempView
        / Context.table) — the full Catalyst SQL surface as a DataSet
        (parity-plus; the reference has no SQL entry point)."""
        df = self.spark.sql(query)
        return DataSet(self, df, list(df.columns),
                       sample=self._sample_from_df(df))

    def parquet(self, pattern: str, columns=None) -> DataSet:
        """Parquet scan (Spark-native addition; same shape as orc()).

        Files with TIMESTAMP(NANOS) columns (which Spark's reader rejects)
        are read with nanos-as-long and truncated to micros, matching what
        DuckDB/Arrow do."""
        key = ("parquet", pattern, tuple(columns or ()),
               _scan_mtime(pattern))
        hit = self._scan_cache.get(key)
        if hit is not None:
            df, sample = hit
            return DataSet(self, df, df.columns, sample=sample)
        df = self._read_parquet_nanos_safe(pattern)
        if columns:
            df = df.toDF(*columns)
        sample = self._sample_from_df(df)
        if len(self._scan_cache) < 256:
            self._scan_cache[key] = (df, sample)
        return DataSet(self, df, df.columns, sample=sample)

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

    def _sample_from_df(self, df):
        rows = df.limit(_SAMPLE_ROWS).collect()
        if len(df.columns) == 1:
            return [r[0] for r in rows]
        return [tuple(r) for r in rows]


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
         # InferFiltersFromGenerate synthesizes size(gen_input) > 0 and
         # predicate pushdown then INLINES the generator's whole input
         # expression into the filter.  For explode(expensive-HOF) —
         # every dedup/shingle pipeline here — that re-evaluates the
         # array per row below the stage that was deliberately staged to
         # compute it once (measured 6-10x slowdown at sf0.1).  The
         # inferred filter only skips empty arrays; never worth it.
         # InferFiltersFromGenerate: inlines whole generator expressions
         # into synthesized filters (re-runs the tokenizer per row below
         # the staged projection — measured 6-10x at sf0.1).  Predicate
         # pushdown through HEAVY compiled-UDF projections is blocked
         # per-operator instead (dataset.py: nondeterministic identity
         # wrapper), so plain scan pushdown keeps working.
         .config("spark.sql.optimizer.excludedRules",
                 "org.apache.spark.sql.catalyst.optimizer."
                 "InferFiltersFromGenerate")
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
    # the default is sized from the host (_default_driver_memory); set
    # tuplex.preTouchHeap=False to restore the old lazy-commit behavior
    # (accepting the variance documented in SCALE.md).
    mem = str(options.get("tuplex.driverMemory")
              or os.environ.get("SPARK_DRIVER_MEMORY")
              or _default_driver_memory())
    pin = options.get("tuplex.preTouchHeap", True)
    jvm_opts = "-XX:ReservedCodeCacheSize=512m"
    if pin:
        jvm_opts += f" -Xms{mem} -XX:+AlwaysPreTouch"
    b = (b
         .config("spark.driver.extraJavaOptions", jvm_opts)
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
