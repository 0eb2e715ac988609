#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload zillow --seed 1 --seconds 5 --trace 0

Load model: one client, closed loop, in one process.  The run generates
its inputs from ``--seed``, computes the CPython oracle, builds the
Context (``setup_s``), runs the pipeline once cold and then warm until
``--seconds`` of executions are measured (``run_s`` is the fastest).  Every execution is checked against the oracle and the
workload's compile pins; a mismatch counts as a failed execution.

``--trace 1`` runs the same loop with spans and counters around every
engine call, alternating traced and untraced executions, and prints the
per-layer metrics instead; the spans go to ``.perfbench/traces/``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import oracle, probes  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# A pre-touched 2 GB driver heap fits next to other tenants on a 15 GB
# host; the engine's 16 GB default cannot start there.
DRIVER_MEMORY = "2g"
EXEC_TIMEOUT_S = 60      # a hung execution is cancelled and counts failed
MIN_WARM = 3             # warm samples even when --seconds is short
MIN_TRACED = 2           # traced samples of a --trace 1 run (no bounds)
WALL_BUDGET_S = 120      # stop the warm loop in time to exit within 180 s
PROBE_REPEATS = 3

# The cold execution is one sample per JVM; its run-to-run spread on a
# shared 4-core host (IQR/median 0.16-0.34 over ten seeds) exceeds any
# usable bound, so it is reported by the traced run, without a bound.
END_TO_END = {"setup_s": "s", "run_s": "s", "rows_per_s": "1/s",
              "peak_rss_mb": "MB", "ok_ratio": "ratio"}
PER_LAYER = {
    "execution.cold_s": "s",
    "sources.open_s": "s", "sources.detect_s": "s", "udf.reflect_s": "s",
    "udf.compile_s": "s", "udf.compiled": "count", "udf.fallback": "count",
    "udf.compiled_ratio": "ratio", "dataset.build_s": "s",
    "dataset.action_s": "s", "dataset.clean_pass_s": "s",
    "dataset.jobs_per_action": "count", "dataset.exc_rows": "count",
    "dataset.rows_out": "count", "operators.join_build_s": "s",
    "fallback.python_eval_nodes": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.plan_chars": "chars",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "io.bytes_read": "bytes",
    "io.bytes_written": "bytes", "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="input rows (default: the workload's size)")
    return p.parse_args(argv)


def prepare_dirs(work: str) -> dict:
    """Fresh per-run directories; temp files of this process, the JVM and
    the Python workers all go under ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    d = {k: os.path.join(work, k) for k in ("in", "out", "tmp")}
    for path in d.values():
        os.makedirs(path)
    import tempfile
    tempfile.tempdir = d["tmp"]
    os.environ["TMPDIR"] = d["tmp"]
    # PerfDisableSharedMem: no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={d['tmp']} -XX:+PerfDisableSharedMem"
    # workers import the UDF module (cloudpickle pickles it by reference)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    return d


def setup_context(scratch: str):
    """Import the engine, build the Context and run a first trivial job.
    Returns (ctx, seconds)."""
    t0 = time.perf_counter()
    import tuplex_spark as tx
    ctx = tx.Context(conf={
        "tuplex.executorCount": len(os.sched_getaffinity(0)),
        "tuplex.driverMemory": DRIVER_MEMORY,
        "tuplex.preTouchHeap": True,
        "tuplex.scratchDir": scratch,
    }, name="perfbench")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    got = ctx.parallelize([1, 2, 3]).map(lambda x: x + 1).collect()
    if got != [2, 3, 4]:
        raise RuntimeError(f"first job returned {got!r}")
    return ctx, time.perf_counter() - t0


def shutdown(ctx) -> None:
    """Stop Spark, end the JVM and wait until it and every Python worker
    it forked have exited."""
    from pyspark import SparkContext
    kids = probes.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        ctx.spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        for pid in probes.wait_gone(kids, 30):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        probes.wait_gone(kids, 10)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Bench:
    def __init__(self, ctx, workload, inp, want, dirs):
        self.ctx, self.w, self.inp, self.dirs = ctx, workload, inp, dirs
        self.want_rows, self.want_exc = want
        self.sc = ctx.spark.sparkContext
        self.jvm = probes.Jvm(self.sc)
        self.tracer = Tracer(self.sc)
        self.null = NullTracer()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.finals: list = []  # final DataSets of the last good execution

    def _fail(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"[perfbench] {self.w.name}: {msg}", file=sys.stderr)

    def execute(self, traced: bool):
        """One full pipeline execution.  Returns (seconds, layer counters
        or None); seconds is None when the execution failed."""
        tr = self.tracer if traced else self.null
        if traced:
            self.tracer.trace_id += 1
            gc0, jit0 = self.jvm.gc_s(), self.jvm.jit_s()
        m = self.ctx.metrics
        c0, f0, comp0 = m.compiledUDFs, m.fallbackUDFs, \
            m.totalCompilationTime
        out = self.dirs["out"]
        self.attempted += 1
        timer = threading.Timer(EXEC_TIMEOUT_S, self.sc.cancelAllJobs)
        timer.start()
        t0 = time.perf_counter()
        try:
            with tr.span("execution"):
                with tr.span("sources.open", group="open"):
                    src = self.w.open(self.ctx, self.inp)
                with tr.span("dataset.build", group="build"):
                    finals = self.w.build(src, tr)
                with tr.span("dataset.action", group="action"):
                    rows, exc = self.w.act(finals, out)
            seconds = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            self._fail("execution raised:\n" + traceback.format_exc())
            return None, None
        finally:
            timer.cancel()
            if traced:
                self.sc.setJobGroup("perfbench-idle", "between executions")

        # checks, outside the timed region
        compiled, fell_back = m.compiledUDFs - c0, m.fallbackUDFs - f0
        bad = []
        if (compiled, fell_back) != (self.w.compiled, self.w.fallback):
            bad.append(f"compile path {compiled} compiled / {fell_back} "
                       f"fallback, want {self.w.compiled} / "
                       f"{self.w.fallback}")
        if rows is None:
            rows = self.w.written_rows(out)
        elif exc != self.want_exc:
            bad.append(f"exception_counts {exc} != oracle {self.want_exc}")
        if not oracle.rows_match(rows, self.want_rows):
            bad.append(f"{len(rows)} output rows differ from the oracle's "
                       f"{len(self.want_rows)}")
        if bad:
            self.failed += 1
            self._fail("; ".join(bad))
            return None, None
        self.finals = finals
        if not traced:
            return seconds, None

        tid = self.tracer.trace_id
        dur = lambda name: self.tracer.durations(name, tid)  # noqa: E731
        groups = self.tracer.groups(tid)
        every = [g for gs in groups.values() for g in gs]
        jobs = probes.job_counts(self.sc, every)
        action_jobs = probes.job_counts(self.sc, groups["dataset.action"])
        compile_s = m.totalCompilationTime - comp0
        layer = {
            "sources.open_s": dur("sources.open"),
            "udf.compile_s": compile_s,
            "udf.compiled": compiled,
            "udf.fallback": fell_back,
            "udf.compiled_ratio": compiled / max(compiled + fell_back, 1),
            "dataset.build_s": dur("dataset.build") - compile_s,
            "dataset.action_s": dur("dataset.action"),
            "dataset.jobs_per_action": action_jobs["jobs"] / len(finals),
            "dataset.exc_rows": sum(exc.values()),
            "dataset.rows_out": len(rows),
            "operators.join_build_s": dur("operators.join_build"),
            "spark.jobs": jobs["jobs"],
            "spark.stages": jobs["stages"],
            "spark.tasks": jobs["tasks"],
            "spark.tasks_failed": jobs["tasks_failed"],
            "jvm.gc_s": self.jvm.gc_s() - gc0,
            "jvm.jit_s": self.jvm.jit_s() - jit0,
            "io.bytes_read": jobs["bytes_read"],
            "io.bytes_written": jobs["bytes_written"],
        }
        for k, v in layer.items():
            self.tracer.count(k, v)
        return seconds, layer

    def check_plan(self, traced: bool) -> dict:
        """Pin the Python-eval operator count of the pipeline's plan(s);
        returns the plan-derived layer metrics.  The pipeline is built
        afresh: an executed adaptive plan prints its initial and final
        forms, which would count every operator twice."""
        from tuplex_spark.plans.inspect import formatted_plan
        tr = self.tracer if traced else self.null
        with tr.span("plans.inspect"):
            finals = self.w.build(self.w.open(self.ctx, self.inp),
                                  self.null)
            plans = [formatted_plan(ds.toDF()) for ds in finals]
        nodes = sum(probes.python_eval_nodes(p) for p in plans)
        if nodes != self.w.python_eval:
            self._fail(f"{nodes} Python-eval plan nodes, want "
                       f"{self.w.python_eval}")
        return {"fallback.python_eval_nodes": nodes,
                "spark.plan_chars": sum(len(p) for p in plans)}

    def probe_layers(self) -> dict:
        """Per-layer probes outside the executions (traced run only)."""
        from tuplex_spark.sources import csv_inference
        from tuplex_spark.udf import reflection
        tr = self.tracer
        tr.trace_id += 1
        out: dict[str, list[float]] = {}

        def timed(name, fn):
            t0 = time.perf_counter()
            with tr.span(name):
                fn()
            out.setdefault(name, []).append(time.perf_counter() - t0)

        def reflect():
            for fn in self.w.udfs:
                reflection.function_ast(fn)
                reflection.closure_env(fn)

        def clean_pass():
            for ds in self.finals:
                ds.toDF().write.format("noop").mode("overwrite").save()

        pattern = self.w.detect_pattern(self.inp)
        for _ in range(PROBE_REPEATS):
            timed("sources.detect", lambda: csv_inference.detect(
                pattern, None, None, [""]))
            timed("udf.reflect", reflect)
        timed("dataset.clean_pass", clean_pass)
        med = {k: statistics.median(v) for k, v in out.items()}
        return {"sources.detect_s": med["sources.detect"],
                "udf.reflect_s": med["udf.reflect"],
                "dataset.clean_pass_s": med["dataset.clean_pass"]}


def run(args) -> dict:
    started = time.monotonic()
    import importlib.util
    if importlib.util.find_spec("tuplex_spark") is None:
        raise SystemExit(f"tuplex_spark is not importable from {ROOT}")
    w = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", "run")
    dirs = prepare_dirs(work)
    rows = args.rows or w.rows
    inp = w.generate(args.seed, rows, dirs["in"])
    want = w.expect(inp)

    ctx, setup_s = setup_context(os.path.join(dirs["tmp"], "spark"))
    try:
        bench = Bench(ctx, w, inp, want, dirs)
        traced = bool(args.trace)
        cold, _ = bench.execute(traced)
        warm, layers, plain = [], [], []
        measured, i = 0.0, 0
        min_warm = MIN_TRACED if traced else MIN_WARM
        while (measured < args.seconds or len(warm) < min_warm) \
                and time.monotonic() - started < WALL_BUDGET_S:
            t_traced = traced and i % 2 == 0
            t0 = time.perf_counter()
            seconds, layer = bench.execute(t_traced)
            measured += time.perf_counter() - t0 if seconds is None \
                else seconds
            i += 1
            if seconds is None:
                continue
            if layer is not None:
                warm.append(seconds)
                layers.append(layer)
            else:
                (plain if traced else warm).append(seconds)
        plan = bench.check_plan(traced)
        extra = bench.probe_layers() if traced else {}
        peak = probes.peak_rss_mb()
    finally:
        shutdown(ctx)
    shutil.rmtree(work, ignore_errors=True)

    ok = bench.attempted - bench.failed
    result = {"correct": not bench.problems, "attempted": bench.attempted,
              "failed": bench.failed}
    units = PER_LAYER if traced else END_TO_END
    if not warm or cold is None:  # nothing to measure: report zeros
        result["correct"] = False
        result["metrics"] = {k: {"value": 0.0, "unit": u}
                             for k, u in units.items()}
        return result
    # The warm samples still fall as the JIT settles (the first is the
    # slowest in most runs), so the fastest is the closest a short run
    # gets to the steady state and varies less with how far the JIT got.
    run_s = min(warm)
    if traced:
        metrics = {k: statistics.median(lay[k] for lay in layers)
                   for k in layers[0]}
        metrics.update(plan)
        metrics.update(extra)
        metrics["execution.cold_s"] = cold
        metrics["trace.overhead_s"] = run_s - min(plain) \
            if plain else 0.0
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        bench.tracer.dump(
            os.path.join(trace_dir, f"{w.name}-seed{args.seed}.json"),
            {"workload": w.name, "seed": args.seed, "rows": rows,
             "cold_run_s": cold, "traced_run_s": warm,
             "untraced_run_s": plain, "metrics": metrics})
    else:
        metrics = {"setup_s": setup_s, "run_s": run_s,
                   "rows_per_s": rows / run_s, "peak_rss_mb": peak,
                   "ok_ratio": ok / bench.attempted}
    print(f"# {w.name} seed={args.seed} rows={rows} setup={setup_s:.2f}s "
          f"cold={cold:.3f}s run={run_s:.3f}s over {len(warm)} warm "
          f"samples: {' '.join(f'{x:.3f}' for x in warm)}")
    result["metrics"] = {k: {"value": float(metrics[k]), "unit": u}
                         for k, u in units.items()}
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
