"""The benchmark pipelines, their inputs, oracles and compile pins.

Each workload runs through the public ``tuplex_spark`` API only.  An
execution is three phases, each traced as its own span and Spark job
group: ``sources.open`` (the Context source call), ``dataset.build``
(the transform chain; a join gets a child span) and ``dataset.action``
(collect / tocsv).
"""

from __future__ import annotations

import csv
import glob
import os

from . import gen, oracle
from . import udfs as U


class Workload:
    """One pipeline; why each was chosen is recorded in BENCHMARK.json."""

    name = ""
    rows = 0            # generated input rows at benchmark size
    compiled = 0        # UDFs that must compile, per execution
    fallback = 0        # UDFs that must take the interpreter path
    python_eval = 0     # Python-eval operators in the final plan(s)
    udfs: list = []     # every UDF and resolver the pipeline uses

    def generate(self, seed: int, rows: int, in_dir: str):
        """Write the inputs; returns the handle ``expect`` and ``open``
        take."""
        raise NotImplementedError

    def expect(self, inp):
        """Oracle (rows, exception_counts) for the generated inputs."""
        raise NotImplementedError

    def open(self, ctx, inp):
        raise NotImplementedError

    def build(self, src, tr) -> list:
        """Transform chain; returns the final DataSet(s)."""
        raise NotImplementedError

    def act(self, finals, out_dir):
        """Run the action(s); returns (rows or None, exception_counts)."""
        raise NotImplementedError

    def written_rows(self, out_dir):
        """Rows a file-writing action left in out_dir."""
        raise NotImplementedError

    def detect_pattern(self, inp) -> str:
        """Glob of the CSV input."""
        raise NotImplementedError


class Zillow(Workload):
    name = "zillow"
    rows = 20_000
    compiled = len(U.ZILLOW_CHAIN)
    fallback = 0
    python_eval = 0
    udfs = [fn for _, _, fn in U.ZILLOW_CHAIN]

    _OUT_TYPES = [str, str, str, str, str, int, float, int, str, str, int]

    def generate(self, seed, rows, in_dir):
        return {"dir": in_dir, "rows": gen.zillow(seed, rows, in_dir)}

    def expect(self, inp):
        return oracle.zillow(inp["rows"])

    def detect_pattern(self, inp):
        return os.path.join(inp["dir"], "*.csv")

    def open(self, ctx, inp):
        return ctx.csv(self.detect_pattern(inp))

    def build(self, ds, tr):
        for method, col, fn in U.ZILLOW_CHAIN:
            ds = getattr(ds, method)(*([col, fn] if col else [fn]))
        return [ds.selectColumns(U.ZILLOW_OUT)]

    def act(self, finals, out_dir):
        finals[0].tocsv(out_dir)
        return None, {}

    def written_rows(self, out_dir):
        rows = []
        for path in sorted(glob.glob(os.path.join(out_dir, "part-*.csv"))):
            with open(path, newline="", encoding="utf-8") as f:
                r = csv.reader(f)
                next(r, None)  # each part file has a header
                rows += [tuple(t(v) for t, v in zip(self._OUT_TYPES, row))
                         for row in r]
        return rows


class Service311(Workload):
    name = "service311"
    rows = 20_000
    compiled = 3     # ZIP fix, filter, city
    fallback = 1     # the date UDF; its resolver does not compile either
    python_eval = 2  # the date UDF and the per-row Python resolve
    udfs = [U.fix_zip, U.resolve_zip, U.zip_known, U.city_upper, U.daypart,
            U.daypart_alt]

    def generate(self, seed, rows, in_dir):
        requests, agencies = gen.service311(seed, rows, in_dir)
        return {"dir": in_dir, "rows": requests, "agencies": agencies}

    def expect(self, inp):
        return oracle.service311(inp["rows"], inp["agencies"])

    def detect_pattern(self, inp):
        return os.path.join(inp["dir"], "requests", "*.csv")

    def open(self, ctx, inp):
        return (ctx.csv(self.detect_pattern(inp),
                        type_hints={"Incident Zip": str}),
                ctx.parquet(os.path.join(inp["dir"], "agencies")))

    def build(self, src, tr):
        requests, agencies = src
        ds = (requests.withColumn("zip", U.fix_zip)
              .resolve(ValueError, U.resolve_zip)
              .ignore(TypeError)
              .filter(U.zip_known)
              .mapColumn("City", U.city_upper)
              .withColumn("daypart", U.daypart)
              .resolve(ValueError, U.daypart_alt))
        # the join comes after the interpreter-path UDF: a join drops the
        # plan-time sample that UDF infers its output type from
        with tr.span("operators.join_build"):
            ds = ds.leftJoin(agencies, "Agency", "Agency")
        return [ds.selectColumns(U.S311_OUT).unique()]

    def act(self, finals, out_dir):
        rows = finals[0].collect()
        return rows, finals[0].exception_counts


WORKLOADS = {w.name: w for w in (Zillow(), Service311())}
