"""Tests of the benchmark itself: generators, oracle, metric names, the
tracer and a smoke run of every workload at a tiny size.

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle, run  # noqa: E402
from perfbench import udfs as U  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generators_are_deterministic(tmp_path, name):
    w = WORKLOADS[name]
    a, b, c = (str(tmp_path / k) for k in "abc")
    w.generate(7, 300, a)
    w.generate(7, 300, b)
    w.generate(8, 300, c)
    assert _files(a) == _files(b) and _files(a)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a),
                                               shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, _files(a), shallow=False)
    assert differ, "another seed must give other inputs"


def test_zillow_oracle_on_reference_rows():
    # the rows of tests/test_zillow_port.py, postal code as the scan types it
    def row(title, price, facts, city="boSTon", zipc=2125):
        return (title, "1 Main St", city, "MA", zipc, price, facts,
                "provider", "http://example.com/1")
    rows = [row("Condo for sale", "$450,000", "3 bds , 2.5 ba , 1,500 sqft"),
            row("Apartment for rent", "$2,500/mo", "2 bds , 1 ba , 900 sqft"),
            row("Condo for sale", "$5,350,000",
                "4 bds , 3.5 ba , 4,200 sqft", city="caMBridge", zipc=2139),
            row("Condo for sale", "$350,000", "12 bds , 3 ba , 5,000 sqft"),
            row("Condo for sale", "$--", "3 bds , 2 ba , 900 sqft"),
            None]
    got, exc = oracle.zillow(rows)
    assert got == [
        ("http://example.com/1", "02125", "1 Main St", "Boston", "MA", 3,
         2.5, 1500, "sale", "condo", 450000),
        ("http://example.com/1", "02139", "1 Main St", "Cambridge", "MA", 4,
         3.5, 4200, "sale", "condo", 5350000)]
    assert exc == {"ValueError": 1, "BadParseInput": 1}


def test_service311_oracle_semantics():
    def row(z, city="Brooklyn", created="01/02/2023 07:08:09 AM",
            agency="NYPD"):
        return (1, created, agency, "Noise", z, city, "BROOKLYN")
    rows = [row("11201"), row("11201-1234"), row("N/A"), row(None),
            row("0"), row("11205", city=None),
            row("11201", created="2023-01-02T20:00:00"),
            row("11203", agency="DEP")]
    got, exc = oracle.service311(rows, [("NYPD", "Police")])
    # ZIP+4 folds onto its ZIP; N/A resolves to 10000 + len("BROOKLYN");
    # a missing ZIP is ignored, a zero ZIP filtered, a missing city
    # counted; the second date format is resolved; DEP has no agency row
    assert sorted(got) == [
        (10008, "BROOKLYN", "BROOKLYN", "day", "Police"),
        (11201, "BROOKLYN", "BROOKLYN", "day", "Police"),
        (11201, "BROOKLYN", "BROOKLYN", "evening", "Police"),
        (11203, "BROOKLYN", "BROOKLYN", "day", None)]
    assert exc == {"AttributeError": 1}


def test_generated_inputs_hit_every_exception_path(tmp_path):
    w = WORKLOADS["service311"]
    inp = w.generate(3, 3000, str(tmp_path))
    zips = [r[4] for r in inp["rows"]]
    assert None in zips and "N/A" in zips and "0" in zips
    assert any(z and len(z) == 10 for z in zips)
    assert any("T" in r[1] for r in inp["rows"])  # second date format
    rows, exc = w.expect(inp)
    assert rows and exc["AttributeError"] > 0
    assert any(r[0] < 10100 for r in rows), "no resolved N/A rows"
    assert any(r[4] is None for r in rows), "no unmatched join rows"
    zil = WORKLOADS["zillow"].generate(3, 3000, str(tmp_path / "z"))
    assert None in zil["rows"]  # quarantined postal codes
    _, zexc = oracle.zillow(zil["rows"])
    assert zexc["ValueError"] > 0


def test_rows_match_is_a_multiset_compare_with_float_tolerance():
    assert oracle.rows_match([(1, 2.0), (0, None)], [(0, None), (1, 2.0)])
    assert oracle.rows_match([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not oracle.rows_match([(1, 2.0)], [(1, 2.0), (1, 2.0)])
    assert not oracle.rows_match([(1, 2.0)], [(1, 2.1)])
    assert not oracle.rows_match([(1,)], [(True,)])


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in list(e2e) + list(layer):
        assert NAME.match(name), name
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_tracer_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [
        {"id": 0, "trace": 1, "name": "p", "parent": None, "group": None,
         "start": 0.0, "end": 10.0},
        {"id": 1, "trace": 1, "name": "a", "parent": 0, "group": None,
         "start": 1.0, "end": 4.0},
        {"id": 2, "trace": 1, "name": "b", "parent": 0, "group": None,
         "start": 3.0, "end": 5.0},
        {"id": 3, "trace": 1, "name": "c", "parent": 0, "group": None,
         "start": 7.0, "end": 8.0},
    ]
    selfs = tr.self_times()
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert selfs[1] == pytest.approx(3.0)


def test_udfs_live_in_a_real_module():
    import inspect
    for w in WORKLOADS.values():
        for fn in w.udfs:
            assert inspect.getsource(fn)
    assert U.ZILLOW_CHAIN and len(U.ZILLOW_CHAIN) == 11


def _run(workload, trace, tmp_rows=240):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "5", "--seconds", "0.1",
           "--trace", str(trace), "--rows", str(tmp_rows)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_smoke_run(name):
    out = _run(name, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 4
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_smoke_run_writes_spans():
    out = _run("service311", 1)
    assert out["correct"]
    assert set(out["metrics"]) == set(run.PER_LAYER)
    with open(os.path.join(ROOT, ".perfbench", "traces",
                           "service311-seed5.json")) as f:
        trace = json.load(f)
    names = {s["name"] for s in trace["spans"]}
    assert {"execution", "sources.open", "dataset.build", "dataset.action",
            "sources.detect", "udf.reflect", "dataset.clean_pass",
            "plans.inspect"} <= names
    for s in trace["spans"]:
        assert s["end"] >= s["start"] and s["self"] <= s["end"] - s["start"]
        assert {"name", "start", "end", "parent"} <= set(s)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run must exit
    non-zero without printing a result."""
    import shutil
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = dict(os.environ, PYTHONPATH="")
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "zillow", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=180, env=env)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
