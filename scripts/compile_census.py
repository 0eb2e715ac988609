"""Compile census: what the UDF compiler makes of every UDF a test suite
compiles, so two versions of the compiler can be compared.

As a pytest plugin it wraps ``tuplex_spark.udf.compiler.compile_udf``
and writes one JSON line per call: the test id, the call's index within
that test, the UDF's qualified name, the outcome (``"compiled"`` or the
``CompileError`` text) and a digest of ``str()`` of every output Column,
guard and staged layer.  pyspark numbers the variables of the lambdas it
builds (``x_12``) from a process-wide counter, so the digest reads them
as ``x_N``.

Record (from the repo root; the file is written fresh)::

    PYTHONPATH=scripts python -m pytest -p compile_census \\
        --census-out=/tmp/after.jsonl tests/test_compiler.py \\
        tests/test_property.py -q -p no:cacheprovider

Compare two records (exit status 1 if a UDF compiled in the first and
fails in the second)::

    python scripts/compile_census.py compare before.jsonl after.jsonl
"""

from __future__ import annotations

import hashlib
import json
import re
import sys

_LAMBDA_VAR = re.compile(r"\b([xyz])_\d+\b")


def digest(compiled) -> str:
    """Digest of a CompiledUDF's output Columns, guards and staged
    layers, with pyspark's lambda variable numbers taken out."""
    from tuplex_spark.udf.compiler import CompileError
    parts = []
    try:
        parts += [f"out {name} {tag} {col}"
                  for name, col, tag in compiled.as_columns()]
    except CompileError as e:  # a result only a predicate can use
        parts.append(f"out! {type(e).__name__}")
    parts += [f"guard {code} {cond}" for cond, code in compiled.guards]
    parts += [f"staged {name} {col}" for name, col in compiled.staged]
    text = _LAMBDA_VAR.sub(r"\1_N", "\n".join(parts))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


# ------------------------------------------------------------ pytest plugin

def pytest_addoption(parser):
    parser.addoption("--census-out", default="compile_census.jsonl",
                     help="JSON-lines file the compile census writes")


class _Census:
    def __init__(self, path):
        self.out = open(path, "w")
        self.test_id = None
        self.calls = 0

    def record(self, fn, outcome, dig):
        self.out.write(json.dumps({
            "test": self.test_id, "call": self.calls,
            "udf": getattr(fn, "__qualname__", repr(fn)),
            "outcome": outcome, "digest": dig}) + "\n")
        self.calls += 1


def pytest_configure(config):
    from tuplex_spark.udf import compiler
    census = _Census(config.getoption("census_out"))
    config._compile_census = census
    inner = compiler.compile_udf

    def compile_udf(fn, *args, **kwargs):
        try:
            out = inner(fn, *args, **kwargs)
        except compiler.CompileError as e:
            census.record(fn, str(e), None)
            raise
        census.record(fn, "compiled", digest(out))
        return out

    compiler.compile_udf = compile_udf


def pytest_runtest_setup(item):
    census = item.config._compile_census
    census.test_id, census.calls = item.nodeid, 0


def pytest_unconfigure(config):
    census = getattr(config, "_compile_census", None)
    if census is not None:
        census.out.close()


# ----------------------------------------------------------- compare mode

def _load(path):
    with open(path) as f:
        return {(r["test"], r["call"]): r for r in map(json.loads, f)}


def compare(before_path, after_path) -> int:
    before, after = _load(before_path), _load(after_path)
    lost, gained, digests, texts = [], [], [], []
    for key in sorted(before.keys() & after.keys()):
        b, a = before[key], after[key]
        was, now = b["outcome"] == "compiled", a["outcome"] == "compiled"
        if was and not now:
            lost.append((key, a["outcome"]))
        elif now and not was:
            gained.append((key, b["outcome"]))
        elif was and b["digest"] != a["digest"]:
            digests.append((key, b["udf"]))
        elif not was and b["outcome"] != a["outcome"]:
            texts.append((key, f"{b['outcome']!r} -> {a['outcome']!r}"))
    for title, rows in (("compiled before, not after", lost),
                        ("compiled after, not before", gained),
                        ("digest changed", digests),
                        ("failure text changed", texts)):
        print(f"{title}: {len(rows)}")
        for (test, call), what in rows:
            print(f"  {test} #{call}: {what}")
    for title, keys in (("only before", before.keys() - after.keys()),
                        ("only after", after.keys() - before.keys())):
        tests = sorted({t for t, _ in keys})
        print(f"{title}: {len(keys)} calls in {len(tests)} tests")
        for t in tests:
            print(f"  {t}")
    for name, rec in (("before", before), ("after", after)):
        ok = sum(r["outcome"] == "compiled" for r in rec.values())
        print(f"{name}: {ok} compiled / {len(rec) - ok} CompileError")
    return 1 if lost else 0


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] != "compare":
        sys.exit(__doc__)
    sys.exit(compare(sys.argv[2], sys.argv[3]))
