"""CSV sampling inference: delimiter / header / per-column types.

Reference analog: core/src/logical/FileInputOperator.cc:47-98 (sample up
to csv.maxDetectionMemory bytes), utils/include/CSVStatistic.h:55-76
(delimiter & header estimation), FileInputOperator.cc:229-299 (normal-case
vs general-case typing with null_values / type_hints).

We sample locally on the driver (same as the reference), build an explicit
Spark schema, and let the distributed ``spark.read.csv`` scan use it — so
the cluster-side read is schema-driven (no Spark inferSchema second pass
over 100 TB).  Cells that violate the inferred schema surface through
PERMISSIVE mode's ``_corrupt_record`` as BadParseInput exception rows.
"""

from __future__ import annotations

import csv as _csv
import glob as _glob
import io
from collections import Counter
from functools import reduce

from pyspark.sql import types as T

from ..typeutils import super_type

MAX_DETECTION_BYTES = 256 * 1024  # reference: csv.maxDetectionMemory
CANDIDATE_DELIMS = [",", ";", "|", "\t"]


SAMPLE_FILES = 3  # files sampled per glob: first + middle + last


def _read_sample(path: str, nbytes: int) -> str:
    with open(path, "rb") as f:
        data = f.read(nbytes)
    text = data.decode("utf-8", errors="replace")
    # drop a trailing partial line
    if len(data) == nbytes and "\n" in text:
        text = text[: text.rfind("\n")]
    return text


def sample_files(pattern: str, nbytes: int = MAX_DETECTION_BYTES,
                 k: int = SAMPLE_FILES) -> list[str]:
    """Per-file sample texts for up to k files of the glob (first,
    middle, last — deterministic).  A single-file sample mis-types a
    multi-file glob with schema drift: later files' drifted cells all
    land in _corrupt_record quarantine at scan time (the reference
    shares this single-file weakness, FileInputOperator.cc:47-98; at
    100 TB the k-file union is the safer default)."""
    paths = sorted(_glob.glob(pattern))
    if not paths:
        raise FileNotFoundError(pattern)
    if len(paths) <= k:
        chosen = paths
    else:
        chosen = [paths[0], paths[len(paths) // 2], paths[-1]]
    budget = max(nbytes // max(len(chosen), 1), 4096)
    return [_read_sample(p, budget) for p in chosen]


def detect_delimiter(text: str) -> str:
    lines = [l for l in text.splitlines() if l][:100]
    best, best_score = ",", -1.0
    for d in CANDIDATE_DELIMS:
        counts = [l.count(d) for l in lines]
        if not counts or max(counts) == 0:
            continue
        mean = sum(counts) / len(counts)
        var = sum((c - mean) ** 2 for c in counts) / len(counts)
        score = mean / (1.0 + var)
        if score > best_score:
            best, best_score = d, score
    return best


_BOOL, _LONG, _DOUBLE, _STRING = (T.BooleanType(), T.LongType(),
                                  T.DoubleType(), T.StringType())


def _cell_type(v: str, null_values) -> T.DataType | None:
    """Spark type of one CSV cell's text; None for a null cell."""
    if v in null_values:
        return None
    try:
        int(v)
        return _LONG
    except ValueError:
        pass
    try:
        float(v)
        return _DOUBLE
    except ValueError:
        pass
    if v.lower() in ("true", "false"):
        return _BOOL
    return _STRING


def detect(pattern: str, delimiter: str | None, header: bool | None,
           null_values, quotechar: str = '"',
           normalcase_threshold: float = 0.9):
    """Returns (delimiter, has_header, columns, Spark type per column,
    multiline).

    Per-column typing is *normal-case majority* typing (reference:
    FileInputOperator.cc:229-299, tuplex.normalcaseThreshold): the most
    specific type covering >= threshold of non-null sampled cells wins;
    cells outside it surface as BadParseInput exception rows at scan time.
    Falls back to the widened type when no candidate reaches threshold.

    ``multiline`` is True when a sampled line carries an ODD number of
    quote chars — an unterminated quote means RFC-4180 records span
    physical lines, and the reader must parse whole records (Spark's
    multiLine mode; costs intra-file split parallelism, so it is only
    turned on when detected)."""
    texts = sample_files(pattern)
    # delimiter: per-file detection, majority vote (first file breaks
    # ties); multiline: any file with an unterminated quote line
    if delimiter:
        delim = delimiter
    else:
        votes = [detect_delimiter(t) for t in texts]
        delim = max(dict.fromkeys(votes),
                    key=lambda d: votes.count(d))
    multiline = any(line.count(quotechar) % 2 == 1
                    for t in texts for line in t.splitlines())
    per_file = []
    for t in texts:
        rows = list(_csv.reader(io.StringIO(t), delimiter=delim,
                                quotechar=quotechar))
        per_file.append([r for r in rows if r])
    rows0 = per_file[0]
    if not rows0:
        return delim, bool(header), [], [], multiline
    # Schema width comes from the LEAD file (its modal row width), never
    # a global max across sampled files: if a later file gained a column,
    # a global-max width would discard every lead-file row and inference
    # would come back empty.  Other files' rows only join the type vote
    # when they match the lead width; drifted files' rows land in
    # _corrupt_record quarantine at scan time, same as the single-file
    # behavior (reference: FileInputOperator.cc:47-98 samples one file).
    widths: dict[int, int] = {}
    for r in rows0:
        widths[len(r)] = widths.get(len(r), 0) + 1
    width = max(widths, key=lambda w: (widths[w], w))
    per_file = [[r for r in rs if len(r) == width] for rs in per_file]
    rows0 = per_file[0]
    if not rows0:
        return delim, bool(header), [], [], multiline

    # each sampled cell is typed once, for the header check and the vote
    typed = [[[_cell_type(c, null_values) for c in r] for r in rs]
             for rs in per_file]
    has_header = header
    if has_header is None:
        # header iff the lead file's first row is all-string and
        # differs from the body's majority types (reference:
        # CSVStatistic header estimation)
        first = typed[0][0]
        body_types = _vote(typed[0][1:] or typed[0], normalcase_threshold)
        has_header = (all(t is _STRING for t in first)
                      and first != body_types and len(rows0) > 1)
    columns = rows0[0] if has_header else \
        [f"column{i}" for i in range(width)]
    # type votes pool BODY rows of every sampled file (header=True
    # makes the scan skip each file's first line, so drop it from
    # every sample, not just the first)
    body_from = 1 if has_header else 0
    pooled = [r for ts in typed for r in (ts[body_from:] or ts)]
    types = _vote(pooled or typed[0], normalcase_threshold)
    return delim, bool(has_header), columns, types, multiline


def _vote(rows, threshold: float = 0.9) -> list[T.DataType]:
    """Per column of typed cells: the most specific of bool/long/double
    whose ``super_type`` covers >= threshold of the non-null cells, else
    the widened type (string when the cells have no common type)."""
    out = []
    for col in zip(*rows):
        counts = Counter(col)
        del counts[None]
        n = sum(counts.values())
        if not n:
            out.append(_STRING)
            continue
        chosen = next((c for c in (_BOOL, _LONG, _DOUBLE)
                       if sum(k for t, k in counts.items()
                              if super_type(t, c) == c) / n >= threshold),
                      None)
        out.append(chosen or reduce(
            lambda a, b: super_type(a, b) or _STRING, counts))
    return out


def build_schema(columns, types, type_hints=None) -> T.StructType:
    hints = dict(type_hints or {})
    fields = []
    for i, (name, dt) in enumerate(zip(columns, types)):
        hint = hints.get(name, hints.get(i))
        if hint is not None:
            dt = _hint_to_spark(hint)
        fields.append(T.StructField(name, dt, True))
    return fields and T.StructType(fields) or T.StructType([])


def _hint_to_spark(hint) -> T.DataType:
    if isinstance(hint, T.DataType):
        return hint
    # typing.Optional[X] / Union[X, None] (reference type_hints style,
    # e.g. test_aggregates.py test_311): nullability is universal in
    # Spark, so unwrap to X
    import typing
    if typing.get_origin(hint) is typing.Union:
        args = [a for a in typing.get_args(hint) if a is not type(None)]
        if len(args) == 1:
            return _hint_to_spark(args[0])
    m = {int: T.LongType(), float: T.DoubleType(), str: T.StringType(),
         bool: T.BooleanType(),
         "int": T.LongType(), "i64": T.LongType(),
         "float": T.DoubleType(), "f64": T.DoubleType(),
         "str": T.StringType(), "bool": T.BooleanType(),
         "Option[int]": T.LongType(), "Option[float]": T.DoubleType(),
         "Option[str]": T.StringType(), "Option[bool]": T.BooleanType()}
    return m.get(hint, T.StringType())
