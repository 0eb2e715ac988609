"""Temporal joins Spark lacks as built-ins: as-of join and range
(interval) join, expressed so they scale.

The reference declares no temporal joins at all (absence in
core/include/logical/JoinOperator.h — inner/left equi only); these are
Spark-native extensions in the spirit of the §2.5 additions, shaped for
the time-series workloads a 100 TB event pipeline actually runs.

Why not the obvious encodings:
- ``left.join(right, cond <= / BETWEEN)`` plans as a broadcast-nested-
  loop (or cartesian) — quadratic work and a driver-killing broadcast
  at scale.
- ``asof_join`` here is the union + ordered-window trick: tag both
  sides, shuffle ONCE on the `by` key, sort by (ts, side) inside each
  partition, and carry the most recent right row forward with
  ``last(..., ignorenulls=True)``.  One shuffle, one pass, no join at
  all.
- ``range_join`` bins time: each left row lands in exactly one
  ``bin_width`` bucket, each right interval explodes into the buckets
  it covers, and the match becomes an equi-join on (by, bin) plus a
  residual BETWEEN filter.  Work is linear in rows + interval spans;
  Catalyst still picks the join strategy for the binned equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _side_cols(df: DataFrame, keep: list[str]) -> list[str]:
    return [c for c in df.columns if c not in keep]


def asof_join(left: DataFrame, right: DataFrame, on: str = "ts",
              by: str | list[str] | None = None,
              direction: str = "backward",
              tolerance=None,
              right_suffix: str = "_right") -> DataFrame:
    """For each left row, attach the single right row whose ``on`` value
    is the closest at-or-before it (``backward``, ties included) or
    at-or-after it (``forward``) within the same ``by`` group — a left
    outer as-of join (unmatched left rows keep NULL right columns).

    ``tolerance`` (seconds, or a Column interval in the ``on`` unit for
    numeric columns) null-outs matches farther than the window.

    Right rows should be unique per (by, on) for deterministic output —
    pre-aggregate ties upstream if the source can produce them.

    Scale shape: union both sides -> ONE hash shuffle on ``by`` -> one
    ordered window pass carrying the latest right payload forward.  No
    join operator, no broadcast, no nested loop; skew follows the `by`
    key like any groupBy.  With ``by=None`` the window is global (single
    partition) — correct, but only for small inputs; time-series joins
    at scale should always carry a key."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof direction {direction!r}")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    lcols = _side_cols(left, [])
    rcols = [on] + by_cols + _side_cols(right, [on] + by_cols)
    out_rcols = [c for c in rcols if c not in by_cols]

    rstruct = F.struct(*[F.col(c).alias(c) for c in out_rcols])
    # side ordering makes equal timestamps MATCH (asof is <= / >=):
    # backward scans ascending with right rows first at a tie; forward
    # scans descending with right rows first again.
    l_tag = left.select(
        F.col(on).cast("timestamp").alias("__t") if _is_ts(left, on)
        else F.col(on).alias("__t"),
        *by_cols,
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c).alias(c) for c in lcols]).alias("__l"),
        F.lit(None).cast(right.select(rstruct).schema[0].dataType)
        .alias("__r"))
    r_tag = right.select(
        F.col(on).cast("timestamp").alias("__t") if _is_ts(right, on)
        else F.col(on).alias("__t"),
        *by_cols,
        F.lit(0).alias("__side"),
        F.lit(None).cast(left.select(
            F.struct(*[F.col(c).alias(c) for c in lcols])).schema[0]
            .dataType).alias("__l"),
        rstruct.alias("__r"))
    tagged = l_tag.unionByName(r_tag)

    w = Window.partitionBy(*by_cols)
    if direction == "backward":
        w = w.orderBy(F.col("__t").asc(), F.col("__side").asc())
    else:
        w = w.orderBy(F.col("__t").desc(), F.col("__side").asc())
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried = F.last("__r", ignorenulls=True).over(w)

    matched = (tagged
               .withColumn("__m", carried)
               .filter(F.col("__side") == 1))
    if tolerance is not None:
        time_like = _is_tslike(matched, "__t")

        def secs(col: Column) -> Column:
            if time_like:
                return F.unix_micros(col.cast("timestamp")) / F.lit(1e6)
            return col.cast("double")
        gap = secs(F.col("__t")) - secs(F.col("__m").getField(on))
        if direction == "forward":
            gap = -gap
        matched = matched.withColumn(
            "__m", F.when(gap <= F.lit(tolerance), F.col("__m")))

    sel = [F.col("__l").getField(c).alias(c) for c in lcols]
    for c in out_rcols:
        name = c + right_suffix if c in lcols or c in by_cols else c
        sel.append(F.col("__m").getField(c).alias(name))
    return matched.select(*sel)


def _is_ts(df: DataFrame, col: str) -> bool:
    from pyspark.sql import types as T
    return isinstance(df.schema[col].dataType, T.TimestampType)


def _is_tslike(df: DataFrame, col: str) -> bool:
    from pyspark.sql import types as T
    return isinstance(df.schema[col].dataType,
                      (T.TimestampType, T.TimestampNTZType, T.DateType))


def _epoch_seconds(df: DataFrame, col: str) -> Column:
    """Column as double seconds: timestamps (incl. TIMESTAMP_NTZ, which
    can't cast to double) via unix_micros under the session-UTC zone,
    numerics as-is."""
    return _epoch_seconds_expr(df.schema[col].dataType, F.col(col))


def _epoch_seconds_expr(dt, col: Column) -> Column:
    from pyspark.sql import types as T
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(col.cast("timestamp")) / F.lit(1e6)
    return col.cast("double")


def range_join(left: DataFrame, right: DataFrame,
               point: str, start: str, end: str,
               by: str | list[str] | None = None,
               bin_width: float = 3600.0,
               how: str = "inner",
               right_suffix: str = "_right") -> DataFrame:
    """Interval join: left rows whose ``point`` falls in a right row's
    ``[start, end]`` (inclusive), optionally per ``by`` group.

    Spark plans a raw BETWEEN join as broadcast-nested-loop — quadratic
    and unusable at scale.  Here each left row maps to exactly ONE
    ``bin_width``-second bucket and each right interval explodes into
    the buckets it covers, so the match is an equi-join on (by, bin)
    plus a residual filter — linear in rows + interval spans, ordinary
    shuffle partitioning, AQE-eligible.  A left row matches an interval
    in exactly one shared bucket, so no dedup step is needed.  Choose
    ``bin_width`` near the typical interval length: much smaller
    multiplies the explode factor, much larger inflates candidate
    pairs per bucket.

    ``how="left"`` folds the residual BETWEEN into the join condition
    and runs ONE left-outer sort-merge join (equi keys __bin + by,
    BETWEEN as the residual) — no anti-join pass, so NULL-bearing left
    rows can't be double-emitted and unmatched lefts cost nothing
    extra."""
    if how not in ("inner", "left"):
        raise ValueError(f"range_join how={how!r}")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    bad = [c for c in (start, end) if c in by_cols]
    if bad:
        # rcols excludes by columns, so the interval bounds would vanish
        # from the join condition (and renames[start/end] would KeyError)
        raise ValueError(
            f"range_join: interval column(s) {bad} cannot also be `by` "
            "group keys — group on a separate key column")
    lcols = _side_cols(left, [])
    rcols = [c for c in right.columns if c not in by_cols]

    p = _epoch_seconds(left, point)
    s = _epoch_seconds(right, start)
    e = _epoch_seconds(right, end)
    lbin = F.floor(p / F.lit(float(bin_width)))
    l_k = left.select(*lcols, lbin.alias("__bin")).alias("__L")
    r_exp = right.select(
        *by_cols, *[F.col(c) for c in rcols],
        F.explode(F.sequence(F.floor(s / F.lit(float(bin_width))),
                             F.floor(e / F.lit(float(bin_width)))))
        .alias("__bin"))
    renames = {c: (c + right_suffix if c in lcols else c) for c in rcols}
    r_exp = r_exp.select(
        *by_cols, "__bin",
        *[F.col(c).alias(renames[c]) for c in rcols]).alias("__R")

    # equi keys (__bin, by) + residual BETWEEN, all in ONE join
    # condition: Catalyst extracts the equi keys for a shuffled join and
    # keeps the BETWEEN as the in-join residual, so `how` maps directly
    # to inner / left-outer semantics with correctly-typed NULL padding.
    jp = _epoch_seconds_expr(left.schema[point].dataType,
                             F.col(f"__L.{point}"))
    cond = F.col("__L.__bin") == F.col("__R.__bin")
    for b in by_cols:
        cond = cond & (F.col(f"__L.{b}") == F.col(f"__R.{b}"))
    cond = cond & \
        (jp >= _epoch_seconds_expr(right.schema[start].dataType,
                                   F.col(f"__R.{renames[start]}"))) & \
        (jp <= _epoch_seconds_expr(right.schema[end].dataType,
                                   F.col(f"__R.{renames[end]}")))
    joined = l_k.join(r_exp, cond, how=how)
    return joined.select(
        *[F.col(f"__L.{c}").alias(c) for c in lcols],
        *[F.col(f"__R.{renames[c]}").alias(renames[c]) for c in rcols])

