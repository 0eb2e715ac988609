"""Join operator with the reference's column-order/rename semantics.

Reference: core/src/logical/JoinOperator.cc, JoinOperator.h:95
(outputKeyIndex): output = left non-key columns, then the key column (left
key's name), then right non-key columns; ``prefixes``/``suffixes`` are
(left, right) pairs applied to each side's columns to disambiguate.

Physical strategy is left to Catalyst/AQE (broadcast-hash for small
builds, sort-merge otherwise) — the analog of the reference's cost-chosen
build side (PhysicalPlan.cc:145-178).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _decorate(name: str, pre: str, suf: str) -> str:
    return f"{pre}{name}{suf}"


def join_datasets(left, right, lkey, rkey, how: str,
                  prefixes=None, suffixes=None):
    """Single- or multi-key equi-join.  ``lkey``/``rkey`` may be column
    names or equal-length lists (multi-key is parity-plus: the reference
    joins on exactly one key, dataset.py:384).  Output column order is
    the reference's — left non-key, key(s) in left order, right
    non-key."""
    from ..dataset import DataSet

    lkeys = [lkey] if isinstance(lkey, str) else list(lkey)
    rkeys = [rkey] if isinstance(rkey, str) else list(rkey)
    if len(lkeys) != len(rkeys) or not lkeys:
        raise ValueError("join needs equal-length non-empty key lists")
    for k in lkeys:
        if k not in left._columns:
            raise KeyError(f"no left column {k!r}")
    for k in rkeys:
        if k not in right._columns:
            raise KeyError(f"no right column {k!r}")
    pre = tuple(prefixes) if prefixes else ("", "")
    suf = tuple(suffixes) if suffixes else ("", "")
    lpre, rpre = (pre + ("", ""))[:2]
    lsuf, rsuf = (suf + ("", ""))[:2]

    ldf, lparked = left._split_exceptions()
    rdf, rparked = right._split_exceptions()

    lcols = [c for c in left._columns if c not in lkeys]
    rcols = [c for c in right._columns if c not in rkeys]
    key_outs = [_decorate(k, lpre, lsuf) if (lpre or lsuf) else k
                for k in lkeys]

    lsel = [F.col(c).alias(_decorate(c, lpre, lsuf)) for c in lcols] + \
           [F.col(k).alias(f"__jkey_l{i}") for i, k in enumerate(lkeys)]
    rsel = [F.col(k).alias(f"__jkey_r{i}") for i, k in enumerate(rkeys)] + \
           [F.col(c).alias(_decorate(c, rpre, rsuf)) for c in rcols]
    l = ldf.select(*lsel)
    r = rdf.select(*rsel)

    # NULL keys never match (SQL semantics, same as the reference's
    # null-bucket exclusion for inner joins)
    cond = l["__jkey_l0"] == r["__jkey_r0"]
    for i in range(1, len(lkeys)):
        cond = cond & (l[f"__jkey_l{i}"] == r[f"__jkey_r{i}"])
    joined = l.join(r, cond, how)

    # the key columns survive from whichever side is preserved: left for
    # inner/left joins; for right joins unmatched rows only carry the
    # right key (reference declares RIGHT in JoinOperator.h:62-69 but
    # never implemented it — 'parity-plus' here)
    def key_src(i):
        return F.coalesce(F.col(f"__jkey_l{i}"), F.col(f"__jkey_r{i}")) \
            if how == "right" else F.col(f"__jkey_l{i}")

    out_cols = [_decorate(c, lpre, lsuf) for c in lcols] + key_outs + \
               [_decorate(c, rpre, rsuf) for c in rcols]
    sel = [F.col(_decorate(c, lpre, lsuf)) for c in lcols] + \
          [key_src(i).alias(ko) for i, ko in enumerate(key_outs)] + \
          [F.col(_decorate(c, rpre, rsuf)) for c in rcols]
    out = joined.select(*sel)

    return DataSet(left._ctx, out, out_cols, parked=lparked + rparked,
                   op_seq=max(left._op_seq, right._op_seq) + 1)


def salted_join(fact, dim, key: str, n_salt: int = 16, how: str = "inner"):
    """Skew-safe equi-join at the DataFrame level.

    A hash-shuffle join puts every row of a hot key in ONE task; one
    pathological key (a null-ish user id, an empty document hash) then
    dominates the stage at 100 TB.  Salting splits each fact key across
    ``n_salt`` sub-partitions — the fact side gets a deterministic salt
    from a full-row hash (hot-key rows spread because their non-key
    columns differ), the dim side is replicated once per salt value via
    a ``sequence`` explode — and the join runs on (key, salt), restoring
    per-task balance at the cost of an n_salt-times-larger dim side.
    Use when the dim side is too big to broadcast but small enough to
    replicate; AQE's skew-join split (on by default in build_session)
    covers the sort-merge case without replication.

    Semantics are identical to ``fact.join(dim, key, how)`` for inner
    and left joins (asserted differentially in tests/test_scale.py).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    fact_cols = [c for c in fact.columns]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact_cols]),
                  F.lit(n_salt)).cast("int")
    f = fact.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<int>")))
    return f.join(d, [key, "__salt"], how).drop("__salt")
