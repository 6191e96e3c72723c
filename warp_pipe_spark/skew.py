"""Skew-safe aggregation: two-stage salted groupBy.

A plain `groupBy(key)` shuffles every row for a hot key to ONE reducer —
at 100 TB a zipf-distributed key (users, domains, event types) turns
into a straggler task that dominates the stage. Salting splits each key
into `n_salt` sub-groups for the partial aggregate, so the heavy key's
rows spread across `n_salt` reducers; the final aggregate then merges
the (at most `n_salt × |keys|`) partials — a tiny second shuffle.

Caveat, stated honestly: for sum/count/min/max Spark's map-side partial
aggregation already bounds the hot reducer's input to one row per map
task, so salting buys little there. It matters when (a) the per-key
*state* is large — collect_list/set, exact distinct over raw values —
so partials don't shrink, or (b) map-task fan-in is so large (100 TB →
~10⁵ tasks) that even one-row-per-task overwhelms a single reducer.
This complements AQE's skew-join splitting (enabled in session.py),
which handles join-side skew but not aggregation skew.

The salt is DETERMINISTIC (xxhash64 of the measure columns, mod
n_salt), not rand(): plans stay replayable, retries stay idempotent,
and the oracle can reproduce results exactly (the salt only routes
rows; merge-able aggregates make routing invisible in the output).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# measure -> (partial agg, final merge agg) for mergeable aggregates.
# count's partial is F.count of the actual input: (count, None) counts
# rows (the call site substitutes lit(1)), (count, col) counts
# NON-NULL values of col — standard SQL count semantics. An earlier
# revision hard-coded count(lit(1)), which silently returned ROW count
# for a nullable column.
_MERGE = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    measures: dict[str, tuple[str, "Column | str | None"]],
    n_salt: int = 16,
    salt_on: Sequence[str] | None = None,
) -> DataFrame:
    """Two-stage aggregation: groupBy(keys + salt) partials, then
    groupBy(keys) merge. `measures` maps output column name to
    (agg, input column) where agg ∈ {sum, count, min, max} — the
    mergeable aggregates (avg = sum/count composed by the caller).

    salt_on: columns fed to the salt hash (defaults to the measure
    inputs) — any per-row-varying deterministic value works.
    """
    bad = [m for m, (a, _) in measures.items() if a not in _MERGE]
    if bad:
        raise ValueError(f"non-mergeable aggregates: {bad}; use {sorted(_MERGE)}")
    # fallback order matters: hashing the GROUP KEYS makes the salt
    # constant within each key group — deterministic but useless, the
    # hot key still lands on one reducer with no error anywhere. When
    # no measure column exists to salt on (pure row counts), salt on
    # every column instead: rows identical in ALL columns may share a
    # salt, but such rows are indistinguishable anyway (a hash of the
    # whole row is deterministic, so a recompute re-keys them alike),
    # and any distinguishable row spreads.
    salt_cols = list(salt_on) if salt_on else sorted(
        {c for _, c in measures.values() if isinstance(c, str)}
    ) or list(df.columns)
    salt = F.pmod(F.xxhash64(*salt_cols), F.lit(n_salt)).alias("_salt")
    partial = df.groupBy(*keys, salt).agg(
        *[
            _MERGE[agg][0](col if col is not None else F.lit(1)).alias(f"_p_{name}")
            for name, (agg, col) in measures.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _MERGE[agg][1](f"_p_{name}").alias(name)
            for name, (agg, _) in measures.items()
        ]
    )


def top_k(
    df: DataFrame, order_cols: Sequence[Column], k: int
) -> DataFrame:
    """Global top-k without a global sort: orderBy().limit(k) compiles
    to TakeOrderedAndProject — each partition keeps its local k, the
    driver merges. Never materializes a full-sort shuffle."""
    return df.orderBy(*order_cols).limit(k)
