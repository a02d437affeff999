"""Join operators (SURVEY §2.4 J1 + the star-join family).

The reference executes exactly one join (fact ↔ 24-row hour band,
DM:317-319) but its product — a star schema — exists to be joined.  The
engine therefore exposes the full equi-join family with scale-correct
physical strategy defaults:

- dimension joins: explicit ``F.broadcast`` on the small side — no shuffle
  of the fact, ever (Catalyst would auto-broadcast ≤10 MB, but at 100 TB you
  do not want a mis-estimated dimension to trigger a sort-merge of the fact).
- fact↔fact joins: left to Catalyst/AQE (sort-merge with skew splitting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import sketches


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """J1 — fact ↔ small-dimension equi join, dimension broadcast.

    Replaces DM:317-319 (qualified-column join + star select) with the
    idiomatic form; with ``on`` as column name(s), the join key appears once
    in the output, so no post-join drop is needed.
    """
    return fact.join(F.broadcast(dim), on, how)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """left rows WITH a match — EXISTS subquery shape (no right columns)."""
    return left.join(right, on, "left_semi")


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    m_bits: int = 1 << 16,
    k: int = 3,
    how: str = "inner",
) -> DataFrame:
    """Runtime-filter join: pre-prune the fact side with a Bloom filter
    built over the dim keys (operators/sketches.py), then run the exact
    equi join on the survivors.  SEMANTICALLY TRANSPARENT for inner /
    semi joins — a Bloom filter has no false negatives, so every
    matching fact row survives the prune and the exact join removes the
    false positives; q_bloom_pruned_join pins this by hashing against a
    PLAIN-join oracle.  At 100 TB the payoff is shuffle volume: the
    ≤ m/32-row filter broadcasts to the scan and non-matching fact rows
    (often the vast majority) never enter the join exchange — the same
    rewrite spark.sql.optimizer.runtime.bloomFilter.enabled injects,
    exposed here as a composable, auditable operator.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom pruning drops unmatched fact rows pre-join; '{how}' "
            f"joins would lose them — only inner/left_semi are sound"
        )
    bloom = sketches.bloom_build(dim.select(on), on, m_bits, k)
    pruned = (
        sketches.bloom_probe(fact, bloom, on, m_bits, k, out_col="__bloom_hit")
        .filter(F.col("__bloom_hit"))
        .drop("__bloom_hit")
    )
    # join strategy stays with Catalyst/AQE: the FILTER is always tiny
    # (that's the point), but the dim itself may not be broadcastable —
    # a pruned sort-merge is exactly what runtime filters buy at scale.
    return pruned.join(dim, on, how)


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """left rows WITHOUT a match — NOT EXISTS shape."""
    return left.join(right, on, "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: each left row gets the latest right row with
    ``right_ts <= left_ts`` for the same key (left join: no match → nulls).

    Spark has no native ASOF JOIN; the scalable formulation is the
    union-and-carry-forward pattern: tag both streams, union by name, then
    ``last(value, ignorenulls)`` over (key ORDER BY ts, right-first) carries
    each right row forward to every later left row.  ONE shuffle on the key,
    no range-explosion, no per-key driver loops — O(n log n) per key vs the
    naive windowed-range join's O(n·m).  Matches DuckDB ``ASOF LEFT JOIN``
    semantics (inclusive on ties) for the oracle.
    """
    value_cols = value_cols or [c for c in right.columns if c not in (on, right_ts)]
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__is_right"),
        F.col(right_ts).alias("__matched_ts"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__is_right"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__matched_ts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    # right rows sort BEFORE left rows at equal ts → inclusive asof
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts"), F.desc("__is_right"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        F.last("__matched_ts", ignorenulls=True).over(w).alias("__asof_ts"),
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in value_cols
        ],
    )
    out = carried.filter(F.col("__is_right") == 0).select(
        *[c for c in left.columns],
        F.col("__asof_ts").alias("matched_ts"),
        *[F.col(f"__asof_{c}").alias(f"right_{c}") for c in value_cols],
    )
    return out


def range_join_bands(
    fact: DataFrame,
    bands: DataFrame,
    value: F.Column | str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    how: str = "inner",
) -> DataFrame:
    """Non-equi range join: attach the band whose [lo, hi] contains
    ``value``.  The bands table is tiny by contract → broadcast
    nested-loop, which at any scale is one streaming pass of the fact with
    an O(bands) probe per row — never a shuffle.
    """
    v = F.col(value) if isinstance(value, str) else value
    return fact.join(
        F.broadcast(bands), (v >= F.col(lo_col)) & (v <= F.col(hi_col)), how
    )
