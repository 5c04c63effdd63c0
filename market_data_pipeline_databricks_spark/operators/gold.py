"""Gold stage: per-symbol daily return + rolling risk/liquidity features.

Re-expresses reference notebooks/gold/03_aggregate_gold.py:
- return_1d = close / LAG(close) - 1 per symbol ordered by date  (:48)
- vol_20d = STDDEV_SAMP(return_1d) ROWS BETWEEN 19 PRECEDING AND
  CURRENT ROW  (:63-67)
- avg_volume_20d = AVG(CAST(volume AS DOUBLE)) same frame  (:69-73)

Null semantics preserved exactly (SURVEY §2.5): first row per symbol has
NULL return; STDDEV_SAMP yields NULL for <2 non-null inputs; all-NULL FX
volume yields NULL average throughout.

``computed_at`` is when this row's features were last computed. The
pipeline appends a day's new rows and rebuilds only the symbols whose
history changed (``pipeline.run_gold``), so rows of one symbol can carry
different stamps; the reference, which rebuilds gold in full, stamps
every row with the run time.

Scale: one shuffle on ``symbol`` serves all three window functions
(Catalyst computes them in a single WindowExec over one sort). When the
input is one task, that shuffle disappears: a single partition already
meets the window's clustering on ``symbol``, so Catalyst plans no
Exchange. ``pipeline.run_gold`` coalesces its silver scan by bytes for
this (``writers.coalesce_by_bytes``); past ``writers._TASK_BYTES`` it
spans several tasks and the Exchange returns, with the same rows. A
symbol is a bounded daily series (≤~250 rows/yr), so per-partition
memory is bounded regardless of total data size; skew salting is
unnecessary and would break window ordering.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROLL = 20  # trading-day frame, ROWS-based (not calendar) — reference :11


def gold_features(silver: DataFrame, computed_at: datetime | None = None) -> DataFrame:
    w = Window.partitionBy("symbol").orderBy("date")
    frame = w.rowsBetween(-(ROLL - 1), 0)
    ts = F.lit(computed_at) if computed_at is not None else F.current_timestamp()
    return (
        silver.withColumn(
            "return_1d", F.col("close") / F.lag("close").over(w) - F.lit(1.0)
        )
        .withColumn("vol_20d", F.stddev_samp("return_1d").over(frame))
        .withColumn(
            "avg_volume_20d", F.avg(F.col("volume").cast("double")).over(frame)
        )
        .withColumn("computed_at", ts.cast("timestamp"))
        .select(
            "symbol", "date", "close", "volume", "return_1d", "vol_20d",
            "avg_volume_20d", "source", "computed_at",
        )
    )


def gold_incremental(
    silver: DataFrame,
    existing_gold: DataFrame,
    changed: DataFrame,
    computed_at: datetime | None = None,
    fresh_only: bool = False,
) -> DataFrame:
    """Incremental gold rebuild: recompute only the rows a batch of
    new/changed silver rows can affect, keep everything else.

    The reference overwrites gold wholesale every run
    (03_aggregate_gold.py:82-95) — correct but O(total history) daily.
    Every gold feature looks back at most ``ROLL`` rows (19-preceding
    frames + the LAG), so a changed (symbol, date) can only alter gold
    rows of that symbol with date >= the change; rows needed to
    recompute them are the ROLL preceding silver rows. Per affected
    symbol:

    - cutoff   = MIN(changed date)
    - recompute window = silver rows within the last ROLL rows before
      cutoff (seed history) + all rows >= cutoff
    - emitted  = recomputed rows >= cutoff, unioned with untouched
      existing gold (< cutoff, and all unaffected symbols)

    Scale: cost ∝ |affected symbols| × (tail + ROLL) rows — a daily
    increment touches O(symbols) rows instead of O(all history). The
    seed rows' own features are recomputed but discarded (their frames
    would be truncated); only rows >= cutoff are replaced, and those
    have full frames by construction.
    """
    cutoffs = changed.groupBy("symbol").agg(F.min("date").alias("cutoff"))

    sl = silver.join(F.broadcast(cutoffs), "symbol", "inner")
    w = Window.partitionBy("symbol").orderBy(F.desc("date"))
    # rows >= cutoff plus the ROLL rows immediately before it
    before = (
        sl.filter(F.col("date") < F.col("cutoff"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ROLL)
        .drop("rn")
    )
    tail = sl.filter(F.col("date") >= F.col("cutoff"))
    recompute_src = before.unionByName(tail).drop("cutoff")

    recomputed = gold_features(recompute_src, computed_at=computed_at)
    fresh = recomputed.join(F.broadcast(cutoffs), "symbol").filter(
        F.col("date") >= F.col("cutoff")
    ).drop("cutoff")

    if fresh_only:
        # just the replacement rows (>= cutoff, full frames) — the
        # shape a keyed upsert sink wants (see
        # streaming/ingest.stream_gold_maintenance)
        return fresh
    untouched = existing_gold.join(
        F.broadcast(cutoffs), "symbol", "left"
    ).filter(F.col("cutoff").isNull() | (F.col("date") < F.col("cutoff"))).drop(
        "cutoff"
    )
    return untouched.unionByName(fresh)
