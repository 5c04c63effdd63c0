"""Silver stage: validation + reject routing, and a latest-wins dedup.

Re-expresses reference notebooks/silver/02_transform_silver.py:
- ROW_NUMBER latest-wins dedup over (symbol,date)  (:36-42), which the
  pipeline needs no more: bronze is unique on (symbol, date)
  (``split_silver``)
- validity predicates  (:51-76)
- first-match-wins reject_reason CASE  (:80-87)
- valid/reject split  (:89-95)

Determinism deviation (documented in SURVEY §7.4): the reference
tie-breaks dedup only on ``ingested_at DESC``, which is nondeterministic
for equal timestamps; we add ``input_file DESC`` as a secondary key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

REJECT_REASONS = (
    "missing_key",
    "missing_prices",
    "non_positive_price",
    "ohlc_inconsistent",
    "invalid_volume",
)


def dedup_latest(df: DataFrame) -> DataFrame:
    """Keep the most recently ingested row per (symbol, date) — W1.

    One shuffle on (symbol, date); at scale the window partition is the
    composite key so no single partition can be skewed beyond the number
    of duplicate ingests for one key (small by construction).
    """
    w = Window.partitionBy("symbol", "date").orderBy(
        F.desc("ingested_at"), F.desc("input_file")
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _missing_key() -> Column:
    return F.col("symbol").isNull() | (F.col("symbol") == "") | F.col("date").isNull()


def _missing_prices() -> Column:
    return (
        F.col("open").isNull() | F.col("high").isNull()
        | F.col("low").isNull() | F.col("close").isNull()
    )


def _non_positive_price() -> Column:
    return (
        (F.col("open") <= 0) | (F.col("high") <= 0)
        | (F.col("low") <= 0) | (F.col("close") <= 0)
    )


def _ohlc_inconsistent() -> Column:
    # high must bound {open, close, low} above; low must bound below
    # (reference :67-69, SQL twin :175-181).
    return (F.col("high") < F.greatest("open", "close", "low")) | (
        F.col("low") > F.least("open", "close", "high")
    )


def _invalid_volume() -> Column:
    # volume is nullable (FX); negative is invalid (reference :72-74).
    return F.col("volume").isNotNull() & (F.col("volume") < 0)


def with_reject_reason(df: DataFrame) -> DataFrame:
    """First-match-wins CASE, precedence per reference :80-87."""
    reason = (
        F.when(_missing_key(), "missing_key")
        .when(_missing_prices(), "missing_prices")
        .when(_non_positive_price(), "non_positive_price")
        .when(_ohlc_inconsistent(), "ohlc_inconsistent")
        .when(_invalid_volume(), "invalid_volume")
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("reject_reason", reason)


def split_silver(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, rejected) split of bronze — Q5 reject routing.

    Bronze is unique on ``(symbol, date)``: ``bronze_batch`` drops NULL
    and duplicate keys and ``upsert_by_key`` replaces a matched key. A
    silver row therefore depends only on the bronze row of its key, and
    the split is one shuffle-free pass with no latest-wins dedup
    (``dedup_latest`` stays for inputs that may repeat a key).

    Both frames are lazy filters of one tagged plan, so each write
    scans bronze again. Do not cache the tagged frame to save that
    scan: Spark matches a cache by plan, so a cache left in place
    serves a later run over the same bronze path its old rows (the
    daily benchmark's silver stopped growing after the first batch),
    and under adaptive execution each cached scan costs one more job.
    """
    tagged = with_reject_reason(df)
    valid = tagged.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    rejected = tagged.filter(F.col("reject_reason").isNotNull())
    return valid, rejected
