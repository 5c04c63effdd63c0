"""Bronze stage: raw CSV → typed, deduplicated, provenance-stamped rows.

Re-expresses reference notebooks/bronze/01_ingest_bronze.py:
- symbol parsed from filename ``<SYMBOL>.csv``  (:32-36)
- case-insensitive header mapping + explicit casts  (:40-53)
- ``volume`` synthesized as typed NULL when the column is absent  (:49-53)
- provenance columns ``source``/``ingested_at``/``input_file``  (:56-59)
- key filter + in-batch dedup  (:64-68)

Everything is a Column expression — Catalyst folds the whole stage into
one projection + one shuffle-free filter followed by a keyed dedup.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BRONZE_KEY = ["symbol", "date"]

# Case-insensitive header → canonical name (reference :42-46).
_CANONICAL = {"date": "date", "open": "open", "high": "high", "low": "low",
              "close": "close", "volume": "volume"}
_CASTS = {"date": "date", "open": "double", "high": "double", "low": "double",
          "close": "double", "volume": "long"}


def extract_symbol(df: DataFrame, file_col: str = "input_file") -> DataFrame:
    """Symbol from the source filename (reference :32-36)."""
    return df.withColumn(
        "symbol", F.upper(F.regexp_extract(F.col(file_col), r"/([^/]+)\.csv$", 1))
    )


def normalize_raw(
    df: DataFrame, source: str, ingested_at: datetime | None = None
) -> DataFrame:
    """Map headers case-insensitively, cast to the bronze types, and
    attach provenance. ``ingested_at`` is injectable for deterministic
    tests (the reference hardcodes current_timestamp, :59)."""
    lower_map = {c.lower(): c for c in df.columns}
    out = df
    for canon in _CANONICAL:
        src = lower_map.get(canon)
        if src is not None:
            # try_cast: under ANSI mode (Spark 4 default) a plain cast
            # would abort the whole job on one malformed cell; malformed
            # values must become NULL and flow to the reject table.
            out = out.withColumn(canon, F.col(f"`{src}`").try_cast(_CASTS[canon]))
        elif canon == "volume":
            # Schema-drift guard: FX exports carry no Volume column
            # (reference :49-53) — synthesize a typed NULL.
            out = out.withColumn("volume", F.lit(None).cast("long"))
    ts = F.lit(ingested_at) if ingested_at is not None else F.current_timestamp()
    out = out.withColumn("source", F.lit(source)).withColumn(
        "ingested_at", ts.cast("timestamp")
    )
    if "symbol" not in out.columns:
        out = extract_symbol(out)
    return out.select(
        "symbol", "date", "open", "high", "low", "close", "volume",
        "source", "ingested_at", "input_file",
    )


def bronze_batch(df: DataFrame) -> DataFrame:
    """Key filter + in-batch dedup (reference :64-68).

    ``dropDuplicates`` keeps an arbitrary row within the batch, matching
    reference semantics. Across batches ``upsert_by_key`` replaces a
    matched key, so bronze stays unique on ``(symbol, date)`` — the
    invariant silver's one-pass split relies on.
    """
    return (
        df.filter(F.col("symbol").isNotNull() & (F.col("symbol") != "") & F.col("date").isNotNull())
        .dropDuplicates(BRONZE_KEY)
    )
