"""Typed schemas for every persisted table (SURVEY.md §1.4).

The reference declares these with Delta DDL (reference
01_ingest_bronze.py:72-87, 02_transform_silver.py:99-132,
03_aggregate_gold.py:19-36, 04_data_quality_checks.py:23-36). Here they
are explicit StructTypes so readers never pay an inferSchema pass and
writers are schema-checked.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw CSV shape (stooq/yfinance export; Volume absent for FX files —
# reference 01_ingest_bronze.py:49-53). Read as strings and cast
# explicitly: inference is an extra full pass over 100 TB of input.
RAW_CSV_SCHEMA = T.StructType(
    [
        T.StructField("Date", T.StringType(), True),
        T.StructField("Open", T.StringType(), True),
        T.StructField("High", T.StringType(), True),
        T.StructField("Low", T.StringType(), True),
        T.StructField("Close", T.StringType(), True),
        T.StructField("Volume", T.StringType(), True),
    ]
)

_PRICE_FIELDS = [
    T.StructField("symbol", T.StringType(), True),
    T.StructField("date", T.DateType(), True),
    T.StructField("open", T.DoubleType(), True),
    T.StructField("high", T.DoubleType(), True),
    T.StructField("low", T.DoubleType(), True),
    T.StructField("close", T.DoubleType(), True),
    T.StructField("volume", T.LongType(), True),  # nullable: FX has no volume
    T.StructField("source", T.StringType(), True),
    T.StructField("ingested_at", T.TimestampType(), True),
    T.StructField("input_file", T.StringType(), True),
]

BRONZE_SCHEMA = T.StructType(_PRICE_FIELDS)
SILVER_SCHEMA = T.StructType(_PRICE_FIELDS)
REJECTED_SCHEMA = T.StructType(
    _PRICE_FIELDS + [T.StructField("reject_reason", T.StringType(), True)]
)

GOLD_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("return_1d", T.DoubleType(), True),
        T.StructField("vol_20d", T.DoubleType(), True),
        T.StructField("avg_volume_20d", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("computed_at", T.TimestampType(), True),
    ]
)

DQ_SCHEMA = T.StructType(
    [
        T.StructField("run_ts", T.TimestampType(), True),
        T.StructField("layer", T.StringType(), True),
        T.StructField("check_name", T.StringType(), True),
        T.StructField("symbol", T.StringType(), True),
        T.StructField("check_status", T.StringType(), True),
        T.StructField("metric_value", T.DoubleType(), True),
        T.StructField("threshold", T.DoubleType(), True),
        T.StructField("details", T.StringType(), True),
    ]
)

# Partition columns per table (reference 01_ingest_bronze.py:86,
# 04_data_quality_checks.py:35). Partitioning by symbol gives free
# partition pruning for the dominant `WHERE symbol = ...` access path.
PARTITION_COLS = {
    "bronze_prices": ["symbol"],
    "silver_prices_daily": ["symbol"],
    "silver_prices_rejected": ["symbol"],
    "gold_market_features_daily": ["symbol"],
    "data_quality_checks": ["layer"],
}

# Declared schema per table: ``sources/tables.py:read_table`` scans the
# table with it, so no read infers a schema or a partition type.
TABLE_SCHEMAS = {
    "bronze_prices": BRONZE_SCHEMA,
    "silver_prices_daily": SILVER_SCHEMA,
    "silver_prices_rejected": REJECTED_SCHEMA,
    "gold_market_features_daily": GOLD_SCHEMA,
    "data_quality_checks": DQ_SCHEMA,
}


def partitions_last(schema: T.StructType, partition_cols: list[str]) -> T.StructType:
    """``schema`` in the column order a scan of a table partitioned by
    ``partition_cols`` returns: data columns, then partition columns."""
    rest = [f for f in schema.fields if f.name not in partition_cols]
    return T.StructType(rest + [schema[c] for c in partition_cols])
