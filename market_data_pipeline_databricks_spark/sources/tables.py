"""Parquet table IO and testdata registration (SURVEY §2.1 S3-S4)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The testdata generator has shipped events.ts under two different
# parquet encodings across rounds: TIMESTAMP(NANOS) — which Spark's
# vectorized reader rejects under schema inference, so it must be read
# as raw INT64 and divided down — and TIMESTAMP(MICROS, NTZ). The
# reader sniffs the footer (pyarrow, driver-side, metadata-only) and
# normalizes either to session-zone TimestampType, matching what DuckDB
# sees for the oracle compare.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_ts_unit(sf_dir: str) -> str:
    """Time unit of events.ts in the parquet footer: 'ns' or 'us'.

    Fails fast on a non-timestamp encoding (e.g. a plain INT64):
    silently defaulting to 'us' would route ``read_events`` down the
    inference path and surface raw longs as garbage timestamps
    downstream (round-3 advice)."""
    import pyarrow.parquet as pq

    t = pq.ParquetFile(f"{sf_dir}/events.parquet").schema_arrow.field("ts").type
    unit = getattr(t, "unit", None)
    if unit is None:
        raise ValueError(
            f"events.ts: expected a parquet timestamp column, got {t!r} — "
            "a new testdata generator encoding needs explicit handling in "
            "sources/tables.py"
        )
    return unit


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a usable microsecond timestamp column, whichever
    footer encoding the testdata carries (ns DIV 1000 is the same
    truncation DuckDB applies reading ns into µs)."""
    path = f"{sf_dir}/events.parquet"
    if events_ts_unit(sf_dir) == "ns":
        df = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    df = spark.read.parquet(path)
    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, warehouse_dir: str, table: str) -> DataFrame:
    """Scan a materialized table from the warehouse directory.

    A table with a declared schema (``schemas.TABLE_SCHEMAS``) is read
    with it, partition columns last, so the scan runs no schema-
    inference job, an empty table (no data files) reads as empty, and
    a partition value keeps its declared type: inference would read a
    symbol ``007`` back as the integer 7. Other tables are inferred.
    """
    from market_data_pipeline_databricks_spark import schemas

    path = str(Path(warehouse_dir) / table)
    schema = schemas.TABLE_SCHEMAS.get(table)
    if schema is None:
        return spark.read.parquet(path)
    schema = schemas.partitions_last(schema, schemas.PARTITION_COLS.get(table, []))
    return spark.read.schema(schema).parquet(path)


def testdata_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-generated testdata table."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for name in TESTDATA_TABLES:
        p = Path(sf_dir) / f"{name}.parquet"
        if p.exists():
            if name == "events":
                read_events(spark, sf_dir).createOrReplaceTempView(name)
            else:
                spark.read.parquet(str(p)).createOrReplaceTempView(name)
