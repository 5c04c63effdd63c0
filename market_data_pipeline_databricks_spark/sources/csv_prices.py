"""CSV price-file source with file provenance (SURVEY §2.1 S1-S2).

Reference behavior re-expressed (01_ingest_bronze.py:23-36):
- scan of every ``*.csv`` file in the landing directory, with headers;
- per-row provenance: the source file path (``input_file``);
- symbol parsed from the filename ``<SYMBOL>.csv``.

Scale notes: the reference uses ``inferSchema`` (an extra full pass over
the input — wrong at 100 TB); we read with an explicit all-string schema
and cast once in ``operators.bronze.normalize_raw``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.schemas import RAW_CSV_SCHEMA


def read_prices_csv(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Read the raw OHLCV CSVs in ``raw_dir``; attach ``input_file``
    provenance.

    Every file is read by position under ``schemas.RAW_CSV_SCHEMA``, the
    superset header, as the streaming ingest reads it: an FX file's
    missing Volume column reads as NULL. Without the schema Spark takes
    one file's header for all files, so an FX file read first dropped
    the Volume of every equity file in the batch.

    The directory is read with a ``*.csv`` file filter rather than as a
    ``{raw_dir}/*.csv`` path glob: the glob sends Spark's streaming-sink
    metadata probe to a path that does not exist, which logs a
    ``FileNotFoundException`` trace on every read.

    Uses the parquet-style ``_metadata.file_path`` hidden column (Spark
    ≥3.4) rather than the legacy ``input_file_name()``, which is
    undefined under some AQE/file-coalescing plans.
    """
    df = (
        spark.read.schema(RAW_CSV_SCHEMA)
        .option("header", "true")
        # Permissive: malformed rows become nulls and are routed to the
        # reject table by silver validation instead of failing the scan.
        .option("mode", "PERMISSIVE")
        .option("pathGlobFilter", "*.csv")
        .csv(raw_dir)
    )
    return df.withColumn("input_file", F.col("_metadata.file_path"))
