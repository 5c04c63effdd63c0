"""End-to-end pipeline runner: bronze → silver → gold → quality.

The reference orchestrates these as 4 Databricks Job tasks passing state
only through Delta tables (SURVEY §3). Here each stage is a function and
tables remain the only inter-stage contract, so stages can be rerun
independently (e.g. re-ingest a backfill batch, then rebuild downstream).
"""

from __future__ import annotations

from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession

from market_data_pipeline_databricks_spark import schemas
from market_data_pipeline_databricks_spark.config import PipelineConfig
from market_data_pipeline_databricks_spark.operators import bronze as B
from market_data_pipeline_databricks_spark.operators import gold as G
from market_data_pipeline_databricks_spark.operators import quality as Q
from market_data_pipeline_databricks_spark.operators import silver as S
from market_data_pipeline_databricks_spark.sources import (
    append_table,
    overwrite_table,
    read_prices_csv,
    read_table,
    upsert_by_key,
)


def run_bronze(
    spark: SparkSession, cfg: PipelineConfig, ingested_at: datetime | None = None
) -> DataFrame:
    raw = read_prices_csv(spark, cfg.raw_dir)
    batch = B.bronze_batch(B.normalize_raw(raw, cfg.source, ingested_at))
    upsert_by_key(
        spark, batch, cfg.warehouse_dir, cfg.bronze_table,
        key_cols=B.BRONZE_KEY,
        partition_cols=schemas.PARTITION_COLS[cfg.bronze_table],
    )
    return read_table(spark, cfg.warehouse_dir, cfg.bronze_table)


def run_silver(spark: SparkSession, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    bronze_df = read_table(spark, cfg.warehouse_dir, cfg.bronze_table)
    valid, rejected = S.split_silver(bronze_df)
    overwrite_table(valid, cfg.warehouse_dir, cfg.silver_table,
                    schemas.PARTITION_COLS[cfg.silver_table])
    overwrite_table(rejected, cfg.warehouse_dir, cfg.rejected_table,
                    schemas.PARTITION_COLS[cfg.rejected_table])
    return (
        read_table(spark, cfg.warehouse_dir, cfg.silver_table),
        read_table(spark, cfg.warehouse_dir, cfg.rejected_table),
    )


def run_gold(
    spark: SparkSession, cfg: PipelineConfig, computed_at: datetime | None = None
) -> DataFrame:
    silver_df = read_table(spark, cfg.warehouse_dir, cfg.silver_table)
    gold_df = G.gold_features(silver_df, computed_at)
    overwrite_table(gold_df, cfg.warehouse_dir, cfg.gold_table,
                    schemas.PARTITION_COLS[cfg.gold_table])
    return read_table(spark, cfg.warehouse_dir, cfg.gold_table)


def run_quality(
    spark: SparkSession,
    cfg: PipelineConfig,
    run_ts: datetime | None = None,
    today: date | None = None,
) -> DataFrame:
    silver_df = read_table(spark, cfg.warehouse_dir, cfg.silver_table)
    gold_df = read_table(spark, cfg.warehouse_dir, cfg.gold_table)
    bronze_df = read_table(spark, cfg.warehouse_dir, cfg.bronze_table)
    counts = {
        "bronze": bronze_df.count(),
        "silver": silver_df.count(),
        "gold": gold_df.count(),
    }
    dq = Q.run_quality(
        silver_df, gold_df, counts,
        run_ts=run_ts, today=today, thresholds=cfg.thresholds, spark=spark,
    )
    append_table(dq, cfg.warehouse_dir, cfg.dq_table,
                 schemas.PARTITION_COLS[cfg.dq_table])
    return read_table(spark, cfg.warehouse_dir, cfg.dq_table)


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    ingested_at: datetime | None = None,
    today: date | None = None,
) -> dict[str, DataFrame]:
    """Full linear run (reference Databricks Job, README.md:100-108)."""
    run_bronze(spark, cfg, ingested_at)
    run_silver(spark, cfg)
    run_gold(spark, cfg, ingested_at)
    dq = run_quality(spark, cfg, run_ts=ingested_at, today=today)
    return {
        "bronze": read_table(spark, cfg.warehouse_dir, cfg.bronze_table),
        "silver": read_table(spark, cfg.warehouse_dir, cfg.silver_table),
        "rejected": read_table(spark, cfg.warehouse_dir, cfg.rejected_table),
        "gold": read_table(spark, cfg.warehouse_dir, cfg.gold_table),
        "quality": dq,
    }
