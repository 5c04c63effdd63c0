"""End-to-end pipeline runner: bronze → silver → gold → quality.

The reference orchestrates these as 4 Databricks Job tasks passing state
only through Delta tables (SURVEY §3). Here each stage is a function and
tables remain the only inter-stage contract, so stages can be rerun
independently (e.g. re-ingest a backfill batch, then rebuild downstream).

Bronze is upserted by key (``upsert_by_key``). Silver, rejected and gold
follow their source table's files: each keeps a lineage record,
``_lineage.json``, of the source files every partition was built from
and the files it holds (``sources/lineage.py``). A stage diffs the
directory listings against it, appends the rows derived from new source
files to a partition that only gained files, and rebuilds a partition
whose source files were replaced. A partition that no longer matches its
record (a crash between publish and record write, another writer) is
rebuilt too, and a table without a record is rebuilt whole, so a stage
run twice, or after any failure, heals its table.
"""

from __future__ import annotations

from datetime import date, datetime
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark import schemas
from market_data_pipeline_databricks_spark.config import PipelineConfig
from market_data_pipeline_databricks_spark.operators import bronze as B
from market_data_pipeline_databricks_spark.operators import gold as G
from market_data_pipeline_databricks_spark.operators import quality as Q
from market_data_pipeline_databricks_spark.operators import silver as S
from market_data_pipeline_databricks_spark.sources import (
    append_table,
    read_prices_csv,
    read_table,
    upsert_by_key,
)
from market_data_pipeline_databricks_spark.sources import lineage as L
from market_data_pipeline_databricks_spark.sources.writers import coalesce_by_bytes


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
    """Bring silver and rejected up to date with bronze, one shuffle-free
    ``split_silver`` pass each. A bronze row lands in exactly one of
    them and depends on no other row: no dedup is needed, because
    bronze is unique on ``(symbol, date)`` (``bronze_batch`` drops NULL
    and duplicate keys and the bronze upsert replaces a matched key).

    Each table follows bronze's files through its lineage record
    (``sources/lineage.py``): the rows of new bronze files in a
    partition bronze appended to are split and appended as new files;
    a partition bronze rewrote, or one whose files or record no longer
    match, is rebuilt from all of its bronze files; a partition bronze
    dropped is removed. With no record every partition is rebuilt.

    The scan is coalesced by the bytes it reads (``coalesce_by_bytes``):
    a scan's splits mix the files of every partition, and would
    otherwise write one file per partition and split."""
    bronze = Path(cfg.table_path(cfg.bronze_table))
    for table, pick in ((cfg.silver_table, 0), (cfg.rejected_table, 1)):
        path, cols = Path(cfg.table_path(table)), schemas.PARTITION_COLS[table]
        ch = L.changes(bronze, path, cols)
        paths = ch.dirs(ch.rebuilt) + ch.new_files()
        src = read_table(spark, cfg.warehouse_dir, cfg.bronze_table, paths)
        L.publish(S.split_silver(coalesce_by_bytes(src, paths))[pick], path, cols, ch)
    return (
        read_table(spark, cfg.warehouse_dir, cfg.silver_table),
        read_table(spark, cfg.warehouse_dir, cfg.rejected_table),
    )


def run_gold(
    spark: SparkSession, cfg: PipelineConfig, computed_at: datetime | None = None
) -> DataFrame:
    """Bring gold up to date with silver, one symbol partition at a
    time, through gold's lineage record (``sources/lineage.py``).

    - A silver partition that only gained files, all dated after the
      gold partition's last date, gets its new rows' features from
      ``gold_incremental(fresh_only=True)`` appended as new files. Both
      dates come from parquet footer statistics. Older gold rows cannot
      change, because every feature looks back only.
    - Any other changed partition (a late bar, a restatement, files or a
      record that no longer match) is rebuilt from all of its silver
      rows: in the same ``gold_incremental`` call, with its first date
      as the cutoff, or through ``gold_features`` when no partition
      appends. A partition silver dropped is removed. With no record
      every partition is rebuilt.

    ``computed_at`` stamps only the rows this run computes; every other
    gold row keeps the time its features were computed."""
    silver, gold = Path(cfg.table_path(cfg.silver_table)), Path(cfg.table_path(cfg.gold_table))
    ch = L.changes(silver, gold, schemas.PARTITION_COLS[cfg.gold_table])
    for part, new in list(ch.appended.items()):
        first = L.footer_range([ch.leaves[part] / f for f in new], "date")
        last = L.footer_range(ch.own_files(part), "date")
        if first is None or last is None or first[0] <= last[1]:
            ch.rebuild(part)

    def scan(paths: list[Path]) -> DataFrame:
        return read_table(spark, cfg.warehouse_dir, cfg.silver_table, paths)

    rebuilt = ch.dirs(ch.rebuilt)
    if ch.appended:
        gold_df = G.gold_incremental(
            scan(ch.dirs(ch.rebuilt | ch.appended.keys())), None,
            scan(ch.new_files() + rebuilt), computed_at, fresh_only=True,
        )
    else:
        gold_df = G.gold_features(scan(rebuilt), computed_at)
    L.publish(gold_df, gold, schemas.PARTITION_COLS[cfg.gold_table], ch)
    return read_table(spark, cfg.warehouse_dir, cfg.gold_table)


def run_quality(
    spark: SparkSession,
    cfg: PipelineConfig,
    run_ts: datetime | None = None,
    today: date | None = None,
) -> DataFrame:
    tables = {
        layer: read_table(spark, cfg.warehouse_dir, name)
        for layer, name in (
            ("bronze", cfg.bronze_table),
            ("silver", cfg.silver_table),
            ("gold", cfg.gold_table),
        )
    }
    silver_df, gold_df = tables["silver"], tables["gold"]
    # the three row counts in one aggregate job over the union
    tagged = reduce(DataFrame.unionByName, [
        df.select(F.lit(layer).alias("layer")) for layer, df in tables.items()
    ])
    counts = tagged.agg(*[
        F.count_if(F.col("layer") == layer).alias(layer) for layer in tables
    ]).first().asDict()
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
