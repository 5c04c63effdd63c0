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
      gold partition's last date, gets the features of its new rows
      appended as new files: rows dated from the new files' first date
      (the cutoff) on. Both dates come from parquet footer statistics.
      Older gold rows cannot change, because every feature looks back
      only.
    - Any other changed partition (a late bar, a restatement, files or a
      record that no longer match) is rebuilt from all of its silver
      rows. A partition silver dropped is removed. With no record every
      partition is rebuilt.

    Both kinds are one ``gold_features`` window over the silver
    directories of the changed partitions, and the appended partitions'
    rows are then filtered to their cutoffs, which enter the plan as a
    literal map keyed by symbol. The scan is coalesced by the bytes it
    reads (``coalesce_by_bytes``): while it fits one task, the window's
    clustering on ``symbol`` is already met, so the whole stage is one
    Spark job with no shuffle. A larger input spreads over several tasks
    and the window shuffles again, with the same rows.

    ``computed_at`` stamps only the rows this run computes; every other
    gold row keeps the time its features were computed."""
    silver, gold = Path(cfg.table_path(cfg.silver_table)), Path(cfg.table_path(cfg.gold_table))
    ch = L.changes(silver, gold, schemas.PARTITION_COLS[cfg.gold_table])
    cutoffs = []
    for part, new in list(ch.appended.items()):
        first = L.footer_range([ch.leaves[part] / f for f in new], "date")
        last = L.footer_range(ch.own_files(part), "date")
        if first is None or last is None or first[0] <= last[1]:
            ch.rebuild(part)
        else:
            cutoffs += [F.lit(part[0]), F.lit(first[0])]
    paths = ch.dirs(ch.rebuilt | ch.appended.keys())
    src = read_table(spark, cfg.warehouse_dir, cfg.silver_table, paths)
    gold_df = G.gold_features(coalesce_by_bytes(src, paths), computed_at)
    if cutoffs:
        cutoff = F.create_map(*cutoffs)[F.col("symbol")]
        gold_df = gold_df.filter(cutoff.isNull() | (F.col("date") >= cutoff))
    L.publish(gold_df, gold, schemas.PARTITION_COLS[cfg.gold_table], ch)
    return read_table(spark, cfg.warehouse_dir, cfg.gold_table)


def run_quality(
    spark: SparkSession,
    cfg: PipelineConfig,
    run_ts: datetime | None = None,
    today: date | None = None,
) -> DataFrame:
    """Append the four DQ checks (``operators/quality.py``) to the DQ
    table in one Spark job with no shuffle.

    The row counts of bronze, silver and gold are summed from the
    parquet footers of their data files on the driver
    (``lineage.footer_rows``), with no Spark job. Silver is coalesced by
    the bytes it reads (``coalesce_by_bytes``), so while it fits one
    task the gap window and the staleness aggregate, both clustered on
    ``symbol``, need no shuffle; a larger silver shuffles again, with
    the same rows."""
    counts = {
        layer: L.footer_rows(Path(cfg.table_path(name)), schemas.PARTITION_COLS[name])
        for layer, name in (
            ("bronze", cfg.bronze_table),
            ("silver", cfg.silver_table),
            ("gold", cfg.gold_table),
        )
    }
    silver_path = Path(cfg.table_path(cfg.silver_table))
    silver_df = coalesce_by_bytes(
        read_table(spark, cfg.warehouse_dir, cfg.silver_table), [silver_path]
    )
    dq = Q.run_quality(
        silver_df, read_table(spark, cfg.warehouse_dir, cfg.gold_table), counts,
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
