"""Streaming CSV ingest (Auto-Loader-style) into the bronze shape.

The batch bronze stage (operators/bronze.py) normalizes a CSV glob into
the bronze schema; this is its ``readStream`` twin — the reference's
unbuilt streaming path (config.yaml:17 ``checkpoints_dir``).

Scale: the file source lists new files per micro-batch and parallelizes
reads across executors; ``maxFilesPerTrigger`` bounds batch size so one
backfill drop does not produce a giant micro-batch. State here is only
the file log (checkpointed), not data — safe at any scale.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.schemas import RAW_CSV_SCHEMA


def read_price_csv_stream(
    spark: SparkSession,
    raw_dir: str,
    source: str = "stream",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a CSV drop directory, normalized to the
    bronze column set (symbol from filename, try_cast types, provenance).

    Mirrors operators/bronze.py (reference 01_ingest_bronze.py:23-59)
    so streaming and batch ingest produce byte-identical rows.
    """
    from market_data_pipeline_databricks_spark.operators.bronze import normalize_raw

    # the superset header (``schemas.RAW_CSV_SCHEMA``): PERMISSIVE mode
    # leaves Volume NULL for FX files; a stream needs an explicit schema
    reader = (
        spark.readStream.schema(RAW_CSV_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.csv(raw_dir).withColumn(
        "input_file", F.col("_metadata.file_path")
    )
    # Identical normalization to the batch path — streaming and batch
    # ingest must produce byte-identical bronze rows.
    return normalize_raw(raw, source=source)


def stream_upsert_to_table(
    stream_df: DataFrame,
    warehouse_dir: str,
    table: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming MERGE: land a stream into a keyed table via
    ``foreachBatch`` + the idempotent upsert sink — the production
    pattern for incremental ingest (the reference's bronze MERGE,
    01_ingest_bronze.py:93-107, driven by a stream instead of a job).

    Semantics each micro-batch: matched keys fully replaced, new keys
    inserted. foreachBatch + idempotent-upsert is exactly-once in
    effect: a replayed micro-batch (failure before the checkpoint
    commit) rewrites the same rows to the same values. Late duplicates
    collapse because re-upserting a key is value-idempotent.

    Scale: each micro-batch touches only the partitions its keys live
    in (see upsert_by_key); state is the checkpointed file log, never
    data."""
    from market_data_pipeline_databricks_spark.sources.writers import (
        upsert_by_key,
    )

    if checkpoint_dir is None:
        checkpoint_dir = tempfile.mkdtemp(prefix=f"ckpt_upsert_{table}_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        upsert_by_key(
            batch_df.sparkSession,
            batch_df,
            warehouse_dir,
            table,
            key_cols,
            partition_cols,
        )

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion over all currently
    available data (``Trigger.AvailableNow``) into a memory sink and
    return the result as a batch DataFrame.

    Memory sinks are test/driver plumbing only — production writes go
    to parquet/delta sinks with the same trigger. availableNow
    processes the backlog in (possibly many) micro-batches then stops,
    which is exactly the semantics of an incremental batch run.
    """
    if checkpoint_dir is None:
        checkpoint_dir = tempfile.mkdtemp(prefix=f"ckpt_{query_name}_")
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(query_name)


def stream_gold_maintenance(
    silver_stream: DataFrame,
    warehouse_dir: str,
    silver_table: str = "silver_daily",
    gold_table: str = "gold_daily",
    computed_at=None,
    checkpoint_dir: str | None = None,
    partition_by_year: bool = False,
) -> None:
    """Streaming incremental GOLD maintenance — the streaming twin of
    the reference's recompute-everything gold
    (notebooks/gold/03_aggregate_gold.py:82-95), built from the two
    primitives this engine already trusts: ``operators/gold.
    gold_incremental`` (cutoff algebra: a batch can only affect rows of
    its symbols at dates >= the batch's min date, and those need at
    most ROLL preceding rows to recompute) and the idempotent keyed
    upsert sink.

    Each micro-batch:

    1. upserts the batch into the silver table by (symbol, date) —
       replay-idempotent where an append would duplicate re-delivered
       rows;
    2. recomputes ONLY the affected region (``fresh_only=True``) —
       O(batch symbols × tail) work, never O(history);
    3. upserts the fresh rows into the gold table by (symbol, date) —
       replays rewrite the same values, so the sink is exactly-once in
       effect.

    Out-of-order batches are safe: the cutoff is derived per batch, so
    a late batch simply recomputes forward from its own min date using
    the silver accumulated so far.

    Scale note: a parquet keyed upsert rewrites the partitions its keys
    touch (Delta MERGE rewrites the matched files — same shape).
    ``partition_by_year=True`` partitions BOTH tables by a derived
    ``p_year = year(date)`` column (functionally determined by the
    (symbol, date) key, so it joins the upsert key and the prior-scan
    is skipped)
    — a daily batch then rewrites O(touched years), not the whole
    history. Measured at sf0.1 (BASELINE.md round-8): a one-day late
    patch against 7 years of accumulated history (533k silver rows)
    rewrites 2.31 of 18.81 MB — only the touched-year partitions of
    silver+gold, 12 of 84 files — vs a full 18.99 MB rewrite
    unpartitioned, 8.2× less write I/O. Wall at sf0.1 is
    overhead-dominated (3-4 s either way; 84 small files), which is
    why the unpartitioned default stays right for the testdata drive —
    at production scale the rewrite volume is the cost, and it prunes.
    """
    from market_data_pipeline_databricks_spark.operators.gold import (
        gold_incremental,
    )
    from market_data_pipeline_databricks_spark.sources.tables import read_table
    from market_data_pipeline_databricks_spark.sources.writers import (
        upsert_by_key,
    )

    # Track whether we created the checkpoint dir ourselves: an
    # auto-created mkdtemp dir must be removed after the availableNow
    # drain completes, or repeated registry/bench drives leak temp
    # state (caller-owned checkpoint dirs are never touched — those
    # carry restart semantics the caller manages).
    auto_checkpoint = checkpoint_dir is None
    if auto_checkpoint:
        checkpoint_dir = tempfile.mkdtemp(prefix=f"ckpt_gold_{gold_table}_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # lazy persist, NOT localCheckpoint (r14, same finding as the
        # rank sink): the batch has several consumers (emptiness probe,
        # silver upsert, the gold recompute's cutoff aggregate) —
        # persist keeps single-scan semantics with no dedicated
        # materialization job, and the finally-unpersist frees blocks
        # deterministically.
        batch = batch_df.persist()
        try:
            if not batch.take(1):
                return
            _sink_body(batch.sparkSession, batch)
        finally:
            batch.unpersist()

    def _sink_body(spark, batch: DataFrame) -> None:
        # silver accumulates through the keyed UPSERT, not an append:
        # a replayed micro-batch (failure after the write, before the
        # checkpoint commit) re-delivers the same rows, and an append
        # would duplicate them — corrupting every window the gold
        # recompute runs downstream. Upserting on the grain makes the
        # whole sink idempotent end to end (and late corrections to an
        # already-seen (symbol, date) restate cleanly).
        pcols = ["p_year"] if partition_by_year else []
        key = ["symbol", "date", *pcols]

        def _p(df: DataFrame) -> DataFrame:
            # derived partition column, added only at the sink boundary
            # so the recompute algebra never sees it
            return (
                df.withColumn("p_year", F.year("date"))
                if partition_by_year
                else df
            )

        upsert_by_key(
            spark,
            _p(batch),
            warehouse_dir,
            silver_table,
            key,
            pcols,
        )
        silver = read_table(spark, warehouse_dir, silver_table)
        if partition_by_year:
            silver = silver.drop("p_year")
        fresh = gold_incremental(
            silver,
            existing_gold=None,  # unused on the fresh_only path
            changed=batch,
            computed_at=computed_at,
            fresh_only=True,
        )
        upsert_by_key(
            spark,
            _p(fresh),
            warehouse_dir,
            gold_table,
            key,
            pcols,
        )

    q = (
        silver_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if auto_checkpoint:
            shutil.rmtree(checkpoint_dir, ignore_errors=True)
