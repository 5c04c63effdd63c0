"""Streaming queries for the driver registry.

Each entry executes a Structured Streaming plan to completion with
``Trigger.AvailableNow`` (incremental-batch semantics over the finite
testdata) and returns the materialized result; the tumbling/session
queries carry full DuckDB oracles — the streaming result must be
row-identical to the batch GROUP BY over the same files, which is the
strongest correctness statement a streaming op can make.

Memory-sink table names carry a per-process nonce: the driver may run
multiple queries in one session and memory sinks are session-global.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.plans._eager import checked_lazy
from market_data_pipeline_databricks_spark.streaming.ingest import run_available_now
from market_data_pipeline_databricks_spark.streaming.stateful import (
    running_user_totals,
)
from market_data_pipeline_databricks_spark.streaming.windows import (
    daily_unique_users,
    dedup_within_watermark,
    nanos_conf_scope,
    read_event_stream,
    session_window_counts,
    sliding_window_value_sum,
    static_enrich_nation_counts,
    tumbling_daily_counts,
)

_NONCE = f"s{os.getpid()}"


def stream_tumbling_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1-day window counts (streaming) — equals
    the batch daily GROUP BY."""
    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        return run_available_now(
            tumbling_daily_counts(ev), f"tumbling_daily_{_NONCE}"
        )


def stream_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day/1-day windows (streaming): every event counted in
    exactly 2 windows. Oracle: union of the two covering windows per
    event, then GROUP BY."""
    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        return run_available_now(
            sliding_window_value_sum(ev), f"sliding_{_NONCE}"
        )


def stream_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user, rolled up to per-user
    session/event counts batch-side. Oracle: LAG-gap formulation with
    >= boundary (session_window starts a new session at gap >= 30min).
    """
    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        sessions = run_available_now(
            session_window_counts(ev), f"sessions_{_NONCE}"
        )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running totals; with availableNow over
    finite input the final update per user equals the batch aggregate.
    Oracle: per-user COUNT/SUM/MAX(ts). float sum → ROUND(, 6)."""
    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        totals = run_available_now(
            running_user_totals(ev),
            f"user_totals_{_NONCE}",
            output_mode="update",
        )
    # update-mode memory sink may hold one row per micro-batch per key;
    # keep the final (largest n_events) row per user.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        totals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
            "last_ts",
        )
    )


def stream_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (clicks ⋈ views, 1-hour event-time
    bound, watermarked state): availableNow result equals the batch
    join. Rolled up per user batch-side."""
    from market_data_pipeline_databricks_spark.streaming.joins import (
        click_view_attribution,
    )

    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        pairs = run_available_now(
            click_view_attribution(ev),
            f"clickview_{_NONCE}",
            output_mode="append",
        )
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("click_id").alias("n_attributed_clicks"),
    )


def stream_stream_left_outer_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER join: clicks with no view in the
    preceding hour emit NULL-extended once the view-side watermark
    passes their latest possible match time (state expiry licenses the
    null). Per-user rollup counts matched pairs and expired unmatched
    clicks. Oracle: batch inner join UNION the anti-joined clicks with
    c_ts < max(ts) − 1 day (the final-watermark cutoff — same contract
    as stream_daily_unique_users' closed-window rule)."""
    from market_data_pipeline_databricks_spark.streaming.joins import (
        click_view_attribution_outer,
    )

    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        rows = run_available_now(
            click_view_attribution_outer(ev),
            f"clickview_outer_{_NONCE}",
            output_mode="append",
        )
    return rows.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("view_id").alias("n_matched_pairs"),
        F.sum(
            F.when(F.col("view_id").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_expired_unmatched"),
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark-bounded state
    (dropDuplicatesWithinWatermark): availableNow result equals batch
    SELECT DISTINCT because every duplicate key arrives inside the
    delay (see streaming/windows.py:dedup_within_watermark)."""
    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        return run_available_now(
            dedup_within_watermark(ev),
            f"dedup_wm_{_NONCE}",
            output_mode="append",
        )


def stream_static_enrich_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (stateless join: no
    watermark, no state store) of the event stream with the customer
    dimension, then per-(nation, type) counts. Oracle: the identical
    batch join + GROUP BY."""
    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        return run_available_now(
            static_enrich_nation_counts(ev, customer), f"static_enrich_{_NONCE}"
        )


def stream_daily_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful operators (dedup → tumbling agg) in one
    streaming query: exact distinct users per day. APPEND mode
    (required for chained state) emits only watermark-closed windows,
    so the trailing ~watermark+1d of days is deliberately absent; the
    oracle applies the identical cutoff
    (streaming/windows.py:daily_unique_users)."""
    with nanos_conf_scope(spark, sf_dir):
        ev = read_event_stream(spark, sf_dir)
        return run_available_now(
            daily_unique_users(ev),
            f"daily_uu_{_NONCE}",
            output_mode="append",
        )


QUERIES = {
    "stream_stream_click_attribution": stream_stream_click_attribution,
    "stream_stream_left_outer_attribution": stream_stream_left_outer_attribution,
    "stream_daily_unique_users": stream_daily_unique_users,
    "stream_static_enrich_nation": stream_static_enrich_nation,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
    "stream_tumbling_daily_counts": stream_tumbling_daily_counts,
    "stream_sliding_window_counts": stream_sliding_window_counts,
    "stream_session_window_stats": stream_session_window_stats,
    "stream_stateful_user_totals": stream_stateful_user_totals,
}

ORACLE_SQL = {
    # append-mode cutoff: a window emits when the final watermark
    # (max event time − 2-day delay) passes its END; the trailing days
    # stay open and are absent by contract (verified empirically:
    # sf0.001 max ts 2024-01-30T23:26 → last emitted day 2024-01-27).
    # The boundary could only flip on exact-midnight max timestamps,
    # which the microsecond-grain testdata never produces.
    "stream_daily_unique_users": """
        WITH mx AS (
          SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events
        ),
        d AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('day', ts) AS DATE) AS day
          FROM events
        )
        SELECT day, COUNT(*) AS n_unique_users
        FROM d CROSS JOIN mx
        WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= mx - INTERVAL 2 DAY
        GROUP BY day
    """,
    "stream_static_enrich_nation": """
        SELECT c.c_nationkey, e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_nationkey, e.event_type
    """,
    "stream_dedup_within_watermark": """
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               event_type
        FROM events
    """,
    "stream_stream_left_outer_attribution": """
        WITH c AS (
          SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS c_ts
          FROM events WHERE event_type = 'click'
        ), v AS (
          SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS v_ts
          FROM events WHERE event_type = 'view'
        ), wm AS (
          -- the global watermark is the MIN across both sides' nodes
          -- (clicks and views each carry their own max event time),
          -- minus the shared 1-day delay — NOT the overall events max
          SELECT LEAST((SELECT MAX(c_ts) FROM c),
                       (SELECT MAX(v_ts) FROM v)) - INTERVAL 1 DAY AS w
        ), matched AS (
          SELECT c.user_id, c.click_id, v.view_id
          FROM c JOIN v ON c.user_id = v.user_id
            AND v.v_ts >= c.c_ts - INTERVAL 1 HOUR AND v.v_ts <= c.c_ts
        ), expired_unmatched AS (
          SELECT c.user_id, c.click_id, NULL AS view_id
          FROM c, wm
          -- null-extension happens when no future view can match:
          -- c_ts < W (boundary verified empirically at microsecond
          -- precision: last emitted 23:33:10 < W=23:38:14 < first
          -- held-back 23:40:42 at sf0.01)
          WHERE c.c_ts < wm.w
            AND NOT EXISTS (
              SELECT 1 FROM v
              WHERE v.user_id = c.user_id
                AND v.v_ts >= c.c_ts - INTERVAL 1 HOUR AND v.v_ts <= c.c_ts
            )
        ), unioned AS (
          SELECT * FROM matched UNION ALL SELECT * FROM expired_unmatched
        )
        SELECT user_id, COUNT(*) AS n_rows,
               COUNT(view_id) AS n_matched_pairs,
               CAST(SUM(CASE WHEN view_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_expired_unmatched
        FROM unioned GROUP BY user_id
    """,
    "stream_stream_click_attribution": """
        WITH c AS (
          SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS c_ts
          FROM events WHERE event_type = 'click'
        ), v AS (
          SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS v_ts
          FROM events WHERE event_type = 'view'
        )
        SELECT c.user_id AS user_id, COUNT(*) AS n_pairs,
               COUNT(DISTINCT c.click_id) AS n_attributed_clicks
        FROM c JOIN v ON c.user_id = v.user_id
          AND v.v_ts >= c.c_ts - INTERVAL 1 HOUR AND v.v_ts <= c.c_ts
        GROUP BY c.user_id
    """,
    "stream_tumbling_daily_counts": """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "stream_sliding_window_counts": """
        WITH covering AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS win_start, event_type
          FROM events
          UNION ALL
          SELECT CAST(date_trunc('day', ts) AS DATE) - INTERVAL 1 DAY, event_type
          FROM events
        )
        SELECT CAST(win_start AS DATE) AS win_start, event_type,
               COUNT(*) AS n_events
        FROM covering GROUP BY 1, 2
    """,
    "stream_session_window_stats": """
        WITH marked AS (
          SELECT user_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                      OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(LAG(ts) OVER w AS TIMESTAMP)) >= 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM marked GROUP BY user_id
    """,
    "stream_stateful_user_totals": """
        SELECT user_id, COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS sum_value,
               CAST(MAX(ts) AS TIMESTAMP) AS last_ts
        FROM events GROUP BY user_id
    """,
}


def stream_synthetic_ticks_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily OHLC over the CUSTOM Python Data Source's
    STREAM reader (sources/pydatasource.py:SyntheticTicksStreamReader)
    — readStream on a user-defined source feeding a stateful grouped
    aggregate, drained with availableNow. The oracle is the identical
    SQL twin as the batch form (source_synthetic_ticks_ohlc), so the
    driver check certifies stream == batch == regenerated-in-DuckDB.
    min_by/max_by pick open/close by seq; complete-mode memory sink is
    driver plumbing only. ``sf_dir`` unused (the source IS the data)."""
    from market_data_pipeline_databricks_spark.sources.pydatasource import (
        SyntheticTicksDataSource,
    )

    spark.dataSource.register(SyntheticTicksDataSource)
    ticks = (
        spark.readStream.format("synthetic_ticks")
        .option("symbols", "AAA,BBB,CCC")
        .option("days", "5")
        .option("ticks_per_day", "40")
        .load()
    )
    agg = ticks.groupBy("symbol", "day").agg(
        F.expr("min_by(price, seq)").alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.expr("max_by(price, seq)").alias("close"),
        F.sum("volume").cast("long").alias("volume"),
    )
    return run_available_now(agg, f"synticks_ohlc_{_NONCE}")


QUERIES.update({"stream_synthetic_ticks_ohlc": stream_synthetic_ticks_ohlc})

# the streaming form must produce the exact batch result, so it shares
# the batch query's oracle (regenerates the source's md5-arithmetic
# ticks in DuckDB)
from market_data_pipeline_databricks_spark.plans import breadth_ops as _b

ORACLE_SQL.update(
    {
        "stream_synthetic_ticks_ohlc": _b.ORACLE_SQL[
            "source_synthetic_ticks_ohlc"
        ],
    }
)


def stream_gold_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental gold maintenance, oracle-backed end to
    end: the (l_suppkey, ship-day) daily silver rollup is split into
    four date-range parquet chunks, streamed one file per micro-batch,
    and each batch patches a persistent gold table via
    streaming/ingest.stream_gold_maintenance (append silver →
    recompute only the affected region → idempotent keyed upsert).
    The oracle recomputes gold over ALL of silver directly, so hash
    equality proves that four incremental streaming patches compose to
    the exact full recompute — the strongest statement a streaming
    maintenance op can make (same bar as the stream==batch window
    twins). Emits the IEEE-deterministic columns (LAG return, rolling
    volume average); rolling stddev is covered by the decimal-exact
    Bollinger query."""
    import shutil
    import tempfile
    from datetime import datetime

    from market_data_pipeline_databricks_spark.streaming.ingest import (
        stream_gold_maintenance,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    silver = (
        li.groupBy(
            F.col("l_suppkey").cast("string").alias("symbol"),
            F.col("l_shipdate").cast("date").alias("date"),
        )
        .agg(
            F.max("l_extendedprice").cast("double").alias("close"),
            F.sum("l_quantity").cast("long").alias("volume"),
        )
        .withColumn("source", F.lit("lineitem"))
    )
    from market_data_pipeline_databricks_spark.operators.gold import (
        gold_features,
    )

    feed_dir = tempfile.mkdtemp(prefix=f"gold_feed_{_NONCE}_")
    wh = tempfile.mkdtemp(prefix=f"gold_wh_{_NONCE}_")
    try:
        # four date-ordered drops — each lands as its own file(s); batch
        # boundaries are irrelevant to correctness (the cutoff algebra is
        # order-safe), only to the per-batch work profile
        bounds = ["1995-01-01", "1996-07-01", "1997-07-01"]
        # materialize the rollup ONCE for the four chunk writes (r14:
        # each write re-ran the full lineitem aggregation — 4 scans,
        # ~1.4 s apiece at sf0.1). The lazy `silver` stays the twin's
        # root so the returned plan remains testdata-parquet-rooted.
        # lazy (r15): the first chunk write materializes it
        silver_m = silver.localCheckpoint(eager=False)
        chunks = [
            silver_m.filter(F.col("date") < bounds[0]),
            silver_m.filter(
                (F.col("date") >= bounds[0]) & (F.col("date") < bounds[1])
            ),
            silver_m.filter(
                (F.col("date") >= bounds[1]) & (F.col("date") < bounds[2])
            ),
            silver_m.filter(F.col("date") >= bounds[2]),
        ]
        for c in chunks:
            c.coalesce(1).write.mode("append").parquet(feed_dir)
        feed = (
            spark.readStream.schema(silver.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        ts = datetime(2026, 1, 1, 0, 0)
        stream_gold_maintenance(feed, wh, computed_at=ts)
        gold = spark.read.parquet(f"{wh}/gold_daily")
        cols = [
            "symbol", "date", "close", "volume", "return_1d", "avg_volume_20d"
        ]
        # the gold output is row-scaled (one row per symbol-day —
        # millions at sf1.0): checked_lazy's diff is a distributed
        # hash-aggregate, never a driver collect, so the stream==batch
        # proof stays scale-safe and the warehouse dir can be freed
        return checked_lazy(
            gold.select(*cols),
            gold_features(silver, computed_at=ts).select(*cols),
            "stream_gold_incremental",
        )
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


QUERIES.update({"stream_gold_incremental": stream_gold_incremental})

# the streaming maintenance must equal the batch full recompute, so it
# shares the incremental-equivalence oracle (full gold over all silver)
from market_data_pipeline_databricks_spark.plans import warehouse_ops as _w

ORACLE_SQL.update(
    {
        "stream_gold_incremental": _w.ORACLE_SQL[
            "gold_incremental_equivalence"
        ],
    }
)


def stream_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental CDC dedup — the daily-crawl pipeline as a
    stream: new-batch documents (doc_id % 5 == 0) arrive in three
    micro-batches (availableNow, one file per trigger); each batch
    computes its content-defined chunks INSIDE foreachBatch (CDC needs
    a per-doc LEAD window, which streaming DataFrames cannot host) and
    probes the STATIC corpus chunk-fingerprint index built once up
    front — the production shape where the index is maintained
    out-of-band and each crawl drop probes it. Coverage rows append to
    a result table; the accumulated output must equal the batch form
    ``dedup_cdc_incremental`` exactly, so it shares that oracle — the
    stream==batch equality statement, same bar as the gold-maintenance
    and windowed-aggregation twins."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.operators import text as TXX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    batch_docs = docs.filter(F.col("doc_id") % 5 == 0)
    # the corpus chunk index: built once, shared by every micro-batch
    # (localCheckpoint — foreachBatch closures re-evaluate lazy plans)
    corpus_fps = (
        TXX.cdc_chunks(docs.filter(F.col("doc_id") % 5 != 0), k=12, divisor=64)
        .select("chunk_fp")
        .distinct()
        # lazy (r15): the first micro-batch materializes it
        .localCheckpoint(eager=False)
    )
    feed_dir = tempfile.mkdtemp(prefix=f"cdc_feed_{_NONCE}_")
    out_dir = tempfile.mkdtemp(prefix=f"cdc_out_{_NONCE}_")
    ckpt_dir = tempfile.mkdtemp(prefix=f"cdc_ckpt_{_NONCE}_")
    for part in range(3):
        batch_docs.filter(F.col("doc_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        ch = TXX.cdc_chunks(batch_df, id_col="doc_id", k=12, divisor=64).select(
            "id", "chunk_fp", F.length("chunk_text").alias("clen")
        )
        hit = ch.join(corpus_fps, "chunk_fp", "left_semi")
        per_doc = ch.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("clen").cast("long").alias("n_chars_norm"),
        )
        hit_doc = hit.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_corpus_dup_chunks"),
            F.sum("clen").cast("long").alias("n_dup_chars"),
        )
        per_doc.join(hit_doc, "id").select(
            F.col("id").alias("batch_id"),
            "n_chunks",
            "n_corpus_dup_chunks",
            F.round(
                F.col("n_dup_chars") / F.col("n_chars_norm").cast("double"), 6
            ).alias("corpus_dup_coverage"),
        ).write.mode("append").parquet(out_dir)

    feed = (
        spark.readStream.schema(batch_docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed_dir)
    )
    q = (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        # the accumulated micro-batch output must equal the batch form
        # exactly (shared oracle) — assert it in-query and return the
        # batch form's lazy parquet-rooted plan
        from market_data_pipeline_databricks_spark.plans import (
            text_ops as _txo_local,
        )

        return checked_lazy(
            spark.read.parquet(out_dir),
            _txo_local.dedup_cdc_incremental(spark, sf_dir),
            "stream_cdc_incremental",
        )
    finally:
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def stream_image_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental IMAGE dedup — the crawl-drop pipeline as a
    stream: new-batch documents (doc_id % 10 == 0) arrive in three
    micro-batches (availableNow, one file per trigger); each batch
    synthesizes+decodes ONLY its own images inside foreachBatch and
    probes the STATIC corpus aHash band index built once up front
    (localCheckpoint — foreachBatch closures re-evaluate lazy plans).
    Accumulated output must equal the batch form
    ``multimodal_image_dedup_incremental`` exactly, so it shares that
    oracle — the stream==batch equality statement, same bar as the
    CDC/gold-maintenance twins."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.operators import multimodal as MMX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    batch_docs = docs.filter(F.col("doc_id") % 10 == 0)
    corpus_sigs = MMX.image_ahash_words(
        MMX.synthesize_ppm_media(docs.filter(F.col("doc_id") % 10 != 0))
        # lazy (r15): the first micro-batch materializes it
    ).localCheckpoint(eager=False)
    feed_dir = tempfile.mkdtemp(prefix=f"img_feed_{_NONCE}_")
    out_dir = tempfile.mkdtemp(prefix=f"img_out_{_NONCE}_")
    ckpt_dir = tempfile.mkdtemp(prefix=f"img_ckpt_{_NONCE}_")
    try:
        for part in range(3):
            batch_docs.filter(F.col("doc_id") % 3 == part).coalesce(
                1
            ).write.mode("append").parquet(feed_dir)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.take(1):
                return
            sigs = MMX.image_ahash_words(MMX.synthesize_ppm_media(batch_df))
            MMX.image_ahash_probe(corpus_sigs, sigs, max_hamming=3).write.mode(
                "append"
            ).parquet(out_dir)

        feed = (
            spark.readStream.schema(batch_docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        q = (
            feed.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        from market_data_pipeline_databricks_spark.plans import (
            vector_ops as _vco_local,
        )

        twin = _vco_local.multimodal_image_dedup_incremental(spark, sf_dir)
        # an all-empty feed writes no parquet (every sink early-returns)
        # — compare an empty typed frame instead of hitting a
        # schema-inference error on the bare directory
        import glob as _glob

        if not _glob.glob(f"{out_dir}/*.parquet"):
            constructed = spark.createDataFrame([], twin.schema)
        else:
            constructed = spark.read.parquet(out_dir)
        return checked_lazy(
            constructed, twin, "stream_image_dedup_incremental"
        )
    finally:
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


QUERIES.update({"stream_cdc_incremental": stream_cdc_incremental})

# streaming micro-batched probing must equal the batch incremental CDC
# exactly — shared oracle
from market_data_pipeline_databricks_spark.plans import text_ops as _txo

ORACLE_SQL.update(
    {"stream_cdc_incremental": _txo.ORACLE_SQL["dedup_cdc_incremental"]}
)

QUERIES.update({"stream_image_dedup_incremental": stream_image_dedup_incremental})

# streaming probe must equal the batch incremental image dedup exactly
# — shared oracle
from market_data_pipeline_databricks_spark.plans import vector_ops as _vco

ORACLE_SQL.update(
    {
        "stream_image_dedup_incremental": _vco.ORACLE_SQL[
            "multimodal_image_dedup_incremental"
        ]
    }
)


def stream_snapshot_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC into the snapshot table format — the Structured-
    Streaming-writes-a-versioned-table production shape: the
    correction feed (o_orderkey % 50 == 0, +10.00 each) arrives in
    three micro-batches (availableNow, one file per trigger) and each
    batch COMMITS through the file-level copy-on-write merge
    (sources/snapshots.py:commit_merge_keys) inside foreachBatch,
    producing versions 2..4 over the version-1 base commit. The
    correction keys are disjoint across micro-batches, so the final
    version must equal ONE combined merge — this query therefore emits
    the same (v1, latest) side-by-side aggregate as
    ``warehouse_time_travel`` and SHARES its oracle: the stream==batch
    equality statement for versioned commits."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        commit_merge_keys,
        latest_version,
        read_version,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    tdir = tempfile.mkdtemp(prefix=f"snapstream_{_NONCE}_")
    feed_dir = tempfile.mkdtemp(prefix=f"snapfeed_{_NONCE}_")
    ckpt_dir = tempfile.mkdtemp(prefix=f"snapckpt_{_NONCE}_")
    try:
        commit_append(orders.repartition(8, "o_orderkey"), tdir)
        corrections = orders.filter(F.col("o_orderkey") % 50 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(10.00).cast("decimal(12,2)"))
            .cast("decimal(12,2)")
            .alias("o_totalprice"),
        )
        for part in range(3):
            corrections.filter(
                F.col("o_orderkey") % 3 == part
            ).coalesce(1).write.mode("append").parquet(feed_dir)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.take(1):
                return
            commit_merge_keys(
                spark, tdir, batch_df.localCheckpoint(), ["o_orderkey"]
            )

        feed = (
            spark.readStream.schema(corrections.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        q = (
            feed.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        def agg(df: DataFrame, tag: str) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).cast("long").alias(f"n_rows_{tag}"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias(f"sum_price_{tag}"),
            )

        out = agg(read_version(spark, tdir, 1), "v1").join(
            agg(read_version(spark, tdir, latest_version(tdir)), "v2"),
            "o_orderstatus",
        )
        from market_data_pipeline_databricks_spark.plans.warehouse_ops import (
            _time_travel_twin,
        )

        return checked_lazy(
            out, _time_travel_twin(spark, sf_dir), "stream_snapshot_commits"
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


QUERIES.update({"stream_snapshot_commits": stream_snapshot_commits})

# micro-batched COW commits must land on the same final version as the
# single batch merge — shared oracle with the time-travel drive
from market_data_pipeline_databricks_spark.plans import warehouse_ops as _who

ORACLE_SQL.update(
    {"stream_snapshot_commits": _who.ORACLE_SQL["warehouse_time_travel"]}
)


def stream_state_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store AUDIT via Spark 4's ``statestore`` reader: a
    streaming aggregation (orders per status: decimal revenue + count)
    runs to completion over three micro-batches (availableNow, one
    file per trigger), then the query reads the aggregation's
    INTERNAL STATE back out of the checkpoint with
    ``spark.read.format("statestore")`` — the ops-tooling surface for
    inspecting what a stateful stream actually holds — and emits it.
    The state rows must equal the batch GROUP BY over the same input
    (the DuckDB oracle), which proves end-to-end that three
    incremental state updates composed to exactly the full aggregate
    INSIDE the state store, not just at the sink: a stronger
    exactly-once statement than sink equality (a sink can hide a
    wrong-then-rewritten state; the store cannot).

    Scale shape: state is one row per group per shuffle partition —
    the reader scans checkpoint files, never the input; on a 100-TB
    pipeline this is the constant-size audit that validates a
    long-running job's state without reprocessing. EAGER (runs the
    stream at construction; returns the lazy parquet-rooted twin,
    with the state rows asserted equal in-query — plans/_eager.py:
    checked_lazy)."""
    import shutil
    import tempfile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
    )
    src = tempfile.mkdtemp(prefix=f"ssaudit_src_{_NONCE}_")
    ck = tempfile.mkdtemp(prefix=f"ssaudit_ck_{_NONCE}_")
    try:
        for part in range(3):
            orders.filter(F.col("o_orderkey") % 3 == part).select(
                "o_orderstatus", "p"
            ).coalesce(1).write.mode("append").parquet(src)
        feed = (
            spark.readStream.schema("o_orderstatus string, p decimal(12,2)")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = feed.groupBy("o_orderstatus").agg(
            F.sum("p").alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        st = spark.read.format("statestore").load(ck)
        twin = orders.groupBy("o_orderstatus").agg(
            F.sum("p").cast("decimal(27,2)").cast("double").alias("sum_price"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        return checked_lazy(
            st.select(
                F.col("key.o_orderstatus").alias("o_orderstatus"),
                F.col("value.sum")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
                F.col("value.count").cast("long").alias("n_rows"),
            ),
            twin,
            "stream_state_store_audit",
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


QUERIES.update({"stream_state_store_audit": stream_state_store_audit})

ORACLE_SQL.update(
    {
        "stream_state_store_audit": """
SELECT o_orderstatus,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders GROUP BY o_orderstatus
"""
    }
)


def stream_rank_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INCREMENTAL per-key rank maintenance
    (streaming/rank.py — the foreachBatch twin of
    operators/ranking.py:two_pass_key_rank, VERDICT r11 task 7): the
    events table arrives in three event-time-ordered micro-batches
    (time-range file splits, availableNow, one file per trigger); each
    batch is ranked batch-locally with the shared two-pass operator,
    offset by the count of already-ranked earlier rows per user
    (counted from the maintained table with a strict ``ts < batch
    min`` — replay-idempotent), and upserted by event_id. The final
    table must equal the batch window ``ROW_NUMBER() OVER (PARTITION
    BY user_id ORDER BY ts, event_id)`` over the whole input — the
    stream==batch equality statement for incremental ranking, with
    O(batch) work per batch instead of O(history). Runs the PRODUCTION
    layout (``partition_by_month=True``, VERDICT r12 task 2): the
    maintained table partitions on a ts-derived bucket, so the order
    guard and offset scans prune to recent partitions and each batch's
    upsert rewrites only its touched buckets — the whole-table-rewrite
    default is a drive convenience the production path must not use.
    The test events span a single calendar month, so the drive sets
    the bucket grain to DAYS (``partition_fmt="yyyy-MM-dd"``) — ~30
    partitions, each time-cut batch touching only its ~10 — and
    asserts the partitioned layout actually materialized on disk.
    EAGER (drains the stream at construction)."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from market_data_pipeline_databricks_spark.sources.tables import (
        read_table,
    )
    from market_data_pipeline_databricks_spark.streaming.rank import (
        stream_rank_maintenance as _maintain,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = hi - lo
    t1 = lo + span / 3
    t2 = lo + 2 * span / 3
    feed_dir = tempfile.mkdtemp(prefix=f"rankfeed_{_NONCE}_")
    wh_dir = tempfile.mkdtemp(prefix=f"rankwh_{_NONCE}_")
    ckpt_dir = tempfile.mkdtemp(prefix=f"rankckpt_{_NONCE}_")
    try:
        # sequential writes: the file source delivers oldest-mtime
        # first, so writing the slices in time order makes the stream
        # event-time ordered across micro-batches (the maintenance's
        # documented precondition)
        slices = [
            ev.filter(F.col("ts") < F.lit(t1)),
            ev.filter((F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2))),
            ev.filter(F.col("ts") >= F.lit(t2)),
        ]
        for s in slices:
            s.coalesce(1).write.mode("append").parquet(feed_dir)
        feed = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        _maintain(
            feed,
            wh_dir,
            table="events_ranked",
            checkpoint_dir=ckpt_dir,
            partition_by_month=True,
            partition_fmt="yyyy-MM-dd",
        )
        # layout proof: the sink actually wrote hive-style time-bucket
        # partitions (the bounded-rewrite production layout), not one
        # flat directory
        from pathlib import Path as _Path

        month_dirs = [
            p.name
            for p in (_Path(wh_dir) / "events_ranked").iterdir()
            if p.is_dir() and p.name.startswith("__p_month=")
        ]
        if len(month_dirs) < 2:
            raise AssertionError(
                "stream_rank_maintenance: expected a month-partitioned "
                f"table layout, found partitions {month_dirs!r}"
            )
        constructed = read_table(spark, wh_dir, "events_ranked").select(
            "event_id", "user_id", "user_seq"
        )
        w = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        twin = ev.withColumn(
            "user_seq", F.row_number().over(w).cast("long")
        ).select("event_id", "user_id", "user_seq")
        return checked_lazy(constructed, twin, "stream_rank_maintenance")
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(wh_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


QUERIES.update({"stream_rank_maintenance": stream_rank_maintenance})

ORACLE_SQL.update(
    {
        "stream_rank_maintenance": """
SELECT event_id, user_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY user_id ORDER BY ts, event_id
       ) AS BIGINT) AS user_seq
FROM events
"""
    }
)


def stream_evolved_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITION drive for the round-12 partition-evolution surface
    (sources/snapshots.py): version 1 commits a third of orders
    un-clustered; the spec then evolves to cluster on o_custkey; the
    remaining two thirds arrive as a STREAM (availableNow, one file per
    trigger) whose foreachBatch sink commits through the spec-aware
    ``commit_append`` — each micro-batch range-clusters itself and
    records bounds with no code in the sink knowing about the spec;
    ``rewrite_to_spec`` then re-clusters the pre-evolution tail, and
    the final read is a custkey range through ``read_pruned`` over a
    table where EVERY file carries bounds. The DuckDB oracle replays
    the identical filter over the raw table — a batch lost/duplicated
    by a streaming commit, a mis-clustered file, or a mis-pruned read
    breaks the hash. EAGER (commits + streams + rewrites at
    construction)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        evolve_partition_spec,
        read_pruned,
        rewrite_to_spec,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    tdir = tempfile.mkdtemp(prefix=f"evcommit_{_NONCE}_")
    feed_dir = tempfile.mkdtemp(prefix=f"evfeed_{_NONCE}_")
    ckpt_dir = tempfile.mkdtemp(prefix=f"evckpt_{_NONCE}_")
    try:
        commit_append(
            orders.filter(F.col("o_orderkey") % 3 == 0).repartition(3), tdir
        )
        evolve_partition_spec(tdir, ["o_custkey"])
        for part in (1, 2):
            orders.filter(F.col("o_orderkey") % 3 == part).coalesce(
                1
            ).write.mode("append").parquet(feed_dir)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.take(1):
                return
            commit_append(
                batch_df.localCheckpoint(), tdir, cluster_partitions=4
            )

        feed = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        q = (
            feed.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rewrite_to_spec(spark, tdir, cluster_partitions=4)

        def agg(df: DataFrame) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
            )

        constructed = agg(
            read_pruned(spark, tdir, [("between", "o_custkey", 100, 400)])
        )
        twin = agg(orders.filter(F.col("o_custkey").between(100, 400)))
        return checked_lazy(constructed, twin, "stream_evolved_commits")
    finally:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


QUERIES.update({"stream_evolved_commits": stream_evolved_commits})

# the streamed+rewritten evolved table must aggregate exactly like the
# raw custkey-range filter — shared shape with the batch evolution drive
from market_data_pipeline_databricks_spark.plans import warehouse_ops as _wpe

ORACLE_SQL.update(
    {
        "stream_evolved_commits": _wpe.ORACLE_SQL[
            "warehouse_partition_evolution"
        ]
    }
)


def stream_rank_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival REPAIR drive for the maintained rank table
    (streaming/rank.py:repair_ranks, VERDICT r12 task 4) — the half of
    the streaming-rank contract users actually hit at 100 TB, where
    late events are the norm, not the exception.

    Composition: the SECOND QUARTER of one user's events (by per-user
    rank) is held back as the late slice; the rest streams through the
    incremental maintenance in two event-time-ordered micro-batches
    on the production layout (day-grain partitions) — the drain here
    is SETUP (the incremental multi-batch build is the maintenance
    drive's proof, not this one's), so it uses the fewest batches
    that still cross a batch boundary. The drive then
    (1) INJECTS the late slice as a fourth micro-batch and asserts the
    RankOrderViolation guard fires BEFORE any write (per-partition
    file listing byte-identical across the failed injection), (2)
    repairs through ``repair_ranks`` — SUFFIX-BOUNDED: only the
    affected key's rows at or after its earliest late ts rerank — and
    asserts the write touched ONLY partitions holding that suffix:
    other keys' exclusive days AND the affected user's own pre-late
    days kept their exact files (the O(suffix-partitions) write the
    bound exists for; holding back a middle chunk rather than the head
    is what makes the prefix nonempty and the assertion meaningful),
    and (3) requires the repaired table to equal the batch window
    ``ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)``
    over the WHOLE input. The held-back user is the one covering the
    fewest distinct days (deterministic tie-break on user_id), which
    maximizes the untouched-partition set. EAGER (streams + repairs at
    construction)."""
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import Window

    from market_data_pipeline_databricks_spark.sources.tables import (
        read_table,
    )
    from market_data_pipeline_databricks_spark.streaming.rank import (
        repair_ranks,
        stream_rank_maintenance as _maintain,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id"
    )
    day = F.date_format("ts", "yyyy-MM-dd")
    # one aggregation job picks the target AND sizes its slice (was
    # two jobs — the drive is dominated by per-job overhead, not rows)
    trow = (
        ev.groupBy("user_id")
        .agg(
            F.countDistinct(day).alias("nd"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(F.asc("nd"), F.asc("user_id"))
        .first()
    )
    target_user, n_mine = trow["user_id"], trow["n"]
    mine = ev.filter(F.col("user_id") == target_user)
    uw = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # middle chunk (ranks (n/4, n/2]): leaves a nonempty prefix whose
    # ranks — and partitions — the suffix-bounded repair must not touch
    lo_rn = n_mine // 4
    hi_rn = max(lo_rn + 1, n_mine // 2)
    late = (
        mine.withColumn("__rn", F.row_number().over(uw))
        .filter((F.col("__rn") > lo_rn) & (F.col("__rn") <= hi_rn))
        .drop("__rn")
        # freeze: reused as stream feed + repair input (lazy, r15 —
        # the first feed write materializes it)
        .localCheckpoint(eager=False)
    )
    # three consumers (the span agg + two slice writes) — persist so
    # the full-events anti-join runs once, not three times (r15);
    # freed right after the feed is written
    on_time = ev.join(late.select("event_id"), "event_id", "anti").persist()

    feed_dir = tempfile.mkdtemp(prefix=f"rprfeed_{_NONCE}_")
    late_dir = tempfile.mkdtemp(prefix=f"rprlate_{_NONCE}_")
    wh_dir = tempfile.mkdtemp(prefix=f"rprwh_{_NONCE}_")
    ck1 = tempfile.mkdtemp(prefix=f"rprck1_{_NONCE}_")
    ck2 = tempfile.mkdtemp(prefix=f"rprck2_{_NONCE}_")
    try:
        lo, hi = on_time.agg(F.min("ts"), F.max("ts")).first()
        mid = lo + (hi - lo) / 2
        for cond in (
            F.col("ts") < F.lit(mid),
            F.col("ts") >= F.lit(mid),
        ):
            on_time.filter(cond).coalesce(1).write.mode("append").parquet(
                feed_dir
            )
        on_time.unpersist()

        def _stream(src_dir: str, ckpt: str) -> None:
            feed = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src_dir)
            )
            _maintain(
                feed,
                wh_dir,
                table="events_ranked",
                checkpoint_dir=ckpt,
                partition_by_month=True,
                partition_fmt="yyyy-MM-dd",
                # this drive ASSERTS the cache lifecycle (exists after
                # drain, invalidated by repair), so it forces the
                # cache on — the size floor would skip it at sf0.1
                offsets_cache_min_bytes=0,
            )

        _stream(feed_dir, ck1)
        tdir = Path(wh_dir) / "events_ranked"
        # the advisory offsets cache must exist after a drain (it is
        # what bounds the next batch's read to O(recent))
        cache_dir = Path(wh_dir) / "events_ranked__offsets"
        if not cache_dir.exists():
            raise AssertionError(
                "stream_rank_repair: offsets cache missing after drain"
            )

        def _listing() -> dict[str, tuple[int, int]]:
            return {
                str(p.relative_to(tdir)): (
                    p.stat().st_size,
                    p.stat().st_mtime_ns,
                )
                for p in tdir.rglob("*")
                if p.is_file()
            }

        before = _listing()
        # (1) the late slice through the STREAM must be refused by the
        # order guard — before any write
        late.coalesce(1).write.mode("append").parquet(late_dir)
        try:
            _stream(late_dir, ck2)
            raise AssertionError(
                "stream_rank_repair: late slice was accepted by the "
                "maintenance sink — RankOrderViolation guard missing"
            )
        except AssertionError:
            raise
        except Exception as exc:  # StreamingQueryException wraps it
            if "strict cross-batch order violated" not in str(exc):
                raise
        if _listing() != before:
            raise AssertionError(
                "stream_rank_repair: the refused injection modified "
                "the maintained table — guard must raise before write"
            )
        # (2) SUFFIX-bounded repair: only partitions holding the
        # affected key's rows AT OR AFTER its earliest late ts may
        # change — the user's pre-late days (and every other key's
        # exclusive day) must keep their exact files
        repair_ranks(
            spark,
            late,
            wh_dir,
            partition_by_month=True,
            partition_fmt="yyyy-MM-dd",
        )
        if cache_dir.exists():
            raise AssertionError(
                "stream_rank_repair: repair must invalidate the "
                "offsets cache (late rows land below its watermark)"
            )
        late_lo = late.agg(F.min("ts")).first()[0]
        touched = {
            f"__p_month={r.d}"
            for r in mine.filter(F.col("ts") >= F.lit(late_lo))
            .select(day.alias("d"))
            .distinct()
            .collect()
        }
        after = _listing()
        changed = (set(before) ^ set(after)) | {
            f for f in before.keys() & after.keys() if before[f] != after[f]
        }
        stray = {
            f
            for f in changed
            if f.startswith("__p_month=") and f.split("/")[0] not in touched
        }
        if stray:
            raise AssertionError(
                "stream_rank_repair: repair rewrote partitions outside "
                f"the affected key's days: {sorted(stray)[:5]!r}"
            )
        all_parts = {
            f.split("/")[0] for f in before if f.startswith("__p_month=")
        }
        if not all_parts - touched:
            raise AssertionError(
                "stream_rank_repair: no untouched partition existed — "
                "the stability assertion was vacuous; pick a sparser key"
            )
        constructed = read_table(spark, wh_dir, "events_ranked").select(
            "event_id", "user_id", "user_seq"
        )
        w = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        twin = ev.withColumn(
            "user_seq", F.row_number().over(w).cast("long")
        ).select("event_id", "user_id", "user_seq")
        return checked_lazy(constructed, twin, "stream_rank_repair")
    finally:
        for d in (feed_dir, late_dir, wh_dir, ck1, ck2):
            shutil.rmtree(d, ignore_errors=True)


QUERIES.update({"stream_rank_repair": stream_rank_repair})

# the repaired table must equal the batch window over the FULL input —
# same equality statement (and oracle) as the maintenance drive
ORACLE_SQL.update(
    {
        "stream_rank_repair": """
SELECT event_id, user_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY user_id ORDER BY ts, event_id
       ) AS BIGINT) AS user_seq
FROM events
"""
    }
)


def stream_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental MATERIALIZED-AGGREGATE maintenance
    (streaming/aggregate.py — VERDICT r13 task 8: the groupBy twin of
    the rank sink, generalizing its watermark/guard/repair machinery to
    algebraic aggregates). Composition mirrors the rank drives:

    - the SECOND QUARTER (by per-user event order) of one user's rows
      PLUS that user's final row are held back; the rest streams
      through the sink in two event-time-cut micro-batches. Each batch
      merges a map-side-combined partial into the per-user (COUNT,
      SUM(value)) state via the per-group applied watermark — O(batch)
      work, with the state table partitioned on a group-hash bucket so
      reads and writes prune to touched buckets (layout asserted on
      disk).
    - the holdback pushed through the STREAM as one batch must raise
      AggOrderViolation before any write: the user's batch rows MIX
      the stale quarter (at-or-below the applied watermark) with the
      genuinely-new tail row — exactly the realistic late-data shape
      (late rows riding along with the stream's fresh rows), and
      exactly what the per-group guard rejects. An all-stale isolated
      slice would instead be absorbed as a replay — the documented
      row-identity-free limitation (streaming/aggregate.py docstring).
      Per-bucket file listing asserted byte-identical across the
      refused injection.
    - repair_group_aggregates recomputes the ONE affected user from
      the full source (exact, idempotent, O(that user's rows)); the
      drive asserts buckets not holding that user kept their exact
      files.
    - the final state must equal the batch GROUP BY over the WHOLE
      input — the stream==batch equality statement for incremental
      aggregation. float sum → ROUND(, 6), the registry convention.

    EAGER (streams + repairs at construction)."""
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import Window

    from market_data_pipeline_databricks_spark.sources.tables import (
        read_table,
    )
    from market_data_pipeline_databricks_spark.streaming.aggregate import (
        _nbuckets_col,
        repair_group_aggregates,
        stream_agg_maintenance as _maintain,
    )

    n_buckets = 8
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )
    # target: smallest user with ≥8 rows whose max ts is UNIQUE — the
    # held-back tail row must sit strictly above the applied watermark
    # (a ts tie would make the injection all-stale = replay-shaped)
    trow = (
        ev.withColumn(
            "__tmax", F.max("ts").over(Window.partitionBy("user_id"))
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("ts") == F.col("__tmax"), 1).otherwise(0)
            ).alias("n_at_max"),
        )
        .filter((F.col("n") >= 8) & (F.col("n_at_max") == 1))
        .orderBy(F.asc("n"), F.asc("user_id"))
        .first()
    )
    if trow is None:
        raise AssertionError(
            "stream_agg_maintenance: no user with >=8 rows and a "
            "unique max event time in this dataset"
        )
    target_user, n_mine = trow["user_id"], trow["n"]
    mine = ev.filter(F.col("user_id") == target_user)
    uw = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    lo_rn = n_mine // 4
    hi_rn = max(lo_rn + 1, n_mine // 2)
    # holdback = stale second quarter + the genuinely-new tail row:
    # streamed together they form the per-group MIXED batch the guard
    # must refuse (an all-stale slice alone reads as a replay)
    late = (
        mine.withColumn("__rn", F.row_number().over(uw))
        .filter(
            ((F.col("__rn") > lo_rn) & (F.col("__rn") <= hi_rn))
            | (F.col("__rn") == n_mine)
        )
        .drop("__rn")
        # frozen: stream feed + repair input (lazy, r15)
        .localCheckpoint(eager=False)
    )
    # same three-consumer persist as the repair drive (r15)
    on_time = ev.join(late.select("event_id"), "event_id", "anti").persist()

    feed_dir = tempfile.mkdtemp(prefix=f"aggfeed_{_NONCE}_")
    late_dir = tempfile.mkdtemp(prefix=f"agglate_{_NONCE}_")
    wh_dir = tempfile.mkdtemp(prefix=f"aggwh_{_NONCE}_")
    ck1 = tempfile.mkdtemp(prefix=f"aggck1_{_NONCE}_")
    ck2 = tempfile.mkdtemp(prefix=f"aggck2_{_NONCE}_")
    try:
        lo, hi = on_time.agg(F.min("ts"), F.max("ts")).first()
        mid = lo + (hi - lo) / 2
        for cond in (F.col("ts") < F.lit(mid), F.col("ts") >= F.lit(mid)):
            on_time.filter(cond).coalesce(1).write.mode("append").parquet(
                feed_dir
            )
        on_time.unpersist()

        def _stream(src_dir: str, ckpt: str) -> None:
            feed = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src_dir)
            )
            _maintain(
                feed,
                wh_dir,
                table="events_agg",
                group_cols=["user_id"],
                sum_cols=["value"],
                checkpoint_dir=ckpt,
                n_buckets=n_buckets,
            )

        _stream(feed_dir, ck1)
        tdir = Path(wh_dir) / "events_agg"
        bucket_dirs = [
            p.name
            for p in tdir.iterdir()
            if p.is_dir() and p.name.startswith("__p_bucket=")
        ]
        if len(bucket_dirs) < 2:
            raise AssertionError(
                "stream_agg_maintenance: expected a bucket-partitioned "
                f"state layout, found {bucket_dirs!r}"
            )

        def _listing() -> dict[str, tuple[int, int]]:
            return {
                str(p.relative_to(tdir)): (
                    p.stat().st_size,
                    p.stat().st_mtime_ns,
                )
                for p in tdir.rglob("*")
                if p.is_file()
            }

        before = _listing()
        late.coalesce(1).write.mode("append").parquet(late_dir)
        try:
            _stream(late_dir, ck2)
            raise AssertionError(
                "stream_agg_maintenance: late slice was accepted — "
                "AggOrderViolation guard missing"
            )
        except AssertionError:
            raise
        except Exception as exc:  # StreamingQueryException wraps it
            if "repair_group_aggregates" not in str(exc):
                raise
        if _listing() != before:
            raise AssertionError(
                "stream_agg_maintenance: the refused injection modified"
                " the state table — guard must raise before write"
            )
        repair_group_aggregates(
            spark,
            ev,
            late.select("user_id"),
            wh_dir,
            table="events_agg",
            group_cols=["user_id"],
            sum_cols=["value"],
            n_buckets=n_buckets,
        )
        # repair bounded: only the target user's bucket may change
        target_bucket = (
            late.select(
                _nbuckets_col(F.col("user_id"), n_buckets).alias("b")
            )
            .first()["b"]
        )
        after = _listing()
        changed = (set(before) ^ set(after)) | {
            f for f in before.keys() & after.keys() if before[f] != after[f]
        }
        stray = {
            f
            for f in changed
            if f.startswith("__p_bucket=")
            and f.split("/")[0] != f"__p_bucket={target_bucket}"
        }
        if stray:
            raise AssertionError(
                "stream_agg_maintenance: repair rewrote buckets outside"
                f" the affected group's: {sorted(stray)[:5]!r}"
            )
        constructed = read_table(spark, wh_dir, "events_agg").select(
            "user_id",
            F.col("__n").alias("n_events"),
            F.round("__sum_value", 6).alias("sum_value"),
        )
        twin = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        return checked_lazy(constructed, twin, "stream_agg_maintenance")
    finally:
        for d in (feed_dir, late_dir, wh_dir, ck1, ck2):
            shutil.rmtree(d, ignore_errors=True)


QUERIES.update({"stream_agg_maintenance": stream_agg_maintenance})

# the repaired state must equal the batch GROUP BY over the FULL input
ORACLE_SQL.update(
    {
        "stream_agg_maintenance": """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY user_id
"""
    }
)
