"""Round-12 additions: factored two-pass rank operator + streaming
incremental rank maintenance + partition-evolution registry query.

`two_pass_key_rank` (operators/ranking.py) is the shared core the
global/per-key scale queries now delegate to; `stream_rank_maintenance`
(streaming/rank.py) maintains the per-key rank table incrementally —
O(batch) per micro-batch with offsets counted replay-idempotently from
the maintained table itself.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from market_data_pipeline_databricks_spark.operators.ranking import (
    two_pass_key_rank,
)

SF = "/root/testdata/sf0.001"


def test_two_pass_rank_matches_window_with_and_without_keys(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "user_id"
    )
    got = {
        r.event_id: r.seq
        for r in two_pass_key_rank(
            ev, ["user_id"], [F.asc("ts"), F.asc("event_id")], "seq"
        ).collect()
    }
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    truth = {
        r.event_id: r.seq
        for r in ev.withColumn("seq", F.row_number().over(w)).collect()
    }
    assert got == truth
    # keyless (global) form
    got_g = {
        r.event_id: r.seq
        for r in two_pass_key_rank(
            ev, [], [F.asc("ts"), F.asc("event_id")], "seq"
        ).collect()
    }
    wg = Window.orderBy(F.asc("ts"), F.asc("event_id"))
    truth_g = {
        r.event_id: r.seq
        for r in ev.withColumn("seq", F.row_number().over(wg)).collect()
    }
    assert got_g == truth_g


def test_two_pass_rank_rejects_bookkeeping_collisions(spark):
    df = spark.range(5).select(F.col("id"), F.lit(1).alias("pid"))
    with pytest.raises(ValueError, match="collide"):
        two_pass_key_rank(df, [], [F.asc("id")], "r")


def _feed_slices(spark, tmpdir, n_slices=3):
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "user_id"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / n_slices
    cuts = [lo + span * i for i in range(1, n_slices)]
    bounds = [None, *cuts, None]
    for i in range(n_slices):
        s = ev
        if bounds[i] is not None:
            s = s.filter(F.col("ts") >= F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            s = s.filter(F.col("ts") < F.lit(bounds[i + 1]))
        s.coalesce(1).write.mode("append").parquet(tmpdir)
    return ev


def test_stream_rank_maintenance_equals_batch_window(spark):
    from market_data_pipeline_databricks_spark.sources.tables import read_table
    from market_data_pipeline_databricks_spark.streaming.rank import (
        stream_rank_maintenance,
    )

    feed_dir = tempfile.mkdtemp(prefix="rkfeed_")
    wh = tempfile.mkdtemp(prefix="rkwh_")
    try:
        ev = _feed_slices(spark, feed_dir)
        feed = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        stream_rank_maintenance(feed, wh)
        got = {
            r.event_id: r.user_seq
            for r in read_table(spark, wh, "events_ranked").collect()
        }
        w = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        truth = {
            r.event_id: r.seq
            for r in ev.withColumn("seq", F.row_number().over(w)).collect()
        }
        assert got == truth
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


@pytest.mark.slow
def test_stream_rank_maintenance_replay_is_idempotent(spark):
    """A replayed micro-batch (failure before the checkpoint commit)
    must rewrite the SAME ranks: offsets are counted from the
    maintained table with strict ts < batch-min, so a batch's own
    landed rows never inflate its replayed offsets."""
    from market_data_pipeline_databricks_spark.sources.tables import read_table
    from market_data_pipeline_databricks_spark.streaming.rank import (
        stream_rank_maintenance,
    )

    feed_dir = tempfile.mkdtemp(prefix="rkfeed_")
    wh = tempfile.mkdtemp(prefix="rkwh_")
    ckpt1 = tempfile.mkdtemp(prefix="rkck1_")
    ckpt2 = tempfile.mkdtemp(prefix="rkck2_")
    try:
        ev = _feed_slices(spark, feed_dir)

        def drain(ckpt):
            feed = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(feed_dir)
            )
            stream_rank_maintenance(feed, wh, checkpoint_dir=ckpt)

        drain(ckpt1)
        first = {
            (r.event_id, r.user_seq)
            for r in read_table(spark, wh, "events_ranked").collect()
        }
        # fresh checkpoint over the same feed = every batch replayed
        # against the fully-landed table
        drain(ckpt2)
        second = {
            (r.event_id, r.user_seq)
            for r in read_table(spark, wh, "events_ranked").collect()
        }
        assert first == second
    finally:
        for d in (feed_dir, wh, ckpt1, ckpt2):
            shutil.rmtree(d, ignore_errors=True)


def test_partition_evolution_query_matches_plain_filter(spark):
    out = entrymod.queries()["warehouse_partition_evolution"](spark, SF)
    rows = {r.o_orderstatus: (r.n_rows, r.sum_price) for r in out.collect()}
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    truth = {
        r.o_orderstatus: (r.n_rows, r.sum_price)
        for r in orders.filter(F.col("o_custkey").between(100, 400))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(27,2)")
            .cast("double")
            .alias("sum_price"),
        )
        .collect()
    }
    assert rows == truth


def test_repair_ranks_fixes_late_arrivals_for_affected_keys_only(spark):
    """A late event (precondition violation) is repaired by re-ranking
    ONLY its key; other keys' rows keep their stored ranks, and the
    final table equals the batch window over the full input."""
    from market_data_pipeline_databricks_spark.sources.tables import read_table
    from market_data_pipeline_databricks_spark.streaming.rank import (
        repair_ranks,
        stream_rank_maintenance,
    )

    feed_dir = tempfile.mkdtemp(prefix="rkfeed_")
    wh = tempfile.mkdtemp(prefix="rkwh_")
    try:
        ev = spark.read.parquet(f"{SF}/events.parquet").select(
            "event_id", "ts", "user_id"
        )
        # hold back ONE early event of one user as the late arrival
        target = ev.orderBy("ts", "event_id").limit(1).first()
        on_time = ev.filter(F.col("event_id") != target.event_id)
        lo, hi = on_time.agg(F.min("ts"), F.max("ts")).first()
        mid = lo + (hi - lo) / 2
        for cond in (F.col("ts") < F.lit(mid), F.col("ts") >= F.lit(mid)):
            on_time.filter(cond).coalesce(1).write.mode("append").parquet(
                feed_dir
            )
        feed = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        stream_rank_maintenance(feed, wh)
        before = {
            r.event_id: r.user_seq
            for r in read_table(spark, wh, "events_ranked").collect()
        }
        late = ev.filter(F.col("event_id") == target.event_id)
        repair_ranks(spark, late, wh)
        repair_ranks(spark, late, wh)  # idempotent re-run
        after = {
            r.event_id: r.user_seq
            for r in read_table(spark, wh, "events_ranked").collect()
        }
        w = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        truth = {
            r.event_id: r.seq
            for r in ev.withColumn("seq", F.row_number().over(w)).collect()
        }
        assert after == truth
        # untouched keys kept their stored ranks
        other = {
            eid: s
            for eid, s in before.items()
            if truth[eid] == before[eid]
        }
        assert all(after[eid] == before[eid] for eid in other)
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


def test_read_pruned_pushes_residual_filter_to_scan(spark, tmp_path):
    """The kept files' scan must carry the range as PushedFilters and a
    pruned ReadSchema — pruning composes with row-group skipping."""
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        evolve_partition_spec,
        read_pruned,
    )

    tdir = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    commit_append(df, tdir)
    evolve_partition_spec(tdir, ["k"])
    commit_append(
        spark.range(1000, 2000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ),
        tdir,
        cluster_partitions=4,
    )
    plan = (
        read_pruned(spark, tdir, [("between", "k", 1100, 1200)])
        .select("v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(k,1100)" in plan
    assert "LessThanOrEqual(k,1200)" in plan


def test_multi_key_spec_clusters_and_prunes_on_lead_key(spark, tmp_path):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        evolve_partition_spec,
        prune_files,
        read_pruned,
    )

    tdir = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    commit_append(df, tdir)
    evolve_partition_spec(tdir, ["k", "v"])
    commit_append(
        spark.range(100, 1100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ),
        tdir,
        cluster_partitions=5,
    )
    # bounds recorded for BOTH spec keys; lead-key pruning skips the
    # out-of-range clustered files (5 clustered + statless v1 files)
    kept_k, total = prune_files(tdir, [("between", "k", 100, 150)])
    assert len(kept_k) < total
    got = read_pruned(spark, tdir, [("between", "k", 100, 150)]).count()
    assert got == 51
    # second key: v is 0..6 in every clustered file (range clustering
    # on (k, v) gives v the full domain per file), so an out-of-domain
    # range drops ALL clustered files and keeps only the statless v1
    # files — the conservative path
    kept_v, total_v = prune_files(tdir, [("between", "v", 100, 200)])
    assert len(kept_v) < total_v
    assert read_pruned(spark, tdir, [("between", "v", 100, 200)]).count() == 0


def test_two_pass_rank_keeps_null_keyed_rows(spark):
    """NULL keys form a normal window partition; the offsets join must
    be null-safe or those rows silently vanish (review finding)."""
    rows = [(1, 10, "a"), (2, 20, None), (3, 30, None), (4, 40, "a")]
    df = spark.createDataFrame(rows, "id long, ts long, k string")
    out = two_pass_key_rank(df, ["k"], [F.asc("ts"), F.asc("id")], "seq")
    got = {(r.id): (r.k, r.seq) for r in out.collect()}
    assert got == {1: ("a", 1), 4: ("a", 2), 2: (None, 1), 3: (None, 2)}


@pytest.mark.slow
def test_stream_rank_guard_raises_on_boundary_tie(spark):
    """An equal-ts split across a batch boundary must RAISE before any
    write (strict-precondition guard), not mint duplicate ranks."""
    from market_data_pipeline_databricks_spark.streaming.rank import (
        RankOrderViolation,
        stream_rank_maintenance,
    )

    feed_dir = tempfile.mkdtemp(prefix="rkfeed_")
    wh = tempfile.mkdtemp(prefix="rkwh_")
    try:
        import datetime as dt

        t = dt.datetime(2025, 1, 1, 12, 0, 0)
        schema = "event_id long, ts timestamp, user_id long"
        b1 = spark.createDataFrame([(1, t, 7), (2, t, 7)], schema)
        b2 = spark.createDataFrame([(3, t, 7)], schema)  # tied boundary
        b1.coalesce(1).write.mode("append").parquet(feed_dir)
        b2.coalesce(1).write.mode("append").parquet(feed_dir)
        feed = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        try:
            stream_rank_maintenance(feed, wh)
            raise AssertionError("boundary tie was not detected")
        except Exception as exc:  # StreamingQueryException wraps it
            assert "strict cross-batch order violated" in str(exc), exc
        # RankOrderViolation is importable and is the raised class
        assert issubclass(RankOrderViolation, ValueError)
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


def test_stream_rank_month_partitioned_layout_equals_batch(spark):
    """partition_by_month=True (the production layout: touched-month
    rewrites) must produce the identical final table."""
    from market_data_pipeline_databricks_spark.sources.tables import read_table
    from market_data_pipeline_databricks_spark.streaming.rank import (
        repair_ranks,
        stream_rank_maintenance,
    )

    feed_dir = tempfile.mkdtemp(prefix="rkfeed_")
    wh = tempfile.mkdtemp(prefix="rkwh_")
    try:
        ev = spark.read.parquet(f"{SF}/events.parquet").select(
            "event_id", "ts", "user_id"
        )
        target = ev.orderBy("ts", "event_id").limit(1).first()
        on_time = ev.filter(F.col("event_id") != target.event_id)
        lo, hi = on_time.agg(F.min("ts"), F.max("ts")).first()
        mid = lo + (hi - lo) / 2
        for cond in (F.col("ts") < F.lit(mid), F.col("ts") >= F.lit(mid)):
            on_time.filter(cond).coalesce(1).write.mode("append").parquet(
                feed_dir
            )
        feed = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
        )
        stream_rank_maintenance(feed, wh, partition_by_month=True)
        late = ev.filter(F.col("event_id") == target.event_id)
        repair_ranks(spark, late, wh, partition_by_month=True)
        got = {
            r.event_id: r.user_seq
            for r in read_table(spark, wh, "events_ranked")
            .drop("__p_month")
            .collect()
        }
        w = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        truth = {
            r.event_id: r.seq
            for r in ev.withColumn("seq", F.row_number().over(w)).collect()
        }
        assert got == truth
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


def test_prune_files_rejects_mixed_kind_bounds(spark, tmp_path):
    """Numeric lo/hi against string-recorded bounds must raise, never
    compare lexically (review finding: silent mis-prune)."""
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        evolve_partition_spec,
        prune_files,
    )

    tdir = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), F.format_string("s%05d", "id").alias("s")
    )
    commit_append(df, tdir)
    evolve_partition_spec(tdir, ["s"])
    commit_append(
        spark.range(100, 200).select(
            F.col("id").alias("k"),
            F.format_string("s%05d", "id").alias("s"),
        ),
        tdir,
        cluster_partitions=2,
    )
    with pytest.raises(TypeError, match="native kind"):
        prune_files(tdir, [("between", "s", 100, 200)])
    kept, total = prune_files(tdir, [("between", "s", "s00150", "s00160")])
    assert len(kept) < total


def test_decimal_spec_key_records_no_bounds_and_scans(spark, tmp_path):
    """Non-JSON-native key types (Decimal) record None bounds — the
    conservative never-prune path, never a str() lexical hazard."""
    import json as _json
    from pathlib import Path as _P

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        evolve_partition_spec,
        prune_files,
        read_pruned,
    )

    tdir = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") / 4).cast("decimal(10,2)").alias("d"),
    )
    commit_append(df, tdir)
    evolve_partition_spec(tdir, ["d"])
    commit_append(
        spark.range(100, 200).select(
            F.col("id").alias("k"),
            (F.col("id") / 4).cast("decimal(10,2)").alias("d"),
        ),
        tdir,
        cluster_partitions=2,
    )
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        _resolved,
    )

    for bounds in _resolved(tdir, 3)["file_stats"].values():
        assert bounds["d"] == [None, None]
    kept, total = prune_files(tdir, [("between", "d", 10, 20)])
    assert len(kept) == total  # conservative: nothing prunes
    # d in [10, 20] ⇔ id in [40, 80]: only commit 1 (ids 0..99) hits
    assert read_pruned(spark, tdir, [("between", "d", 10, 20)]).count() == 41


def test_wap_first_publish_race_unlinks_instead_of_empty_tombstone(
    spark, tmp_path, monkeypatch
):
    """On a FIRST-EVER publish a tombstone would be an empty v1 that
    read_version cannot scan; the rollback must unlink (race-free: no
    concurrent version can exist below v1)."""
    import json as _json
    from pathlib import Path as _P

    from market_data_pipeline_databricks_spark.sources import snapshots
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        ConcurrentCommitError,
        latest_version,
        stage_append,
    )

    tdir = str(tmp_path / "t")
    stage_append(
        spark.createDataFrame([(1, "a")], "k long, v string"), tdir, "br"
    )
    staged_files = _json.loads(
        (_P(tdir) / "staging-br.json").read_text()
    )["files"]
    real_publish = snapshots._publish

    def racing_publish(table_dir, version, segments, removed, **meta):
        real_publish(table_dir, version, segments, removed, **meta)
        for f in staged_files:
            _P(f).unlink(missing_ok=True)

    monkeypatch.setattr(snapshots, "_publish", racing_publish)
    with pytest.raises(ConcurrentCommitError, match="first-version"):
        snapshots.publish_staged(tdir, "br")
    assert latest_version(tdir) == 0
    assert not (_P(tdir) / "v1.json").exists()


def test_two_pass_rank_correct_over_persisted_input(spark):
    """r14 regression: pid assignment must not depend on optimizer
    exchange/stage reuse. The RangePartitioner samples with an
    RDD-id-derived seed, so the two executions of the range exchange
    (offsets subtree + join probe side) can draw different boundaries;
    over an InMemoryRelation input the stages do not canonicalize
    equal, and before the operator materialized the pid-stamped frame
    the stitched ranks were silently wrong (1,626 wrong rows on a
    persisted events scan at sf0.1). A persisted input must rank
    exactly like the window."""
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id", "ts", "user_id")
        .persist()
    )
    try:
        got = {
            r.event_id: r.seq
            for r in two_pass_key_rank(
                ev, ["user_id"], [F.asc("ts"), F.asc("event_id")], "seq"
            ).collect()
        }
        w = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        truth = {
            r.event_id: r.seq
            for r in ev.withColumn("seq", F.row_number().over(w)).collect()
        }
        assert got == truth
    finally:
        ev.unpersist()
