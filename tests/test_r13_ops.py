"""Round-13 additions: hidden partitioning (transform spec keys) on
the snapshot format, the NULL-event-time / rank_col guards from the
round-12 advice, and the head-recheck on the first-publish WAP
rollback.

Hidden partitioning (sources/snapshots.py): spec entries may be
Iceberg-style transforms — ``month(col)``, ``day(col)``,
``bucket(N, col)``, ``truncate(W, col)`` — and queries keep filtering
on the SOURCE column; predicate mapping into transform space happens
at the manifest (prune_files with a between / eq predicate).
"""

from __future__ import annotations

import datetime as dt
import json as _json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.sources.snapshots import (
    _bucket_of,
    _parse_spec_key,
    commit_append,
    evolve_partition_spec,
    prune_files,
    read_pruned,
    rewrite_to_spec,
)

SF = "/root/testdata/sf0.001"


def _days_df(spark, n=400, start=dt.datetime(2024, 1, 1)):
    """n rows, one per 6 hours from start — spans >2 months."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        (
            F.lit(start)
            + F.make_interval(hours=(F.col("id") * 6).cast("int"))
        ).alias("ts"),
        (F.col("id") % 11).alias("v"),
    )


def test_parse_spec_key_accepts_transforms_and_rejects_typos():
    assert _parse_spec_key("month(ts)") == ("month", None, "ts")
    assert _parse_spec_key("day(ts)") == ("day", None, "ts")
    assert _parse_spec_key("bucket(16, key)") == ("bucket", 16, "key")
    assert _parse_spec_key("truncate(1000, k)") == ("truncate", 1000, "k")
    assert _parse_spec_key("plain_col") == ("identity", None, "plain_col")
    for bad in ("bucket(ts)", "month(1, ts)", "zorder(ts)", "month(ts"):
        with pytest.raises(ValueError):
            _parse_spec_key(bad)


def test_evolve_rejects_malformed_transform(spark, tmp_path):
    tdir = str(tmp_path / "t")
    commit_append(_days_df(spark), tdir)
    with pytest.raises(ValueError, match="bucket"):
        evolve_partition_spec(tdir, ["bucket(ts)"])


def test_bucket_python_twin_matches_spark_hash(spark):
    """_bucket_of (plan-time probe) must equal Spark's
    pmod(crc32(cast(col as string)), n) (write-time clustering) — a
    mismatch silently prunes files that HOLD the probed key."""
    vals = [0, 1, 42, -7, 123456789, "alpha", "Ω-unicode", "x y"]
    got = [
        r.b
        for r in spark.createDataFrame([(v,) for v in map(str, vals)], "s string")
        .select(
            F.pmod(F.crc32(F.col("s").cast("string")), F.lit(16))
            .cast("int")
            .alias("b")
        )
        .collect()
    ]
    assert got == [_bucket_of(v, 16) for v in vals]


def test_month_transform_prunes_source_column_range(spark, tmp_path):
    """The query names only the SOURCE column; month-space bounds must
    skip out-of-range files and the residual keeps exactness."""
    tdir = str(tmp_path / "t")
    df = _days_df(spark)
    commit_append(df.filter(F.col("k") % 2 == 0).repartition(2), tdir)
    evolve_partition_spec(tdir, ["month(ts)"])
    commit_append(df.filter(F.col("k") % 2 == 1), tdir, cluster_partitions=6)
    lo, hi = dt.datetime(2024, 2, 1), dt.datetime(2024, 2, 29, 23, 59, 59)
    kept, total = prune_files(tdir, [("between", "ts", lo, hi)])
    assert len(kept) < total  # post-evolution out-of-Feb files skipped
    got = read_pruned(spark, tdir, [("between", "ts", lo, hi)]).count()
    want = df.filter(F.col("ts").between(lo, hi)).count()
    assert got == want > 0
    # recorded bounds live in transform space under the entry string
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        _resolved,
    )

    stats = _resolved(tdir, 3)["file_stats"]
    bounded = [
        s["month(ts)"] for s in stats.values() if "month(ts)" in s
    ]
    assert bounded and all(
        isinstance(b[0], str) and b[0].count("-") == 1 for b in bounded
    )


def test_month_probe_requires_temporal_bounds(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _days_df(spark)
    commit_append(df, tdir)
    evolve_partition_spec(tdir, ["month(ts)"])
    commit_append(df, tdir, cluster_partitions=4)
    with pytest.raises(TypeError, match="date/datetime"):
        prune_files(tdir, [("between", "ts", "2024-01", "2024-02")])


def test_bucket_transform_prunes_equality_not_ranges(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _days_df(spark)
    commit_append(df.filter(F.col("k") % 2 == 0).repartition(2), tdir)
    evolve_partition_spec(tdir, ["bucket(8, k)"])
    commit_append(df.filter(F.col("k") % 2 == 1), tdir, cluster_partitions=8)
    rewrite_to_spec(spark, tdir, cluster_partitions=4)
    kept, total = prune_files(tdir, [("eq", "k", 123)])
    assert len(kept) < total
    assert read_pruned(spark, tdir, [("eq", "k", 123)]).count() == 1
    # a RANGE probe learns nothing from a hash bucket: keeps all files
    kept_r, total_r = prune_files(tdir, [("between", "k", 100, 150)])
    assert len(kept_r) == total_r
    n = read_pruned(spark, tdir, [("between", "k", 100, 150)]).count()
    assert n == 51


def test_truncate_transform_prunes_numeric_bins(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _days_df(spark, n=1000)
    commit_append(df, tdir)
    evolve_partition_spec(tdir, ["truncate(100, k)"])
    commit_append(
        _days_df(spark, n=1000).withColumn("k", F.col("k") + 1000),
        tdir,
        cluster_partitions=10,
    )
    kept, total = prune_files(tdir, [("between", "k", 1500, 1599)])
    assert len(kept) < total
    got = read_pruned(spark, tdir, [("between", "k", 1500, 1599)]).count()
    assert got == 100


def test_rewrite_to_spec_backfills_transform_bounds(spark, tmp_path):
    tdir = str(tmp_path / "t")
    df = _days_df(spark)
    commit_append(df.repartition(3), tdir)
    evolve_partition_spec(tdir, ["month(ts)"])
    v, n = rewrite_to_spec(spark, tdir, cluster_partitions=4)
    assert n == 3
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        _resolved,
    )

    assert all(
        "month(ts)" in s and s["month(ts)"][0] is not None
        for s in _resolved(tdir, v)["file_stats"].values()
    )
    # pure re-layout: multiset-identical to the pre-rewrite version
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        read_version,
    )

    a = read_version(spark, tdir, v - 1).groupBy().agg(
        F.count(F.lit(1)), F.sum("k"), F.sum("v")
    ).first()
    b = read_version(spark, tdir, v).groupBy().agg(
        F.count(F.lit(1)), F.sum("k"), F.sum("v")
    ).first()
    assert a == b


def test_rank_col_collision_raises(spark):
    from market_data_pipeline_databricks_spark.operators.ranking import (
        two_pass_key_rank,
    )

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    for bad in ("pid", "lrank", "__offset", "__k_a"):
        with pytest.raises(ValueError, match="rank_col"):
            two_pass_key_rank(df, ["a"], [F.asc("b")], bad)


@pytest.mark.slow
def test_stream_rank_rejects_null_event_time(spark, tmp_path):
    """NULL ts bypasses both the order guard and the offset count —
    the sink must refuse the batch (advice finding)."""
    import shutil as _sh
    import tempfile as _tf

    from market_data_pipeline_databricks_spark.streaming.rank import (
        RankOrderViolation,
        repair_ranks,
        stream_rank_maintenance,
    )

    feed = _tf.mkdtemp(prefix="rk13_")
    wh = _tf.mkdtemp(prefix="rk13wh_")
    try:
        t = dt.datetime(2025, 1, 1)
        schema = "event_id long, ts timestamp, user_id long"
        spark.createDataFrame(
            [(1, t, 7), (2, None, 7)], schema
        ).coalesce(1).write.mode("append").parquet(feed)
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        with pytest.raises(Exception, match="NULL ts"):
            stream_rank_maintenance(s, wh)
        # repair path refuses NULL-ts late rows the same way
        spark.createDataFrame([(1, t, 7)], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{wh}/events_ranked")
        with pytest.raises(RankOrderViolation, match="NULL ts"):
            repair_ranks(
                spark,
                spark.createDataFrame([(3, None, 7)], schema),
                wh,
            )
    finally:
        _sh.rmtree(feed, ignore_errors=True)
        _sh.rmtree(wh, ignore_errors=True)


def test_wap_first_publish_leaves_v1_when_later_version_exists(
    spark, tmp_path, monkeypatch
):
    """If a concurrent commit built v2 on top of the doomed v1 claim,
    the rollback must NOT unlink v1 (that holes the chain under a live
    v2) — it raises the manual-repair variant instead (advice
    finding)."""
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
        (Path(tdir) / "staging-br.json").read_text()
    )["files"]
    real_publish = snapshots._publish

    def racing_publish(table_dir, version, segments, removed, **meta):
        real_publish(table_dir, version, segments, removed, **meta)
        if version == 1:
            # concurrent discard deletes the staged files AND a
            # concurrent commit publishes v2 on top of the claim
            for f in staged_files:
                Path(f).unlink(missing_ok=True)
            real_publish(table_dir, 2, [], [], **meta)

    monkeypatch.setattr(snapshots, "_publish", racing_publish)
    with pytest.raises(ConcurrentCommitError, match="manual repair"):
        snapshots.publish_staged(tdir, "br")
    assert (Path(tdir) / "v1.json").exists()  # chain has no hole
    assert latest_version(tdir) == 2


def test_cow_merge_under_transform_spec_reclusters_and_prunes(
    spark, tmp_path
):
    """commit_merge_keys on a transform-evolved table must cluster its
    COW output by the DERIVED values (raw spec strings are not
    columns) and keep pruning correct after the merge."""
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_merge_keys,
        read_version,
    )

    tdir = str(tmp_path / "t")
    df = _days_df(spark)
    commit_append(df, tdir)
    evolve_partition_spec(tdir, ["month(ts)"])
    commit_append(
        _days_df(spark).withColumn("k", F.col("k") + 1000),
        tdir,
        cluster_partitions=6,
    )
    batch = _days_df(spark, n=5).select(
        "k", "ts", (F.col("v") + 100).alias("v")
    )
    v = commit_merge_keys(spark, tdir, batch, ["k"])
    got = read_version(spark, tdir, v)
    assert got.count() == 800
    assert got.filter(F.col("v") >= 100).count() == 5
    lo, hi = dt.datetime(2024, 2, 1), dt.datetime(2024, 2, 29, 23, 59, 59)
    kept, total = prune_files(tdir, [("between", "ts", lo, hi)], version=v)
    assert len(kept) < total
    want = (
        got.filter(F.col("ts").between(lo, hi)).count()
    )
    pruned = read_pruned(spark, tdir, [("between", "ts", lo, hi)], version=v)
    assert pruned.count() == want


@pytest.mark.slow
def test_repair_ranks_is_suffix_bounded_per_key(spark):
    """Repair must rerank only rows at/after each key's earliest late
    ts (prefix ranks and their partitions untouched), apply per-key
    base offsets, and insert never-seen keys with base 0."""
    import shutil as _sh
    import tempfile as _tf

    from market_data_pipeline_databricks_spark.sources.tables import (
        read_table,
    )
    from market_data_pipeline_databricks_spark.streaming.rank import (
        repair_ranks,
        stream_rank_maintenance,
    )

    feed = _tf.mkdtemp(prefix="rk13s_")
    wh = _tf.mkdtemp(prefix="rk13swh_")
    try:
        t0 = dt.datetime(2025, 1, 1)
        rows = []
        # key 7: 10 on-time events over 10 days; key 9: 4 events
        for i in range(10):
            rows.append((100 + i, t0 + dt.timedelta(days=i), 7))
        for i in range(4):
            rows.append((200 + i, t0 + dt.timedelta(days=i), 9))
        schema = "event_id long, ts timestamp, user_id long"
        ot = spark.createDataFrame(rows, schema)
        mid = t0 + dt.timedelta(days=5)
        for cond in (F.col("ts") < F.lit(mid), F.col("ts") >= F.lit(mid)):
            ot.filter(cond).coalesce(1).write.mode("append").parquet(feed)
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        stream_rank_maintenance(
            s, wh, partition_by_month=True, partition_fmt="yyyy-MM-dd"
        )
        tdir = Path(f"{wh}/events_ranked")
        listing_before = {
            str(p.relative_to(tdir)): p.stat().st_mtime_ns
            for p in tdir.rglob("*.parquet")
        }
        # late: key 7 at day 6.5 (suffix = days 7,8,9 + late row);
        # key 9 at day 1.5; key 11 is brand new at day 8 (within the
        # table head — beyond-head rows are refused as future events)
        late = spark.createDataFrame(
            [
                (900, t0 + dt.timedelta(days=6, hours=12), 7),
                (901, t0 + dt.timedelta(days=1, hours=12), 9),
                (902, t0 + dt.timedelta(days=8), 11),
            ],
            schema,
        )
        repair_ranks(
            spark, late, wh, partition_by_month=True,
            partition_fmt="yyyy-MM-dd",
        )
        repair_ranks(  # idempotent re-run
            spark, late, wh, partition_by_month=True,
            partition_fmt="yyyy-MM-dd",
        )
        got = {
            r.event_id: r.user_seq
            for r in read_table(spark, wh, "events_ranked").collect()
        }
        ev = ot.unionByName(late)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        truth = {
            r.event_id: r.seq
            for r in ev.withColumn("seq", F.row_number().over(w)).collect()
        }
        assert got == truth
        # prefix partitions untouched: key 7's late ts is day 6.5 and
        # key 9's is day 1.5, so days 01-01 (both keys' prefix)
        # through 01-02 hold only prefix rows of 7 plus the suffix of
        # 9 from day 1.5 — the STRICT prefix days are 01-01 only.
        # Check it kept its exact file mtimes.
        listing_after = {
            str(p.relative_to(tdir)): p.stat().st_mtime_ns
            for p in tdir.rglob("*.parquet")
        }
        prefix_day = "__p_month=2025-01-01"
        pre = {k: v for k, v in listing_before.items() if prefix_day in k}
        post = {k: v for k, v in listing_after.items() if prefix_day in k}
        assert pre and pre == post
    finally:
        _sh.rmtree(feed, ignore_errors=True)
        _sh.rmtree(wh, ignore_errors=True)


@pytest.mark.slow
def test_offsets_cache_bounds_reads_and_heals_stale_watermark(spark):
    """The advisory offsets cache must (a) exist after a drain, (b)
    serve the next batch through counts+delta, and (c) HEAL a stale
    watermark (simulated crash between upsert and cache write) via the
    delta term — final ranks equal the batch window either way."""
    import shutil as _sh
    import tempfile as _tf

    from market_data_pipeline_databricks_spark.sources.tables import (
        read_table,
    )
    from market_data_pipeline_databricks_spark.streaming.rank import (
        _offsets_cache_path,
        _read_offsets_cache,
        stream_rank_maintenance,
    )

    meta = {
        "__key_col": "user_id",
        "__ts_col": "ts",
        "__pfmt": "yyyy-MM-dd",
        "__ktype": "bigint",
    }

    feed = _tf.mkdtemp(prefix="rk13c_")
    wh = _tf.mkdtemp(prefix="rk13cwh_")
    ck = _tf.mkdtemp(prefix="rk13cck_")
    stash = _tf.mkdtemp(prefix="rk13cstash_")
    try:
        t0 = dt.datetime(2025, 1, 1)
        schema = "event_id long, ts timestamp, user_id long"

        def mk(ids_days_users):
            return spark.createDataFrame(
                [
                    (i, t0 + dt.timedelta(days=d), u)
                    for i, d, u in ids_days_users
                ],
                schema,
            )

        def drain():
            s = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(feed)
            )
            stream_rank_maintenance(
                s,
                wh,
                checkpoint_dir=ck,
                partition_by_month=True,
                partition_fmt="yyyy-MM-dd",
                offsets_cache_min_bytes=0,  # the cache IS the subject
            )

        mk([(1, 0, 7), (2, 1, 7), (3, 1, 9)]).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        drain()
        cache_dir = _offsets_cache_path(wh, "events_ranked")
        assert cache_dir.exists()
        _sh.copytree(cache_dir, f"{stash}/c1")  # batch-1-era cache
        counts, wm = _read_offsets_cache(spark, wh, "events_ranked", meta)
        assert wm == t0 + dt.timedelta(days=1)
        assert {(r["__k"], r["__n"]) for r in counts.collect()} == {
            (7, 2),
            (9, 1),
        }
        # batches 2 and 3 (same checkpoint: only new files process)
        mk([(4, 2, 7), (5, 3, 9)]).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        drain()
        # simulate the crash window: revert the cache to the STALE
        # batch-1 watermark, then land batch 3 — the delta over
        # (wm, bmin) must re-count batch 2's rows
        _sh.rmtree(cache_dir)
        _sh.copytree(f"{stash}/c1", cache_dir)
        mk([(6, 4, 7), (7, 5, 11)]).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        drain()
        got = {
            r.event_id: r.user_seq
            for r in read_table(spark, wh, "events_ranked").collect()
        }
        assert got == {1: 1, 2: 2, 3: 1, 4: 3, 5: 2, 6: 4, 7: 1}
        # cache rebuilt to the true head
        counts, wm = _read_offsets_cache(spark, wh, "events_ranked", meta)
        assert wm == t0 + dt.timedelta(days=5)
        assert {(r["__k"], r["__n"]) for r in counts.collect()} == {
            (7, 4),
            (9, 2),
            (11, 1),
        }
    finally:
        for d in (feed, wh, ck, stash):
            _sh.rmtree(d, ignore_errors=True)


def test_repair_refuses_future_rows_and_fmt_mismatch(spark):
    """Rows beyond the table head are future events, not late arrivals
    (repairing one wedges the order guard); a partition_fmt that does
    not reproduce the on-disk bucket values must fail loud instead of
    silently duplicating keys across bucket grains (review findings).
    """
    import shutil as _sh
    import tempfile as _tf

    from market_data_pipeline_databricks_spark.streaming.rank import (
        RankOrderViolation,
        repair_ranks,
        stream_rank_maintenance,
    )

    feed = _tf.mkdtemp(prefix="rk13f_")
    wh = _tf.mkdtemp(prefix="rk13fwh_")
    try:
        t0 = dt.datetime(2025, 1, 1)
        schema = "event_id long, ts timestamp, user_id long"
        spark.createDataFrame(
            [(1, t0, 7), (2, t0 + dt.timedelta(days=3), 7)], schema
        ).coalesce(1).write.mode("append").parquet(feed)
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        stream_rank_maintenance(
            s, wh, partition_by_month=True, partition_fmt="yyyy-MM-dd"
        )
        future = spark.createDataFrame(
            [(3, t0 + dt.timedelta(days=9), 7)], schema
        )
        with pytest.raises(RankOrderViolation, match="FUTURE"):
            repair_ranks(
                spark, future, wh, partition_by_month=True,
                partition_fmt="yyyy-MM-dd",
            )
        ok_late = spark.createDataFrame(
            [(4, t0 + dt.timedelta(days=1), 7)], schema
        )
        with pytest.raises(ValueError, match="partition_fmt"):
            repair_ranks(spark, ok_late, wh, partition_by_month=True)
    finally:
        _sh.rmtree(feed, ignore_errors=True)
        _sh.rmtree(wh, ignore_errors=True)


def test_spec_type_enforcement_at_clustering_sites(spark, tmp_path):
    """bucket() on a decimal column and truncate() on a string column
    must raise at commit time, and a non-int/str bucket probe must
    raise at prune time — each would otherwise be a silent mis-prune
    or a silent no-op (review findings)."""
    tdir = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") / 4).cast("decimal(10, 2)").alias("d"),
        F.concat(F.lit("c"), F.col("id")).alias("s"),
    )
    commit_append(df, tdir)
    evolve_partition_spec(tdir, ["bucket(8, d)"])
    with pytest.raises(TypeError, match="bucket"):
        commit_append(df, tdir, cluster_partitions=4)
    t2 = str(tmp_path / "t2")
    commit_append(df, t2)
    evolve_partition_spec(t2, ["truncate(10, s)"])
    with pytest.raises(TypeError, match="truncate"):
        commit_append(df, t2, cluster_partitions=4)
    t3 = str(tmp_path / "t3")
    commit_append(df, t3)
    evolve_partition_spec(t3, ["bucket(8, k)"])
    commit_append(df, t3, cluster_partitions=4)
    with pytest.raises(TypeError, match="probe"):
        prune_files(t3, [("eq", "k", 12.0)])


def test_probe_bounds_zero_pad_years():
    """strftime('%Y') prints year 999 as '999' while Spark records
    '0999' — the probe must zero-pad or the lexical compare
    mis-prunes (review finding)."""
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        _probe_bounds,
    )

    lo = dt.datetime(999, 3, 2)
    hi = dt.datetime(1001, 11, 30)
    assert _probe_bounds("month", None, lo, hi) == ("0999-03", "1001-11")
    assert _probe_bounds("day", None, lo, hi) == (
        "0999-03-02",
        "1001-11-30",
    )
