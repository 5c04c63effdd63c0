"""Snapshot table format: isolation, time travel, and file-level
copy-on-write MERGE (sources/snapshots.py)."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.sources.snapshots import (
    commit_append,
    commit_merge_keys,
    latest_version,
    read_version,
)


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="snap_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_append_versions_and_isolation(spark, tdir):
    assert latest_version(tdir) == 0
    assert commit_append(_mk(spark, [(1, "a"), (2, "b")]), tdir) == 1
    assert commit_append(_mk(spark, [(3, "c")]), tdir) == 2
    # v1 readers never see the later commit
    assert read_version(spark, tdir, 1).count() == 2
    assert read_version(spark, tdir, 2).count() == 3
    assert read_version(spark, tdir).count() == 3  # latest by default


def test_merge_cow_replaces_and_time_travels(spark, tdir):
    commit_append(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]), tdir)
    v = commit_merge_keys(
        spark, tdir, _mk(spark, [(2, "B2"), (9, "new")]), ["k"]
    )
    assert v == 2
    got = {r.k: r.v for r in read_version(spark, tdir, 2).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "new"}
    # time travel: v1 still reads the pre-merge state
    old = {r.k: r.v for r in read_version(spark, tdir, 1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


@pytest.mark.slow
def test_merge_rewrites_only_affected_files(spark, tdir):
    # two single-file commits -> file boundaries we control
    commit_append(_mk(spark, [(1, "a"), (2, "b")]).coalesce(1), tdir)
    commit_append(_mk(spark, [(10, "x"), (11, "y")]).coalesce(1), tdir)
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        _read_manifest,
    )

    before = set(_read_manifest(tdir, 2))
    commit_merge_keys(spark, tdir, _mk(spark, [(10, "X")]), ["k"])
    after = set(_read_manifest(tdir, 3))
    carried = before & after
    # the file holding keys {1,2} must carry over BY REFERENCE; only
    # the file holding key 10 is rewritten
    assert len(carried) == 1
    kept = spark.read.parquet(*carried).collect()
    assert {r.k for r in kept} == {1, 2}
    assert {r.k: r.v for r in read_version(spark, tdir).collect()} == {
        1: "a", 2: "b", 10: "X", 11: "y"
    }


def test_merge_on_empty_table_becomes_append(spark, tdir):
    v = commit_merge_keys(spark, tdir, _mk(spark, [(5, "e")]), ["k"])
    assert v == 1
    assert read_version(spark, tdir).count() == 1


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_batch = st.lists(
    st.tuples(st.integers(0, 15), st.text(alphabet="abc", min_size=1, max_size=3)),
    min_size=1,
    max_size=4,
    unique_by=lambda kv: kv[0],
)
_ops = st.lists(
    st.tuples(st.sampled_from(["append", "merge"]), _batch),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
@pytest.mark.slow
def test_snapshot_commits_match_dict_model(spark, ops):
    """Model-based: any sequence of append/merge commits must agree
    with plain dict semantics at EVERY version — append keeps old rows
    for duplicate keys (both visible), merge replaces them — and every
    historical version must still read back its own model state."""
    d = tempfile.mkdtemp(prefix="snapprop_")
    try:
        model_rows: list[tuple[int, str]] = []  # multiset of (k, v)
        history = []
        for op, batch in ops:
            df = _mk(spark, batch)
            if op == "append":
                commit_append(df, d)
                model_rows = model_rows + batch
            else:
                commit_merge_keys(spark, d, df, ["k"])
                bkeys = {k for k, _ in batch}
                model_rows = [r for r in model_rows if r[0] not in bkeys] + batch
            history.append(sorted(model_rows))
        for v, expect in enumerate(history, start=1):
            got = sorted(
                (r.k, r.v) for r in read_version(spark, d, v).collect()
            )
            assert got == expect, (v, got, expect)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_expire_versions_rejects_keep_last_below_one(spark, tdir):
    """keep_last < 1 would retain no version, so every manifest and
    data file would be unlinked: it must raise before touching the
    disk, and the table must still read afterwards."""
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        expire_versions,
    )

    commit_append(_mk(spark, [(1, "a")]).coalesce(1), tdir)
    for keep_last in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            expire_versions(tdir, keep_last=keep_last)
    assert latest_version(tdir) == 1
    assert {r.k: r.v for r in read_version(spark, tdir).collect()} == {
        1: "a"
    }


@pytest.mark.slow
def test_expire_versions_keeps_retained_reads_intact(spark, tdir):
    commit_append(_mk(spark, [(1, "a"), (2, "b")]).coalesce(1), tdir)
    commit_merge_keys(spark, tdir, _mk(spark, [(2, "B")]), ["k"])
    commit_append(_mk(spark, [(3, "c")]).coalesce(1), tdir)
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        expire_versions,
    )

    removed, deleted = expire_versions(tdir, keep_last=2)
    assert removed == 1
    # v1's single file held keys {1,2}; the merge rewrote it, so no
    # retained version references it and vacuum may delete it
    assert deleted == 1
    # retained versions still read their exact state
    assert {r.k: r.v for r in read_version(spark, tdir, 3).collect()} == {
        1: "a", 2: "B", 3: "c"
    }
    assert {r.k: r.v for r in read_version(spark, tdir, 2).collect()} == {
        1: "a", 2: "B"
    }
    # the expired version is gone
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        read_version(spark, tdir, 1)


def test_merge_replaces_null_keyed_row(spark, tdir):
    """NULL-safe merge keys: a NULL-keyed batch row must REPLACE the
    existing NULL-keyed row, not silently coexist with it."""
    df = spark.createDataFrame([(None, "old"), (1, "a")], "k long, v string")
    commit_append(df, tdir)
    batch = spark.createDataFrame([(None, "new")], "k long, v string")
    commit_merge_keys(spark, tdir, batch, ["k"])
    got = sorted(
        ((r.k, r.v) for r in read_version(spark, tdir).collect()),
        key=lambda p: (p[0] is None, p[0] or 0),
    )
    assert got == [(1, "a"), (None, "new")], got


def test_relative_table_dir_rejected(spark):
    """A relative table_dir resolves against the JVM working dir for
    data writes but the Python cwd for manifests — two different
    places. The format refuses it loudly instead of splitting the
    table across both."""
    with pytest.raises(ValueError, match="absolute"):
        commit_append(_mk(spark, [(1, "a")]), "relative_snap_dir")
    with pytest.raises(ValueError, match="absolute"):
        commit_merge_keys(spark, "relative_snap_dir", _mk(spark, [(1, "a")]), ["k"])


def test_concurrent_commit_loser_raises(spark, tdir):
    """Two writers racing to the same version number: exactly one wins.
    Simulated by publishing a manifest for the version a second commit
    is about to claim — the second _publish must fail loudly (a rename
    would silently overwrite the first writer's commit: a lost commit),
    and the winner's manifest must survive byte-for-byte."""
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        ConcurrentCommitError,
        _publish,
    )

    commit_append(_mk(spark, [(1, "a")]), tdir)
    winner = (Path(tdir) / "v1.json").read_text()
    with pytest.raises(ConcurrentCommitError, match="version 1"):
        _publish(tdir, 1, [], [])
    assert (Path(tdir) / "v1.json").read_text() == winner
    # the loser's temp file must not leak
    assert not list(Path(tdir).glob("*.tmp-*"))


def test_merge_duplicate_key_batch_raises(spark, tdir):
    """A batch with two rows for one key must be rejected (Delta MERGE
    'multiple source rows matched'): applying it would anti-join the
    old row away once and then land BOTH batch copies."""
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        DuplicateKeyBatchError,
    )

    commit_append(_mk(spark, [(1, "a"), (2, "b")]), tdir)
    with pytest.raises(DuplicateKeyBatchError, match="2 rows"):
        commit_merge_keys(
            spark, tdir, _mk(spark, [(2, "B2"), (2, "B3")]), ["k"]
        )
    # the table is untouched: no new version, same contents
    assert latest_version(tdir) == 1
    assert {r.k: r.v for r in read_version(spark, tdir).collect()} == {
        1: "a",
        2: "b",
    }


def test_merge_duplicate_null_key_batch_raises(spark, tdir):
    """The uniqueness check must be null-safe: two NULL-keyed batch
    rows are duplicates of each other (countDistinct-style checks drop
    NULL groups and would let them through)."""
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        DuplicateKeyBatchError,
    )

    commit_append(_mk(spark, [(1, "a")]), tdir)
    dup_null = spark.createDataFrame(
        [(None, "n1"), (None, "n2")], "k long, v string"
    )
    with pytest.raises(DuplicateKeyBatchError):
        commit_merge_keys(spark, tdir, dup_null, ["k"])


def test_publish_falls_back_without_hardlink_support(spark, tdir, monkeypatch):
    """Filesystems without hard links (exFAT, some NFS/FUSE mounts)
    raise EPERM/EOPNOTSUPP from os.link; _publish must fall back to an
    O_EXCL create that still commits AND still raises
    ConcurrentCommitError for the racing loser."""
    import errno
    import os as _os

    from market_data_pipeline_databricks_spark.sources import snapshots as S

    def no_link(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(S.os, "link", no_link)
    v = commit_append(_mk(spark, [(1, "a"), (2, "b")]), tdir)
    assert v == 1
    assert read_version(spark, tdir, 1).count() == 2
    with pytest.raises(S.ConcurrentCommitError, match="version 1"):
        S._publish(tdir, 1, [], [])
    assert not list(Path(tdir).glob("*.tmp-*"))


def test_publish_fallback_unclaims_on_failed_write(spark, tdir, monkeypatch):
    """A failed payload write on the O_EXCL fallback path must not
    leave a truncated manifest at the final name — that would count
    the version as committed forever (latest_version globs it) while
    every retry raises ConcurrentCommitError."""
    import errno
    import os as _os

    from market_data_pipeline_databricks_spark.sources import snapshots as S

    monkeypatch.setattr(
        S.os,
        "link",
        lambda *a, **k: (_ for _ in ()).throw(
            OSError(errno.EPERM, "no hardlinks")
        ),
    )
    real_fsync = _os.fsync
    monkeypatch.setattr(
        S.os,
        "fsync",
        lambda fd: (_ for _ in ()).throw(OSError(errno.ENOSPC, "disk full")),
    )
    with pytest.raises(OSError, match="disk full"):
        S._publish(tdir, 1, [], [])
    assert latest_version(tdir) == 0  # version 1 was NOT claimed
    # retry after the failure succeeds (the name is free again)
    monkeypatch.setattr(S.os, "fsync", real_fsync)
    S._publish(tdir, 1, [], [])
    assert latest_version(tdir) == 1


# ---------------------------------------------------------------- #
# partition evolution (round 12): rewrite-free spec changes +       #
# manifest-level min/max file pruning                               #
# ---------------------------------------------------------------- #


def _mk_kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )


def test_evolve_spec_is_rewrite_free_and_clusters_new_commits(spark, tdir):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        active_spec,
        evolve_partition_spec,
        prune_files,
        read_pruned,
    )

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        _resolved,
        _read_manifest,
    )

    commit_append(_mk_kv(spark, 0, 1000).repartition(3), tdir)
    files_v1 = set(_read_manifest(tdir, 1))
    assert active_spec(tdir) == []
    assert evolve_partition_spec(tdir, ["k"]) == 2
    # rewrite-free: v2 lists exactly v1's files
    files_v2 = set(_read_manifest(tdir, 2))
    assert files_v2 == files_v1
    assert active_spec(tdir) == ["k"]
    # post-evolution commit clusters on k and records per-file bounds
    commit_append(_mk_kv(spark, 1000, 2000), tdir, cluster_partitions=4)
    new_files = set(_read_manifest(tdir, 3)) - files_v1
    assert len(new_files) == 4
    stats = _resolved(tdir, 3)["file_stats"]
    assert set(stats) == new_files  # old files carry no bounds
    # range clustering → tight, non-overlapping bounds covering 1000..1999
    bounds = sorted(tuple(stats[f]["k"]) for f in new_files)
    assert bounds[0][0] == 1000 and bounds[-1][1] == 1999
    for (lo1, hi1), (lo2, _hi2) in zip(bounds, bounds[1:]):
        assert hi1 < lo2
    # pruning: a range inside ONE new file's bounds keeps that file
    # plus the 3 statless v1 files
    lo, hi = bounds[0][0], bounds[0][1]
    kept, total = prune_files(tdir, [("between", "k", lo, hi)])
    assert total == 7 and len(kept) == 4
    # exactness: pruned read == full filter
    got = read_pruned(spark, tdir, [("between", "k", lo, hi)])
    assert got.count() == hi - lo + 1
    full = read_version(spark, tdir).filter(F.col("k").between(lo, hi))
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0


def test_pruned_read_empty_range_keeps_schema(spark, tdir):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        evolve_partition_spec,
        read_pruned,
    )

    commit_append(_mk_kv(spark, 0, 100), tdir)
    evolve_partition_spec(tdir, ["k"])
    commit_append(_mk_kv(spark, 100, 200), tdir, cluster_partitions=2)
    out = read_pruned(spark, tdir, [("between", "k", -50, -10)])
    assert out.count() == 0
    assert out.columns == ["k", "v"]


def test_cow_merge_preserves_spec_and_recomputes_bounds(spark, tdir):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        active_spec,
        evolve_partition_spec,
        prune_files,
        read_pruned,
    )

    commit_append(_mk_kv(spark, 0, 500), tdir)
    evolve_partition_spec(tdir, ["k"])
    commit_append(_mk_kv(spark, 500, 1000), tdir, cluster_partitions=4)
    batch = spark.createDataFrame(
        [(250, 99), (750, 99)], "k long, v long"
    )
    commit_merge_keys(spark, tdir, batch, ["k"])
    assert active_spec(tdir) == ["k"]
    # merged result still exact under pruned reads
    got = read_pruned(spark, tdir, [("between", "k", 700, 800)])
    rows = {(r["k"], r["v"]) for r in got.collect()}
    assert (750, 99) in rows
    assert len(rows) == 101
    kept, total = prune_files(tdir, [("between", "k", 700, 800)])
    assert len(kept) <= total


def test_evolve_rejects_empty_keys_and_empty_table(spark, tdir):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        evolve_partition_spec,
    )

    with pytest.raises(ValueError, match="at least one"):
        evolve_partition_spec(tdir, [])
    with pytest.raises(ValueError, match="no published version"):
        evolve_partition_spec(tdir, ["k"])


def test_wap_publish_carries_spec_forward(spark, tdir):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        active_spec,
        evolve_partition_spec,
        publish_staged,
        stage_append,
    )

    commit_append(_mk_kv(spark, 0, 100), tdir)
    evolve_partition_spec(tdir, ["k"])
    stage_append(_mk_kv(spark, 100, 150), tdir, "audit")
    publish_staged(tdir, "audit")
    assert active_spec(tdir) == ["k"]
    assert read_version(spark, tdir).count() == 150


def test_rewrite_to_spec_reclusters_only_statless_files(spark, tdir):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        evolve_partition_spec,
        prune_files,
        read_pruned,
        rewrite_to_spec,
    )

    commit_append(_mk_kv(spark, 0, 1000).repartition(3), tdir)
    evolve_partition_spec(tdir, ["k"])
    commit_append(_mk_kv(spark, 1000, 2000), tdir, cluster_partitions=4)
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        _resolved,
        _read_manifest,
    )

    clustered = set(_resolved(tdir, 3)["file_stats"])
    before_rows = {
        (r["k"], r["v"]) for r in read_version(spark, tdir).collect()
    }
    v, n = rewrite_to_spec(spark, tdir, cluster_partitions=4)
    assert v == 4 and n == 3  # exactly the statless v1 files rewrote
    files_v4 = set(_read_manifest(tdir, 4))
    stats_v4 = _resolved(tdir, 4)["file_stats"]
    # pre-clustered files carried by reference, stats intact
    assert clustered <= files_v4
    assert clustered <= set(stats_v4)
    # every listed file now carries bounds → full pruning
    assert set(stats_v4) == files_v4
    # pure re-layout: multiset-identical
    after_rows = {
        (r["k"], r["v"]) for r in read_version(spark, tdir).collect()
    }
    assert after_rows == before_rows
    assert read_version(spark, tdir).count() == 2000
    # pruning now skips on BOTH halves; a mid-range query keeps a
    # strict subset
    kept, total = prune_files(tdir, [("between", "k", 450, 550)])
    assert len(kept) < total
    got = read_pruned(spark, tdir, [("between", "k", 450, 550)])
    assert got.count() == 101
    # idempotent: nothing statless remains
    v2, n2 = rewrite_to_spec(spark, tdir)
    assert (v2, n2) == (4, 0)


def test_rewrite_to_spec_requires_spec(spark, tdir):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        rewrite_to_spec,
    )

    with pytest.raises(ValueError, match="no published version"):
        rewrite_to_spec(spark, tdir)
    commit_append(_mk_kv(spark, 0, 10), tdir)
    with pytest.raises(ValueError, match="no active partition spec"):
        rewrite_to_spec(spark, tdir)


_evo_ops = st.lists(
    st.sampled_from(["append", "merge", "evolve", "rewrite", "stage"]),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_evo_ops, seed=st.integers(0, 10_000))
@pytest.mark.slow
def test_partition_evolution_model(spark, ops, seed):
    """Model-based (round 12): any interleaving of append / COW merge /
    spec evolution / governance rewrite / WAP stage+publish must keep
    (a) dict-model row semantics at the head, (b) pruned reads exactly
    equal to the model filter, and (c) the version chain hole-free.
    Evolution and rewrite are metadata/layout moves — they must NEVER
    change row content."""
    import random

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        evolve_partition_spec,
        latest_version,
        prune_files,
        publish_staged,
        read_pruned,
        rewrite_to_spec,
        stage_append,
    )

    rng = random.Random(seed)
    d = tempfile.mkdtemp(prefix="evoprop_")
    try:
        model: list[tuple[int, str]] = []
        evolved = False
        next_k = 0

        def fresh_batch(n):
            nonlocal next_k
            out = [(next_k + i, rng.choice("abc")) for i in range(n)]
            next_k += n
            return out

        for op in ops:
            if op == "append":
                b = fresh_batch(rng.randint(1, 5))
                commit_append(_mk(spark, b), d)
                model += b
            elif op == "merge" and model:
                ks = rng.sample([k for k, _ in model], min(2, len(model)))
                b = [(k, "Z") for k in ks]
                commit_merge_keys(spark, d, _mk(spark, b), ["k"])
                model = [r for r in model if r[0] not in set(ks)] + b
            elif op == "evolve" and latest_version(d) and not evolved:
                evolve_partition_spec(d, ["k"])
                evolved = True
            elif op == "rewrite" and evolved:
                rewrite_to_spec(spark, d, cluster_partitions=2)
            elif op == "stage" and latest_version(d):
                b = fresh_batch(rng.randint(1, 3))
                stage_append(_mk(spark, b), d, "br")
                publish_staged(d, "br")
                model += b
        if not latest_version(d):
            return
        got = sorted((r.k, r.v) for r in read_version(spark, d).collect())
        assert got == sorted(model)
        # pruned read == model filter, regardless of layout history
        lo, hi = 1, max(3, next_k // 2)
        got_p = sorted(
            (r.k, r.v)
            for r in read_pruned(
                spark, d, [("between", "k", lo, hi)]
            ).collect()
        )
        assert got_p == sorted(r for r in model if lo <= r[0] <= hi)
        # version chain is hole-free and every version still reads
        head = latest_version(d)
        for v in range(1, head + 1):
            assert (Path(d) / f"v{v}.json").exists(), v
            read_version(spark, d, v).count()
        # pruning never keeps more files than the manifest lists
        kept, total = prune_files(d, [("between", "k", lo, hi)])
        assert len(kept) <= total
    finally:
        shutil.rmtree(d, ignore_errors=True)
