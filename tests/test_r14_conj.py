"""Composite transform specs + conjunctive manifest pruning
(sources/snapshots.py:prune_files / read_pruned over a predicate list):

- the conjunctive kept set IS the intersection of the per-predicate
  kept sets, and the read equals the plain filtered snapshot read
  (exactness independent of pruning);
- both dimensions of a ``[month(ts), bucket(N, k)]`` spec engage —
  the conjunction keeps strictly fewer files than either predicate
  alone on a clustered table;
- two predicates over the SAME key intersect;
- pre-evolution (bound-less) files are never excluded;
- an empty kept set still returns the right schema;
- unknown predicate ops fail loud.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.sources.snapshots import (
    commit_append,
    evolve_partition_spec,
    prune_files,
    read_pruned,
)


def _mk(spark, n_months=6, per_month=32, n_keys=16):
    rows = [
        (
            m * per_month + i,
            dt.datetime(2025, 1 + m, 1 + (i % 27)),
            (m * per_month + i) % n_keys,
            float(i),
        )
        for m in range(n_months)
        for i in range(per_month)
    ]
    return spark.createDataFrame(
        rows, "id long, ts timestamp, k long, v double"
    )


def _build(spark, tmp_path):
    """v1: a small UN-clustered commit (no bounds — the conservative
    path); evolve to the composite spec; v3: the clustered bulk."""
    td = str(tmp_path / "t")
    df = _mk(spark)
    commit_append(df.filter(F.col("id") % 7 == 0).repartition(2), td)
    evolve_partition_spec(td, ["month(ts)", "bucket(4, k)"])
    commit_append(
        df.filter(F.col("id") % 7 != 0), td, cluster_partitions=24
    )
    return td, df


PREDS = [
    ("between", "ts", dt.datetime(2025, 2, 1), dt.datetime(2025, 3, 31)),
    ("eq", "k", 5),
]


def _collect(df):
    return sorted(tuple(r) for r in df.select("id", "ts", "k", "v").collect())


def test_conj_kept_is_intersection_and_read_is_exact(spark, tmp_path):
    td, df = _build(spark, tmp_path)
    kept_c, total = prune_files(td, PREDS)
    kept_m, _ = prune_files(td, PREDS[:1])
    kept_b, _ = prune_files(td, [("eq", "k", 5)])
    assert set(kept_c) == set(kept_m) & set(kept_b)
    # both dimensions engage on the clustered layout
    assert len(kept_c) < len(kept_m)
    assert len(kept_c) < len(kept_b)
    assert len(kept_c) < total
    expected = df.filter(
        F.col("ts").between(PREDS[0][2], PREDS[0][3]) & (F.col("k") == 5)
    )
    assert _collect(read_pruned(spark, td, PREDS)) == _collect(expected)


def test_conj_two_ranges_same_key_intersect(spark, tmp_path):
    td, df = _build(spark, tmp_path)
    preds = [
        ("between", "ts", dt.datetime(2025, 1, 1), dt.datetime(2025, 4, 30)),
        ("between", "ts", dt.datetime(2025, 3, 1), dt.datetime(2025, 6, 30)),
    ]
    kept_c, _ = prune_files(td, preds)
    kept_1, _ = prune_files(td, preds[:1])
    kept_2, _ = prune_files(td, preds[1:])
    assert set(kept_c) == set(kept_1) & set(kept_2)
    expected = df.filter(
        F.col("ts").between(*preds[0][2:]) & F.col("ts").between(*preds[1][2:])
    )
    assert _collect(read_pruned(spark, td, preds)) == _collect(expected)


def test_conj_pre_evolution_files_never_excluded(spark, tmp_path):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        _read_manifest,
    )

    td, _df = _build(spark, tmp_path)
    kept_c, _total = prune_files(td, PREDS)
    # every bound-less pre-evolution file (the v1 manifest) survives
    # every predicate — conservative, always correct
    v1_files = set(_read_manifest(td, 1))
    assert v1_files <= set(kept_c)


def test_conj_empty_kept_keeps_schema(spark, tmp_path):
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        rewrite_to_spec,
    )

    td, df = _build(spark, tmp_path)
    # backfill bounds onto the pre-evolution files so EVERY file can
    # prune; a far-future probe then keeps nothing
    rewrite_to_spec(spark, td, cluster_partitions=4)
    preds = [
        ("between", "ts", dt.datetime(2031, 1, 1), dt.datetime(2031, 2, 1)),
        ("eq", "k", 5),
    ]
    kept, _ = prune_files(td, preds)
    assert kept == []
    out = read_pruned(spark, td, preds)
    assert out.columns == ["id", "ts", "k", "v"]
    assert out.count() == 0


def test_conj_unknown_op_raises(spark, tmp_path):
    td, _df = _build(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown predicate op"):
        prune_files(td, [("lt", "k", 5)])
