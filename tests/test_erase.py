"""Targeted key erasure: rows removed exactly, untouched partitions'
files not rewritten (bounded-rewrite proof via inode stability),
idempotence, and partition-dir removal when an erasure empties one."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.sources.writers import (
    erase_keys,
    overwrite_table,
)


def _files(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[os.path.relpath(p, root)] = os.stat(p).st_ino
    return out


def _table(spark):
    rows = [
        # user_id, symbol (partition), v
        (1, "AAA", 10),
        (2, "AAA", 20),
        (1, "BBB", 30),
        (3, "BBB", 40),
        (4, "CCC", 50),
        (5, "DDD", 60),  # partition that only holds an erased user
    ]
    return spark.createDataFrame(rows, "user_id long, symbol string, v long")


def test_erase_keys_bounded_rewrite(spark, tmp_path):
    wh = str(tmp_path)
    overwrite_table(_table(spark), wh, "t", ["symbol"])
    before = _files(f"{wh}/t")

    keys = spark.createDataFrame([(1,), (5,)], "user_id long")
    removed = erase_keys(spark, wh, "t", keys, ["user_id"], ["symbol"])
    assert removed == 3  # user 1 in AAA+BBB, user 5 in DDD

    back = spark.read.parquet(f"{wh}/t")
    assert back.filter(F.col("user_id").isin(1, 5)).count() == 0
    assert back.count() == 3  # users 2, 3, 4 intact
    # DDD held only the erased user: its partition dir is gone
    assert not os.path.exists(f"{wh}/t/symbol=DDD")

    after = _files(f"{wh}/t")
    # CCC was untouched: same file, same inode — never rewritten
    ccc_before = {k: v for k, v in before.items() if "symbol=CCC" in k}
    ccc_after = {k: v for k, v in after.items() if "symbol=CCC" in k}
    assert ccc_before and ccc_before == ccc_after
    # AAA and BBB were rewritten (erased keys lived there)
    assert {k for k in after if "symbol=AAA" in k} != {
        k for k in before if "symbol=AAA" in k
    }


def test_erase_keys_idempotent_and_missing_keys_noop(spark, tmp_path):
    wh = str(tmp_path)
    overwrite_table(_table(spark), wh, "t", ["symbol"])
    keys = spark.createDataFrame([(1,)], "user_id long")
    assert erase_keys(spark, wh, "t", keys, ["user_id"], ["symbol"]) == 2
    snapshot = _files(f"{wh}/t")
    # same keys again: nothing removed, nothing rewritten
    assert erase_keys(spark, wh, "t", keys, ["user_id"], ["symbol"]) == 0
    assert _files(f"{wh}/t") == snapshot
    # unknown key: clean no-op too
    ghost = spark.createDataFrame([(99,)], "user_id long")
    assert erase_keys(spark, wh, "t", ghost, ["user_id"], ["symbol"]) == 0
    assert _files(f"{wh}/t") == snapshot


def test_erase_keys_unpartitioned(spark, tmp_path):
    wh = str(tmp_path)
    overwrite_table(_table(spark), wh, "t", [])
    keys = spark.createDataFrame([(3,), (4,)], "user_id long")
    assert erase_keys(spark, wh, "t", keys, ["user_id"]) == 2
    back = spark.read.parquet(f"{wh}/t")
    assert sorted(r.user_id for r in back.collect()) == [1, 1, 2, 5]


def test_cleanup_staging_removes_only_stale_orphans(spark, tmp_path):
    import os
    import time

    from market_data_pipeline_databricks_spark.sources.writers import (
        cleanup_staging,
    )

    wh = str(tmp_path)
    overwrite_table(_table(spark), wh, "t", ["symbol"])
    stale = tmp_path / ".staging_t_deadbeef"
    fresh = tmp_path / ".erase_t_cafebabe"
    stale.mkdir()
    fresh.mkdir()
    old = time.time() - 100_000
    os.utime(stale, (old, old))

    removed = cleanup_staging(wh, older_than_s=86400)
    assert removed == [str(stale)]
    assert not stale.exists() and fresh.exists()
    # the live table is untouched
    assert spark.read.parquet(f"{wh}/t").count() == 6
    # Spark never saw the orphan dirs in the first place (hidden paths)
    assert "symbol" in spark.read.parquet(f"{wh}/t").columns


def test_erase_keys_null_partition_value(spark, tmp_path):
    """NULL partition values must not be invisible to erasure: the
    semi-join locating affected partitions is null-safe and the
    emptied NULL partition dir (__HIVE_DEFAULT_PARTITION__) is
    cleaned up."""
    wh = str(tmp_path)
    rows = [(1, None, 10), (2, None, 20), (3, "AAA", 30)]
    df = spark.createDataFrame(rows, "user_id long, symbol string, v long")
    overwrite_table(df, wh, "t", ["symbol"])

    keys = spark.createDataFrame([(1,)], "user_id long")
    assert erase_keys(spark, wh, "t", keys, ["user_id"], ["symbol"]) == 1
    back = spark.read.parquet(f"{wh}/t")
    assert sorted(r.user_id for r in back.collect()) == [2, 3]

    # erasing the last NULL-partition row removes the hive-null dir
    keys2 = spark.createDataFrame([(2,)], "user_id long")
    assert erase_keys(spark, wh, "t", keys2, ["user_id"], ["symbol"]) == 1
    assert not os.path.exists(f"{wh}/t/symbol=__HIVE_DEFAULT_PARTITION__")
    assert [r.user_id for r in spark.read.parquet(f"{wh}/t").collect()] == [3]


def test_upsert_null_partition_key_move(spark, tmp_path):
    """A key moving OUT of a NULL partition must not leave its stale
    row behind (the null-unsafe join bug the null-safe semi-join fixed)."""
    from market_data_pipeline_databricks_spark.sources.writers import (
        upsert_by_key,
    )

    wh = str(tmp_path)
    df = spark.createDataFrame(
        [(1, None, 10), (2, "BBB", 20)],
        "user_id long, symbol string, v long",
    )
    overwrite_table(df, wh, "t", ["symbol"])
    upd = spark.createDataFrame(
        [(1, "AAA", 11)], "user_id long, symbol string, v long"
    )
    upsert_by_key(spark, upd, wh, "t", ["user_id"], ["symbol"])
    back = spark.read.parquet(f"{wh}/t").collect()
    got = sorted((r.user_id, r.symbol, r.v) for r in back)
    assert got == [(1, "AAA", 11), (2, "BBB", 20)]  # no stale NULL row


def test_erase_keys_null_key_value(spark, tmp_path):
    """A NULL in the KEY column itself must be erasable: the key
    semi/anti joins are null-safe, so right-to-erasure cannot silently
    no-op on rows with NULL keys (round-4 advice)."""
    wh = str(tmp_path)
    rows = [(None, "AAA", 10), (2, "AAA", 20), (3, "BBB", 30)]
    df = spark.createDataFrame(rows, "user_id long, symbol string, v long")
    overwrite_table(df, wh, "t", ["symbol"])

    keys = spark.createDataFrame([(None,)], "user_id long")
    assert erase_keys(spark, wh, "t", keys, ["user_id"], ["symbol"]) == 1
    back = spark.read.parquet(f"{wh}/t")
    assert sorted(r.user_id for r in back.collect()) == [2, 3]
    # idempotent: nothing left to erase
    assert erase_keys(spark, wh, "t", keys, ["user_id"], ["symbol"]) == 0


def test_append_with_schema_evolution(spark, tmp_path):
    """New columns evolve (old rows NULL), missing columns fill with
    typed NULLs, reordered columns align by name, and a type change
    raises instead of poisoning the table."""
    import pytest

    from market_data_pipeline_databricks_spark.sources.writers import (
        append_with_schema_evolution,
    )

    wh = str(tmp_path)
    overwrite_table(_table(spark), wh, "t", ["symbol"])

    evolved = spark.createDataFrame(
        # reordered + new column 'venue', column v missing
        [("NYSE", "EEE", 7)], "venue string, symbol string, user_id long"
    )
    out = append_with_schema_evolution(spark, evolved, wh, "t", ["symbol"])
    assert set(out.columns) == {"user_id", "symbol", "v", "venue"}
    rows = {r.user_id: r for r in out.collect()}
    assert rows[7].venue == "NYSE" and rows[7].v is None  # missing -> NULL
    assert rows[1].venue is None  # old rows NULL for evolved column
    assert rows[1].v in (10, 30)  # original values survive aligned

    bad = spark.createDataFrame(
        [("x", "FFF", 1)], "v string, symbol string, user_id long"
    )
    with pytest.raises(ValueError, match="type change"):
        append_with_schema_evolution(spark, bad, wh, "t", ["symbol"])
