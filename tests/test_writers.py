"""Table writers (sources/writers.py): the keyed upsert, erase and
compaction rewrite path.

- partition swap edge cases: multi-level partitions, keys that move
  partitions, crash-mid-swap recovery. The production tables partition
  on a column that is also part of the key (symbol), so these paths
  never fire there — which is exactly why they need dedicated coverage;
- the staged write's shape: touched partitions with no live directory
  skip the merge, and untouched partitions keep their exact files;
- partition values round-trip through the one rendering (the
  directory name) for every type, including those whose Python
  ``str()`` or inferred read-back type differs from Spark's;
- the null-safe join helper and null-safe key matching;
- a ceiling on the Spark jobs each keyed write runs.
"""

from __future__ import annotations

import datetime as dt
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.sources.writers import (
    _null_safe_join,
    erase_keys,
    upsert_by_key,
)


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "sym string, region string, date date, px double"
    )


def _read(spark, wh):
    df = spark.read.parquet(f"{wh}/t")
    return sorted(
        (r["sym"], r["region"], str(r["date"]), r["px"]) for r in df.collect()
    )


D1, D2 = dt.date(2025, 1, 1), dt.date(2025, 1, 2)


def test_upsert_two_level_partition_siblings_survive(spark, tmp_path):
    """Batch touches one (region, date) tuple; the sibling date partition
    under the same region — absent from the batch — must survive the
    swap (regression for top-level-only partition replacement)."""
    wh = str(tmp_path)
    base = _rows(spark, [
        ("A", "us", D1, 1.0),
        ("B", "us", D2, 2.0),   # sibling: same region=us, other date
        ("C", "eu", D1, 3.0),
    ])
    upsert_by_key(spark, base, wh, "t", ["sym", "date"], ["region", "date"])
    batch = _rows(spark, [("A", "us", D1, 9.0)])  # touches only (us, D1)
    upsert_by_key(spark, batch, wh, "t", ["sym", "date"], ["region", "date"])
    assert _read(spark, wh) == [
        ("A", "us", str(D1), 9.0),
        ("B", "us", str(D2), 2.0),
        ("C", "eu", str(D1), 3.0),
    ]


def test_upsert_key_moving_partitions_leaves_no_stale_row(spark, tmp_path):
    """An update row carrying an existing key with a NEW partition value
    must remove the old row from the old partition (and delete the
    partition dir if that empties it)."""
    wh = str(tmp_path)
    base = _rows(spark, [("A", "us", D1, 1.0), ("B", "eu", D1, 2.0)])
    upsert_by_key(spark, base, wh, "t", ["sym"], ["region"])
    # key A moves us → eu; us partition becomes empty
    batch = _rows(spark, [("A", "eu", D1, 9.0)])
    upsert_by_key(spark, batch, wh, "t", ["sym"], ["region"])
    assert _read(spark, wh) == [
        ("A", "eu", str(D1), 9.0),
        ("B", "eu", str(D1), 2.0),
    ]
    assert not (Path(wh) / "t" / "region=us").exists()


def test_upsert_partition_in_key_fast_path(spark, tmp_path):
    """With the partition column in the key (so a key cannot change
    partitions) results match the default path and no extra scan is
    needed for in-place updates."""
    wh = str(tmp_path)
    base = _rows(spark, [("A", "us", D1, 1.0), ("B", "eu", D1, 2.0)])
    upsert_by_key(spark, base, wh, "t", ["sym", "region"], ["region"])
    batch = _rows(spark, [("A", "us", D1, 9.0), ("C", "eu", D1, 3.0)])
    upsert_by_key(spark, batch, wh, "t", ["sym", "region"], ["region"])
    assert _read(spark, wh) == [
        ("A", "us", str(D1), 9.0),
        ("B", "eu", str(D1), 2.0),
        ("C", "eu", str(D1), 3.0),
    ]


def test_upsert_rerun_heals_partial_swap(spark, tmp_path):
    """The per-partition swap is not atomic; simulate a crash that left
    one partition un-swapped and assert that re-running the same batch
    converges to the correct state (each partition is individually
    consistent at all times, so the retry story is idempotent re-run)."""
    import shutil

    wh = str(tmp_path)
    base = _rows(spark, [("A", "us", D1, 1.0), ("C", "eu", D1, 3.0)])
    upsert_by_key(spark, base, wh, "t", ["sym"], ["region"])
    # snapshot the pre-update eu partition, run the real update, then
    # roll eu back to simulate the swap crashing before reaching it
    eu = Path(wh) / "t" / "region=eu"
    shutil.copytree(eu, Path(wh) / "eu_backup")
    batch = _rows(spark, [("A", "us", D1, 9.0), ("C", "eu", D1, 8.0)])
    upsert_by_key(spark, batch, wh, "t", ["sym"], ["region"])
    shutil.rmtree(eu)
    shutil.copytree(Path(wh) / "eu_backup", eu)
    # table is now half-updated but readable; re-running the batch heals
    upsert_by_key(spark, batch, wh, "t", ["sym"], ["region"])
    assert _read(spark, wh) == [
        ("A", "us", str(D1), 9.0),
        ("C", "eu", str(D1), 8.0),
    ]


def test_compact_unpartitioned_collapses_small_files(spark, tmp_path):
    from market_data_pipeline_databricks_spark.sources.writers import (
        compact_table,
    )

    wh = str(tmp_path)
    df = spark.range(1000).withColumnRenamed("id", "k")
    df.repartition(40).write.parquet(f"{wh}/t")
    before = len(list(Path(wh).glob("t/*.parquet")))
    assert before >= 40
    n_after = compact_table(spark, wh, "t")  # huge target -> 1 file
    assert n_after == 1
    assert sorted(r["k"] for r in spark.read.parquet(f"{wh}/t").collect()) == list(
        range(1000)
    )


def test_compact_keeps_null_partition_rows(spark, tmp_path):
    """The NULL partition's directory is __HIVE_DEFAULT_PARTITION__;
    compaction must match it to the rows read back as NULL, or the
    swap publishes the table without them."""
    from market_data_pipeline_databricks_spark.sources.writers import (
        compact_table,
    )

    wh = str(tmp_path)
    base = _rows(spark, [("A", "us", D1, 1.0), ("B", None, D1, 2.0)])
    base.write.partitionBy("region").parquet(f"{wh}/t")
    want = _read(spark, wh)
    compact_table(spark, wh, "t", partition_cols=["region"])
    assert _read(spark, wh) == want


def test_compact_partitioned_keeps_rows_and_bounds_files(spark, tmp_path):
    from market_data_pipeline_databricks_spark.sources.writers import (
        compact_table,
    )

    wh = str(tmp_path)
    base = _rows(
        spark,
        [("A", "us", D1, float(i)) for i in range(50)]
        + [("B", "eu", D1, float(i)) for i in range(5)],
    )
    base.repartition(20).write.partitionBy("region").parquet(f"{wh}/t")
    want = _read(spark, wh)
    n_after = compact_table(spark, wh, "t", partition_cols=["region"])
    assert n_after == 2  # one file per region at this size
    assert _read(spark, wh) == want


def _listing(tdir: Path) -> dict[str, tuple[int, int]]:
    return {
        str(p.relative_to(tdir)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in tdir.rglob("*")
        if p.is_file() and not p.name.startswith(("_", "."))
    }


def _kvp(spark, wh, table):
    # partition type inference may read day-grain strings back as DATE
    # and ints back as INT; normalize through a string cast
    return {
        tuple(r)
        for r in spark.read.parquet(str(Path(wh) / table))
        .select("k", "v", F.col("p").cast("string").alias("p"))
        .collect()
    }


def test_all_new_partitions_leave_live_files_untouched(spark, tmp_path):
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "k int, v string, p string"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    before = _listing(tmp_path / "t")
    # batch touches only a partition the table has never seen
    upd = spark.createDataFrame([(3, "c", "2024-01-03")], "k int, v string, p string")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    after = _listing(tmp_path / "t")
    kept = {f: s for f, s in after.items() if not f.startswith("p=2024-01-03")}
    assert kept == before, "live partitions must keep their exact files"
    assert _kvp(spark, wh, "t") == {
        (1, "a", "2024-01-01"),
        (2, "b", "2024-01-02"),
        (3, "c", "2024-01-03"),
    }


def test_literal_pruned_merge_replaces_and_inserts(spark, tmp_path):
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (9, "z", None)],
        "k int, v string, p string",
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    # mix: replace k=1 in a live partition, insert into a new one,
    # and replace the NULL-partition row (the __HIVE_DEFAULT_PARTITION__
    # rendering in the literal predicate)
    upd = spark.createDataFrame(
        [(1, "a2", "2024-01-01"), (4, "d", "2024-01-04"), (9, "z2", None)],
        "k int, v string, p string",
    )
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    assert _kvp(spark, wh, "t") == {
        (1, "a2", "2024-01-01"),
        (2, "b", "2024-01-02"),
        (4, "d", "2024-01-04"),
        (9, "z2", None),
    }


def test_untouched_live_partition_files_stable_under_merge(spark, tmp_path):
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "k int, v string, p string"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    before = _listing(tmp_path / "t")
    upd = spark.createDataFrame([(1, "a2", "2024-01-01")], "k int, v string, p string")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    after = _listing(tmp_path / "t")
    assert {f: s for f, s in after.items() if f.startswith("p=2024-01-02")} == {
        f: s for f, s in before.items() if f.startswith("p=2024-01-02")
    }
    assert _kvp(spark, wh, "t") == {
        (1, "a2", "2024-01-01"),
        (2, "b", "2024-01-02"),
    }


def test_int_bucket_partition_literal_merge(spark, tmp_path):
    # int partition values: the literal predicate compares on the
    # string cast — the agg sink's __p_bucket layout
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 3), (2, "b", 7)], "k int, v string, p int"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    upd = spark.createDataFrame([(1, "a2", 3), (5, "e", 11)], "k int, v string, p int")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    assert _kvp(spark, wh, "t") == {(1, "a2", "3"), (2, "b", "7"), (5, "e", "11")}


# (type, value under test, a second value of the same type). Each value
# is one whose rendering once disagreed somewhere: Python str() against
# the directory name (1e-05 → 1.0E-5, True → true, '' → the hive NULL
# dir, timestamps), or the directory name against the inferred
# read-back type (007 → 7).
_ROUND_TRIP = [
    pytest.param("double", 1e-05, 2.5, id="double_1e-05"),
    pytest.param("double", 0.5, 1.5, id="double_0.5"),
    pytest.param(
        "timestamp", dt.datetime(2024, 1, 1, 0, 0, 0, 500000),
        dt.datetime(2024, 1, 2), id="timestamp_fraction",
    ),
    pytest.param("boolean", True, False, id="boolean"),
    pytest.param("string", "", "x", id="empty_string"),
    pytest.param("string", None, "x", id="null"),
    pytest.param("string", "007", "010", id="numeric_string"),
]


@pytest.mark.parametrize("ptype,x,y", _ROUND_TRIP)
def test_partition_value_round_trip(spark, tmp_path, ptype, x, y):
    """Replace a key in partition x, move a key out of x, then erase
    x's last key: each step must leave exactly the expected rows, with
    no stale copy and no emptied directory behind."""
    wh = str(tmp_path)
    schema = f"k int, v string, p {ptype}"
    xb = None if x == "" else x  # Spark writes '' to the NULL partition

    def rows():
        back = spark.read.schema(schema).parquet(f"{wh}/t")
        return {tuple(r) for r in back.collect()}

    def upsert(data):
        upsert_by_key(spark, spark.createDataFrame(data, schema), wh, "t", ["k"], ["p"])

    upsert([(1, "a", x), (2, "b", x), (3, "c", y)])
    upsert([(1, "a2", x)])
    assert rows() == {(1, "a2", xb), (2, "b", xb), (3, "c", y)}
    upsert([(2, "b2", y)])
    assert rows() == {(1, "a2", xb), (2, "b2", y), (3, "c", y)}
    keys = spark.createDataFrame([(1,)], "k int")
    assert erase_keys(spark, wh, "t", keys, ["k"], ["p"]) == 1
    assert rows() == {(2, "b2", y), (3, "c", y)}
    assert len(list((tmp_path / "t").glob("p=*"))) == 1


def test_key_moves_partition_unstable_path(spark, tmp_path):
    # partition column not in the key: a key that moved partitions
    # must have its stale copy removed from the OLD partition (the
    # prior-location scan feeds the touched set; exercises the literal
    # path end to end with prior rows whose partition value came from
    # the read-back side)
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "k int, v string, p string"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    upd = spark.createDataFrame([(1, "a2", "2024-01-05")], "k int, v string, p string")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    assert _kvp(spark, wh, "t") == {
        (1, "a2", "2024-01-05"),
        (2, "b", "2024-01-02"),
    }


def test_special_char_partition_values_literal_merge(spark, tmp_path):
    # hive escapes '=' and spaces in dirnames; the live-set listing
    # unquotes them, so the literal path must still locate and merge
    # the partition correctly
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "x y=z"), (2, "b", "plain")], "k int, v string, p string"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    upd = spark.createDataFrame([(1, "a2", "x y=z")], "k int, v string, p string")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    assert _kvp(spark, wh, "t") == {(1, "a2", "x y=z"), (2, "b", "plain")}


def test_null_safe_semi_filters_on_self_derived_small(spark):
    """The null-safe semi/anti joins must filter even when the small
    side DERIVES from the left frame (shared expression IDs): without
    the fresh aliases, erase_keys' touched-partition semi-join resolved
    to the trivially-true `c <=> c` and kept every partition — a silent
    full-table staging rewrite on each partitioned erase."""
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).alias("p")
    )
    # small derives FROM df — the erase_keys shape
    small = df.filter(F.col("id") < 3).select("p").distinct()  # p in {0,1,2}
    out = _null_safe_join(df, small, ["p"], "left_semi")
    assert out.count() == 30  # not 100: the join must actually filter
    anti = _null_safe_join(df, small, ["p"], "left_anti")
    assert anti.count() == 70


def test_null_safe_semi_matches_null_partitions(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], "id long, p string"
    )
    small = df.filter(F.col("id") == 2).select("p")  # the NULL partition
    assert _null_safe_join(df, small, ["p"], "left_semi").count() == 2  # both NULLs
    assert _null_safe_join(df, small, ["p"], "left_anti").count() == 2


def test_upsert_null_safe_keys_replaces_null_key_rows(spark, tmp_path):
    """Default upsert matching is ANSI MERGE (NULL never matches →
    the NULL-key update INSERTS a second copy); ``null_safe_keys=True``
    is the state-table mode where NULL is a legitimate key and the
    update REPLACES. Both behaviors pinned."""
    schema = "k long, v double"
    base = spark.createDataFrame([(None, 1.0), (7, 2.0)], schema)
    upd = spark.createDataFrame([(None, 9.0)], schema)
    for null_safe, expect_rows in ((False, 3), (True, 2)):
        wh = str(tmp_path / f"wh_{null_safe}")
        upsert_by_key(spark, base, wh, "t", ["k"])
        upsert_by_key(
            spark, upd, wh, "t", ["k"], null_safe_keys=null_safe
        )
        rows = spark.read.parquet(f"{wh}/t").collect()
        assert len(rows) == expect_rows
        if null_safe:
            vals = {r.k: r.v for r in rows}
            assert vals[None] == 9.0 and vals[7] == 2.0


# Spark jobs per keyed write on a few rows of a bronze-shaped table
# (key (sym, d), partitioned by sym), as ceilings. They are the counts
# the writer ran before its partition rendering and swap were unified
# (the first upsert_live call in a process runs 6, later ones 5; erase
# then ran 22 and now runs 14), so a change that adds driver
# round-trips to the write path fails here.
_JOB_CEILINGS = {"upsert_live": 6, "upsert_new": 4, "erase": 22}


def test_writer_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    wh = str(tmp_path)
    schema = "sym string, d int, v double"

    def jobs(fn):
        group = f"writer-budget-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "writer job budget")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def upsert(rows):
        upd = spark.createDataFrame(rows, schema)
        upsert_by_key(spark, upd, wh, "t", ["sym", "d"], ["sym"])

    upsert([("A", 1, 1.0), ("A", 2, 2.0), ("B", 1, 3.0)])
    keys = spark.createDataFrame([(2,)], "d int")
    got = {
        "upsert_live": jobs(lambda: upsert([("A", 1, 9.0)])),
        "upsert_new": jobs(lambda: upsert([("C", 5, 9.0)])),
        "erase": jobs(lambda: erase_keys(spark, wh, "t", keys, ["d"], ["sym"])),
    }
    assert all(got[k] <= _JOB_CEILINGS[k] for k in got), got
    back = spark.read.parquet(f"{wh}/t")
    assert sorted((r.sym, r.d, r.v) for r in back.collect()) == [
        ("A", 1, 9.0), ("B", 1, 3.0), ("C", 5, 9.0),
    ]
