"""Session factory (session.py): the defaults it derives from the box,
and the local filesystem a local master writes through.

- the live session's ``file:`` FileSystem and FileContext classes;
- no ``.crc`` sidecar under a table after an upsert and a compaction,
  nor under a streaming sink's checkpoint directory;
- written file and directory modes, and non-default permissions
  (a sticky bit too) round-tripping through ``setPermission``;
- parquet page checksums verified on read, the integrity check that
  replaces the sidecars;
- the derived settings as pure functions, without a JVM: no ``javac``,
  a non-local master, a caller's class path, cores and memory from the
  box with no environment set.
"""

from __future__ import annotations

import datetime as dt
import os
import stat
import struct

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark import session
from market_data_pipeline_databricks_spark.sources.tables import read_table
from market_data_pipeline_databricks_spark.sources.writers import (
    compact_table,
    overwrite_table,
    upsert_by_key,
)


def _expected_fs() -> tuple[str, str]:
    if session._local_fs_jar() is None:
        return session._RAW_FS, session._RAW_AFS
    return session._NIO_FS, f"{session._NIO_FS}$Fs"


def _crc_files(root):
    return sorted(str(p) for p in root.rglob("*.crc"))


def test_live_session_local_filesystem(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    classes = (fs.getClass().getName(), fc.getDefaultFileSystem().getClass().getName())
    assert classes == _expected_fs()
    # a later get_spark in this process sees the running JVM's class path
    assert session._loadable(classes[0])
    assert not session._loadable("no.such.FileSystem")


def test_no_crc_after_upsert_and_compact(spark, tmp_path):
    wh = str(tmp_path)
    rows = [("A", dt.date(2025, 1, d), float(d)) for d in range(1, 6)]
    batch = spark.createDataFrame(rows, "sym string, date date, px double")
    upsert_by_key(spark, batch, wh, "t", ["sym", "date"], ["sym"])
    upsert_by_key(spark, batch.withColumn("px", F.col("px") + 1), wh, "t",
                  ["sym", "date"], ["sym"])
    compact_table(spark, wh, "t", partition_cols=["sym"])
    assert list((tmp_path / "t").rglob("*.parquet"))
    assert _crc_files(tmp_path) == []


def test_no_crc_under_stream_checkpoint(spark, tmp_path):
    from market_data_pipeline_databricks_spark.streaming.ingest import (
        read_price_csv_stream,
        stream_upsert_to_table,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "SPY.csv").write_text(
        "Date,Open,High,Low,Close,Volume\n2025-10-01,100,101,99,100.5,1000\n")
    stream_upsert_to_table(
        read_price_csv_stream(spark, str(raw), source="test"), str(tmp_path / "wh"),
        "bronze_stream", key_cols=["symbol", "date"], partition_cols=["symbol"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert list((tmp_path / "ckpt" / "commits").iterdir())
    assert _crc_files(tmp_path) == []


def test_written_modes(spark, tmp_path):
    """Hadoop's default umask (022) gives 0644 files and 0755
    directories, as with Hadoop's own local filesystem."""
    overwrite_table(spark.range(20).withColumn("p", F.col("id") % 3), str(tmp_path), "t", ["p"])
    paths = list((tmp_path / "t").rglob("*"))
    modes = {(p.is_dir(), stat.S_IMODE(p.stat().st_mode)) for p in paths}
    assert modes == {(False, 0o644), (True, 0o755)}


@pytest.mark.parametrize("mode,is_dir", [(0o600, False), (0o751, False), (0o1777, True)])
def test_set_permission_round_trips(spark, tmp_path, mode, is_dir):
    target = tmp_path / "x"
    target.mkdir() if is_dir else target.write_text("x")
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(target.as_uri())
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.setPermission(path, jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"))
    assert stat.S_IMODE(target.stat().st_mode) == mode
    assert fs.getFileStatus(path).getPermission().toShort() == mode


def test_corrupt_page_fails_read(spark, tmp_path):
    """A flipped byte inside a data page: without page checksum
    verification the read returns a wrong sum and no error; with the
    session default the read fails."""
    base = 1_000_000.0
    conf = {"spark.sql.parquet.compression.codec": "none",
            "parquet.enable.dictionary": "false"}
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        frame = spark.range(1000).select((F.col("id") + base).alias("px")).coalesce(1)
        overwrite_table(frame, str(tmp_path), "t")
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    (data,) = (tmp_path / "t").glob("*.parquet")
    raw = bytearray(data.read_bytes())
    # a middle value: neither min nor max, so not in any statistics
    at = raw.index(struct.pack("<d", base + 500))
    raw[at + 3] ^= 0xFF
    data.write_bytes(bytes(raw))

    def total():
        return read_table(spark, str(tmp_path), "t").agg(F.sum("px")).first()[0]

    assert spark._jsc.hadoopConfiguration().get("parquet.page.verify-checksum.enabled") == "true"
    spark.conf.set("parquet.page.verify-checksum.enabled", "false")
    try:
        assert total() != sum(base + i for i in range(1000))
    finally:
        spark.conf.unset("parquet.page.verify-checksum.enabled")
    with pytest.raises(Exception, match="(?i)crc|checksum"):
        total()


def test_conf_without_javac_uses_raw_local_fs():
    conf = session._session_conf("local[4]", None)
    assert conf[session._FS_IMPL] == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert conf[session._AFS_IMPL] == "org.apache.hadoop.fs.local.RawLocalFs"
    assert session._CLASS_PATH not in conf


def test_conf_with_jar_merges_caller_class_path():
    conf = session._session_conf("local", "/c/fs.jar", {session._CLASS_PATH: "/a.jar"})
    assert conf[session._CLASS_PATH] == f"/a.jar{os.pathsep}/c/fs.jar"
    assert conf[session._FS_IMPL] == session._NIO_FS
    assert conf[session._AFS_IMPL] == f"{session._NIO_FS}$Fs"


@pytest.mark.parametrize("master", ["spark://h:7077", "yarn", "local-cluster[2,1,1024]"])
def test_conf_non_local_master_keeps_cluster_fs(master):
    conf = session._session_conf(master, "/c/fs.jar")
    assert not {session._FS_IMPL, session._AFS_IMPL, session._CLASS_PATH} & set(conf)
    assert conf["spark.hadoop.parquet.page.verify-checksum.enabled"] == "true"


def test_no_jar_without_javac(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    assert session._local_fs_jar() is None
    assert list(tmp_path.iterdir()) == []


@pytest.mark.parametrize("total_kb,memory", [
    (16479424, "8046m"),     # 15.7 GiB: half
    (134217728, "16384m"),   # 128 GiB: the cap
])
def test_defaults_from_box_without_env(monkeypatch, tmp_path, total_kb, memory):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {total_kb} kB\nMemFree:         1024 kB\n")
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = session._session_conf("local[6]", None)
    assert (session._cpus(), conf["spark.sql.shuffle.partitions"]) == ("6", "6")
    assert conf["spark.driver.memory"] == memory

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = session._session_conf("local[3]", None)
    assert (conf["spark.sql.shuffle.partitions"], conf["spark.driver.memory"]) == ("3", "2g")
