"""Silver, rejected and gold follow bronze's file changes through their
lineage records (``sources/lineage.py``): after every batch each table
equals a full recompute from its source, whichever path built it."""

from __future__ import annotations

import datetime as dt
import shutil
from pathlib import Path

import pytest

from market_data_pipeline_databricks_spark import pipeline as P
from market_data_pipeline_databricks_spark.config import PipelineConfig
from market_data_pipeline_databricks_spark.operators.gold import gold_features
from market_data_pipeline_databricks_spark.operators.silver import split_silver
from market_data_pipeline_databricks_spark.sources import lineage, read_table, writers
from market_data_pipeline_databricks_spark.sources.writers import (
    _MAX_PARTITION_FILES,
    erase_keys,
)

DAYS = [dt.date(2025, 1, 6) + dt.timedelta(days=i) for i in range(60)]
T0 = dt.datetime(2025, 3, 1, 18, 0, 0)


def _bar(i, scale=1.0, vol=True):
    c = (100.0 + i + (i % 3)) * scale
    return (c, c * 1.01, c * 0.99, c, 1000 + i if vol else None)


def _write_batch(raw: Path, rows: dict) -> None:
    shutil.rmtree(raw, ignore_errors=True)
    raw.mkdir(parents=True)
    for sym, bars in rows.items():
        fx = all(b[4] is None for b in bars.values())
        lines = ["Date,Open,High,Low,Close" + ("" if fx else ",Volume")]
        for d, (o, h, lo, c, v) in sorted(bars.items()):
            lines.append(f"{d},{o},{h},{lo},{c}" + ("" if fx else f",{v}"))
        (raw / f"{sym}.csv").write_text("\n".join(lines) + "\n")


def _rows(df, drop=()):
    cols = [c for c in df.columns if c not in drop]
    return sorted(tuple(map(str, r)) for r in df.select(*sorted(cols)).collect())


def _gold_stamps(spark, cfg) -> dict:
    return {
        (r["symbol"], r["date"]): r["computed_at"]
        for r in read_table(spark, cfg.warehouse_dir, cfg.gold_table)
        .select("symbol", "date", "computed_at").collect()
    }


def _assert_follows(spark, cfg, before: dict, ts) -> dict:
    """Silver and rejected equal ``split_silver(bronze)``, gold equals
    ``gold_features(silver)`` but for ``computed_at``, and every gold row
    is either recomputed now or keeps its earlier stamp."""
    wh = cfg.warehouse_dir
    valid, rejected = split_silver(read_table(spark, wh, cfg.bronze_table))
    silver = read_table(spark, wh, cfg.silver_table)
    assert _rows(silver) == _rows(valid)
    assert _rows(read_table(spark, wh, cfg.rejected_table)) == _rows(rejected)
    gold = read_table(spark, wh, cfg.gold_table)
    assert _rows(gold, ["computed_at"]) == _rows(gold_features(silver), ["computed_at"])
    stamps = _gold_stamps(spark, cfg)
    assert all(v in (ts, before.get(k)) for k, v in stamps.items()), stamps
    return stamps


def _run(spark, cfg, ts) -> None:
    P.run_bronze(spark, cfg, ingested_at=ts)
    P.run_silver(spark, cfg)
    P.run_gold(spark, cfg, computed_at=ts)


def test_incremental_equals_full_recompute(spark, tmp_path, monkeypatch):
    raw = tmp_path / "raw"
    cfg = PipelineConfig(raw_dir=str(raw), warehouse_dir=str(tmp_path / "wh"))
    gold_dir = Path(cfg.table_path(cfg.gold_table))
    history = {
        "AAA": {DAYS[i]: _bar(i) for i in range(25)},
        # BBB skips day 10, so a late bar can land inside its history
        "BBB": {DAYS[i]: _bar(i, 0.5) for i in range(25) if i != 10},
        "FXC": {DAYS[i]: _bar(i, 0.01, vol=False) for i in range(25)},
    }
    ts = T0
    stamps: dict = {}

    def step(rows: dict) -> dict:
        nonlocal ts, stamps
        ts += dt.timedelta(days=1)
        _write_batch(raw, rows)
        _run(spark, cfg, ts)
        prev = stamps
        stamps = _assert_follows(spark, cfg, prev, ts)
        return prev

    step(history)
    assert set(stamps.values()) == {ts}

    # new bars: appended, earlier gold rows keep their stamps
    prev = step({"AAA": {DAYS[25]: _bar(25)}, "FXC": {DAYS[25]: _bar(25, 0.01, vol=False)}})
    assert {k for k, v in stamps.items() if v == ts} == {("AAA", DAYS[25]), ("FXC", DAYS[25])}
    assert all(stamps[k] == v for k, v in prev.items())

    # a restatement rewrites AAA's bronze partition: AAA is rebuilt
    step({"AAA": {DAYS[3]: _bar(3, 1.5)}, "FXC": {DAYS[26]: _bar(26, 0.01, vol=False)}})
    assert {k for k, v in stamps.items() if v == ts} == (
        {("AAA", d) for d in DAYS[:26]} | {("FXC", DAYS[26])}
    )

    # a key turns invalid (high < close), then valid again
    step({"AAA": {DAYS[5]: (10.0, 9.5, 9.0, 10.0, 100)}})
    assert read_table(spark, cfg.warehouse_dir, cfg.rejected_table).count() == 1
    step({"AAA": {DAYS[5]: _bar(5, 2.0)}})
    assert read_table(spark, cfg.warehouse_dir, cfg.rejected_table).count() == 0

    # a late bar dated before BBB's last gold date: appended to bronze
    # and silver, but gold's BBB partition is rebuilt
    step({"BBB": {DAYS[10]: _bar(10, 0.5)}})
    assert {k for k, v in stamps.items() if v == ts} == {("BBB", d) for d in DAYS[:25]}

    # erase_keys empties FXC's bronze partition: the derived ones go
    erase_keys(
        spark, cfg.warehouse_dir, cfg.bronze_table,
        spark.createDataFrame([("FXC",)], "symbol string"),
        ["symbol"], ["symbol"],
    )
    P.run_silver(spark, cfg)
    P.run_gold(spark, cfg, computed_at=ts)
    stamps = _assert_follows(spark, cfg, stamps, ts)
    assert not (gold_dir / "symbol=FXC").exists()

    # new bars until bronze's AAA partition holds _MAX_PARTITION_FILES
    # files; the next batch compacts it, and all three tables rebuild it
    bronze_aaa = Path(cfg.table_path(cfg.bronze_table)) / "symbol=AAA"
    i = 27
    while len(list(bronze_aaa.glob("*.parquet"))) < _MAX_PARTITION_FILES:
        step({"AAA": {DAYS[i]: _bar(i)}})
        i += 1
    live = set(bronze_aaa.glob("*.parquet"))
    tasks = -(-sum(f.stat().st_size for f in live) // writers._TASK_BYTES)
    step({"AAA": {DAYS[i]: _bar(i)}})
    # rewritten whole, in one file per task of the rewrite
    compacted = set(bronze_aaa.glob("*.parquet"))
    assert 1 <= len(compacted) <= tasks and not compacted & live
    assert {s for (s, _), v in stamps.items() if v == ts} == {"AAA"}
    assert all(v == ts for (s, _), v in stamps.items() if s == "AAA")
    i += 1

    # a deleted and a corrupt record: every partition is rebuilt
    (Path(cfg.table_path(cfg.silver_table)) / lineage.RECORD).unlink()
    (gold_dir / lineage.RECORD).write_text("{not json")
    step({"BBB": {DAYS[i]: _bar(i, 0.5)}})
    assert set(stamps.values()) == {ts}
    i += 1

    # a crash between publish and record write: the next run heals
    def crash(table, record):
        raise RuntimeError("crash before the record write")

    _write_batch(raw, {"AAA": {DAYS[i]: _bar(i)}, "BBB": {DAYS[i]: _bar(i, 0.5)}})
    P.run_bronze(spark, cfg, ingested_at=ts + dt.timedelta(days=1))
    with monkeypatch.context() as m, pytest.raises(RuntimeError):
        m.setattr(lineage, "_write_record", crash)
        P.run_silver(spark, cfg)
    step({"BBB": {DAYS[i + 1]: _bar(i + 1, 0.5)}})
    # silver matched no record and was rebuilt; gold rebuilt with it
    assert set(stamps.values()) == {ts}


def test_incremental_equals_full_recompute_in_several_tasks(spark, tmp_path, monkeypatch):
    """The same batches with every coalesced scan over several tasks:
    gold's window and the writers' rewrites shuffle, and each table
    still equals a full recompute."""
    monkeypatch.setattr(writers, "_TASK_BYTES", 4096)
    test_incremental_equals_full_recompute(spark, tmp_path, monkeypatch)


def test_footer_rows_equal_spark_counts(spark, raw_dir, tmp_path):
    """``lineage.footer_rows`` counts what a Spark scan of the table
    counts: a NULL partition's rows, a partition at
    ``_MAX_PARTITION_FILES`` files, and not the ``_``/``.`` files Spark
    skips."""
    cfg = PipelineConfig(raw_dir=str(raw_dir), warehouse_dir=str(tmp_path / "wh"))
    _run(spark, cfg, T0)
    for table in (cfg.bronze_table, cfg.silver_table, cfg.gold_table):
        root = Path(cfg.table_path(table))
        leaf = root / "symbol=SPY"
        data = sorted(leaf.glob("part-*"))
        null_leaf = root / "symbol=__HIVE_DEFAULT_PARTITION__"
        null_leaf.mkdir()
        shutil.copy(data[0], null_leaf / data[0].name)
        shutil.copy(data[0], leaf / "_skipped.parquet")
        shutil.copy(data[0], leaf / ".skipped.parquet")
        for i in range(len(data), _MAX_PARTITION_FILES):
            shutil.copy(data[0], leaf / f"part-copy-{i}.parquet")
        assert len(list(leaf.glob("part-*"))) == _MAX_PARTITION_FILES
        rows = read_table(spark, cfg.warehouse_dir, table)
        assert rows.filter("symbol IS NULL").count() > 0
        assert lineage.footer_rows(root, ["symbol"]) == rows.count(), table
    with pytest.raises(FileNotFoundError):
        lineage.footer_rows(tmp_path / "wh" / "missing", ["symbol"])
