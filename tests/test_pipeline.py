"""End-to-end pipeline test over fixture CSVs (FIXTURES.md §1-5).

Asserts the reference's declared contracts (SURVEY §5): unique grain,
reject routing, gold null pattern, DQ check emission, and MERGE
idempotency.
"""

from __future__ import annotations

import pytest

import datetime as dt

from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.config import PipelineConfig
from market_data_pipeline_databricks_spark.pipeline import run_bronze, run_pipeline
from market_data_pipeline_databricks_spark.sources import read_table

RUN_TS = dt.datetime(2025, 12, 1, 12, 0, 0)
TODAY = dt.date(2025, 12, 1)


def _cfg(raw_dir, tmp_path) -> PipelineConfig:
    return PipelineConfig(raw_dir=str(raw_dir), warehouse_dir=str(tmp_path / "wh"))


def test_pipeline_end_to_end(spark, raw_dir, tmp_path):
    cfg = _cfg(raw_dir, tmp_path)
    out = run_pipeline(spark, cfg, ingested_at=RUN_TS, today=TODAY)

    bronze, silver, rejected, gold = (
        out["bronze"], out["silver"], out["rejected"], out["gold"]
    )

    # Grain: unique (symbol, date) in bronze and silver.
    for df in (bronze, silver):
        dup = df.groupBy("symbol", "date").count().filter("count > 1")
        assert dup.count() == 0

    # Reject routing: every reason present exactly once from the fixtures
    # (missing_key row has null date → dropped at bronze key filter).
    reasons = {
        r["reject_reason"]: r["count"]
        for r in rejected.groupBy("reject_reason").count().collect()
    }
    assert reasons == {
        "missing_prices": 1,
        "non_positive_price": 1,
        "ohlc_inconsistent": 1,
        "invalid_volume": 1,
    }

    # Silver invariants (docs/silver_layer.md:35-40 of the reference).
    bad = silver.filter(
        (F.col("high") < F.greatest("open", "close", "low"))
        | (F.col("low") > F.least("open", "close", "high"))
        | (F.col("open") <= 0) | (F.col("close") <= 0)
        | (F.col("volume") < 0)
    )
    assert bad.count() == 0

    # Gold null pattern (FIXTURES.md §4).
    first_rows = gold.withColumn(
        "rn",
        F.row_number().over(
            __import__("pyspark").sql.Window.partitionBy("symbol").orderBy("date")
        ),
    )
    assert first_rows.filter("rn = 1 AND return_1d IS NOT NULL").count() == 0
    # FX has no volume → avg_volume_20d NULL throughout.
    assert gold.filter("symbol = 'EURUSD' AND avg_volume_20d IS NOT NULL").count() == 0
    # SPY with ≥20 days of volume → rolling avg non-null at the tail.
    assert gold.filter("symbol = 'SPY' AND avg_volume_20d IS NOT NULL").count() > 0

    # DQ: gap (7-day hole), jump (15% day), stale (EURUSD ends early) all fire.
    dq = out["quality"]
    names = {r["check_name"] for r in dq.select("check_name").distinct().collect()}
    assert {"missing_trading_days_gap", "sudden_price_jump", "stale_data", "row_counts"} <= names
    assert dq.filter("check_name = 'stale_data' AND symbol = 'EURUSD'").count() == 1
    assert dq.filter("check_name = 'sudden_price_jump' AND symbol = 'SPY'").count() >= 1
    assert dq.filter("check_name = 'missing_trading_days_gap' AND symbol = 'SPY'").count() >= 1
    assert dq.filter("check_name = 'row_counts' AND check_status = 'PASS'").count() == 1


def test_bronze_upsert_idempotent(spark, raw_dir, tmp_path):
    cfg = _cfg(raw_dir, tmp_path)
    first = run_bronze(spark, cfg, ingested_at=RUN_TS)
    n1 = first.count()
    again = run_bronze(spark, cfg, ingested_at=RUN_TS + dt.timedelta(hours=1))
    assert again.count() == n1  # same keys → same row count (MERGE semantics)
    # and the later ingest won: all rows carry the newer timestamp
    assert again.filter(F.col("ingested_at") == RUN_TS).count() == 0


def _write_batch(raw_dir, rows):
    """One CSV per symbol; a symbol whose bars carry no volume gets the
    FX layout, without a Volume column."""
    import shutil

    shutil.rmtree(raw_dir, ignore_errors=True)
    raw_dir.mkdir(parents=True)
    for sym, bars in rows.items():
        fx = all(b[4] is None for b in bars.values())
        lines = ["Date,Open,High,Low,Close" + ("" if fx else ",Volume")]
        for d, (o, h, lo, c, v) in sorted(bars.items()):
            lines.append(f"{d},{o},{h},{lo},{c}" + ("" if fx else f",{v}"))
        (raw_dir / f"{sym}.csv").write_text("\n".join(lines) + "\n")


def _table_rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


def test_multi_batch_pipeline_equals_one_run_over_final_inputs(spark, tmp_path):
    """Daily batches (new bars, a restatement, a key that turns invalid
    and back, an identical re-ingest) leave bronze, silver, rejected and
    gold as one run over the final inputs does: bronze appends new bars
    and replaces restated ones, and silver needs no dedup."""
    days = [dt.date(2025, 1, 6) + dt.timedelta(days=i) for i in range(14)]

    def bar(i, scale=1.0, vol=True):
        c = (100.0 + i) * scale
        return (c, c * 1.01, c * 0.99, c, 1000 + i if vol else None)

    batches = [
        {"AAA": {days[i]: bar(i) for i in range(10)},
         "FXB": {days[i]: bar(i, 0.01, vol=False) for i in range(10)}},
        {"AAA": {days[10]: bar(10), days[3]: bar(3, 1.5),
                 days[5]: (10.0, 9.5, 9.0, 10.0, 100)},  # high < close
         "FXB": {days[10]: bar(10, 0.01, vol=False)}},
        {"AAA": {days[5]: bar(5, 2.0), days[11]: bar(11)},
         "FXB": {days[11]: bar(11, 0.01, vol=False)}},
    ]
    batches.append(batches[-1])  # identical re-ingest
    raw = tmp_path / "raw"
    multi = PipelineConfig(raw_dir=str(raw), warehouse_dir=str(tmp_path / "multi"))
    final: dict = {}
    for batch in batches:
        _write_batch(raw, batch)
        run_pipeline(spark, multi, ingested_at=RUN_TS, today=TODAY)
        for sym, bars in batch.items():
            final.setdefault(sym, {}).update(bars)
    _write_batch(raw, final)
    once = PipelineConfig(raw_dir=str(raw), warehouse_dir=str(tmp_path / "once"))
    want = run_pipeline(spark, once, ingested_at=RUN_TS, today=TODAY)
    got = {
        name: read_table(spark, multi.warehouse_dir, getattr(multi, f"{name}_table"))
        for name in ("bronze", "silver", "rejected", "gold")
    }
    for name, df in got.items():
        assert _table_rows(df) == _table_rows(want[name]), name
    assert want["rejected"].count() == 0
    assert want["bronze"].count() == 24


# Spark jobs per medallion stage on the fixture CSVs, as ceilings: the
# counts of the first and second run of bronze -> silver -> gold ->
# quality (the first bronze run creates the table; the second upserts).
_STAGE_JOB_CEILINGS = {"bronze": 6, "silver": 2, "gold": 1, "quality": 1}
# ... and of a third run that lands one new day per symbol: bronze,
# silver, rejected and gold append.
_APPEND_JOB_CEILINGS = {"bronze": 5, "silver": 2, "gold": 1, "quality": 1}


def _data_files(cfg) -> dict:
    """(inode, mtime_ns) of every data file of silver, rejected and gold."""
    from pathlib import Path

    out = {}
    for table in (cfg.silver_table, cfg.rejected_table, cfg.gold_table):
        for f in Path(cfg.table_path(table)).rglob("*.parquet"):
            st = f.stat()
            out[f] = (st.st_ino, st.st_mtime_ns)
    return out


def test_medallion_stage_job_budget(spark, raw_dir, tmp_path):
    import uuid

    from market_data_pipeline_databricks_spark import pipeline as P

    sc = spark.sparkContext

    def jobs(cfg) -> dict[str, int]:
        stages = {
            "bronze": lambda: P.run_bronze(spark, cfg, ingested_at=RUN_TS),
            "silver": lambda: P.run_silver(spark, cfg),
            "gold": lambda: P.run_gold(spark, cfg, computed_at=RUN_TS),
            "quality": lambda: P.run_quality(spark, cfg, run_ts=RUN_TS, today=TODAY),
        }
        got = {}
        for name, fn in stages.items():
            group = f"stage-budget-{uuid.uuid4().hex[:8]}"
            sc.setJobGroup(group, "medallion stage job budget")
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        return got

    cfg = _cfg(raw_dir, tmp_path)
    got: dict[str, list[int]] = {}
    for _ in range(2):
        for name, n in jobs(cfg).items():
            got.setdefault(name, []).append(n)
    assert all(max(n) <= _STAGE_JOB_CEILINGS[k] for k, n in got.items()), got

    # one new day per symbol: every earlier derived file stays as it was
    day = TODAY + dt.timedelta(days=7)
    _write_batch(tmp_path / "day", {
        "SPY": {day: (101.0, 102.0, 100.0, 101.5, 5000)},
        "EURUSD": {day: (1.10, 1.11, 1.09, 1.105, None)},
    })
    before = _data_files(cfg)
    appended = jobs(cfg.with_dirs(str(tmp_path / "day"), cfg.warehouse_dir))
    after = _data_files(cfg)
    assert all(after.get(f) == v for f, v in before.items())
    assert len(after) == len(before) + 4  # two silver and two gold files
    assert all(n <= _APPEND_JOB_CEILINGS[k] for k, n in appended.items()), appended


def test_gold_and_quality_shuffle_only_past_one_task(spark, raw_dir, tmp_path, monkeypatch):
    """Gold and quality plan no Exchange while their input fits one task
    (``writers._TASK_BYTES``). Past it they shuffle, and a multi-batch
    run still equals one run over the final inputs."""
    from market_data_pipeline_databricks_spark import pipeline as P
    from market_data_pipeline_databricks_spark.sources import lineage, writers

    plans: dict[str, str] = {}

    def spy(stage, write):
        def record(frame, *args):
            plans[stage] = frame._jdf.queryExecution().executedPlan().toString()
            return write(frame, *args)
        return record

    def gold_and_quality(cfg) -> dict[str, bool]:
        P.run_bronze(spark, cfg, ingested_at=RUN_TS)
        P.run_silver(spark, cfg)
        with monkeypatch.context() as m:
            m.setattr(lineage, "publish", spy("gold", lineage.publish))
            m.setattr(P, "append_table", spy("quality", P.append_table))
            P.run_gold(spark, cfg, computed_at=RUN_TS)
            P.run_quality(spark, cfg, run_ts=RUN_TS, today=TODAY)
        return {stage: "Exchange" in plan for stage, plan in plans.items()}

    assert gold_and_quality(_cfg(raw_dir, tmp_path / "one")) == {"gold": False, "quality": False}
    monkeypatch.setattr(writers, "_TASK_BYTES", 4096)
    assert gold_and_quality(_cfg(raw_dir, tmp_path / "many")) == {"gold": True, "quality": True}
    test_multi_batch_pipeline_equals_one_run_over_final_inputs(spark, tmp_path / "batches")


def test_read_table_keeps_string_partition_values(spark, tmp_path):
    """A numeric-looking symbol comes back from bronze as the string it
    was, not as the integer partition inference would make of it."""
    from market_data_pipeline_databricks_spark.sources import read_table

    raw = tmp_path / "raw"
    _write_batch(raw, {"007": {dt.date(2025, 1, 6): (10.0, 11.0, 9.0, 10.0, 5)}})
    cfg = _cfg(raw, tmp_path)
    run_bronze(spark, cfg, ingested_at=RUN_TS)
    bronze = read_table(spark, cfg.warehouse_dir, cfg.bronze_table)
    assert dict(bronze.dtypes)["symbol"] == "string"
    assert [r.symbol for r in bronze.collect()] == ["007"]


def test_gold_incremental_equals_full_recompute(spark):
    import datetime as dt
    from market_data_pipeline_databricks_spark.operators.gold import (
        gold_features, gold_incremental,
    )
    days = [dt.date(2025, 1, 1) + dt.timedelta(days=i) for i in range(60)]
    rows = []
    for sym, base in (("AAA", 100.0), ("BBB", 50.0)):
        px = base
        for i, d in enumerate(days):
            px *= 1.0 + ((i * 7 + hash(sym) % 13) % 9 - 4) / 1000.0
            rows.append((sym, d, px, 1000 + i, "t"))
    silver_v1 = spark.createDataFrame(
        rows, "symbol string, date date, close double, volume long, source string"
    )
    ts = dt.datetime(2025, 3, 1)
    gold_v1 = gold_features(silver_v1, computed_at=ts)

    # late backfill: BBB day 40 corrected, plus two brand-new AAA days
    changed_rows = [
        ("BBB", days[40], 55.5, 9999, "t"),
        ("AAA", days[-1] + dt.timedelta(days=1), 130.0, 2000, "t"),
        ("AAA", days[-1] + dt.timedelta(days=2), 131.0, 2001, "t"),
    ]
    changed = spark.createDataFrame(
        changed_rows, "symbol string, date date, close double, volume long, source string"
    )
    # silver after merge: replace BBB day40, append AAA rows
    silver_v2 = (
        silver_v1.join(
            changed.select("symbol", "date").withColumn("x", F.lit(1)),
            ["symbol", "date"], "left",
        ).filter(F.col("x").isNull()).drop("x").unionByName(changed)
    )

    want = gold_features(silver_v2, computed_at=ts)
    got = gold_incremental(silver_v2, gold_v1, changed, computed_at=ts)

    key = lambda r: (r["symbol"], str(r["date"]))
    w_rows = sorted(map(lambda r: tuple(map(str, r)), want.collect()))
    g_rows = sorted(map(lambda r: tuple(map(str, r)), got.collect()))
    assert g_rows == w_rows


def test_ewma_matches_reference_recursion(spark):
    from market_data_pipeline_databricks_spark.functions.timeseries import ewma
    data = [("A", i, float(v)) for i, v in enumerate([10, 12, 11, 15, 14, 13, 18])]
    data += [("B", i, float(v)) for i, v in enumerate([5, 5, 6, 4])]
    df = spark.createDataFrame(data, "sym string, t long, x double")
    got = {
        (r.sym, r.t): r.ewma
        for r in ewma(df, ["sym"], "t", "x", alpha=0.3).collect()
    }
    for sym, series in (("A", [10, 12, 11, 15, 14, 13, 18]), ("B", [5, 5, 6, 4])):
        e = None
        for t, x in enumerate(series):
            e = x if e is None else 0.3 * x + 0.7 * e
            assert abs(got[(sym, t)] - e) < 1e-12


@pytest.mark.slow
def test_cli_runs_pipeline(raw_dir, tmp_path):
    import subprocess, sys, os
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="4g")
    r = subprocess.run(
        [sys.executable, "-m", "market_data_pipeline_databricks_spark",
         "--raw-dir", str(raw_dir), "--warehouse-dir", str(tmp_path / "wh")],
        capture_output=True, text=True, cwd="/root/repo", env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "gold:" in r.stdout and "quality:" in r.stdout


def test_asof_join_semantics(spark):
    import datetime as dt
    from market_data_pipeline_databricks_spark.operators.asof import asof_join
    d = lambda s: dt.date.fromisoformat(s)
    trades = spark.createDataFrame(
        [(1, "K", d("2025-01-10")), (2, "K", d("2025-01-05")),
         (3, "K", d("2025-01-01")), (4, "X", d("2025-01-10"))],
        "trade_id long, key string, tdate date",
    )
    quotes = spark.createDataFrame(
        [("K", d("2025-01-05"), 101.0), ("K", d("2025-01-08"), 102.0),
         ("Z", d("2025-01-01"), 999.0)],
        "key string, qdate date, px double",
    )
    out = {
        r.trade_id: (r.asof_qdate, r.asof_px)
        for r in asof_join(
            trades, quotes, key="key", left_time="tdate",
            right_time="qdate", value_cols=["px"],
        ).collect()
    }
    assert out[1] == (d("2025-01-08"), 102.0)   # latest at-or-before
    assert out[2] == (d("2025-01-05"), 101.0)   # same-instant visible
    assert out[3] == (None, None)               # nothing before → NULL
    assert out[4] == (None, None)               # key with no quotes


def test_asof_join_null_value_carry(spark):
    """Regression for the struct-carry fix (operators/asof.py:57-70): a
    NULL in the latest right row's value column must be carried as-is
    (whole-row semantics), not skipped in favor of an older non-null
    value — per-column last(ignorenulls=True) would wrongly return
    102.0 from 01-08 here."""
    import datetime as dt
    from market_data_pipeline_databricks_spark.operators.asof import asof_join
    d = lambda s: dt.date.fromisoformat(s)
    trades = spark.createDataFrame(
        [(1, "K", d("2025-01-10")), (2, "K", d("2025-01-08"))],
        "trade_id long, key string, tdate date",
    )
    quotes = spark.createDataFrame(
        [("K", d("2025-01-05"), 101.0, 10.0),
         ("K", d("2025-01-08"), 102.0, None),
         ("K", d("2025-01-09"), None, 30.0)],
        "key string, qdate date, px double, sz double",
    )
    out = {
        r.trade_id: (r.asof_qdate, r.asof_px, r.asof_sz)
        for r in asof_join(
            trades, quotes, key="key", left_time="tdate",
            right_time="qdate", value_cols=["px", "sz"],
        ).collect()
    }
    # trade 1: latest quote at-or-before 01-10 is the 01-09 row — its
    # NULL px comes along with its non-null sz (no column mixing).
    assert out[1] == (d("2025-01-09"), None, 30.0)
    # trade 2: the 01-08 row wholesale — NULL sz, not 10.0 from 01-05.
    assert out[2] == (d("2025-01-08"), 102.0, None)


def test_latest_snapshot_pruned_matches_full(spark):
    """The scan-pruned snapshot (plans/relational.py) equals the
    unpruned one whenever the trailing window covers each key's full
    20-row frame; with the production 45-day default every returned
    day sits inside the trailing window."""
    from market_data_pipeline_databricks_spark.plans.relational import (
        window_latest_snapshot_per_supplier,
        window_latest_snapshot_pruned,
    )
    sf = "/root/testdata/sf0.001"
    full = window_latest_snapshot_per_supplier(spark, sf)
    wide = window_latest_snapshot_pruned(spark, sf, trailing_days=100_000)
    as_rows = lambda df: sorted(tuple(map(str, r)) for r in df.collect())
    assert as_rows(wide) == as_rows(full)

    pruned = window_latest_snapshot_pruned(spark, sf)  # default 45 days
    rows = pruned.collect()
    assert rows, "pruned snapshot empty"
    max_day = max(r["day"] for r in rows)
    assert all((max_day - r["day"]).days < 45 for r in rows)
    # pruned keys are a subset of the full snapshot's keys, and each
    # pruned key's chosen latest day agrees with the full computation.
    full_days = {r["suppkey"]: r["day"] for r in full.collect()}
    for r in rows:
        assert full_days[r["suppkey"]] == r["day"]


def test_fetch_synthetic_feeds_pipeline(spark, tmp_path):
    import datetime as dt
    from market_data_pipeline_databricks_spark.config import PipelineConfig
    from market_data_pipeline_databricks_spark.pipeline import run_pipeline
    from market_data_pipeline_databricks_spark.sources.synthetic import fetch

    cfg = PipelineConfig(
        raw_dir=str(tmp_path / "raw"),
        warehouse_dir=str(tmp_path / "wh"),
        symbols=("SPY", "EURUSD"),
        start_date="2025-09-01",
        end_date="2025-12-01",
    )
    counts = fetch(cfg)
    assert counts["SPY"] > 60 and counts["EURUSD"] > 60
    # determinism: regenerating produces identical bytes
    import hashlib, pathlib
    h1 = hashlib.md5((tmp_path / "raw" / "SPY.csv").read_bytes()).hexdigest()
    fetch(cfg)
    assert hashlib.md5((tmp_path / "raw" / "SPY.csv").read_bytes()).hexdigest() == h1

    out = run_pipeline(
        spark, cfg, ingested_at=dt.datetime(2025, 12, 2, 12), today=dt.date(2025, 12, 2)
    )
    assert out["gold"].count() == out["silver"].count() > 100
    assert out["bronze"].filter("symbol='EURUSD' AND volume IS NOT NULL").count() == 0
    assert out["rejected"].count() == 0  # clean synthetic data
