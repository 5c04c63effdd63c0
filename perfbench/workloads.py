"""The benchmark's workloads, driven through the package's public
functions.

Each workload has the same shape:

- ``prepare``: write the seeded inputs (not part of set-up time);
- ``setup``: build the state the timed loop starts from and warm up;
- ``passes``: an endless sequence of passes, each a list of ops; the
  runner stops at the first pass boundary after the run time is spent;
- ``check``: after the loop, compares the program's outputs with what
  the benchmark derives from its own inputs; returns the indices of the
  timed ops that failed and a message per failure.
"""

from __future__ import annotations

import os
from pathlib import Path

from gen import REJECT_SYMBOL, MedallionModel, write_drive_tables


def _walk(root: Path) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    new = [k for k, v in after.items() if before.get(k) != v]
    return len(new), sum(after[k][0] for k in new)


class MedallionDaily:
    """Daily bronze → silver → gold → quality batches over a growing
    warehouse."""

    name = "medallion_daily"
    EXTRA_KEYS = tuple(
        f"pipeline.run_{stage}.{k}"
        for stage in ("bronze", "silver", "gold", "quality")
        for k in ("files_written", "bytes_written")
    ) + ("pipeline.tables.files", "pipeline.tables.bytes", "pipeline.write_amp",
         "pipeline.space_amp")
    STAGES = ("bronze", "silver", "gold", "quality")

    def __init__(self, work: Path, seed: int, traced: bool):
        self.work = work
        self.traced = traced
        self.model = MedallionModel(seed)
        self.expected: dict = {}  # ingest ts -> (dq counts, row-count detail)
        self.op_ts: list = []  # ingest ts of each timed op
        self.stage_written = {s: [0, 0] for s in self.STAGES}
        self.op_csv_bytes = 0  # CSV bytes landed for the timed ops
        self.wh = work / "warehouse"

    def _land(self, n: int) -> Path:
        landing = self.work / "landing" / f"b{n:04d}"
        if n == 0:
            self.model.write_history(landing)
        else:
            self.model.write_batch(landing)
        day, ts = self.model.batches[-1]
        self.expected[ts] = (self.model.expected_dq(), self.model.row_counts_detail())
        return landing

    def prepare(self) -> None:
        self.history = self._land(0)

    def _batch(self, spark, tracer, landing: Path, walk: bool) -> None:
        from market_data_pipeline_databricks_spark.config import PipelineConfig
        from market_data_pipeline_databricks_spark import pipeline as P

        day, ts = self.model.batches[int(landing.name[1:])]
        wh = self.wh
        cfg = PipelineConfig(raw_dir=str(landing), warehouse_dir=str(wh))
        calls = {
            "bronze": lambda: P.run_bronze(spark, cfg, ingested_at=ts),
            "silver": lambda: P.run_silver(spark, cfg),
            "gold": lambda: P.run_gold(spark, cfg, computed_at=ts),
            "quality": lambda: P.run_quality(spark, cfg, run_ts=ts, today=day),
        }
        for stage in self.STAGES:
            before = _walk(wh) if walk else None
            with tracer.span(f"pipeline.run_{stage}", layer="pipeline"):
                calls[stage]()
            if walk:
                files, size = _written(before, _walk(wh))
                self.stage_written[stage][0] += files
                self.stage_written[stage][1] += size

    def setup(self, spark, tracer) -> None:
        """Backfill the history, then land one warm-up batch."""
        self._batch(spark, tracer, self.history, walk=False)
        self._batch(spark, tracer, self._land(len(self.model.batches)), walk=False)

    def passes(self, spark, tracer):
        while True:
            before = self.model.csv_bytes
            landing = self._land(len(self.model.batches))
            self.op_csv_bytes += self.model.csv_bytes - before
            self.op_ts.append(self.model.batches[-1][1])

            def op(landing=landing):
                self._batch(spark, tracer, landing, walk=self.traced)

            yield [("daily_batch", op)]

    # -- output checks ---------------------------------------------------

    def check(self, spark) -> tuple[set[int], list[str]]:
        from pyspark.sql import functions as F

        from market_data_pipeline_databricks_spark.config import PipelineConfig
        from market_data_pipeline_databricks_spark.sources import read_table

        cfg = PipelineConfig(warehouse_dir=str(self.wh))
        wh = str(self.wh)
        msgs: list[str] = []
        m = self.model

        cols = (read_table(spark, wh, cfg.bronze_table)
                .select("symbol", "date", "open", "high", "low", "close", "volume")
                .toArrow().to_pydict())
        bronze = {(sym, day): tuple(v) for sym, day, *v in zip(*cols.values())}
        want = {(s, d): v for s, rows in m.rows.items() for d, v in rows.items()}
        reject_keys = {(REJECT_SYMBOL, d) for d in m.rejects}
        if set(bronze) != set(want) | reject_keys:
            msgs.append(f"bronze keys: {len(bronze)} rows, want {len(want) + len(reject_keys)}")
        stale = [k for k, v in want.items() if bronze.get(k) != v]
        if stale:
            msgs.append(f"bronze latest-wins: {len(stale)} keys differ, e.g. {stale[:2]}")

        rejected = {
            (r["symbol"], r["date"]): r["reject_reason"]
            for r in read_table(spark, wh, cfg.rejected_table)
            .select("symbol", "date", "reject_reason").collect()
        }
        want_rej = {(REJECT_SYMBOL, d): k for d, k in m.rejects.items()}
        if rejected != want_rej:
            msgs.append(f"reject reasons: {len(rejected)} rows, want {len(want_rej)}")

        silver = read_table(spark, wh, cfg.silver_table)
        n_silver, n_keys = silver.agg(
            F.count(F.lit(1)), F.countDistinct("symbol", "date")).first()
        if n_silver != m.silver_rows() or n_keys != n_silver:
            msgs.append(f"silver: {n_silver} rows, {n_keys} keys, want {m.silver_rows()}")
        n_gold = read_table(spark, wh, cfg.gold_table).count()
        if n_gold != n_silver:
            msgs.append(f"gold rows {n_gold} != silver rows {n_silver}")
        # a failure no single op owns fails every timed op
        unowned = bool(msgs)
        failed: set[int] = set()

        dq: dict = {}
        details: dict = {}
        for r in (read_table(spark, wh, cfg.dq_table)
                  .groupBy("run_ts", "check_name")
                  .agg(F.count(F.lit(1)).alias("n"), F.max("details").alias("d"))
                  .collect()):
            dq.setdefault(r["run_ts"], {})[r["check_name"]] = r["n"]
            if r["check_name"] == "row_counts":
                details[r["run_ts"]] = r["d"]
        for ts, (counts, detail) in self.expected.items():
            got = {k: v for k, v in dq.get(ts, {}).items() if v}
            if got != {k: v for k, v in counts.items() if v} or details.get(ts) != detail:
                msgs.append(f"dq rows for batch {ts}: {got} {details.get(ts)!r}, "
                            f"want {counts} {detail!r}")
                if ts in self.op_ts:
                    failed.add(self.op_ts.index(ts))
                else:
                    unowned = True  # the backfill or the warm-up batch
        if set(dq) - set(self.expected):
            msgs.append("dq rows for unknown batches")
            unowned = True
        if unowned:
            failed = set(range(len(self.op_ts)))
        return failed, msgs

    def extra(self, n_ops: int) -> dict:
        """Warehouse walk: files and bytes written per stage and op (the
        walk runs in traced runs only), the final table size, and both as
        a share of the input CSV bytes."""
        ops = max(1, n_ops)
        files = _walk(self.wh)
        table_bytes = sum(v[0] for v in files.values())
        written = sum(b for _, b in self.stage_written.values())
        out = {}
        for stage, (nf, nb) in self.stage_written.items():
            out[f"pipeline.run_{stage}.files_written"] = nf / ops
            out[f"pipeline.run_{stage}.bytes_written"] = nb / ops
        out["pipeline.tables.files"] = len(files)
        out["pipeline.tables.bytes"] = table_bytes
        out["pipeline.write_amp"] = written / self.op_csv_bytes
        out["pipeline.space_amp"] = table_bytes / self.model.csv_bytes
        return out


class TableMaintenance:
    """The eager drives that write tables, run a stream or commit
    snapshots, each proving its result inside the call. One op is a
    maintenance cycle: every drive once.

    The order is fixed, not seeded: the rank drive's latency depends on
    what ran before it (9.6-12.9 s as the first op after the warm-up,
    6.9-7.8 s otherwise, at 4 cores), so a seeded order turned into
    run-to-run spread."""

    name = "table_maintenance"
    DRIVES = (
        "warehouse_erase_rtbf",
        "stream_rank_maintenance",
        "warehouse_partition_evolution",
    )

    def __init__(self, work: Path, seed: int, traced: bool):
        self.seed = seed
        self.inputs = work / "inputs"

    def prepare(self) -> None:
        write_drive_tables(self.inputs, self.seed)

    def _cycle(self, spark, tracer, order) -> None:
        from market_data_pipeline_databricks_spark.plans.registry import all_queries

        queries = all_queries()
        for name in order:
            with tracer.span("drive", layer="plans", query=name):
                with tracer.span("plans.call", layer="plans", query=name):
                    df = queries[name](spark, str(self.inputs))
                with tracer.span("plans.force", layer="plans", query=name):
                    df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    def setup(self, spark, tracer) -> None:
        """One warm cycle."""
        self._cycle(spark, tracer, self.DRIVES)

    def passes(self, spark, tracer):
        while True:
            yield [("maintenance_cycle", lambda: self._cycle(spark, tracer, self.DRIVES))]

    def check(self, spark) -> tuple[set[int], list[str]]:
        # each drive proves its own result inside the timed call
        # (checked_lazy raises on any lost, duplicated or changed row)
        return set(), []

    def extra(self, n_ops: int) -> dict:
        return dict.fromkeys(MedallionDaily.EXTRA_KEYS, 0.0)


WORKLOADS = {w.name: w for w in (MedallionDaily, TableMaintenance)}
