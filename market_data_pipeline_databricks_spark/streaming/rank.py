"""Streaming incremental per-key rank maintenance — the foreachBatch
twin of the two-pass rank (VERDICT r11 task 7).

The maintained table assigns every event its per-key sequence number
(``ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts, id)``). A naive
streaming implementation recomputes the window over all history each
micro-batch — O(history) per batch, the streaming analogue of the
recompute-everything gold job. This maintenance is INCREMENTAL:

- precondition (STRICT, the classic streaming-rank premise): the
  stream is event-time ordered ACROSS micro-batches and equal-``ts``
  rows never split across a batch boundary — every row of batch N+1
  has ``ts`` strictly greater than every row of batch N, OR shares no
  ``ts`` value with batch N (value-cut file drops satisfy this; a
  boundary TIE would let the strict ``ts < batch-min`` offset miss the
  already-ranked tied rows and mint a duplicate rank). The sink GUARDS
  the precondition: foreign rows at ``ts >=`` the batch min that the
  batch does not contain raise instead of corrupting the table — late
  rows go through :func:`repair_ranks` (the batch two-pass rank over
  the affected keys).
- per batch: the per-key OFFSET is the count of already-ranked rows
  with ``ts`` strictly below the batch's min ts — counted from the
  maintained table itself, so a REPLAYED batch (failure before the
  checkpoint commit) excludes its own landed rows and recomputes the
  same offsets: exactly-once in effect, with no side counter to drift.
- the offsets count rides an ADVISORY CACHE (``<table>__offsets``:
  per-key counts up to a high-water ``ts``): when the cache's
  watermark is strictly below the batch min, offsets = cached counts
  plus a DELTA count over ``(wm, bmin)`` — a partition-pruned sliver —
  so the per-batch READ is O(recent), not O(history). The cache is
  never trusted for correctness: a replayed batch (watermark >= batch
  min), a missing/partial cache file, or a post-repair invalidation
  all fall back to the full ``ts < bmin`` count, and a cache that
  missed its post-batch update is healed by the delta term. Repair
  INVALIDATES the cache before writing (late rows land below the
  watermark, which the cache cannot represent).
- within the batch, ranks come from the shared two-pass operator
  (operators/ranking.py) — batch-scaled work, skew-safe;
- rows land through the idempotent keyed upsert (replays rewrite the
  same values).

Scale shape: the RANKING work is O(batch); the precondition guard and
the delta count are ts-bounded scans that PRUNE to recent partitions
under ``partition_by_month=True`` (the table partitions on a
ts-derived bucket — ``partition_fmt`` must be lexicographically
time-monotone, the ``yyyy-MM``/``yyyy-MM-dd`` family — and the keyed
upsert rewrites only touched buckets; without it the parquet upsert
rewrites the whole table each batch, fine for drives, wrong for
production). The offset frame itself is |batch keys| rows, broadcast
back. State is the checkpointed file log plus the |keys|-row offsets
cache — never row-scaled driver state.
"""

from __future__ import annotations

import re
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the ONLY accepted partition_fmt family. _since() relies on
#: date_format(ts, fmt) being lexicographically time-monotone; a
#: plausible lowercase typo ('yyyy-mm-dd' — mm is minute-of-hour in
#: date_format patterns) passes a loose startswith('yyyy') check but
#: produces non-monotone bucket strings, so the order-guard scan and
#: the offsets delta silently prune partitions that still hold rows
#: in range (advice finding). Whitelist the known-monotone prefixes
#: explicitly instead of guessing.
_MONOTONE_FMT = re.compile(r"yyyy(-MM(-dd(-HH)?)?)?")


def _check_fmt_monotone(partition_fmt: str, who: str) -> None:
    if not _MONOTONE_FMT.fullmatch(partition_fmt):
        raise ValueError(
            f"{who}: partition_fmt {partition_fmt!r} is not in the "
            "lexicographically time-monotone family yyyy[-MM[-dd[-HH]]]"
            " (note case: 'mm' is minute-of-hour, 'dd' day-of-month in"
            " date_format patterns) — partition pruning would silently"
            " skip live buckets under any other pattern"
        )


#: rendered shape of each whitelisted fmt component, for the on-disk
#: bucket-value structural check (every component renders zero-padded
#: fixed-width, so each whitelist fmt has exactly one value shape)
_FMT_VALUE_RE = {
    "yyyy": r"\d{4}",
    "yyyy-MM": r"\d{4}-\d{2}",
    "yyyy-MM-dd": r"\d{4}-\d{2}-\d{2}",
    "yyyy-MM-dd-HH": r"\d{4}-\d{2}-\d{2}-\d{2}",
}


class RankOrderViolation(ValueError):
    """The micro-batch overlaps already-ranked event time: either a
    late arrival or an equal-``ts`` split across a batch boundary. The
    maintained table was NOT modified; route the offending rows through
    :func:`repair_ranks`."""


def _offsets_cache_path(warehouse_dir: str, table: str):
    from pathlib import Path

    return Path(warehouse_dir) / f"{table}__offsets"


#: cache stamp columns — the configuration the counts were computed
#: under. A cache written for one (key_col, ts_col, fmt, key dtype)
#: merged into a run with another would attribute counts to the wrong
#: keys through eqNullSafe's implicit coercion (advice finding), so a
#: stamp mismatch must read as 'no cache', never as wrong counts.
_CACHE_STAMP = ("__key_col", "__ts_col", "__pfmt", "__ktype")
_CACHE_COLS = {"__k", "__n", "__wm", *_CACHE_STAMP}


def _read_offsets_cache(
    spark, warehouse_dir: str, table: str, meta: dict
):
    """(per-key counts frame ``(__k, __n)``, watermark ts) or
    ``(None, None)``. DEFENSIVE by contract: the cache is advisory —
    a missing dir, a partial write from a crash, a wrong schema, or a
    stamp that doesn't match ``meta`` (key_col/ts_col/partition_fmt/
    key dtype the caller is running under) must read as 'no cache'
    (full-scan fallback), never as wrong counts."""
    p = _offsets_cache_path(warehouse_dir, table)
    if not p.exists():
        return None, None
    try:
        df = spark.read.parquet(str(p))
        if set(df.columns) != _CACHE_COLS:
            return None, None
        head = df.select("__wm", *_CACHE_STAMP).agg(
            F.max("__wm").alias("__wm"),
            *[F.min(c).alias(c) for c in _CACHE_STAMP],
            *[F.max(c).alias(f"{c}_hi") for c in _CACHE_STAMP],
        ).first()
        wm = head["__wm"]
        if wm is None:
            return None, None
        for c in _CACHE_STAMP:
            # min==max guards a half-merged dir of mixed-era files
            if head[c] != meta[c] or head[f"{c}_hi"] != meta[c]:
                return None, None
        return df.select("__k", "__n"), wm
    except Exception:
        return None, None


def _write_offsets_cache(
    spark, counts: DataFrame, wm, warehouse_dir: str, table: str,
    meta: dict,
) -> None:
    """Replace the cache with ``counts`` (``__k``, ``__n``) stamped at
    watermark ``wm`` and configuration ``meta`` (the _CACHE_STAMP
    keys): staging write + directory swap. A crash mid-swap leaves a
    missing/partial dir, which _read_offsets_cache treats as no cache
    — safe."""
    import uuid
    from pathlib import Path

    dest = _offsets_cache_path(warehouse_dir, table)
    staging = Path(warehouse_dir) / f".cachestage_{uuid.uuid4().hex[:8]}"
    stamped = counts.withColumn("__wm", F.lit(wm))
    for c in _CACHE_STAMP:
        stamped = stamped.withColumn(c, F.lit(meta[c]))
    # the rewrite is the maintenance's one key-scaled step (|keys|
    # rows, columnar, amortized per batch); coalesce to a few files so
    # neither a single giant task nor a shuffle-partition spray of
    # tiny files lands on the hot path
    stamped.coalesce(8).write.mode("overwrite").parquet(str(staging))
    if dest.exists():
        shutil.rmtree(dest)
    shutil.move(str(staging), str(dest))


def _cache_meta(
    df: DataFrame, key_col: str, ts_col: str,
    partition_by_month: bool, partition_fmt: str,
) -> dict:
    """The _CACHE_STAMP values for a run's configuration. The fmt
    stamp is '' when the table is unpartitioned (fmt is then unused —
    no pruning to be wrong about)."""
    return {
        "__key_col": key_col,
        "__ts_col": ts_col,
        "__pfmt": partition_fmt if partition_by_month else "",
        "__ktype": df.schema[key_col].dataType.simpleString(),
    }


def _merge_counts(a: DataFrame, an: str, b: DataFrame, bn: str, out: str):
    """Per-key count merge: full-outer NULL-SAFE join of ``a`` (keyed
    ``__k``, counts ``an``) with ``b`` (keyed ``__kb``, counts ``bn``)
    → ``(__k, out)`` where absent sides count 0. One shape for both
    cache-path offsets (cached + delta) and the cache rewrite
    (offsets + batch)."""
    return a.join(
        b, F.col("__k").eqNullSafe(F.col("__kb")), "full"
    ).select(
        F.coalesce(F.col("__k"), F.col("__kb")).alias("__k"),
        (
            F.coalesce(F.col(an), F.lit(0))
            + F.coalesce(F.col(bn), F.lit(0))
        )
        .cast("long")
        .alias(out),
    )


def _check_partition_fmt(
    existing: DataFrame, ts_col: str, fmt: str, who: str, table_path,
    semantic: bool = True,
):
    """A table's on-disk bucket grain must match the caller's
    ``partition_fmt``: a mismatch makes the upsert's touched set miss
    every existing partition, landing fresh rows in NEW bucket dirs
    while their stale copies survive in the old ones — silent
    duplicate keys with conflicting ranks. DETERMINISTIC two-part
    check (advice finding — the old one-row sample could pass or fail
    nondeterministically on a mixed-grain table):

    1. structural: EVERY on-disk bucket value (directory listing —
       O(#partitions), no data read) must match the fmt's rendered
       shape. Each whitelisted fmt renders a distinct fixed width, so
       a mixed-grain table (a crashed run that upserted some buckets
       under another fmt) is caught regardless of which bucket Spark
       would have sampled.
    2. semantic (``semantic=True``): within the LATEST bucket only
       (partition-pruned, so bounded — never an O(table) scan on the
       per-batch hot path), an aggregate counts rows where the stored
       bucket differs from ``date_format(ts, fmt)`` — catches a
       same-shape mismatch such as a different source timestamp
       column. The semantic half is one Spark job; the streaming sink
       runs it once per run (later batches only ever append rows the
       sink itself derived with this fmt, so re-proving it per batch
       buys nothing) and keeps the free structural half per batch.
    """
    from pathlib import Path

    vals = sorted(
        p.name.split("=", 1)[1]
        for p in Path(table_path).glob("__p_month=*")
        if p.is_dir()
    )
    shape = re.compile(_FMT_VALUE_RE[fmt])
    bad = [v for v in vals if not shape.fullmatch(v)]
    if bad:
        raise ValueError(
            f"{who}: partition_fmt {fmt!r} does not reproduce the "
            f"table's on-disk bucket values (e.g. {bad[0]!r}; "
            f"{len(bad)} of {len(vals)} buckets mismatch) — pass the "
            "fmt the table was built with"
        )
    if not vals or not semantic:
        return
    # STRING comparison on both sides: partition type inference can
    # read day-grain __p_month back as DATE, and date==string coerces
    # the string ('2025-01' casts to 2025-01-01), silently passing a
    # month-fmt check against a day-grain table
    n_bad = (
        existing.filter(F.col("__p_month").cast("string") == vals[-1])
        .filter(
            F.col("__p_month").cast("string")
            != F.date_format(F.col(ts_col), fmt)
        )
        .count()
    )
    if n_bad:
        raise ValueError(
            f"{who}: partition_fmt {fmt!r} does not reproduce the "
            f"table's bucket values ({n_bad} rows of bucket "
            f"{vals[-1]!r} disagree with date_format({ts_col}, {fmt!r}))"
            " — pass the fmt the table was built with"
        )


def invalidate_offsets_cache(warehouse_dir: str, table: str) -> None:
    """Drop the advisory offsets cache; the next micro-batch falls
    back to the full count and rebuilds it. Called by repair (late
    rows land below the watermark, which per-key counts up to a single
    watermark cannot represent) and available to operators after any
    out-of-band table surgery."""
    p = _offsets_cache_path(warehouse_dir, table)
    if p.exists():
        shutil.rmtree(p, ignore_errors=True)


def stream_rank_maintenance(
    events_stream: DataFrame,
    warehouse_dir: str,
    table: str = "events_ranked",
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    rank_col: str = "user_seq",
    checkpoint_dir: str | None = None,
    partition_by_month: bool = False,
    partition_fmt: str = "yyyy-MM",
    offsets_cache_min_bytes: int = 256 << 20,
) -> None:
    """Drain ``events_stream`` (availableNow) into ``warehouse_dir/
    table``, assigning each row its per-``key_col`` rank by
    (``ts_col``, ``id_col``) incrementally (module docstring). The
    final table equals the batch window over the full input whenever
    the stream respects the strict cross-batch event-time order — a
    violating batch raises :class:`RankOrderViolation` before any
    write. ``partition_by_month=True`` is the production layout: the
    table partitions on a ts-derived bucket (functionally determined by
    ``id_col`` — an event's ts never changes — so the upsert skips the
    prior-partition scan) and each batch rewrites only touched buckets.
    ``partition_fmt`` sets the bucket grain (a ``date_format`` pattern;
    the default ``yyyy-MM`` is calendar months — pick the grain that
    puts a micro-batch's span across a handful of partitions). The
    partition column is named ``__p_month`` at every grain.

    ``offsets_cache_min_bytes`` gates the advisory offsets cache on
    the maintained table's on-disk size: the cache exists to bound
    the per-batch offset READ on tables whose history dwarfs a batch
    (at 100 TB, O(recent) vs O(history)); below the floor a full
    ``ts < bmin`` count is already cheaper than the cache's own
    read+merge+rewrite jobs, so small tables skip both (measured:
    ~1.5 s/drain of pure cache overhead at sf0.1 drive scale). The
    size probe is a driver-side listing memoized once the floor is
    passed — growth is monotone under the sink's appends — so large
    tables never re-list. ``0`` forces the cache on (tests and the
    lifecycle-asserting drives); correctness is identical either way
    (the cache is advisory; a table crossing the floor mid-run starts
    caching and a stale-watermark cache heals through the delta term).
    """
    from market_data_pipeline_databricks_spark.operators.ranking import (
        two_pass_key_rank,
    )
    from market_data_pipeline_databricks_spark.sources.tables import (
        read_table,
    )
    from market_data_pipeline_databricks_spark.sources.writers import (
        upsert_by_key,
    )

    if partition_by_month:
        # the partition predicate in _since compares bucket STRINGS,
        # which is only time-monotone for the whitelisted family
        _check_fmt_monotone(partition_fmt, "stream_rank_maintenance")
    auto_checkpoint = checkpoint_dir is None
    if auto_checkpoint:
        checkpoint_dir = tempfile.mkdtemp(prefix=f"ckpt_rank_{table}_")
    pcols = ["__p_month"] if partition_by_month else []
    # per-run memos (reset with every start(), which is what makes
    # them safe): [0] the table passed the cache size floor — growth
    # under this sink is monotone, so never re-list after passing;
    # [1] the semantic fmt check ran against the pre-existing table —
    # later batches only append rows this sink derived with fmt
    run_state = {"floor_passed": False, "fmt_proven": False}

    def _cache_active() -> bool:
        if offsets_cache_min_bytes <= 0 or run_state["floor_passed"]:
            return True
        from pathlib import Path

        tdir = Path(warehouse_dir) / table
        size = (
            sum(p.stat().st_size for p in tdir.rglob("*") if p.is_file())
            if tdir.exists()
            else 0
        )
        if size >= offsets_cache_min_bytes:
            run_state["floor_passed"] = True
            return True
        return False

    def _p(df: DataFrame) -> DataFrame:
        return (
            df.withColumn(
                "__p_month", F.date_format(F.col(ts_col), partition_fmt)
            )
            if partition_by_month
            else df
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # lazy persist, NOT localCheckpoint (r14): the batch has ~6
        # consumers (probe aggregate, rank sample+compute, foreign
        # probe, key set, write), so single-scan semantics matter at
        # scale — but localCheckpoint added a dedicated materialization
        # job per batch and its blocks lingered until GC. persist()
        # fills on the first consumer with no extra job, and the
        # finally-unpersist initiates freeing at a known point (the
        # removal itself is asynchronous — unpersist defaults to
        # blocking=False — but blocks stop accumulating across batches,
        # unlike checkpoint blocks which wait for a driver GC).
        batch = batch_df.persist()
        freelist: list[DataFrame] = []
        try:
            _sink_body(spark, batch, batch_id, freelist)
        finally:
            batch.unpersist()
            for df in freelist:
                df.unpersist()

    def _sink_body(
        spark, batch: DataFrame, batch_id: int, freelist: list
    ) -> None:
        # NON-NULL event time is a hard precondition, guarded here in
        # the sink's fail-loud style: F.min skips NULLs and both the
        # foreign probe (ts >= bmin) and the offset count (ts < bmin)
        # exclude NULL-ts rows, so a NULL-ts event would bypass the
        # order guard AND the offsets and silently mint a duplicate
        # per-key rank (NULLS FIRST in the asc window). The emptiness
        # probe is folded in too (min NULL + zero NULL-count can only
        # be an empty batch) — one batch scan, not three.
        brow = batch.agg(
            F.min(ts_col).alias("m"),
            F.max(ts_col).alias("M"),
            F.sum(
                F.when(F.col(ts_col).isNull(), 1).otherwise(0)
            ).alias("nn"),
            F.sum(
                F.when(F.col(id_col).isNull(), 1).otherwise(0)
            ).alias("ni"),
        ).first()
        if brow["nn"]:
            raise RankOrderViolation(
                f"micro-batch {batch_id} contains {brow['nn']} NULL "
                f"{ts_col} rows — event time must be non-null for "
                "incremental rank maintenance (NULL-ts rows bypass "
                "the order guard and the offset count); filter or "
                "impute upstream"
            )
        if brow["ni"]:
            # row identity is what makes replays detectable (foreign
            # probe matches by id) and the keyed upsert a REPLACE — a
            # NULL id matches nothing under ANSI MERGE semantics, so a
            # replayed NULL-id row would silently insert a duplicate
            raise RankOrderViolation(
                f"micro-batch {batch_id} contains {brow['ni']} NULL "
                f"{id_col} rows — row identity must be non-null for "
                "incremental rank maintenance (a NULL id breaks replay "
                "detection and duplicates on upsert); filter or assign "
                "ids upstream"
            )
        if brow["m"] is None:
            return  # empty micro-batch
        bmin, bmax = brow["m"], brow["M"]

        def _since(df: DataFrame, lob) -> DataFrame:
            # partition-prune a ts-lower-bounded scan: the bucket
            # string is time-monotone (yyyy-prefixed fmt contract), so
            # __p_month >= fmt(lob) is a constant-folded partition
            # predicate that skips every older bucket's files
            if partition_by_month:
                df = df.filter(
                    F.col("__p_month")
                    >= F.date_format(F.lit(lob), partition_fmt)
                )
            return df
        # explicit existence probe, not try/except around the scan: a
        # missing first-batch table is the normal case, and letting the
        # AnalysisException fly inside foreachBatch makes the streaming
        # engine log a scary (but handled) ERROR every cold start
        from pathlib import Path

        existing = (
            read_table(spark, warehouse_dir, table)
            if (Path(warehouse_dir) / table).exists()
            else None
        )
        ranked = two_pass_key_rank(
            batch,
            [key_col],
            [F.asc(ts_col), F.asc(id_col)],
            rank_col,
        )
        meta = _cache_meta(
            batch, key_col, ts_col, partition_by_month, partition_fmt
        )
        cache_on = _cache_active()
        if existing is not None:
            if partition_by_month:
                _check_partition_fmt(
                    existing, ts_col, partition_fmt,
                    "stream_rank_maintenance",
                    Path(warehouse_dir) / table,
                    semantic=not run_state["fmt_proven"],
                )
                run_state["fmt_proven"] = True
            # PRECONDITION GUARD (strict order, module docstring): an
            # already-ranked row at ts >= batch-min that the batch does
            # NOT itself contain is a late-arrival overlap or an
            # equal-ts boundary split — ranking NEW rows under it would
            # mint duplicates / leave stale ranks. Replay-safe twice
            # over: a replayed batch's own landed rows match by id (not
            # foreign), and a full RE-DRAIN (fresh checkpoint, later
            # batches already landed) carries no NEW rows at all, so
            # the second check lets it rewrite identical values. Both
            # probes run only in the rare foreign case; the first is
            # ts-bounded (partition-pruned under partition_by_month).
            foreign = (
                _since(existing, bmin)
                .filter(F.col(ts_col) >= F.lit(bmin))
                .join(batch.select(id_col), id_col, "anti")
                .take(1)
            )
            if foreign and batch.join(
                existing.select(id_col), id_col, "anti"
            ).take(1):
                raise RankOrderViolation(
                    f"micro-batch {batch_id} brings NEW rows while "
                    f"already-ranked rows exist at or after its min "
                    f"{ts_col} ({bmin!r}) — strict cross-batch order "
                    "violated (late rows or an equal-ts boundary "
                    "split); use repair_ranks for the offending rows"
                )
            # offsets from the maintained table, NOT a side counter:
            # strict ts < batch-min excludes a replayed batch's own
            # landed rows, so replays recompute identical ranks. The
            # advisory cache bounds the READ: when its watermark is
            # strictly below bmin, cached counts + a partition-pruned
            # delta over (wm, bmin) replace the full-history scan; a
            # replay (wm >= bmin) or an unreadable cache falls back to
            # the full count — the cache can shrink the scan, never
            # change the result. NULL-safe key joins throughout: a
            # NULL key is a normal window partition.
            cached, wm = (
                _read_offsets_cache(spark, warehouse_dir, table, meta)
                if cache_on
                else (None, None)
            )
            if cached is not None and wm < bmin:
                delta = (
                    _since(existing, wm)
                    .filter(
                        (F.col(ts_col) > F.lit(wm))
                        & (F.col(ts_col) < F.lit(bmin))
                    )
                    .groupBy(key_col)
                    .agg(F.count(F.lit(1)).alias("__d"))
                    .withColumnRenamed(key_col, "__kb")
                )
                offsets = _merge_counts(cached, "__n", delta, "__d", "__base")
            else:
                offsets = (
                    existing.filter(F.col(ts_col) < F.lit(bmin))
                    .groupBy(key_col)
                    .agg(F.count(F.lit(1)).alias("__base"))
                    .withColumnRenamed(key_col, "__k")
                )
            if cache_on:
                # reused below for the cache rewrite — lazy persist
                # (r15; was localCheckpoint) so the pruned count runs
                # once without a dedicated materialization job: the
                # count plan is deterministic (file scan + aggregate),
                # the first consumer fills the cache, and the cache
                # rewrite at the end of the batch unpersists it. With
                # the cache off (the default below the size floor)
                # offsets has ONE consumer and any materialization
                # would be a pure extra job.
                offsets = offsets.persist()
                freelist.append(offsets)
            # only the BATCH's keys ride the broadcast into the rank
            # join — the full frame is |all keys ever| and belongs
            # only in the cache rewrite (review finding). NULL-safe
            # semi: a NULL-keyed batch must keep its offset row.
            bkeys = batch.select(F.col(key_col).alias("__kq")).distinct()
            batch_offsets = offsets.join(
                bkeys, F.col("__k").eqNullSafe(F.col("__kq")), "left_semi"
            )
            ranked = (
                ranked.join(
                    F.broadcast(batch_offsets),
                    F.col(key_col).eqNullSafe(F.col("__k")),
                    "left",
                )
                .withColumn(
                    rank_col,
                    (
                        F.coalesce(F.col("__base"), F.lit(0))
                        + F.col(rank_col)
                    ).cast("long"),
                )
                .drop("__base", "__k")
            )
        upsert_by_key(
            spark,
            _p(ranked),
            warehouse_dir,
            table,
            [id_col, *pcols],
            pcols,
        )
        # cache update AFTER the upsert: new counts = (all keys' rows
        # at ts < bmin — the offsets frame) + this batch's rows, at
        # watermark bmax. Crash between upsert and here leaves a STALE
        # watermark, which the next batch's delta term heals; a crash
        # mid-write leaves an unreadable cache, which reads as absent.
        # Under the strict order precondition every pre-batch key has
        # rows below bmin, so offsets ∪ batch covers every key.
        # Below the size floor the update is skipped with the read —
        # full counts are cheaper than maintaining the cache there.
        if not cache_on:
            return
        batch_counts = (
            batch.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("__b"))
            .withColumnRenamed(key_col, "__kb")
        )
        base = (
            offsets
            if existing is not None
            else spark.createDataFrame([], batch_counts.schema)
            .withColumnRenamed("__kb", "__k")
            .withColumnRenamed("__b", "__base")
        )
        new_counts = _merge_counts(base, "__base", batch_counts, "__b", "__n")
        _write_offsets_cache(
            spark, new_counts, bmax, warehouse_dir, table, meta
        )

    q = (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if auto_checkpoint:
            shutil.rmtree(checkpoint_dir, ignore_errors=True)


def repair_ranks(
    spark,
    late_rows: DataFrame,
    warehouse_dir: str,
    table: str = "events_ranked",
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    rank_col: str = "user_seq",
    partition_by_month: bool = False,
    partition_fmt: str = "yyyy-MM",
) -> None:
    """Late-arrival repair for the maintained rank table: when rows
    violate the stream's event-time-order precondition (a late event
    whose ``ts`` precedes already-ranked rows of its key), insert them
    and re-rank — SUFFIX-BOUNDED: for each affected key only the rows
    at or after that key's earliest late ``ts`` are reranked and
    rewritten. Rows strictly before it keep their stored ranks (a
    correct rank over a prefix of the key's total order cannot change
    when rows are inserted after it), and their per-key count is the
    base offset added to the reranked suffix. At 100 TB this is the
    difference that matters: a key with years of history and a
    late event from yesterday repairs in O(one day's rows), never
    O(the key's history) — and the write touches only the suffix's
    partitions.

    Idempotent: re-running with the same late rows recomputes and
    rewrites identical ranks (the late rows are then already present;
    the per-key threshold and prefix counts are unchanged). NULL-safe
    on the key (a NULL-keyed late row repairs the NULL-key partition);
    a late key with no existing rows inserts with base 0. The WRITE is
    bounded only under ``partition_by_month=True`` (matching the
    maintenance layout — touched suffix buckets rewrite); the
    unpartitioned parquet upsert rewrites the whole table, acceptable
    for drives, not for production."""
    from market_data_pipeline_databricks_spark.operators.ranking import (
        two_pass_key_rank,
    )
    from market_data_pipeline_databricks_spark.sources.tables import (
        read_table,
    )
    from market_data_pipeline_databricks_spark.sources.writers import (
        upsert_by_key,
    )

    if partition_by_month:
        _check_fmt_monotone(partition_fmt, "repair_ranks")
    existing = read_table(spark, warehouse_dir, table)
    if partition_by_month:
        from pathlib import Path

        _check_partition_fmt(
            existing, ts_col, partition_fmt, "repair_ranks",
            Path(warehouse_dir) / table,
        )
        existing = existing.drop("__p_month")
    clash = {"__k", "__lo", "__base"} & set(existing.columns)
    if clash:
        raise ValueError(
            f"repair_ranks bookkeeping columns {sorted(clash)} collide "
            "with table columns — rename them first"
        )
    # both non-null preconditions and the max late ts in ONE aggregate
    # (was three jobs — r14: the drive is fixed-job-count-bound): a
    # NULL-ts row landed here would poison every later batch's offset
    # count and order guard (both ts-bounded filters skip NULLs), and
    # a NULL id never matches under ANSI MERGE semantics so a re-run
    # would duplicate instead of replace.
    lrow = late_rows.agg(
        F.sum(F.when(F.col(ts_col).isNull(), 1).otherwise(0)).alias("nn"),
        F.sum(F.when(F.col(id_col).isNull(), 1).otherwise(0)).alias("ni"),
        F.max(ts_col).alias("lmax"),
    ).first()
    if lrow["nn"]:
        raise RankOrderViolation(
            f"late rows contain NULL {ts_col} — event time must be "
            "non-null for rank maintenance; filter or impute upstream"
        )
    if lrow["ni"]:
        raise RankOrderViolation(
            f"late rows contain NULL {id_col} — row identity must be "
            "non-null for rank repair (a NULL id duplicates on "
            "upsert); assign ids upstream"
        )
    # rows BEYOND the table head are not late arrivals: inserting one
    # would trip the maintenance order guard on every subsequent
    # in-order batch until the stream's event time passes it — the
    # stream wedges (review finding). Such rows belong in the stream.
    # The head comparison below runs in driver-side Python, so the two
    # ts types must match exactly (advice finding: a DateType late
    # frame against a TimestampType table — previously coerced by
    # Catalyst — would TypeError or compare differently here).
    lt = late_rows.schema[ts_col].dataType
    et = existing.schema[ts_col].dataType
    if lt != et:
        raise TypeError(
            f"repair_ranks: late rows' {ts_col} type "
            f"{lt.simpleString()} != table's {et.simpleString()} — "
            "cast the late frame to the table's event-time type first"
        )
    head = existing.agg(F.max(ts_col)).first()[0]
    if head is not None and lrow["lmax"] is not None and (
        lrow["lmax"] > head
    ):
        raise RankOrderViolation(
            f"late rows carry {ts_col} beyond the maintained table's "
            f"head ({head!r}) — those are FUTURE events, not late "
            "arrivals; feed them through the stream instead (repairing"
            " them would wedge the order guard for every batch until "
            "event time catches up)"
        )
    # per-key repair threshold: the earliest late ts of that key — a
    # |late keys|-row frame, broadcast to locate the affected rows
    lo_per_key = (
        late_rows.groupBy(key_col)
        .agg(F.min(ts_col).alias("__lo"))
        .withColumnRenamed(key_col, "__k")
    )
    affected = existing.join(
        F.broadcast(lo_per_key),
        F.col(key_col).eqNullSafe(F.col("__k")),
        "inner",
    )
    # prefix rows keep their ranks; their per-key count is the base
    # offset (ties are safe: every prefix ts is STRICTLY below every
    # late/suffix ts of its key, so (ts, id) order across the split
    # cannot interleave)
    base = (
        affected.filter(F.col(ts_col) < F.col("__lo"))
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__base"))
    )
    suffix = (
        affected.filter(F.col(ts_col) >= F.col("__lo"))
        .drop("__k", "__lo", rank_col)
    )
    # union late rows (dedup by id against rows already present — a
    # replayed repair re-delivers the same late rows)
    merged = suffix.unionByName(
        late_rows.select(*suffix.columns)
    ).dropDuplicates([id_col])
    reranked = (
        two_pass_key_rank(
            merged, [key_col], [F.asc(ts_col), F.asc(id_col)], rank_col
        )
        .join(
            F.broadcast(base),
            F.col(key_col).eqNullSafe(F.col("__k")),
            "left",
        )
        .withColumn(
            rank_col,
            (F.coalesce(F.col("__base"), F.lit(0)) + F.col(rank_col))
            .cast("long"),
        )
        .drop("__k", "__base")
    )
    if partition_by_month:
        reranked = reranked.withColumn(
            "__p_month", F.date_format(F.col(ts_col), partition_fmt)
        )
    # invalidate BEFORE the write: late rows land below the cache's
    # watermark, which per-key counts up to one watermark cannot
    # represent. Delete-first is the crash-safe order — a crash after
    # the delete but before (or during) the upsert leaves no cache
    # (next batch full-scans); the reverse order could leave a stale
    # undercounting cache over repaired data, silently minting
    # duplicate ranks.
    invalidate_offsets_cache(warehouse_dir, table)
    upsert_by_key(
        spark,
        reranked,
        warehouse_dir,
        table,
        [id_col, "__p_month"] if partition_by_month else [id_col],
        ["__p_month"] if partition_by_month else None,
    )
