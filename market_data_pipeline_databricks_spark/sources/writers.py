"""Table sinks: overwrite, append, keyed upsert, keyed erase, compaction
(SURVEY §2.1 S5-S9).

The reference materializes through Delta Lake: ``MERGE INTO`` for bronze
(reference 01_ingest_bronze.py:93-107), full overwrite for silver/gold
(02_transform_silver.py:136-137, 03_aggregate_gold.py:82-95), append for
the DQ log (04_data_quality_checks.py:147-156). Here a table is a
directory of parquet files, partitioned hive-style (``col=value``
directories), and the MERGE is :func:`upsert_by_key`.

The keyed writes — :func:`upsert_by_key`, :func:`erase_keys` and
:func:`compact_table` — share one path:

- the partitions a write touches are computed inside Spark in one
  rendering, the directory name (:func:`_render`). The same form is
  compared with the live directories, becomes the literal partition
  predicate of the existing-table scan, and decides which emptied
  partitions to remove;
- the table is read with its partition columns typed by the writer,
  never inferred from directory names, so the string cast of a
  read-back value names its directory again. The upsert reads it with
  the batch's schema; erase and compaction, which know no schema, read
  it through :func:`_read_live`;
- only the touched partitions are written, to a hidden staging
  directory, and :func:`_swap_staged` publishes them. It is the only
  function that deletes or moves a table directory.

An upsert appends where it can. Its probe finds the touched partitions
that hold a batch key; only those are rewritten. Every other touched
partition gets the batch's rows as new files, moved in beside its live
ones, unless it already holds ``_MAX_PARTITION_FILES`` files: then it is
rewritten, which compacts it.

Failure semantics (:func:`_swap_staged`): publishing is a sequence of
renames of whole staged files and directories, not atomic across them.
A crash mid-publish leaves whole files, some partitions or files with
the batch's rows and some without, and an orphaned staging directory
that :func:`cleanup_staging` removes. Re-running the same write heals
the table: a batch key that was published makes its partition a
rewrite, which replaces the row, and the rest append as before. The
one gap is a replaced partition caught between its two renames (old
aside, new in): it is missing until restored from the staging
directory.
"""

from __future__ import annotations

import shutil
import uuid
from functools import reduce
from operator import and_, or_
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from market_data_pipeline_databricks_spark.schemas import partitions_last


def _table_path(warehouse_dir: str, table: str) -> Path:
    return Path(warehouse_dir) / table


def overwrite_table(
    df: DataFrame, warehouse_dir: str, table: str, partition_cols: list[str] | None = None
) -> None:
    """Deterministic full rewrite (silver/gold pattern, S7/S8)."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(_table_path(warehouse_dir, table)))


def append_table(
    df: DataFrame, warehouse_dir: str, table: str, partition_cols: list[str] | None = None
) -> None:
    """Append-only audit-log sink (DQ pattern, S9)."""
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(_table_path(warehouse_dir, table)))


# Hive's directory name for a NULL partition value. Spark writes an
# empty string to the same directory.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: files a partition may hold before an append rewrites it instead: each
#: batch that adds rows without touching a live key adds a file, and a
#: scan pays per file.
_MAX_PARTITION_FILES = 8

#: live bytes one rewrite task reads: the session's default split size
_TASK_BYTES = 128 * 1024 * 1024

#: literal-predicate cap: past this many touched live partitions the
#: OR-of-conjunctions plan text outgrows its benefit, and a broadcast
#: semi-join on the rendered values selects the same rows.
_MAX_LITERAL_PARTITIONS = 512


def _render(col: Column) -> Column:
    """A partition value as Spark names its directory: ``cast(col as
    string)``, with NULL and ``''`` as ``__HIVE_DEFAULT_PARTITION__``.
    The one rendering behind the touched set, the live-directory
    comparison, the literal partition predicate and the emptied-
    partition cleanup."""
    s = col.cast("string")
    return F.when(s.isNull() | (s == ""), F.lit(_HIVE_NULL)).otherwise(s)


def _touched(
    frame: DataFrame, partition_cols: list[str], flag: Column
) -> dict[tuple[str, ...], bool]:
    """Rendered partition tuple of ``frame`` -> max of ``flag`` over its
    rows: one collect of one small row per partition, never per data
    row."""
    rows = (
        frame.groupBy(*[_render(F.col(c)).alias(c) for c in partition_cols])
        .agg(F.max(flag))
        .collect()
    )
    return {tuple(r[:-1]): r[-1] for r in rows}


def _partition_dirs(
    root: Path, partition_cols: list[str]
) -> dict[tuple[str, ...], Path]:
    """Leaf partition directories under ``root``, keyed by their
    unescaped ``col=value`` names — the rendered tuples."""
    level = [root]
    for col in partition_cols:
        level = [
            child
            for d in level
            for child in d.iterdir()
            if child.is_dir() and child.name.startswith(f"{col}=")
        ]
    return {
        tuple(unquote(p.split("=", 1)[1]) for p in leaf.relative_to(root).parts): leaf
        for leaf in level
    }


def _read_live(
    spark: SparkSession, path: Path, partition_types: dict[str, T.DataType]
) -> DataFrame:
    """The table at ``path`` with its partition columns typed as given
    instead of inferred from directory names. Inference reads
    ``p=007`` as 7 and a lone ``p=1.0E20`` as a decimal, whose string
    casts no longer name their directories."""
    df = spark.read.parquet(str(path))
    if not partition_types:
        return df
    schema = T.StructType([
        T.StructField(f.name, partition_types.get(f.name, f.dataType))
        for f in df.schema
    ])
    return spark.read.schema(schema).parquet(str(path))


def _live_rows(
    existing: DataFrame,
    path: Path,
    partition_cols: list[str],
    touched: set[tuple[str, ...]],
) -> DataFrame | None:
    """Rows of ``existing`` in the touched partitions that have a
    directory on disk, or None when none has one: a batch of new
    partitions (a time-ordered stream appending buckets) then merges
    with nothing and its staged write is a pure write of the batch.

    The selection is a literal predicate over partition columns only,
    so Catalyst applies it to the partition spec at planning time
    (``PartitionFilters``) and the scan never lists untouched
    partitions' files."""
    merge = sorted(touched & _partition_dirs(path, partition_cols).keys())
    if not merge:
        return None
    if len(merge) <= _MAX_LITERAL_PARTITIONS:
        return existing.filter(reduce(or_, [
            reduce(and_, [_render(F.col(c)) == v for c, v in zip(partition_cols, tup)])
            for tup in merge
        ]))
    wanted = existing.sparkSession.createDataFrame(
        merge, [f"__p_{c}" for c in partition_cols]
    )
    cond = reduce(and_, [
        _render(existing[c]) == wanted[f"__p_{c}"] for c in partition_cols
    ])
    return existing.join(F.broadcast(wanted), cond, "left_semi")


def _null_safe_join(
    df: DataFrame, small: DataFrame, cols: list[str], how: str
) -> DataFrame:
    """``df`` joined ``how`` (``left_semi`` or ``left_anti``) with the
    broadcast ``small`` on ``cols``, matching NULL to NULL — a plain
    ``on=cols`` join would never match a NULL key or partition value.

    ``small``'s columns are re-aliased to fresh names (and so fresh
    expression IDs). When ``small`` derives from ``df`` — ``erase_keys``
    locates partitions from the table it erases — ``df[c]`` and
    ``small[c]`` would otherwise resolve to the same attribute, the
    condition would degenerate to the trivially true ``c <=> c``, and
    the join would keep every row without an error."""
    fresh = small.select([F.col(c).alias(f"__nss_{c}") for c in cols])
    cond = reduce(and_, [df[c].eqNullSafe(F.col(f"__nss_{c}")) for c in cols])
    return df.join(F.broadcast(fresh), cond, how)


def upsert_by_key(
    spark: SparkSession,
    updates: DataFrame,
    warehouse_dir: str,
    table: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    null_safe_keys: bool = False,
) -> None:
    """Idempotent MERGE-style upsert on ``key_cols`` (S6).

    Matched rows are fully replaced by the update row (the reference's
    WHEN MATCHED UPDATE SET <all cols>); unmatched rows are inserted.
    Re-running the same batch is a no-op on the final state. The table
    holds the batch's columns: it is read with ``updates``' schema, so
    no read infers one.

    MATCHING defaults to ANSI MERGE semantics: a NULL key never
    matches, so upserting a NULL-key row INSERTS a second copy instead
    of replacing — exactly what ``MERGE ON a.k = b.k`` does. State
    tables whose key is a normal grouping column (where NULL is a
    legitimate group — e.g. the streaming aggregate maintenance state)
    must pass ``null_safe_keys=True`` to get eqNullSafe replacement;
    without it a NULL-key state row silently duplicates on every
    upsert and downstream reads double-count the group.

    A partitioned table is written per touched partition. One probe —
    a semi-join of the table with the batch's keys, folded into the
    collect of the batch's partitions — finds the partitions where a
    batch key lives now; a key may live in another partition than its
    update row (a corrected trade date on a date-partitioned table).

    - A partition holding a batch key is rewritten without the matched
      rows, plus the batch's rows for it; a partition the batch empties
      is removed.
    - Every other touched partition gets the batch's rows as new files
      beside its live ones, so a day of new bars costs the bars, not
      the history. A partition that already holds
      ``_MAX_PARTITION_FILES`` files is rewritten instead, which
      compacts it.

    A writer that keeps a table unique on ``key_cols`` (bronze on
    ``(symbol, date)``: ``bronze_batch`` drops NULL and duplicate keys)
    therefore keeps it unique. An unpartitioned table is rewritten
    whole.

    ``updates`` is checkpointed lazily, because its plan feeds the
    probe, the key anti-join and the staged write. A persisted plan
    would cost one more job per scan of it: adaptive execution
    materializes each cached scan as a query stage of its own.
    """
    path = _table_path(warehouse_dir, table)
    partition_cols = partition_cols or []

    if not path.exists():
        overwrite_table(updates, warehouse_dir, table, partition_cols)
        return

    schema = partitions_last(updates.schema, partition_cols)
    existing = spark.read.schema(schema).parquet(str(path))
    updates = updates.localCheckpoint(eager=False)
    key_set = updates.select(*key_cols)

    def without_batch_keys(df: DataFrame, how: str) -> DataFrame:
        if null_safe_keys:
            return _null_safe_join(df, key_set, key_cols, how)
        return df.join(F.broadcast(key_set), key_cols, how)

    rewrite, affected = None, existing
    if partition_cols:
        prior = without_batch_keys(existing, "left_semi")
        probe = updates.select(*partition_cols, F.lit(False).alias("__hit"))
        probe = probe.unionByName(
            prior.select(*partition_cols, F.lit(True).alias("__hit"))
        )
        hit = _touched(probe, partition_cols, F.col("__hit"))
        live = _partition_dirs(path, partition_cols)
        rewrite = {
            vals for vals, is_hit in hit.items()
            if is_hit or (vals in live and _file_count(live[vals]) >= _MAX_PARTITION_FILES)
        }
        affected = _live_rows(existing, path, partition_cols, rewrite)

    merged = updates.select(*existing.columns)
    if affected is not None:
        merged = without_batch_keys(affected, "left_anti").unionByName(merged)
        leaves = [path] if rewrite is None else [live[v] for v in rewrite if v in live]
        merged = coalesce_by_bytes(merged, leaves)
    _swap_staged(merged, path, partition_cols, rewrite)


def coalesce_by_bytes(frame: DataFrame, dirs: list[Path]) -> DataFrame:
    """``frame`` in one task per ``_TASK_BYTES`` of the parquet files
    under ``dirs``, without a shuffle. A task writes one file per
    partition value it holds, and a scan's splits mix the files of
    every partition, so this is what keeps a rewrite of several small
    files per partition from writing as many again."""
    nbytes = sum(f.stat().st_size for d in dirs for f in d.rglob("*.parquet"))
    return frame.coalesce(max(1, -(-nbytes // _TASK_BYTES)))


def _file_count(leaf: Path) -> int:
    """Data files in a partition directory (Spark skips ``.``/``_`` names)."""
    return sum(1 for f in leaf.iterdir() if not f.name.startswith((".", "_")))


def _swap_staged(
    frame: DataFrame,
    path: Path,
    partition_cols: list[str],
    rewrite: set[tuple[str, ...]] | None,
) -> None:
    """Write ``frame`` to a hidden staging directory beside the table at
    ``path``, then publish it — the only place a table directory is
    deleted or moved. Staging is required: overwriting a parquet
    directory while lazily reading it corrupts the scan.

    Unpartitioned, the staged directory replaces the table. Partitioned,
    a staged leaf partition in ``rewrite`` replaces its live counterpart;
    any other has its files moved into the live partition, one rename
    each (an append). Then every ``rewrite`` partition that staged no
    rows (its keys moved or were erased) is removed. Publishing at leaf
    granularity keeps untouched sibling partitions that share a
    first-level value.

    Every move is a rename, so a crash leaves no part of a file. A
    replaced directory is first renamed aside into the staging
    directory, and deleted with it once all moves are done, so a crash
    between its two renames leaves it missing from the table, with its
    old files under the orphaned staging directory. Otherwise a crash
    leaves some partitions or files published and some not, and
    re-running the same write heals the table, because a published key
    makes its partition a rewrite."""
    staging = path.parent / f".staging_{path.name}_{uuid.uuid4().hex[:8]}"
    writer = frame.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(staging))
    retired = staging / "_replaced"
    if not partition_cols:
        shutil.move(str(path), str(retired))
        shutil.move(str(staging), str(path))
        shutil.rmtree(path / retired.name)
        return
    staged = _partition_dirs(staging, partition_cols)
    for vals, leaf in staged.items():
        rel = leaf.relative_to(staging)
        dest = path / rel
        if vals not in rewrite and dest.exists():
            for f in sorted(leaf.iterdir()):
                shutil.move(str(f), str(dest / f.name))
            continue
        if dest.exists():
            (retired / rel).parent.mkdir(parents=True, exist_ok=True)
            shutil.move(str(dest), str(retired / rel))
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.move(str(leaf), str(dest))
    shutil.rmtree(staging, ignore_errors=True)
    for vals, leaf in _partition_dirs(path, partition_cols).items():
        if vals in rewrite and vals not in staged:
            shutil.rmtree(leaf)


def cleanup_staging(warehouse_dir: str, older_than_s: float = 86400.0) -> list[str]:
    """Remove orphaned ``.staging_*`` directories left by a crash between
    staging and swap. Public maintenance API, deliberately kept off the
    write path: dot-prefixed dirs are invisible to Spark reads, so an
    orphan only leaks disk and never corrupts results. Only dirs older
    than ``older_than_s`` are removed, so an in-flight writer's staging
    area is never yanked. Returns the removed paths."""
    import time

    root = Path(warehouse_dir)
    removed: list[str] = []
    if not root.exists():
        return removed
    cutoff = time.time() - older_than_s
    for d in root.iterdir():
        if d.is_dir() and d.name.startswith(".staging_") and d.stat().st_mtime < cutoff:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(str(d))
    return removed


def erase_keys(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    keys: DataFrame,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
) -> int:
    """Targeted hard delete (right-to-erasure / bad-record purge):
    remove every row whose ``key_cols`` match ``keys``, rewriting ONLY
    the partitions where those keys currently live. Returns the number
    of rows removed. Idempotent: erasing the same keys again removes 0
    rows and rewrites nothing.

    Scale shape: the key set broadcasts (an erasure batch is small by
    nature); locating affected partitions is one column-pruned semi-join
    over (key, partition) columns; the rewrite is bounded by the
    affected partitions' size, never the table's. The audit trail (how
    many rows were erased) comes from partition-local counts of the
    same frames the rewrite uses — no extra full scan.

    Every key comparison here is NULL-SAFE (eqNullSafe): with plain
    equality a row whose key columns contain NULL could never be
    erased — a silent no-op in a right-to-erasure operator.
    """
    path = _table_path(warehouse_dir, table)
    partition_cols = partition_cols or []
    if not path.exists():
        return 0
    existing = _read_live(spark, path, {c: T.StringType() for c in partition_cols})
    key_set = keys.select(*key_cols).distinct()

    touched, affected = None, existing
    if partition_cols:
        prior = _null_safe_join(existing, key_set, key_cols, "left_semi")
        touched = set(_touched(prior, partition_cols, F.lit(True)))
        affected = _live_rows(existing, path, partition_cols, touched)
        if affected is None:
            return 0

    kept = _null_safe_join(affected, key_set, key_cols, "left_anti")
    removed = affected.count() - kept.count()
    if removed == 0:
        return 0
    _swap_staged(kept, path, partition_cols, touched)
    return removed


def compact_table(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> int:
    """Small-file compaction — the table-maintenance pass every
    long-running ingest needs: streaming/incremental writes accumulate
    tiny parquet files until scan planning and footer reads dominate
    query time. Rewrites each partition into ``ceil(bytes/target)``
    files and swaps the result in. Returns the file count after.

    Scale shape: current file sizes come from a driver-side listing —
    one entry per PARTITION, not per row — and the rewrite is one
    shuffle keyed on (partition cols, salt) where the salt width is
    each partition's target bucket count, so a 10-TB partition fans out
    to ~80 × 128 MB files while a 1-KB partition collapses to one, in
    the same job. Row content is preserved exactly; only file layout
    changes.
    """
    import math

    path = _table_path(warehouse_dir, table)
    partition_cols = partition_cols or []
    df = _read_live(spark, path, {c: T.StringType() for c in partition_cols})

    def _n_files(d: Path) -> int:
        size = sum(f.stat().st_size for f in d.rglob("*.parquet"))
        return max(1, math.ceil(size / target_file_bytes))

    touched = None
    if partition_cols:
        live = _partition_dirs(path, partition_cols)
        bcols = [f"__b_{c}" for c in partition_cols]
        bmap = spark.createDataFrame(
            [(*vals, _n_files(leaf)) for vals, leaf in live.items()],
            [*bcols, "__n_buckets__"],
        )
        cond = reduce(and_, [
            _render(df[c]) == bmap[b] for c, b in zip(partition_cols, bcols)
        ])
        data_cols = [c for c in df.columns if c not in partition_cols]
        df = (
            df.join(F.broadcast(bmap), cond)
            .withColumn(
                "__salt__",
                F.pmod(F.xxhash64(*data_cols), F.col("__n_buckets__")),
            )
            .repartition(*partition_cols, "__salt__")
            .drop(*bcols, "__n_buckets__", "__salt__")
        )
        touched = set(live)
    else:
        df = df.repartition(_n_files(path))
    _swap_staged(df, path, partition_cols, touched)
    return len(list(path.rglob("*.parquet")))


def append_with_schema_evolution(
    spark: SparkSession,
    df: DataFrame,
    warehouse_dir: str,
    table: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Append a batch whose schema may have EVOLVED (new columns) and
    return the merged-schema view of the table.

    Parquet appends are schema-per-file, so the write itself always
    succeeds; the contract this function adds on top:

    - REORDERED or MISSING columns in the batch are aligned to the
      existing schema by NAME (missing -> typed NULL), so a positional
      mismatch can never silently transpose values;
    - genuinely NEW columns are appended after the existing ones
      (evolution, not error) — old files simply lack them;
    - a column whose TYPE changed raises instead of writing a mixed
      column the scan would fail on later (ValueError now beats an
      unreadable table at 100 TB);
    - the returned frame reads with ``mergeSchema=true`` so old rows
      surface NULL for evolved columns.
    """
    path = _table_path(warehouse_dir, table)
    partition_cols = partition_cols or []
    if path.exists():
        existing = spark.read.parquet(str(path))
        ex_types = dict(existing.dtypes)
        new_types = dict(df.dtypes)
        clashes = {
            c: (ex_types[c], new_types[c])
            for c in new_types
            if c in ex_types and ex_types[c] != new_types[c]
        }
        if clashes:
            raise ValueError(
                f"append_with_schema_evolution: type change for {clashes} "
                "— evolve by adding columns, not by mutating types"
            )
        aligned = [
            F.col(c) if c in new_types
            else F.lit(None).cast(ex_types[c]).alias(c)
            for c in existing.columns
        ] + [F.col(c) for c in df.columns if c not in ex_types]
        df = df.select(*aligned)
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(path))
    return spark.read.option("mergeSchema", "true").parquet(str(path))
