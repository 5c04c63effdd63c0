"""Mini snapshot table format: versioned manifests over immutable
parquet — time travel and file-level copy-on-write MERGE from plain
DataFrame ops.

The Delta/Iceberg core mechanic, built from Spark's own parquet reader
and writer. ``sources/writers.py`` is the other table-write path: it
swaps rewritten partition directories into a plain parquet table,
where this format commits manifests over files it never mutates:

- data files are IMMUTABLE — every commit writes new files under
  ``data/commit-<uuid>/`` and never touches existing ones;
- a version is a JSON manifest ``v<N>.json`` listing exactly the data
  files visible at that version — readers of version N are isolated
  from later commits, and every old version stays readable until
  expired (time travel);
- MERGE is copy-on-write at FILE granularity: only files that contain
  a matched key are rewritten (located with ``input_file_name()`` +
  a broadcast key semi-join — one shuffle-free scan of the key
  columns), untouched files carry over into the new manifest by
  reference.

Scale shape: manifests are SEGMENTED (Iceberg's manifest-list shape —
see the format comment at ``_load_raw``): each commit writes one
immutable segment holding just ITS files+stats, and the version
manifest lists segment names + removed-file tombstones, so a commit
writes O(changed files) of metadata — never the table's file list,
which at ~800k entries would make every commit O(table). The COW
rewrite reads only affected files, so a point-correction batch costs
O(files-containing-matches), never O(table). Every writer publishes
through one commit path (:func:`_commit`), and every pruned read
through one predicate list (:func:`prune_files` / :func:`read_pruned`).

Commit publication is CREATE-EXCLUSIVE: the manifest is written to a
temp file and hard-linked into place, so of two concurrent writers
racing to commit the same version number exactly one wins and the
loser gets :class:`ConcurrentCommitError` — the same optimistic-
concurrency contract Delta/Iceberg give (a plain rename would silently
overwrite the winner: a lost commit).

Reference parity: extends the reference's MERGE/partitioned-DDL
surface (notebooks/bronze/01_ingest_bronze.py:85-107) with the
versioned-read semantics Delta gives it on Databricks.
"""

from __future__ import annotations

import datetime as _dt
import json
import operator
import os
import re
import uuid
import zlib
from functools import reduce
from pathlib import Path
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first. The optimistic-
    concurrency loser: re-read ``latest_version`` and retry the commit
    against the new base (or surface the conflict)."""


class DuplicateKeyBatchError(ValueError):
    """A MERGE batch carried multiple rows for the same key — Delta's
    'multiple source rows matched' error. Applying it would insert all
    duplicates (the anti-join removes the old row once, then every
    batch copy lands); dedupe the batch first."""


def _manifest_path(table_dir: str, version: int) -> Path:
    return Path(table_dir) / f"v{version}.json"


def _segment_path(table_dir: str, name: str) -> Path:
    return Path(table_dir) / name


def _require_absolute(table_dir: str) -> None:
    """A relative table_dir is inherently ambiguous: DataFrame writes
    resolve it against the JVM's working directory while the manifest
    I/O resolves it against the Python process's cwd — two different
    places whenever either side chdirs. Refuse loudly instead of
    writing data one place and manifests another."""
    if not Path(table_dir).is_absolute():
        raise ValueError(
            f"snapshot table_dir must be absolute, got {table_dir!r} "
            "(relative paths resolve differently on the JVM and Python "
            "sides)"
        )


def _versions(table_dir: str) -> list[int]:
    """Every published version number (``v<N>.json``; none when the
    table does not exist)."""
    return [
        int(p.stem[1:])
        for p in Path(table_dir).glob("v*.json")
        if p.stem[1:].isdigit()
    ]


def latest_version(table_dir: str) -> int:
    """Highest committed version, 0 when the table does not exist."""
    return max(_versions(table_dir), default=0)


# ---------------------------------------------------------------------
# Manifest layout: SEGMENTED, Iceberg's manifest-list shape.
#
# A version manifest never embeds the table's full file list: that
# would make every commit — including every streaming micro-batch —
# rewrite O(table-files) of driver-side JSON (hundreds of MB at ~10^6
# files). Instead:
#
# - each commit writes ONE immutable SEGMENT (``seg-<uuid>.json``):
#   exactly the files it added, with their per-file stats;
# - a version manifest (``v<N>.json``) is a MANIFEST LIST: segment
#   names in commit order, a ``removed`` list of file paths dropped
#   from those segments (COW merge / rewrite tombstones), and the
#   active spec. Resolution = union(segment files) - removed.
#
# A commit therefore writes O(changed files) of new bytes plus a
# version manifest of O(#segments + #removed) references — never the
# table's file list. ``removed`` stays bounded because the writers
# that grow it (COW merge, rewrite_to_spec) also COMPACT: a segment
# whose every file is removed is dropped from the list along with its
# tombstones (see _compact_refs). Crash between segment write and the
# exclusive version claim leaks one orphan segment — same bounded,
# reclaimable class as orphan data files, and expire_versions removes
# segments once no retained version references them.
#
# Legacy manifests (inline "files") stay readable forever; the first
# NEW commit over a legacy head migrates its file list into one
# segment (a one-time O(table) write, after which commits are
# O(changed) again).
# ---------------------------------------------------------------------


def _load_raw(table_dir: str, version: int) -> dict:
    return json.loads(_manifest_path(table_dir, version).read_text())


def _spec(table_dir: str, version: int) -> list[str]:
    """The partition spec ``version``'s manifest records (empty for
    version 0 and for legacy/unevolved tables) — one manifest read, no
    segment resolution."""
    if not version:
        return []
    return list(_load_raw(table_dir, version).get("spec", []))


def _union_segments(
    table_dir: str, segments: list[str], removed: list[str]
) -> tuple[list[str], dict[str, dict[str, list]]]:
    """(files, per-file stats) of ``segments`` minus ``removed``. A
    segment deleted by a concurrent expiry run is skipped: expiry only
    removes segments no retained manifest references, so a vanished
    segment's live files are reachable through some retained
    manifest's own segments (same carried-by-reference argument as
    _retained_files)."""
    rm = set(removed)
    files: list[str] = []
    stats: dict[str, dict[str, list]] = {}
    for seg in segments:
        try:
            s = json.loads(_segment_path(table_dir, seg).read_text())
        except FileNotFoundError:
            continue
        files.extend(f for f in s["files"] if f not in rm)
        stats.update(
            (f, st) for f, st in s.get("file_stats", {}).items() if f not in rm
        )
    return files, stats


def _resolved(table_dir: str, version: int) -> dict:
    """Materialize a version manifest to
    ``{"files", "spec", "file_stats", "segments"}`` — segmented and
    legacy (inline ``files``) formats alike. ``segments`` is ``None``
    for legacy manifests."""
    d = _load_raw(table_dir, version)
    segments = d.get("segments")
    if segments is None:
        files, stats = list(d["files"]), dict(d.get("file_stats", {}))
    else:
        files, stats = _union_segments(
            table_dir, segments, d.get("removed", [])
        )
        files, segments = sorted(files), list(segments)
    return {
        "files": files,
        "spec": list(d.get("spec", [])),
        "file_stats": stats,
        "segments": segments,
    }


def _read_manifest(table_dir: str, version: int) -> list[str]:
    return _resolved(table_dir, version)["files"]


def _write_segment(
    table_dir: str,
    files: list[str],
    file_stats: dict[str, dict[str, list]] | None = None,
) -> str:
    """Write one immutable segment (this commit's added files + their
    stats) under a fresh uuid name and return the name. Exclusive +
    durable like manifests; uuid names never collide, so the exclusive
    claim only defends against pathological name reuse."""
    name = f"seg-{uuid.uuid4().hex[:12]}.json"
    payload: dict = {"files": sorted(files)}
    if file_stats:
        listed = set(files)
        payload["file_stats"] = {
            f: s for f, s in file_stats.items() if f in listed
        }
    _exclusive_write(
        _segment_path(table_dir, name),
        json.dumps(payload),
        f"segment {name} already exists in {table_dir} — uuid collision",
    )
    return name


def _base_refs(table_dir: str, prev: int) -> tuple[list[str], list[str]]:
    """(segments, removed) the next commit builds on. A legacy prev
    (inline file list) is MIGRATED: its files+stats become one
    segment — a one-time O(table) write; losers of a concurrent
    migration race leak one orphan segment (bounded, vacuumable)."""
    if not prev:
        return [], []
    d = _load_raw(table_dir, prev)
    if "segments" in d:
        return list(d["segments"]), list(d.get("removed", []))
    seg = _write_segment(
        table_dir, list(d["files"]), dict(d.get("file_stats", {}))
    )
    return [seg], []


#: manifest-list compaction threshold: once a version references this
#: many segments, the next commit merges them into one (Iceberg's
#: manifest-rewrite move). Keeps every manifest O(_MAX_SEGMENTS) refs
#: while the merge cost — O(live files) of driver-side JSON — is paid
#: once per _MAX_SEGMENTS commits: amortized O(files/_MAX_SEGMENTS)
#: per commit, which is what keeps a per-micro-batch streaming
#: committer from growing its manifest forever.
_MAX_SEGMENTS = 64


def _maybe_coalesce_segments(
    table_dir: str, segments: list[str], removed: list[str]
) -> tuple[list[str], list[str]]:
    """Merge the whole segment list into one segment when it has grown
    past _MAX_SEGMENTS (tombstones resolve into the merge, so
    ``removed`` resets to empty). The old segments stay on disk for
    the versions that reference them; expire_versions GCs them once no
    retained manifest does."""
    if len(segments) < _MAX_SEGMENTS:
        return segments, removed
    files, stats = _union_segments(table_dir, segments, removed)
    return [_write_segment(table_dir, files, stats)], []


def _compact_refs(
    table_dir: str, segments: list[str], removed: list[str]
) -> tuple[list[str], list[str]]:
    """Drop segments whose every file is removed, and shrink
    ``removed`` to paths some remaining segment still lists — the
    bound that keeps manifest-list size O(live segments + live
    tombstones) instead of growing forever. O(#segments) driver-side
    JSON reads, run only by the writers that grow ``removed``."""
    rm = set(removed)
    kept_segs: list[str] = []
    listed: set[str] = set()
    for seg in segments:
        try:
            sf = json.loads(_segment_path(table_dir, seg).read_text())[
                "files"
            ]
        except FileNotFoundError:
            continue
        if all(f in rm for f in sf):
            continue
        kept_segs.append(seg)
        listed.update(sf)
    return kept_segs, sorted(rm & listed)


def _fsync_dir(path) -> None:
    """fsync a directory so a just-created entry (the manifest link)
    survives a crash; best-effort on filesystems that reject O_RDONLY
    dir fds (the data write itself is already fsynced)."""
    try:
        fd = os.open(str(path), os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _write_synced(f, payload: str) -> None:
    """Write ``payload`` to the open file ``f``, fsync, and close it."""
    with f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())


def _durable_temp(target: Path, payload: str) -> Path:
    """Write ``payload`` to a fresh temp file beside ``target`` and
    fsync it; the caller links or renames it into place, so the bytes
    are durable BEFORE the name is."""
    tmp = target.with_suffix(f".tmp-{uuid.uuid4().hex[:8]}")
    _write_synced(open(tmp, "w"), payload)
    return tmp


def _exclusive_write(target: Path, payload: str, conflict_msg: str) -> None:
    """Atomic + EXCLUSIVE + DURABLE claim of ``target`` with
    ``payload``: write-to-temp with fsync, then ``os.link`` into place
    (link(2) fails with EEXIST when the target exists), directory
    fsync after the claim. Of two racing writers exactly one wins; the
    loser raises :class:`ConcurrentCommitError` with ``conflict_msg``.
    A reader can never observe a half-written file at the final name.
    Used by version manifests and staging manifests alike."""
    # durability BEFORE the name claim: fsync the bytes (and after the
    # link, the directory entry) so a crash cannot leave a claimed
    # manifest with unflushed content — the committed-but-unreadable
    # state the O_EXCL fallback below also guards against
    tmp = _durable_temp(target, payload)
    try:
        os.link(tmp, target)
        _fsync_dir(target.parent)
        return
    except FileExistsError as exc:
        raise ConcurrentCommitError(conflict_msg) from exc
    except OSError:
        # filesystem without hard links (exFAT/VFAT, some NFS/FUSE
        # mounts): fall back to O_EXCL create — the name claim stays
        # atomic-exclusive (the conflict loser still raises below);
        # only the full-content-at-first-sight property degrades, and
        # only on these filesystems
        pass
    finally:
        tmp.unlink(missing_ok=True)
    try:
        fd = os.open(target, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError as exc:
        raise ConcurrentCommitError(conflict_msg) from exc
    try:
        _write_synced(os.fdopen(fd, "w"), payload)
        _fsync_dir(target.parent)
    except BaseException:
        # a failed write must not leave a claimed-but-truncated
        # manifest at the final name: latest_version() would count the
        # version as committed, readers would crash on it, and every
        # retry would raise ConcurrentCommitError forever — unclaim
        # the name so the commit can be retried
        try:
            os.unlink(target)
        except OSError:
            pass
        raise


def _manifest_payload(
    version: int,
    segments: list[str],
    removed: list[str],
    spec: list[str] | None,
) -> str:
    payload: dict = {
        "version": version,
        "segments": list(segments),
        "removed": sorted(removed),
    }
    if spec:
        payload["spec"] = list(spec)
    return json.dumps(payload)


def _publish(
    table_dir: str,
    version: int,
    segments: list[str],
    removed: list[str],
    spec: list[str] | None = None,
) -> None:
    """Atomic + EXCLUSIVE publication of a MANIFEST LIST (segment
    names + removed-file tombstones + active spec) via
    :func:`_exclusive_write`: two writers racing to the same version
    number cannot both win — the loser raises
    :class:`ConcurrentCommitError` instead of silently replacing the
    winner's commit (which a rename would). The manifest is
    O(#segments + #removed) bytes — never the table's file list (the
    files live in the immutable segments; see the format comment
    above)."""
    _exclusive_write(
        _manifest_path(table_dir, version),
        _manifest_payload(version, segments, removed, spec),
        f"version {version} of {table_dir} was committed by a "
        "concurrent writer — re-read latest_version() and retry",
    )


def _commit(
    table_dir: str,
    prev: int,
    spec: list[str],
    files: list[str] | None = None,
    stats: dict[str, dict[str, list]] | None = None,
    replaced: list[str] | None = None,
) -> tuple[list[str], list[str]]:
    """The one commit path: publish version ``prev + 1`` as the base
    refs of ``prev`` (coalesced past _MAX_SEGMENTS), plus one fresh
    segment for ``files`` (with their ``stats``) when given, with the
    ``replaced`` files tombstoned and fully-dead segments compacted
    away. Prior segments carry by reference — the manifest write is
    O(changed), never O(table). Returns the base ``(segments,
    removed)``: the prior state a caller can roll the claim back to."""
    base = _maybe_coalesce_segments(table_dir, *_base_refs(table_dir, prev))
    segments, removed = base
    if files is not None:
        segments = segments + [_write_segment(table_dir, files, stats)]
    if replaced:
        segments, removed = _compact_refs(
            table_dir, segments, removed + replaced
        )
    _publish(table_dir, prev + 1, segments, removed, spec=spec)
    return base


def active_spec(table_dir: str) -> list[str]:
    """The partition spec new commits should cluster by: the one the
    LATEST manifest records (empty for legacy/unevolved tables)."""
    return _spec(table_dir, latest_version(table_dir))


# --- hidden partitioning (Iceberg-style transform keys) -------------
#
# A spec entry is either a raw column name (identity) or a TRANSFORM
# of a source column: ``month(ts)``, ``day(ts)``, ``bucket(16, key)``,
# ``truncate(1000, key)``. Commits cluster and record per-file bounds
# in TRANSFORM space; queries keep filtering on the SOURCE column and
# pruning maps the predicate into transform space — the partitioning
# stays hidden from query authors, which is the Iceberg insight that
# kills the "forgot the redundant month predicate → full scan" class
# of bug. Monotone transforms (month/day/truncate, identity) prune
# ranges; bucket prunes equality probes (``("eq", key, value)``).
#
# bucket() uses crc32 over the value's string cast — NOT Iceberg's
# murmur3 — because it is cheaply computable on BOTH sides: Spark-side
# per row (F.crc32, codegen) and Python-side at plan time for the
# probe value (zlib.crc32; pinned equal by pytest). Restrict bucket
# keys to int/string columns so the two string casts agree.

_TRANSFORM_RE = re.compile(
    r"^(month|day|bucket|truncate)\("
    r"(?:(\d+)\s*,\s*)?([A-Za-z_][A-Za-z0-9_]*)\)$"
)


def _parse_spec_key(key: str) -> tuple[str, int | None, str]:
    """``spec entry -> (kind, param, source_col)``; raw column names
    parse as ``("identity", None, key)``. Malformed transform syntax
    raises (a typo like ``bucket(ts)`` must not silently become an
    identity column of that name)."""
    m = _TRANSFORM_RE.match(key)
    if m:
        kind, param, src = m.group(1), m.group(2), m.group(3)
        if kind in ("bucket", "truncate"):
            if param is None:
                raise ValueError(
                    f"spec key {key!r}: {kind} needs a numeric first "
                    f"argument — {kind}(N, column)"
                )
            n = int(param)
            if n <= 0:
                raise ValueError(f"spec key {key!r}: N must be positive")
            return (kind, n, src)
        if param is not None:
            raise ValueError(
                f"spec key {key!r}: {kind} takes a single column"
            )
        return (kind, None, src)
    if "(" in key or ")" in key:
        raise ValueError(
            f"unparseable transform spec key {key!r} — supported: "
            "month(col), day(col), bucket(N, col), truncate(W, col), "
            "or a raw column name"
        )
    return ("identity", None, key)


def _derived_expr(key: str):
    """The Spark Column that materializes a spec entry's partition
    value — used for clustering and per-file stats collection."""
    kind, p, src = _parse_spec_key(key)
    if kind == "identity":
        return F.col(src)
    if kind == "month":
        return F.date_format(F.col(src), "yyyy-MM")
    if kind == "day":
        return F.date_format(F.col(src), "yyyy-MM-dd")
    if kind == "bucket":
        return F.pmod(F.crc32(F.col(src).cast("string")), F.lit(p)).cast(
            "int"
        )
    # truncate: width-W value bins, monotone (Iceberg truncate[W])
    return (F.floor(F.col(src) / p) * p).cast("long")


def _check_spec_types(df: DataFrame, spec: list[str]) -> None:
    """Fail-loud transform/column-type compatibility, enforced at
    every clustering site (evolve time has no schema to check): a
    bucket() over a decimal/timestamp key would hash Spark's string
    cast ('371.00') while the Python probe hashes str(371) — a SILENT
    mis-prune; truncate() over a non-numeric column derives all-NULL
    partition values — a silent no-op of the feature."""
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    numeric = integral + (T.FloatType, T.DoubleType, T.DecimalType)
    temporal = (T.DateType, T.TimestampType, T.TimestampNTZType)
    fields = {f.name: f.dataType for f in df.schema.fields}
    for k in spec:
        kind, _p, src = _parse_spec_key(k)
        dt_ = fields.get(src)
        if dt_ is None:
            raise ValueError(
                f"spec key {k!r}: column {src!r} not in the batch "
                f"schema {sorted(fields)}"
            )
        if kind == "bucket" and not isinstance(
            dt_, integral + (T.StringType,)
        ):
            raise TypeError(
                f"bucket() key {src!r} must be an integer or string "
                f"column (the portable crc32-on-string hash requires "
                f"both sides' string casts to agree), got "
                f"{dt_.simpleString()}"
            )
        if kind == "truncate" and not isinstance(dt_, numeric):
            raise TypeError(
                f"truncate() key {src!r} must be numeric, got "
                f"{dt_.simpleString()}"
            )
        if kind in ("month", "day") and not isinstance(dt_, temporal):
            raise TypeError(
                f"{kind}() key {src!r} must be a date/timestamp "
                f"column, got {dt_.simpleString()}"
            )


def _bucket_of(value, n: int) -> int:
    """Python twin of the bucket() transform for plan-time probes —
    must equal Spark's ``pmod(crc32(cast(col as string)), n)`` (CRC-32
    over the UTF-8 string cast; pinned by pytest)."""
    return zlib.crc32(str(value).encode("utf-8")) % n


def _probe_bounds(kind: str, p: int | None, lo, hi):
    """Map a SOURCE-column range into a transform's partition space
    (monotone transforms only — the mapped range covers exactly the
    partition values any matching row can have)."""
    if kind == "identity":
        return lo, hi
    if kind in ("month", "day"):
        for v in (lo, hi):
            if not isinstance(v, (_dt.date, _dt.datetime)):
                raise TypeError(
                    f"{kind}() pruning needs date/datetime probe "
                    f"bounds, got {type(v).__name__}"
                )

        def _f(v):
            # explicit zero-padding, NOT strftime: glibc's %Y prints
            # year 999 as '999' while Spark's yyyy records '0999' —
            # the lexical compare would then mis-prune
            s = f"{v.year:04d}-{v.month:02d}"
            return s if kind == "month" else f"{s}-{v.day:02d}"

        return _f(lo), _f(hi)
    # truncate: floor both ends to the bin width
    return (lo // p) * p, (hi // p) * p


def _local_path(uri: str) -> str:
    """``input_file_name()`` yields ``file://`` URIs; manifests hold
    RESOLVED plain paths — the form both sides of every file-set
    comparison must take."""
    return str(Path(unquote(urlparse(uri).path)).resolve())


def _write_commit_files(df: DataFrame, table_dir: str) -> list[str]:
    commit_dir = Path(table_dir) / "data" / f"commit-{uuid.uuid4().hex[:8]}"
    df.write.mode("error").parquet(str(commit_dir))
    # manifests hold RESOLVED absolute paths: the COW merge compares
    # them against input_file_name() URIs, and a relative table_dir or
    # symlinked cwd would otherwise make the set difference match
    # nothing — every matched key silently kept AND rewritten
    return [str(p.resolve()) for p in commit_dir.glob("*.parquet")]


def _write_clustered(
    df: DataFrame,
    table_dir: str,
    spec: list[str],
    cluster_partitions: int | None = None,
) -> tuple[list[str], dict[str, dict[str, list]] | None]:
    """Write one commit's data files and return ``(files, stats)``.
    Under a non-empty spec the batch is range-clustered on the spec's
    DERIVED partition values (month string, bucket int, ...) so each
    file holds a contiguous value range — tight min/max bounds — and
    the per-file bounds are collected; with no spec, ``stats`` is
    None. ``cluster_partitions`` pins the clustered file count; the
    default lets AQE size range partitions to target bytes."""
    if spec:
        _check_spec_types(df, spec)
        cols = [F.asc(_derived_expr(k)) for k in spec]
        df = (
            df.repartitionByRange(cluster_partitions, *cols)
            if cluster_partitions
            else df.repartitionByRange(*cols)
        )
    files = _write_commit_files(df, table_dir)
    if not spec:
        return files, None
    return files, _collect_file_stats(df.sparkSession, files, spec)


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: exactly the files the manifest lists — later
    commits are invisible (the isolation half of time travel)."""
    _require_absolute(table_dir)
    v = latest_version(table_dir) if version is None else version
    return spark.read.parquet(*_read_manifest(table_dir, v))


def _collect_file_stats(
    spark: SparkSession, files: list[str], keys: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file ``[min, max]`` bounds of the spec keys for a batch of
    just-written data files — the Iceberg-style metadata pass that
    makes manifest-level pruning possible. One column-pruned scan of
    the new files (never the table), grouped by ``input_file_name``.
    JSON-NATIVE bounds only: int/float/bool/str values are recorded;
    any other key type (Decimal, timestamp, date, ...) records None —
    such keys simply never prune (conservative scan, always correct).
    A ``str()`` fallback would be WRONG, not just lossy: a Decimal
    bound stored as ``'1000.00'`` compares lexically below ``'500'``
    and would prune files that hold matching rows. Cluster on
    numeric/string keys, or use a TRANSFORM spec key (``month(ts)``,
    ``day(ts)``, ...) whose derived partition value is JSON-native —
    the hidden-partitioning answer for temporal/decimal domains.

    Transform spec keys record bounds of the DERIVED value (month
    string, bucket int, ...) under the transform string itself.
    """
    aggs = []
    for i, k in enumerate(keys):
        e = _derived_expr(k)
        aggs.append(F.min(e).alias(f"__min_{i}"))
        aggs.append(F.max(e).alias(f"__max_{i}"))
    # bounded collect: one row per just-written data file (the commit's
    # own file count — partition-scaled, never row-scaled)
    rows = (
        spark.read.parquet(*files)
        .withColumn("__file__", F.input_file_name())
        .groupBy("__file__")
        .agg(*aggs)
        .collect()
    )

    def _jsonable(v):
        # None for non-JSON-native types — NOT str() (docstring above)
        return v if isinstance(v, (int, float, str)) or v is None else None

    return {
        _local_path(r["__file__"]): {
            k: [_jsonable(r[f"__min_{i}"]), _jsonable(r[f"__max_{i}"])]
            for i, k in enumerate(keys)
        }
        for r in rows
    }


def commit_append(
    df: DataFrame, table_dir: str, cluster_partitions: int | None = None
) -> int:
    """Append commit: new files join the previous manifest's files by
    reference. Returns the new version number.

    PARTITION-SPEC-AWARE: when the table's active spec (see
    :func:`evolve_partition_spec`) is non-empty, the batch is
    range-clustered on the spec keys before writing and per-file
    bounds are recorded in the manifest for :func:`read_pruned`
    (:func:`_write_clustered`). Files committed under OLDER specs are
    untouched — evolution is rewrite-free; they simply never prune
    (conservative, always correct). ``cluster_partitions`` pins the
    clustered file count; the default lets AQE size range partitions
    to target bytes (the right call for production commits — tests
    and governance drives pin it)."""
    _require_absolute(table_dir)
    Path(table_dir).mkdir(parents=True, exist_ok=True)
    prev = latest_version(table_dir)
    spec = _spec(table_dir, prev)
    files, stats = _write_clustered(df, table_dir, spec, cluster_partitions)
    _commit(table_dir, prev, spec, files, stats)
    return prev + 1


def evolve_partition_spec(table_dir: str, keys: list[str]) -> int:
    """REWRITE-FREE partition evolution (the Iceberg spec-evolution
    mechanic): publish a new version with the SAME files whose manifest
    records a new clustering spec. Every subsequent
    :func:`commit_append` range-clusters its batch on the new keys and
    records per-file min/max bounds; files written before the evolution
    stay valid, unmoved, and simply opt out of pruning. At 100 TB this
    is the only affordable way to change a table's layout — a re-layout
    rewrite is a separate, optional compaction decision (see
    ``sources/layout.py``), never a prerequisite.

    Returns the new version number. Raises on an empty key list:
    un-evolving to a spec of ``[]`` is not supported, which keeps the
    audit trail of manifests monotone (use a fresh table instead)."""
    if not keys:
        raise ValueError(
            "evolve_partition_spec needs at least one clustering key"
        )
    for k in keys:
        _parse_spec_key(k)  # reject malformed transforms at evolve time
    _require_absolute(table_dir)
    prev = latest_version(table_dir)
    if prev == 0:
        raise ValueError(
            f"{table_dir} has no published version to evolve — commit "
            "data first (the spec rides on manifests)"
        )
    _commit(table_dir, prev, list(keys))
    return prev + 1


def rewrite_to_spec(
    spark: SparkSession,
    table_dir: str,
    cluster_partitions: int | None = None,
) -> tuple[int, int]:
    """OPT-IN layout governance: re-cluster the files that predate the
    current partition spec (no recorded bounds for its keys) into
    spec-clustered files with manifest stats, and publish the result as
    a new version. Files already carrying bounds for every spec key are
    untouched — carried by reference, exactly like the COW merge's
    unmatched files. Returns ``(new_version, n_files_rewritten)``
    (``(current, 0)`` when nothing qualifies — no empty commit minted).

    This is the separate compaction DECISION :func:`evolve_partition_spec`
    deliberately does not make: evolution itself is free (one manifest),
    and the historical tail is rewritten only when a governance job
    decides the scan savings pay for the rewrite — at 100 TB usually
    partition-by-partition, oldest first, which this function supports
    by being re-runnable (each run rewrites whatever is still
    statless). A pure re-layout: the published version is
    multiset-identical to its predecessor (pinned by pytest)."""
    _require_absolute(table_dir)
    prev = latest_version(table_dir)
    if prev == 0:
        raise ValueError(f"{table_dir} has no published version")
    d = _resolved(table_dir, prev)
    spec, stats = d["spec"], d["file_stats"]
    if not spec:
        raise ValueError(
            f"{table_dir} has no active partition spec — evolve one "
            "first (rewrite_to_spec is the governance follow-up)"
        )
    statless = [
        f for f in d["files"] if any(k not in stats.get(f, {}) for k in spec)
    ]
    if not statless:
        return prev, 0
    files, new_stats = _write_clustered(
        spark.read.parquet(*statless), table_dir, spec, cluster_partitions
    )
    # rewritten files become tombstones against their old segments;
    # the rewrite output is one fresh segment with tight bounds. Kept
    # files never move — their segments (and stats) carry by reference.
    _commit(table_dir, prev, spec, files, new_stats, replaced=statless)
    return prev + 1, len(statless)


def _prune(
    files: list[str],
    stats: dict[str, dict[str, list]],
    probes: dict[str, tuple],
) -> list[str]:
    """Shared prune loop: keep a file unless SOME probe entry's
    recorded bounds provably exclude it. ``probes`` maps spec-entry
    strings to ``(lo, hi)`` ranges ALREADY in that entry's partition
    space. Files with no/NULL bounds for an entry are never excluded
    by it (pre-evolution commits — conservative, always correct)."""
    kept = []
    for f in files:
        for s, (plo, phi) in probes.items():
            b = stats.get(f, {}).get(s)
            if b is None or b[0] is None or b[1] is None:
                continue  # no bounds under this entry: cannot prune
            want_str = isinstance(plo, str) or isinstance(phi, str)
            if isinstance(b[0], str) != want_str:
                # mixed-kind compare would be lexical-vs-numeric
                # nonsense; refuse loudly rather than mis-prune
                raise TypeError(
                    f"prune({s!r}): recorded bounds are "
                    f"{'string' if isinstance(b[0], str) else 'numeric'}"
                    f" but the probe is "
                    f"{'string' if want_str else 'numeric'} — pass the "
                    "key's native kind"
                )
            if b[1] < plo or b[0] > phi:
                break
        else:
            kept.append(f)
    return kept


def _range_probes(
    spec: list[str], stats: dict, key: str, lo, hi
) -> dict[str, tuple]:
    """Every spec entry that can range-prune a ``key BETWEEN lo AND
    hi`` predicate, with the probe mapped into its partition space:
    the identity entry plus every MONOTONE transform of ``key``
    (month/day/truncate — bucket hashes are not monotone, so a range
    tells them nothing). Also admits ``key`` itself when older
    manifests recorded bounds under it but the current spec no longer
    lists it (stats survive spec evolution; they should keep pruning).
    """
    probes: dict[str, tuple] = {}
    for s in spec:
        kind, p, src = _parse_spec_key(s)
        if src == key and kind != "bucket":
            probes[s] = _probe_bounds(kind, p, lo, hi)
    if key not in probes and any(key in st for st in stats.values()):
        kind, p, src = _parse_spec_key(key)
        if kind != "bucket":
            probes[key] = _probe_bounds(kind, p, lo, hi)
    return probes


def _eq_probes(
    spec: list[str], stats: dict, key: str, value
) -> dict[str, tuple]:
    """Probe set for ``key = value``: every monotone entry with the
    degenerate range ``[value, value]`` plus every ``bucket(N, key)``
    entry with the probe value's own bucket — the equality-lookup half
    of hidden partitioning (a hash bucket cannot serve ranges, but a
    point probe lands in exactly one bucket)."""
    probes = _range_probes(spec, stats, key, value, value)
    for s in spec:
        kind, p, src = _parse_spec_key(s)
        if src == key and kind == "bucket":
            if isinstance(value, bool) or not isinstance(
                value, (int, str)
            ):
                # a float/decimal probe would hash str(371.0) while
                # the column hashed '371' — silent mis-prune; the key
                # column itself is int/string by _check_spec_types
                raise TypeError(
                    f"bucket() probe for {key!r} must be an int or "
                    f"str, got {type(value).__name__}"
                )
            b = _bucket_of(value, p)
            probes[s] = (b, b)
    return probes


def _pruned(
    table_dir: str, preds: list[tuple], version: int | None
) -> tuple[list[str], list[str]]:
    """``(kept_files, all_files)`` at ``version`` under the conjunction
    ``preds``, resolving the manifest once. Each predicate prunes
    through its own spec entries and the kept set is the intersection."""
    _require_absolute(table_dir)
    d = _resolved(
        table_dir, latest_version(table_dir) if version is None else version
    )
    spec, stats = d["spec"], d["file_stats"]
    kept = d["files"]
    for pred in preds:
        op = pred[0]
        if op == "between":
            _op, key, lo, hi = pred
            probes = _range_probes(spec, stats, key, lo, hi)
        elif op == "eq":
            _op, key, value = pred
            probes = _eq_probes(spec, stats, key, value)
        else:
            raise ValueError(
                f"prune_files: unknown predicate op {op!r} — "
                "supported: ('between', key, lo, hi), ('eq', key, value)"
            )
        kept = _prune(kept, stats, probes)
    return kept, d["files"]


def prune_files(
    table_dir: str,
    preds: list[tuple],
    version: int | None = None,
) -> tuple[list[str], int]:
    """Manifest-level file pruning under a CONJUNCTION of SOURCE-column
    predicates, each ``("between", key, lo, hi)`` or ``("eq", key,
    value)``; a single-key filter is a one-element list. A file
    survives only if EVERY predicate can match it:

    - a range prunes through the identity entry of ``key`` and every
      monotone TRANSFORM entry of it (month/day/truncate) — pruning
      through ``month(ts)`` from a plain ``ts`` range is the hidden-
      partitioning contract; query authors never name a transform;
    - an equality prunes like the degenerate range ``[value, value]``
      AND through every ``bucket(N, key)`` entry by hashing the probe
      value into its bucket;
    - with a composite spec like ``["month(ts)", "bucket(8, key)"]``
      a time range AND a key equality skip through BOTH entries — each
      dimension alone keeps strictly more. Two predicates over the
      same key simply intersect.

    Files with no recorded bounds under a predicate's entries are never
    excluded by it (pre-evolution commits — conservative, always
    correct). Returns ``(kept_files, total_files)``. Pure manifest
    arithmetic — no Spark job, no file I/O beyond the JSON manifest; at
    100 TB this is the planning-time skip that turns a point/range
    query into an O(matching-files) scan."""
    kept, files = _pruned(table_dir, preds, version)
    return kept, len(files)


def read_pruned(
    spark: SparkSession,
    table_dir: str,
    preds: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Snapshot read under a conjunction of source-column predicates
    (the forms :func:`prune_files` takes) with manifest-level file
    skipping plus the residual AND filter — exactness never depends on
    the pruning (bounds only ever EXCLUDE files that provably hold no
    matching row). The residual also reaches the parquet scan as
    pushed predicates, so kept files still row-group-skip on their
    footers."""
    kept, files = _pruned(table_dir, preds, version)
    # an empty kept set still returns the manifest's column shape: a
    # schema-only read of all files that scans nothing
    df = (
        spark.read.parquet(*kept)
        if kept
        else spark.read.parquet(*files).limit(0)
    )
    conds = [
        F.col(p[1]).between(p[2], p[3])
        if p[0] == "between"
        else F.col(p[1]) == F.lit(p[2])
        for p in preds
    ]
    return df.filter(reduce(operator.and_, conds)) if conds else df


def commit_merge_keys(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    key_cols: list[str],
) -> int:
    """Copy-on-write MERGE: rows whose ``key_cols`` match the batch are
    replaced by the batch row; everything else survives. Only files
    that CONTAIN a matched key are rewritten — located by scanning the
    key columns with ``input_file_name()`` against the broadcast key
    set — and unmatched files carry into the new manifest untouched,
    so the rewrite is O(affected files). Old versions keep reading the
    pre-merge files (they are never deleted here; expiry is a separate
    retention decision). Returns the new version number.

    The batch must hold at most ONE row per key: a duplicate-keyed
    batch raises :class:`DuplicateKeyBatchError` (Delta MERGE's
    'multiple source rows matched' error) — otherwise the anti-join
    removes the old row once and every duplicate batch row would land.
    The check is one key-column aggregate over the batch (batch-scaled,
    never table-scaled)."""
    from market_data_pipeline_databricks_spark.sources.writers import (
        _null_safe_join,
    )

    _require_absolute(table_dir)
    # groupBy keeps NULL keys (countDistinct would drop them), so the
    # uniqueness check is null-safe; only the key columns are scanned
    dup = (
        batch.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .first()
    )
    if dup is not None:
        raise DuplicateKeyBatchError(
            f"merge batch has {dup['n']} rows for key "
            f"{tuple(dup[k] for k in key_cols)!r} — one row per key "
            "required (Delta MERGE multiple-source-match semantics)"
        )
    prev = latest_version(table_dir)
    if prev == 0:
        return commit_append(batch, table_dir)
    prior_files = _read_manifest(table_dir, prev)
    cur = spark.read.parquet(*prior_files).withColumn(
        "__file__", F.input_file_name()
    )
    keys = batch.select(*key_cols).distinct()
    # NULL-SAFE key matching (writers.py helpers): with plain equality
    # a NULL-keyed batch row never replaces the existing NULL-keyed
    # row — both silently survive the merge
    # bounded collect: one row per data file that contains a matched
    # key — the COW working set, never row-scaled
    affected_set = {
        _local_path(r["__file__"])
        for r in _null_safe_join(cur, keys, key_cols, "left_semi")
        .select("__file__")
        .distinct()
        .collect()
    }
    replaced = [
        f for f in prior_files if str(Path(f).resolve()) in affected_set
    ]
    merged = batch
    if affected_set:
        survivors = _null_safe_join(
            spark.read.parquet(*sorted(affected_set)), keys, key_cols,
            "left_anti",
        )
        merged = survivors.unionByName(batch.select(*survivors.columns))
    spec = _spec(table_dir, prev)
    # untouched files (and their bounds) carry by SEGMENT reference;
    # replaced files become tombstones; the COW output is one fresh
    # segment, re-clustered with fresh bounds when a spec is active
    files, stats = _write_clustered(merged, table_dir, spec)
    _commit(table_dir, prev, spec, files, stats, replaced=replaced)
    return prev + 1


def expire_versions(table_dir: str, keep_last: int = 1) -> tuple[int, int]:
    """VACUUM: drop manifests older than the newest ``keep_last``
    versions and delete every data file no retained version references.
    Returns (versions_removed, files_deleted), where
    ``versions_removed`` counts manifests THIS RUN actually removed —
    NOT the size of the requested drop range. Expiry is idempotent
    under re-runs and concurrent runs (the cron shape): versions an
    earlier run already deleted are skipped, so a re-run over an
    already-expired range returns ``(0, 0)``; callers verifying "all
    requested versions are gone" should check ``latest_version`` /
    manifest presence, not this count. Retained versions are
    untouched — their manifests pin their files, so reads of any kept
    version are unaffected (the retention/undrop trade every table
    format documents). ``keep_last`` must be at least 1: retaining no
    version would delete every manifest and data file of the table.
    Driver-side work is manifest-scaled (file lists), never
    row-scaled."""
    if keep_last < 1:
        raise ValueError(
            f"expire_versions needs keep_last >= 1, got {keep_last} — "
            "retaining no version would delete the whole table"
        )
    latest = latest_version(table_dir)
    if latest == 0:
        return (0, 0)
    keep = set(range(max(1, latest - keep_last + 1), latest + 1))
    drop = [v for v in range(1, latest + 1) if v not in keep]
    referenced: set[str] = set()
    referenced_segs: set[str] = set()
    for v in keep:
        d = _resolved(table_dir, v)
        referenced.update(d["files"])
        referenced_segs.update(d["segments"] or [])
    files_deleted = 0
    versions_removed = 0
    doomed_segs: set[str] = set()
    for v in drop:
        try:
            d = _resolved(table_dir, v)
        except FileNotFoundError:
            # already removed by an earlier expiry run — the drop range
            # always starts at v1, so RE-RUNNING retention (the normal
            # cron shape) walks versions prior runs deleted; skipping
            # them is what makes expiry idempotent (pinned by the
            # multi-process torture test)
            continue
        for f in d["files"]:
            if f not in referenced and Path(f).exists():
                Path(f).unlink()
                files_deleted += 1
        doomed_segs.update(d["segments"] or [])
        _manifest_path(table_dir, v).unlink(missing_ok=True)
        versions_removed += 1
    # segment GC: a segment referenced only by dropped manifests is
    # dead metadata (retained manifests pin theirs via referenced_segs
    # — commits share segments by reference, so the head usually pins
    # almost all of them). In-flight segments (written, version not
    # yet claimed) are referenced by NO manifest and are never touched
    # here — same rule that protects in-flight data files.
    for seg in doomed_segs - referenced_segs:
        _segment_path(table_dir, seg).unlink(missing_ok=True)
    return (versions_removed, files_deleted)


# ---------------------------------------------------------------------------
# Write-audit-publish (WAP): stage data files behind an invisible
# branch manifest, audit the staged read, then publish atomically —
# the Iceberg WAP / Delta staging workflow on this snapshot format.
# ---------------------------------------------------------------------------


def _staging_path(table_dir: str, branch: str) -> Path:
    if not branch or any(c in branch for c in "/\\"):
        raise ValueError(f"invalid staging branch name {branch!r}")
    return Path(table_dir) / f"staging-{branch}.json"


def stage_append(df: DataFrame, table_dir: str, branch: str) -> int:
    """Stage an append WITHOUT publishing: data files land under the
    table's data dir, referenced only by ``staging-{branch}.json`` —
    ``latest_version``/``read_version`` glob ``v*.json`` and never see
    them, so readers are isolated until :func:`publish_staged`.
    Returns the number of staged files. One staged branch per name:
    the manifest is claimed with the same create-exclusive durable
    write as version manifests, so of two concurrent stagers exactly
    one wins, the loser raises :class:`ConcurrentCommitError`, and a
    crash mid-write can never leave truncated JSON at the claimed
    name. An existing claim fast-fails BEFORE the batch is written
    (no data files wasted in the common case); a true write/write
    race still loses at the exclusive claim, leaking at most that
    loser's one batch of unreferenced files under ``data/`` — bounded
    by the batch, reclaimable by deleting files no manifest lists."""
    _require_absolute(table_dir)
    Path(table_dir).mkdir(parents=True, exist_ok=True)
    sp = _staging_path(table_dir, branch)
    busy = (
        f"branch {branch!r} already has staged files — publish or "
        "discard them first"
    )
    if sp.exists():
        raise ConcurrentCommitError(busy)
    files = _write_commit_files(df, table_dir)
    _exclusive_write(
        sp, json.dumps({"branch": branch, "files": sorted(files)}), busy
    )
    return len(files)


def read_staged(spark: SparkSession, table_dir: str, branch: str) -> DataFrame:
    """The staged batch alone (the audit surface): exactly the files
    the staging manifest lists."""
    _require_absolute(table_dir)
    files = json.loads(_staging_path(table_dir, branch).read_text())["files"]
    return spark.read.parquet(*files)


def _retained_files(table_dir: str) -> set[str]:
    """Every data file referenced by any still-published manifest."""
    referenced: set[str] = set()
    for v in _versions(table_dir):
        try:
            referenced.update(_resolved(table_dir, v)["files"])
        except FileNotFoundError:
            # concurrent expire_versions unlinked it between glob and
            # read: an expired version's still-live files are carried
            # forward by retained manifests (commits are by-reference —
            # _union_segments skips a concurrently GC'd segment on the
            # same argument), so skipping it loses nothing
            continue
    return referenced


def publish_staged(table_dir: str, branch: str) -> int:
    """Atomically publish the staged append as the next version: the
    new manifest references the current latest version's files PLUS
    the staged files (append semantics compose with any commits that
    landed between stage and publish), via the same :func:`_commit`
    every commit uses. The staging manifest is removed AFTER the
    publish; if a previous attempt crashed in that window (version
    published, staging manifest left behind), the retry detects the
    staged files already referenced by SOME retained manifest (not
    just the latest — an intervening COW merge moves them out of the
    head version without unpublishing them), removes the leftover
    marker, and returns the current version — idempotent, never
    double-appending. If retention has meanwhile EXPIRED the
    version holding the staged files (some staged files no longer on
    disk), the retry raises instead of publishing a manifest that
    references deleted files — discard the stale marker. Returns the
    published version number.

    Concurrency contract: ONE operator per branch. publish_staged and
    discard_staged on the SAME branch must not race each other — the
    workflow is stage → audit → exactly one of publish/discard, by the
    one job that owns the branch (the WAP pattern's premise). As
    defense in depth the publish re-verifies staged-file existence
    AFTER winning the exclusive manifest claim and, if a concurrent
    discard won the files, rewrites the claimed manifest in place as a
    NO-OP version (tombstone rollback — references the prior files
    only, never unlinked, so the version chain can never have a hole
    regardless of what concurrent committers did meanwhile). This
    NARROWS the contract-violation window (the check-then-claim race
    remains; only branch ownership eliminates it)."""
    _require_absolute(table_dir)
    sp = _staging_path(table_dir, branch)
    staged = json.loads(sp.read_text())["files"]
    prev = latest_version(table_dir)
    if not staged:
        # empty staged batch: nothing to append — pure marker cleanup
        # (also the crash-retry shape for an empty batch; publishing
        # would mint a duplicate no-op version)
        sp.unlink()
        if prev == 0:
            raise ValueError(
                "empty staged batch on a never-published table: marker "
                "removed, but there is no version to return — commit "
                "data before publishing"
            )
        return prev
    if set(staged) <= _retained_files(table_dir):
        # crash-retry: a previous publish_staged died between _publish
        # and unlink — the staged files are already live in a
        # published version, so only the leftover marker needs removing
        sp.unlink()
        return prev
    missing = [f for f in staged if not Path(f).exists()]
    if missing:
        raise ConcurrentCommitError(
            f"staging marker for branch {branch!r} is stale: "
            f"{len(missing)} staged file(s) no longer exist (a crashed "
            "publish followed by retention expiry) — discard_staged "
            "the marker instead of publishing deleted files"
        )
    # spec carries forward; staged files were written by stage_append
    # without spec clustering, so they get no bounds (conservative —
    # they scan, never mis-prune)
    wap_spec = _spec(table_dir, prev)
    base_segments, base_removed = _commit(table_dir, prev, wap_spec, staged)
    # defense in depth against a concurrent discard_staged (contract
    # violation): if any staged file vanished between the check above
    # and the claim, neutralize the just-claimed manifest and raise
    # rather than leave a version referencing deleted files. The
    # rollback is TOMBSTONE-based, never an unlink: the v(prev+1)
    # manifest is atomically rewritten in place (os.replace) to
    # reference prior_files only — a no-op version equal to v(prev).
    # An unlink guarded by a head check would be a TOCTOU: a
    # concurrent commit_append can publish v(prev+2) between the check
    # and the unlink, and the unlink would then punch a hole in the
    # version chain. With the rewrite, every version number stays
    # readable forever; the residual exposure is a commit_append that
    # read v(prev+1) BEFORE the rewrite and so carries the deleted
    # staged files forward — that window exists under any rollback
    # mechanism and is exactly the one-operator-per-branch contract
    # violation this guard bounds (to a failed publish + an error,
    # never a missing version).
    gone = [f for f in staged if not Path(f).exists()]
    if gone:
        mp = _manifest_path(table_dir, prev + 1)
        if prev == 0:
            # first-ever publish: a prior_files-only tombstone would be
            # an EMPTY v1 that read_version cannot scan (zero parquet
            # paths → AnalysisException at the head version, forever),
            # so the rollback here is an unlink. NOT unconditionally
            # race-free: writers racing the v1 claim itself lost at
            # _exclusive_write, but a commit_append that STARTED after
            # our claim can read latest_version()==1 and publish a v2
            # built on the (doomed) staged files — unlinking v1 then
            # would punch a hole under a live v2. Head re-check: only
            # unlink while v1 is still the head; if a later version
            # already exists, leave the manifest and demand manual
            # repair (honest residual: the re-check itself is a TOCTOU
            # — a v2 landing between check and unlink is the same
            # one-operator-per-branch contract violation this whole
            # guard only BOUNDS, per the tombstone comment above).
            if latest_version(table_dir) == 1:
                mp.unlink(missing_ok=True)
                raise ConcurrentCommitError(
                    f"staged file(s) for branch {branch!r} were deleted "
                    f"during publish ({len(gone)} missing — concurrent "
                    "discard_staged?); the first-version claim was "
                    "unlinked (no prior version exists to tombstone to)"
                )
            raise ConcurrentCommitError(
                f"staged file(s) for branch {branch!r} were deleted "
                f"during publish ({len(gone)} missing) AND a concurrent "
                "commit built a later version on top of the first-"
                "version claim — v1 was left in place (unlinking it "
                "would hole the chain); the chain references deleted "
                "files and needs manual repair (re-commit the data, "
                "then expire the damaged versions)"
            )
        # the tombstone references the PRIOR version's segments only —
        # never the staged-files segment whose data vanished
        os.replace(
            _durable_temp(
                mp,
                _manifest_payload(
                    prev + 1, base_segments, base_removed, wap_spec
                ),
            ),
            mp,
        )
        _fsync_dir(mp.parent)
        raise ConcurrentCommitError(
            f"staged file(s) for branch {branch!r} were deleted during "
            f"publish ({len(gone)} missing — concurrent discard_staged?); "
            f"v{prev + 1} was rewritten as a no-op version referencing "
            "only the prior files (tombstone rollback — the version "
            "chain has no hole)"
        )
    sp.unlink()
    return prev + 1


def discard_staged(table_dir: str, branch: str) -> int:
    """Audit failed: delete the staged data files and the staging
    manifest. Returns the number of files removed. Files that a
    published manifest references are NEVER deleted (a crashed
    publish_staged can leave a stale staging marker whose files are
    already live — deleting them would corrupt the published table);
    for such a marker this is a pure cleanup that removes only the
    marker. Concurrency contract: one operator per branch — never race
    this against publish_staged on the same branch (see
    :func:`publish_staged`; its post-claim re-verify bounds the damage
    of a violation to a failed publish, never a corrupt chain)."""
    _require_absolute(table_dir)
    sp = _staging_path(table_dir, branch)
    files = json.loads(sp.read_text())["files"]
    referenced = _retained_files(table_dir)
    removed = 0
    for f in files:
        p = Path(f)
        if f not in referenced and p.exists():
            p.unlink()
            removed += 1
    sp.unlink()
    return removed
