"""Lineage records: a derived table follows its source table's files.

Silver and rejected derive from bronze, and gold from silver, partition
by partition: a derived partition depends only on the source partition
of the same value. Each derived table keeps a record at its root,
``_lineage.json`` (Spark's reader skips ``_`` names). Per source
partition it holds the source's data files the partition was built from
and the table's own data files, each as name -> size.

:func:`changes` diffs the directory listings against the record on the
driver, with no Spark job:

- a source partition that only gained files is *appended*: the rows of
  its new files are derived and added to the table as new files;
- a partition whose source files were replaced or removed, whose own
  files no longer match the record, or which the record does not name,
  is *rebuilt* from all of its source files;
- a table partition whose source partition is gone is *removed*.

:func:`publish` writes the derived rows through ``writers._swap_staged``
(a rebuilt or removed partition is replaced, an appended one gets new
files beside its live ones) and then writes the record. A table with no
readable record rebuilds every partition. So a backfill, a crash
between publish and record write, and a table another writer changed
all heal through the same path: their partitions no longer match the
record, and are rebuilt.

Two readers of parquet footers serve the pipeline on the driver, with
no Spark job: :func:`footer_range` (a column's min and max, gold's
append test and cutoffs) and :func:`footer_rows` (a table's row count,
the DQ heartbeat).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame

from market_data_pipeline_databricks_spark.sources.writers import (
    _partition_dirs,
    _swap_staged,
)

RECORD = "_lineage.json"

Part = tuple[str, ...]


def _files(leaf: Path) -> dict[str, int]:
    """Data files of a partition directory, name -> size (Spark skips
    ``.``/``_`` names, and so do its checksum sidecars)."""
    return {
        f.name: f.stat().st_size
        for f in leaf.iterdir()
        if f.is_file() and not f.name.startswith((".", "_"))
    }


def _read_record(table: Path) -> dict[Part, dict]:
    """The record of ``table``, or an empty one when it is missing or
    unreadable: every partition is then rebuilt."""
    try:
        raw = json.loads((table / RECORD).read_text())
        return {
            tuple(map(str, e["values"])): {
                k: {str(name): int(size) for name, size in e[k].items()}
                for k in ("source", "files")
            }
            for e in raw["partitions"]
        }
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return {}


def _write_record(table: Path, record: dict[Part, dict]) -> None:
    """Replace the record in one rename, so a reader never sees half of
    one."""
    tmp = table / f".{RECORD}.tmp"
    tmp.write_text(json.dumps({"partitions": [
        {"values": list(part), **entry} for part, entry in sorted(record.items())
    ]}, sort_keys=True))
    os.replace(tmp, table / RECORD)


@dataclass
class Changes:
    """What a derived table must do to follow its source again."""

    #: the source's partitions now: leaf directory and data files
    leaves: dict[Part, Path]
    listing: dict[Part, dict[str, int]]
    #: the table's own partition directories now
    own: dict[Part, Path]
    #: appended partition -> names of its new source files
    appended: dict[Part, list[str]]
    rebuilt: set[Part]
    removed: set[Part]

    def __bool__(self) -> bool:
        return bool(self.appended or self.rebuilt or self.removed)

    def rebuild(self, part: Part) -> None:
        """Rebuild an appended partition whole instead."""
        del self.appended[part]
        self.rebuilt.add(part)

    def dirs(self, parts) -> list[Path]:
        """The source directories of ``parts``: a scan of one lists it on
        the driver, and takes fewer paths than its files."""
        return [self.leaves[p] for p in sorted(parts)]

    def new_files(self) -> list[Path]:
        """The new source files of every appended partition."""
        return [self.leaves[p] / f for p in sorted(self.appended) for f in self.appended[p]]

    def own_files(self, part: Part) -> list[Path]:
        """The table's data files in ``part``."""
        leaf = self.own.get(part)
        return [] if leaf is None else [leaf / f for f in sorted(_files(leaf))]


def changes(source: Path, table: Path, partition_cols: list[str]) -> Changes:
    """Diff the listings of ``source`` and ``table`` against ``table``'s
    record."""
    leaves = _partition_dirs(source, partition_cols)
    listing = {p: _files(leaf) for p, leaf in leaves.items()}
    own = _partition_dirs(table, partition_cols) if table.exists() else {}
    record = _read_record(table)
    appended: dict[Part, list[str]] = {}
    rebuilt: set[Part] = set()
    for part, files in listing.items():
        entry = record.get(part)
        mine = _files(own[part]) if part in own else {}
        if entry is None or entry["files"] != mine or not entry["source"].items() <= files.items():
            rebuilt.add(part)
        elif len(files) > len(entry["source"]):
            appended[part] = sorted(files.keys() - entry["source"].keys())
    return Changes(leaves, listing, own, appended, rebuilt, set(own) - set(listing))


def publish(frame: DataFrame, table: Path, partition_cols: list[str], ch: Changes) -> None:
    """Publish ``frame``, the rows derived for ``ch``'s appended and
    rebuilt partitions, into ``table``, then record what each partition
    now holds and was built from. With no changes nothing is written
    but a missing or stale record."""
    table.mkdir(parents=True, exist_ok=True)
    if ch:
        _swap_staged(frame, table, partition_cols, ch.rebuilt | ch.removed)
    own = _partition_dirs(table, partition_cols)
    record = {
        part: {"source": files, "files": _files(own[part]) if part in own else {}}
        for part, files in ch.listing.items()
    }
    if ch or record != _read_record(table):
        _write_record(table, record)


def footer_range(files: list[Path], column: str):
    """(min, max) of ``column`` over ``files`` from their parquet footer
    statistics, read with pyarrow on the driver; None when a row group
    carries no statistics for it."""
    import pyarrow.parquet as pq

    lo = hi = None
    for f in files:
        meta = pq.read_metadata(f)
        idx = meta.schema.names.index(column)
        for g in range(meta.num_row_groups):
            stats = meta.row_group(g).column(idx).statistics
            if stats is None or not stats.has_min_max:
                return None
            lo = stats.min if lo is None else min(lo, stats.min)
            hi = stats.max if hi is None else max(hi, stats.max)
    return None if lo is None else (lo, hi)


def footer_rows(table: Path, partition_cols: list[str]) -> int:
    """Rows of the table at ``table``, summed from the parquet footers
    (``num_rows``) of the data files a Spark scan of it reads: those of
    its leaf partition directories, without ``.``/``_`` names. Read with
    pyarrow on the driver, with no Spark job; a missing table raises
    ``FileNotFoundError``."""
    import pyarrow.parquet as pq

    leaves = _partition_dirs(table, partition_cols).values() if partition_cols else [table]
    return sum(pq.read_metadata(leaf / f).num_rows for leaf in leaves for f in _files(leaf))
