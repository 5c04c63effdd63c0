"""Bounded-collect lint — the driver-memory contract as an executable
assertion (round-6 verdict task 5).

Every ``.collect()`` / ``.toPandas()`` in non-test source must be
driver-safe at 100 TB. Two ways to qualify:

1. **Bounded in-chain**: the receiver expression itself contains a
   ``.limit(`` (training samples, k-row inits) — checked automatically.
2. **Reviewed allowlist**: the enclosing (file, function) appears in
   ``BOUNDED_COLLECTS`` below with the documented bound and the exact
   number of such sites. Adding a new un-bounded collect anywhere else
   fails this lint until it is reviewed and its bound written down.

``.first()`` / ``.head(`` / ``.take(`` are single/sample-row actions —
bounded by construction and not linted.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "market_data_pipeline_databricks_spark"

# (relative file, enclosing function) -> (allowed site count, documented bound)
BOUNDED_COLLECTS = {
    # (r15: the agg sink's per-batch bucket collect folded into the
    # precondition aggregate's collect_set — no standalone site left)
    ("plans/stream_ops.py", "stream_rank_repair"): (
        1,
        "ONE user's distinct event days (<=31 rows at the 1-month "
        "testdata span; O(days-of-one-key) in general) — drives the "
        "untouched-partition stability assertion",
    ),
    ("operators/pq.py", "_adc_scores"): (
        1,
        "O(|queries|) LUT build; ValueError contract caps at 100k rows",
    ),
    ("operators/pq.py", "ann_topk_ivfpq"): (
        1,
        "probe pairs from the same bounded query set (<=100k * nprobe)",
    ),
    ("operators/similarity.py", "kmeans_lloyd"): (
        1,
        "M-step stats: groupBy(cluster, dim) aggregate -> k*dim rows",
    ),
    ("sources/writers.py", "_touched"): (
        1,
        "one row per touched partition (distinct partition tuples)",
    ),
    ("sources/snapshots.py", "commit_merge_keys"): (
        1,
        "one row per data file containing a matched key (the COW "
        "working set; manifests are file-scaled, never row-scaled)",
    ),
    ("sources/snapshots.py", "_collect_file_stats"): (
        1,
        "one row per just-written data file of a single commit "
        "(partition-scaled metadata pass, never row-scaled)",
    ),
}


def _collect_sites():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        rel = str(path.relative_to(PKG))

        class V(ast.NodeVisitor):
            def __init__(self):
                self.stack = ["<module>"]

            def visit_FunctionDef(self, node):
                self.stack.append(node.name)
                self.generic_visit(node)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                f = node.func
                if isinstance(f, ast.Attribute) and f.attr in ("collect", "toPandas"):
                    seg = ast.get_source_segment(src, f.value) or ""
                    # innermost named function (closures report the
                    # outermost def so allowlist keys stay stable)
                    fn = next(
                        (s for s in self.stack[1:2]), self.stack[-1]
                    ) if len(self.stack) > 1 else "<module>"
                    sites.append((rel, fn, node.lineno, seg))
                self.generic_visit(node)

        V().visit(tree)
    return sites


def test_every_collect_is_bounded():
    unaccounted = []
    counts: dict[tuple[str, str], int] = {}
    for rel, fn, lineno, seg in _collect_sites():
        if ".limit(" in seg or seg.endswith("limit"):
            continue  # bounded in-chain by an explicit row cap
        key = (rel, fn)
        counts[key] = counts.get(key, 0) + 1
        if key not in BOUNDED_COLLECTS:
            unaccounted.append(f"{rel}:{lineno} in {fn}(): {seg[:80]}")
    assert not unaccounted, (
        "un-reviewed unbounded collect/toPandas sites — document the "
        f"driver-size bound in BOUNDED_COLLECTS: {unaccounted}"
    )
    for key, n in counts.items():
        allowed, _why = BOUNDED_COLLECTS[key]
        assert n <= allowed, (
            f"{key}: {n} non-limit collect sites, {allowed} reviewed — "
            "review the new site and bump the count with its bound"
        )


def test_allowlist_entries_still_exist():
    """A stale allowlist entry means a reviewed site moved or vanished —
    prune it so the reviewed-bounds list stays exact."""
    live = set()
    for rel, fn, _lineno, seg in _collect_sites():
        if ".limit(" not in seg:
            live.add((rel, fn))
    stale = [k for k in BOUNDED_COLLECTS if k not in live]
    assert not stale, f"stale BOUNDED_COLLECTS entries: {stale}"


def test_unpartitioned_windows_carry_bound_comments():
    """Every ``Window.orderBy(...)`` without a partitionBy funnels its
    whole input through ONE task (Spark's single-partition WindowExec
    warning). That is fine exactly when the input is already
    aggregate-collapsed / top-k bounded — and the bound must be written
    down where the window is built, as a ``single-partition window:
    bounded`` comment within the three preceding lines, so a new
    unbounded site fails this lint until its bound is stated."""
    marker = "single-partition window: bounded"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, ln in enumerate(lines):
            # both unpartitioned spellings: Window.orderBy(...) and the
            # explicit empty Window.partitionBy() global frame
            hit = "Window.orderBy" in ln or "Window.partitionBy()" in ln
            if hit and not ln.lstrip().startswith("#"):
                ctx = "\n".join(lines[max(0, i - 3) : i])
                if marker not in ctx:
                    offenders.append(
                        f"{path.relative_to(PKG)}:{i + 1}: {ln.strip()[:70]}"
                    )
    assert not offenders, (
        "unpartitioned Window.orderBy without a stated cardinality "
        f"bound: {offenders}"
    )
