"""Databricks-SQL compatibility shims for the analyst surface.

The reference's analyst corpus uses the ``QUALIFY`` clause
(sql/example_queries.sql:14,71), which Databricks SQL has and OSS
Spark does not. :func:`sql` accepts that dialect verbatim: it rewrites
``QUALIFY <predicate>`` into a window-column + filter — the exact
transform Databricks' own planner applies — then hands the result to
``spark.sql``.

Rewrite shape::

    SELECT <list> FROM ... [WHERE ...] [GROUP BY ...]
    QUALIFY <pred> [ORDER BY ...] [LIMIT n]

becomes::

    SELECT <list>, (<pred>) AS __qualify__ FROM ...   -- inner
    → .filter(__qualify__).drop(__qualify__)          -- DataFrame side
    → ORDER BY / LIMIT re-applied

Scope (documented, tested): one QUALIFY per SELECT block. The final
SELECT's QUALIFY uses the flag-column + DataFrame-filter path above;
QUALIFY inside a subquery or CTE body (any nesting depth, round-7) is
rewritten purely in SQL, innermost-first::

    ( SELECT <list> FROM ... QUALIFY <pred> [tail] )
    → ( SELECT * EXCEPT(__qualify_N__)
        FROM (SELECT <list>, (<pred>) AS __qualify_N__ FROM ...)
        WHERE __qualify_N__ [tail] )

``SELECT DISTINCT ... QUALIFY`` is rejected with a clear error at any
depth (the flag column would widen the DISTINCT grain).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_QUALIFY_COL = "__qualify__"

# Keywords that may follow the QUALIFY clause at top level.
_TAIL_KEYWORDS = ("ORDER", "LIMIT")


def _scan_top_level(text: str, word: str, start: int = 0) -> int:
    """Index of ``word`` at paren-depth 0 outside string literals and
    comments, or -1. Handles ``''``-escaped quotes inside literals (and
    doubled quotes in quoted identifiers) and ``/* */`` block comments —
    both previously desynchronized the keyword scan."""
    depth = 0
    i = start
    n = len(text)
    wlen = len(word)
    while i < n:
        c = text[i]
        if c == "'" or c == '"' or c == "`":
            quote = c
            i += 1
            while i < n:
                if text[i] == quote:
                    if i + 1 < n and text[i + 1] == quote:
                        i += 2  # '' (or "" / ``) is an escaped quote
                        continue
                    break
                i += 1
        elif c == "-" and text[i : i + 2] == "--":
            while i < n and text[i] != "\n":
                i += 1
        elif c == "/" and text[i : i + 2] == "/*":
            j = text.find("*/", i + 2)
            i = n if j == -1 else j + 1  # land on '/', advanced below
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and text[i : i + wlen].upper() == word:
            before = text[i - 1] if i > 0 else " "
            after = text[i + wlen] if i + wlen < n else " "
            if not (before.isalnum() or before == "_") and not (
                after.isalnum() or after == "_"
            ):
                return i
        i += 1
    return -1


def _lstrip_comments_and_hints(text: str) -> str:
    """Drop leading whitespace, ``--`` line comments, and ``/* */`` block
    comments/hints so keyword checks see the first real token."""
    i, n = 0, len(text)
    while i < n:
        if text[i].isspace():
            i += 1
        elif text.startswith("--", i):
            j = text.find("\n", i)
            i = n if j == -1 else j + 1
        elif text.startswith("/*", i):
            j = text.find("*/", i)
            i = n if j == -1 else j + 2
        else:
            break
    return text[i:]


def _split_qualify(stmt: str, flag: str) -> tuple[str, str | None, str]:
    """Shared splitter: (sql_with_flag_column, predicate?, tail_sql).
    Returns (stmt, None, "") unchanged when the statement has no
    QUALIFY at its own top level."""
    q = _scan_top_level(stmt, "QUALIFY")
    if q == -1:
        return stmt, None, ""
    # predicate runs until a top-level ORDER/LIMIT or end of statement
    end = len(stmt)
    for kw in _TAIL_KEYWORDS:
        k = _scan_top_level(stmt, kw, q)
        if k != -1 and k < end:
            end = k
    pred = stmt[q + len("QUALIFY") : end].strip().rstrip(";")
    tail = stmt[end:].strip().rstrip(";")
    head = stmt[:q]

    # the SELECT owning the QUALIFY = last top-level SELECT before it
    sel = -1
    pos = _scan_top_level(head, "SELECT")
    while pos != -1:
        sel = pos
        pos = _scan_top_level(head, "SELECT", pos + 6)
    if sel == -1:
        raise ValueError("QUALIFY without a top-level SELECT")
    # SELECT DISTINCT ... QUALIFY would silently change results: the
    # injected flag column widens the DISTINCT grain, so duplicates the
    # outer DISTINCT should have removed survive the post-filter drop.
    # Look past hints (/*+ ... */) and comments so they can't smuggle a
    # DISTINCT past the guard.
    if re.match(
        r"(?is)^DISTINCT\b",
        _lstrip_comments_and_hints(head[sel + len("SELECT") :]),
    ):
        raise ValueError(
            "SELECT DISTINCT with QUALIFY is not supported by the rewrite; "
            "wrap the QUALIFY query in a subquery and apply DISTINCT outside"
        )
    frm = _scan_top_level(head, "FROM", sel)
    if frm == -1:
        raise ValueError("QUALIFY SELECT has no FROM clause")
    inner = (
        head[:frm].rstrip()
        + f", ({pred}) AS {flag} "
        + head[frm:]
    )
    return inner, pred, tail


def rewrite_qualify(stmt: str) -> tuple[str, str | None, str]:
    """Split a statement with QUALIFY into (inner_sql_with_flag_column,
    predicate_present?, tail_sql). Returns (stmt, None, "") unchanged
    when there is no top-level QUALIFY."""
    return _split_qualify(stmt, _QUALIFY_COL)


def _find_deepest_qualify(text: str) -> tuple[int, int] | None:
    """(qualify_idx, enclosing_open_paren_idx) of a deepest NESTED
    QUALIFY (depth > 0), or None when every QUALIFY is top-level.
    Same literal/comment discipline as :func:`_scan_top_level`."""
    best: tuple[int, int, int] | None = None  # (depth, qidx, open_idx)
    stack: list[int] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "'" or c == '"' or c == "`":
            quote = c
            i += 1
            while i < n:
                if text[i] == quote:
                    if i + 1 < n and text[i + 1] == quote:
                        i += 2
                        continue
                    break
                i += 1
        elif c == "-" and text[i : i + 2] == "--":
            while i < n and text[i] != "\n":
                i += 1
        elif c == "/" and text[i : i + 2] == "/*":
            j = text.find("*/", i + 2)
            i = n if j == -1 else j + 1
        elif c == "(":
            stack.append(i)
        elif c == ")":
            if stack:
                stack.pop()
        elif stack and text[i : i + 7].upper() == "QUALIFY":
            before = text[i - 1] if i > 0 else " "
            after = text[i + 7] if i + 7 < n else " "
            if not (before.isalnum() or before == "_") and not (
                after.isalnum() or after == "_"
            ):
                if best is None or len(stack) > best[0]:
                    best = (len(stack), i, stack[-1])
        i += 1
    return None if best is None else (best[1], best[2])


def _matching_paren(text: str, open_idx: int) -> int:
    """Index of the ``)`` matching ``text[open_idx] == '('``."""
    depth = 0
    i, n = open_idx, len(text)
    while i < n:
        c = text[i]
        if c == "'" or c == '"' or c == "`":
            quote = c
            i += 1
            while i < n:
                if text[i] == quote:
                    if i + 1 < n and text[i + 1] == quote:
                        i += 2
                        continue
                    break
                i += 1
        elif c == "-" and text[i : i + 2] == "--":
            while i < n and text[i] != "\n":
                i += 1
        elif c == "/" and text[i : i + 2] == "/*":
            j = text.find("*/", i + 2)
            i = n if j == -1 else j + 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parentheses in SQL statement")


def _rewrite_nested_qualify(text: str) -> str:
    """Rewrite every QUALIFY that sits inside a subquery or CTE body
    into the pure-SQL star-EXCEPT form, innermost-first. Each pass
    consumes exactly one nested QUALIFY, so the loop terminates; the
    final (top-level) QUALIFY, if any, is left for the flag-column +
    DataFrame-filter path in :func:`sql`."""
    count = 0
    while True:
        hit = _find_deepest_qualify(text)
        if hit is None:
            return text
        qidx, open_idx = hit
        close_idx = _matching_paren(text, open_idx)
        block = text[open_idx + 1 : close_idx]
        count += 1
        flag = f"__qualify_{count}__"
        inner, pred, tail = _split_qualify(block, flag)
        if pred is None:  # pragma: no cover — deepest scan guarantees one
            raise ValueError("internal: nested QUALIFY scan desynchronized")
        new_block = f"SELECT * EXCEPT({flag}) FROM ({inner}) WHERE {flag}"
        if tail:
            new_block += " " + tail
        text = text[: open_idx + 1] + new_block + text[close_idx:]


def sql(spark: SparkSession, text: str) -> DataFrame:
    """``spark.sql`` that also accepts the QUALIFY dialect — at the top
    level of the statement and inside subqueries/CTE bodies."""
    inner, pred, tail = rewrite_qualify(
        _rewrite_nested_qualify(text.strip().rstrip(";"))
    )
    if pred is None:
        return spark.sql(inner)
    df = spark.sql(inner).filter(_QUALIFY_COL).drop(_QUALIFY_COL)
    if tail:
        # re-apply ORDER BY / LIMIT on the filtered result
        m = re.match(r"(?is)^(ORDER\s+BY\s+.+?)?\s*(LIMIT\s+(\d+))?$", tail)
        if m:
            order, _, limit = m.group(1), m.group(2), m.group(3)
            if order:
                df = df.selectExpr("*").orderBy(
                    *_order_exprs(order)
                )
            if limit:
                df = df.limit(int(limit))
        else:
            raise ValueError(f"unsupported tail after QUALIFY: {tail!r}")
    return df


def _delta_available(spark: SparkSession) -> bool:
    try:
        import delta  # type: ignore  # noqa: F401

        return True
    except ImportError:
        return False


def ddl(spark: SparkSession, text: str) -> DataFrame:
    """Execute a Databricks-dialect DDL statement on OSS Spark.

    The reference's table DDL is Delta-native
    (``CREATE TABLE ... USING DELTA PARTITIONED BY (symbol)``,
    notebooks/bronze/01_ingest_bronze.py:72-87 and the silver/gold/DQ
    notebooks). On OSS Spark without the delta-spark extension that
    format is unknown, so this shim rewrites the top-level
    ``USING DELTA`` clause to ``USING PARQUET`` — identical columnar
    layout and partitioning; keyed upserts into the table go through
    :func:`merge`, which rewrites only the touched partitions
    (``sources/writers.upsert_by_key``).
    When delta-spark IS importable the statement passes through
    unchanged. The scan respects string literals / quoted identifiers
    / comments (same scanner as the QUALIFY rewrite), so a table or
    column spelled 'using delta' is never corrupted."""
    stmt = text.strip().rstrip(";")
    if _delta_available(spark):
        return spark.sql(stmt)
    i = _scan_top_level(stmt, "USING")
    if i >= 0:
        m = re.match(r"(?is)USING\s+DELTA\b", stmt[i:])
        if m:
            stmt = stmt[:i] + "USING PARQUET" + stmt[i + m.end():]
    return spark.sql(stmt)


def _order_exprs(order_clause: str):
    from pyspark.sql import functions as F

    body = re.sub(r"(?is)^ORDER\s+BY\s+", "", order_clause.strip())
    exprs = []
    for part in _split_top_level_commas(body):
        p = part.strip()
        if re.search(r"(?is)\s+DESC$", p):
            exprs.append(F.expr(re.sub(r"(?is)\s+DESC$", "", p)).desc())
        else:
            exprs.append(F.expr(re.sub(r"(?is)\s+ASC$", "", p)).asc())
    return exprs


def _split_top_level_commas(text: str) -> list[str]:
    out, depth, cur = [], 0, []
    for c in text:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if cur:
        out.append("".join(cur))
    return out


_MERGE_RE = re.compile(
    r"""(?isx)
    ^MERGE\s+INTO\s+(?P<target>[\w.`]+)\s+(?:AS\s+)?(?P<talias>\w+)\s+
    USING\s+(?P<source>[\w.`]+)\s+(?:AS\s+)?(?P<salias>\w+)\s+
    ON\s+(?P<on>.+?)\s+
    WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(?P<set>.+?)\s+
    WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*$
    """
)


def _parse_merge(stmt: str):
    """Parse the reference-shaped MERGE statement
    (notebooks/bronze/01_ingest_bronze.py:93-107): equality-conjunction
    ON clause, UPDATE SET of target.col = source.col pairs, INSERT *.
    Returns (target, source, key_cols, set_cols). Raises ValueError on
    anything outside that documented subset."""
    m = _MERGE_RE.match(stmt)
    if not m:
        raise ValueError(
            "unsupported MERGE shape — accepted: MERGE INTO t AS a USING s "
            "AS b ON <a.k = b.k [AND ...]> WHEN MATCHED THEN UPDATE SET "
            "<a.c = b.c, ...> WHEN NOT MATCHED THEN INSERT *"
        )
    t, s = m.group("talias"), m.group("salias")
    key_cols = []
    for clause in re.split(r"(?i)\s+AND\s+", m.group("on").strip()):
        eq = re.match(
            rf"(?is)^\s*{t}\.(\w+)\s*=\s*{s}\.(\w+)\s*$", clause
        ) or re.match(rf"(?is)^\s*{s}\.(\w+)\s*=\s*{t}\.(\w+)\s*$", clause)
        if not eq or eq.group(1) != eq.group(2):
            raise ValueError(f"unsupported MERGE ON clause: {clause!r}")
        key_cols.append(eq.group(1))
    set_cols = []
    for assign in m.group("set").split(","):
        a = re.match(
            rf"(?is)^\s*{t}\.(\w+)\s*=\s*{s}\.(\w+)\s*$", assign
        )
        if not a or a.group(1) != a.group(2):
            raise ValueError(f"unsupported MERGE assignment: {assign!r}")
        set_cols.append(a.group(1))
    return (
        m.group("target").strip("`"),
        m.group("source").strip("`"),
        key_cols,
        set_cols,
    )


def merge(
    spark: SparkSession,
    text: str,
    warehouse_dir: str | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Execute a Databricks ``MERGE INTO`` statement on OSS Spark.

    The reference's bronze ingest is a Delta MERGE
    (notebooks/bronze/01_ingest_bronze.py:93-107: match on the
    (symbol, date) grain, update every value column, insert new rows).
    With delta-spark importable the statement passes through to
    ``spark.sql`` untouched. Without it (this container: no network
    route to install it), the statement is parsed — same documented
    subset the reference uses — and executed with IDENTICAL semantics
    through the engine's parquet upsert
    (``sources/writers.upsert_by_key``: idempotent, rewrites only the
    partitions the batch touches), reading the source from the
    registered temp view exactly as the notebook does.

    Restrictions (ValueError otherwise, so silent divergence is
    impossible): equality-conjunction ON, UPDATE SET of col = col
    pairs COVERING every non-key target column (a subset SET would
    make the whole-row upsert diverge from Delta's column-scoped
    update), INSERT * — i.e. upsert semantics. Duplicate source keys are
    a MERGE error in Delta; the same grain check is the caller's
    contract here (the reference dedups upstream).

    ``warehouse_dir`` locates the parquet table for the parquet path
    (the reference's catalog namespace maps to the warehouse dir).
    Returns the post-merge table as a DataFrame.
    """
    stmt = text.strip().rstrip(";")
    if _delta_available(spark):
        # Resolve the target BEFORE executing: Delta accepts MERGE
        # shapes wider than _MERGE_RE (e.g. WHEN MATCHED THEN DELETE,
        # no alias), and failing to parse AFTER the statement already
        # ran would surface as an AttributeError mid-flight.
        m = _MERGE_RE.match(stmt) or re.match(
            r"(?is)^\s*MERGE\s+INTO\s+(?P<target>[`\w.]+)", stmt
        )
        if not m:
            raise ValueError(f"cannot resolve MERGE target in: {stmt[:80]!r}")
        spark.sql(stmt)
        return spark.table(m.group("target").strip("`"))
    target, source, key_cols, set_cols = _parse_merge(stmt)
    if warehouse_dir is None:
        raise ValueError(
            "warehouse_dir is required for the parquet MERGE fallback"
        )
    from market_data_pipeline_databricks_spark.sources.tables import read_table
    from market_data_pipeline_databricks_spark.sources.writers import (
        upsert_by_key,
    )

    table = target.split(".")[-1]
    updates = spark.table(source)
    existing_cols = read_table(spark, warehouse_dir, table).columns
    missing = [c for c in key_cols + set_cols if c not in existing_cols]
    if missing:
        raise ValueError(f"MERGE columns absent from target: {missing}")
    # The fallback executes a WHOLE-ROW upsert, which matches Delta
    # MERGE semantics only when UPDATE SET covers every non-key target
    # column; a subset SET would silently overwrite the unlisted
    # columns with source values (Delta keeps target values there), so
    # reject it rather than diverge.
    unlisted = [
        c for c in existing_cols if c not in key_cols and c not in set_cols
    ]
    if unlisted:
        raise ValueError(
            "parquet MERGE fallback requires UPDATE SET to cover every "
            f"non-key target column; unlisted: {unlisted} (whole-row "
            "upsert would overwrite them with source values, diverging "
            "from Delta MERGE)"
        )
    upsert_by_key(
        spark,
        updates,
        warehouse_dir,
        table,
        key_cols,
        partition_cols=partition_cols,
    )
    return read_table(spark, warehouse_dir, table)
