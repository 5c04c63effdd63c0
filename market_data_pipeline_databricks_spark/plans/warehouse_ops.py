"""Warehouse-maintenance operators as driver queries.

SCD2, CDC and incremental-rollup maintenance are pytest-covered
operators (operators/scd.py, operators/cdc.py,
operators/incremental.py); these queries drive each over the shipped
testdata with DETERMINISTIC synthetic mutations, so the driver's
oracle gate also holds a green row for the maintenance family — the
oracle reconstructs the same merge/diff/combine in plain SQL.

The synthetic second snapshot is derived from supplier: keys
divisible by 3 get +100.00 balance (an UPDATE), keys divisible by 7
are dropped (a DELETE for the CDC diff; SCD treats absence as
"untouched"), and 5 fresh keys appear (INSERTs). All arithmetic is
DECIMAL(12,2) so both engines fold identical bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.plans._eager import checked_lazy


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _snap1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").cast("decimal(12,2)").alias("balance"),
    )


def _snap2(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = _snap1(spark, sf_dir)
    mutated = s1.filter(F.col("suppkey") % 7 != 0).select(
        "suppkey",
        "name",
        F.when(
            F.col("suppkey") % 3 == 0,
            (F.col("balance") + F.lit(100.00).cast("decimal(12,2)")).cast(
                "decimal(12,2)"
            ),
        )
        .otherwise(F.col("balance"))
        .alias("balance"),
    )
    mx = s1.agg(F.max("suppkey")).first()[0]
    fresh = spark.range(1, 6).select(
        (F.col("id") + F.lit(mx)).alias("suppkey"),
        F.concat(F.lit("newsupplier#"), F.col("id").cast("string")).alias(
            "name"
        ),
        F.lit(1000.00).cast("decimal(12,2)").alias("balance"),
    )
    return mutated.unionByName(fresh)


def scd2_supplier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 merge driven end-to-end (operators/scd.py:scd2_apply):
    snapshot 1 opens every supplier on 2025-01-01; the mutated snapshot
    applies on 2025-06-01. Changed keys close + reopen, unchanged and
    absent keys pass through, fresh keys open — the full Type-2 matrix
    over real testdata. Single join + explode plan (no union re-scan);
    the oracle reconstructs the identical version set in plain SQL."""
    from market_data_pipeline_databricks_spark.operators.scd import scd2_apply

    dim = _snap1(spark, sf_dir).select(
        "suppkey",
        "name",
        "balance",
        F.lit("2025-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = _snap2(spark, sf_dir).withColumn(
        "effective_date", F.lit("2025-06-01").cast("date")
    )
    out = scd2_apply(dim, updates, ["suppkey"], ["name", "balance"])
    return out.select(
        "suppkey",
        "name",
        F.col("balance").cast("double").alias("balance"),
        "valid_from",
        "valid_to",
        "is_current",
    )


def cdc_supplier_balance_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change emission (operators/cdc.py:snapshot_diff): diff the
    two supplier snapshots into insert/update/delete rows with before/
    after values — the change feed a downstream consumer applies. One
    full-outer join on the key; emission is a CASE over the presence
    markers."""
    from market_data_pipeline_databricks_spark.operators.cdc import (
        snapshot_diff,
    )

    out = snapshot_diff(
        _snap1(spark, sf_dir),
        _snap2(spark, sf_dir),
        ["suppkey"],
        ["name", "balance"],
    )
    return out.select(
        "suppkey",
        F.col("_op").alias("change_type"),
        "name",
        F.col("balance").cast("double").alias("balance"),
    )


def incremental_rollup_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance driven end-to-end
    (operators/incremental.py): partial revenue rollups built per
    order-month SPLIT (first half vs second half of the date range)
    and merged must equal the full rollup — emitted as the merged
    rollup itself (per nation: order count, decimal-exact revenue),
    which the oracle recomputes directly from the facts. Proves the
    mergeable-partial contract on real data, not a crafted fixture."""
    from market_data_pipeline_databricks_spark.operators.incremental import (
        merge_rollups,
        partial_rollup,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "o_orderdate", "o_totalprice")
    )
    cut = F.lit("1996-07-01").cast("date")
    part1 = partial_rollup(
        base.filter(F.col("o_orderdate") < cut), ["n_name"], ["o_totalprice"]
    )
    part2 = partial_rollup(
        base.filter(F.col("o_orderdate") >= cut), ["n_name"], ["o_totalprice"]
    )
    merged = merge_rollups([part1, part2], ["n_name"], ["o_totalprice"])
    return merged.select(
        "n_name",
        F.col("n_rows").alias("n_orders"),
        F.round(F.col("o_totalprice_sum").cast("double"), 2).alias("revenue"),
    )


def gold_incremental_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental gold rebuild driven end-to-end and proven equal to
    the full recompute (operators/gold.py:gold_incremental — the
    engine's answer to the reference's overwrite-everything gold,
    /root/reference/notebooks/gold/03_aggregate_gold.py:82-95).

    Construction on real testdata: the (l_suppkey, ship-day) daily
    rollup plays silver; rows before 1998-06-01 are the already-built
    history, rows from that date on arrive as the change batch.
    ``existing_gold`` is computed from the OLD silver only, then
    ``gold_incremental`` patches it with the batch — and the oracle
    recomputes gold over the FULL silver directly, so hash equality
    proves incremental == full recompute (the features are strictly
    backward-looking, so pre-cutoff rows cannot depend on the batch).

    Emits the LAG return and the 20-row rolling volume average (both
    IEEE-deterministic cross-engine: integral sums are exact in
    doubles and the division order is mirrored); the rolling stddev is
    exercised by the decimal-exact Bollinger query instead."""
    from datetime import datetime

    from market_data_pipeline_databricks_spark.operators.gold import (
        gold_features,
        gold_incremental,
    )

    li = _t(spark, sf_dir, "lineitem")
    silver = (
        li.groupBy(
            F.col("l_suppkey").cast("string").alias("symbol"),
            F.col("l_shipdate").cast("date").alias("date"),
        )
        .agg(
            F.max("l_extendedprice").cast("double").alias("close"),
            F.sum("l_quantity").cast("long").alias("volume"),
        )
        .withColumn("source", F.lit("lineitem"))
    )
    cut = F.lit("1998-06-01").cast("date")
    ts = datetime(2026, 1, 1, 0, 0)
    existing_gold = gold_features(
        silver.filter(F.col("date") < cut), computed_at=ts
    )
    out = gold_incremental(
        silver,
        existing_gold,
        silver.filter(F.col("date") >= cut),
        computed_at=ts,
    )
    return out.select(
        "symbol",
        "date",
        "close",
        "volume",
        "return_1d",
        "avg_volume_20d",
    )


QUERIES = {
    "scd2_supplier_history": scd2_supplier_history,
    "cdc_supplier_balance_diff": cdc_supplier_balance_diff,
    "incremental_rollup_equivalence": incremental_rollup_equivalence,
    "gold_incremental_equivalence": gold_incremental_equivalence,
}

_SNAPS_CTE = """
WITH snap1 AS (
  SELECT s_suppkey AS suppkey, s_name AS name,
         CAST(s_acctbal AS DECIMAL(12,2)) AS balance
  FROM supplier
),
snap2 AS (
  SELECT suppkey, name,
         CASE WHEN suppkey % 3 = 0
              THEN CAST(balance + CAST(100.00 AS DECIMAL(12,2)) AS DECIMAL(12,2))
              ELSE balance END AS balance
  FROM snap1 WHERE suppkey % 7 <> 0
  UNION ALL
  SELECT (SELECT MAX(suppkey) FROM snap1) + r.range AS suppkey,
         'newsupplier#' || CAST(r.range AS VARCHAR) AS name,
         CAST(1000.00 AS DECIMAL(12,2)) AS balance
  FROM range(1, 6) r
)
"""

ORACLE_SQL = {
    "scd2_supplier_history": _SNAPS_CTE + """
        , joined AS (
          SELECT COALESCE(a.suppkey, b.suppkey) AS suppkey,
                 a.name AS name1, a.balance AS bal1,
                 b.name AS name2, b.balance AS bal2,
                 a.suppkey IS NOT NULL AS in1,
                 b.suppkey IS NOT NULL AS in2
          FROM snap1 a FULL OUTER JOIN snap2 b ON a.suppkey = b.suppkey
        )
        SELECT suppkey, name1 AS name, CAST(bal1 AS DOUBLE) AS balance,
               DATE '2025-01-01' AS valid_from,
               CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        FROM joined
        WHERE in1 AND (NOT in2 OR (name1 = name2 AND bal1 = bal2))
        UNION ALL
        SELECT suppkey, name1, CAST(bal1 AS DOUBLE),
               DATE '2025-01-01', DATE '2025-06-01', FALSE
        FROM joined
        WHERE in1 AND in2 AND (name1 <> name2 OR bal1 <> bal2)
        UNION ALL
        SELECT suppkey, name2, CAST(bal2 AS DOUBLE),
               DATE '2025-06-01', CAST(NULL AS DATE), TRUE
        FROM joined
        WHERE in2 AND (NOT in1 OR (name1 <> name2 OR bal1 <> bal2))
    """,
    "cdc_supplier_balance_diff": _SNAPS_CTE + """
        , joined AS (
          SELECT COALESCE(a.suppkey, b.suppkey) AS suppkey,
                 a.name AS name1, a.balance AS bal1,
                 b.name AS name2, b.balance AS bal2,
                 a.suppkey IS NOT NULL AS in1,
                 b.suppkey IS NOT NULL AS in2
          FROM snap1 a FULL OUTER JOIN snap2 b ON a.suppkey = b.suppkey
        )
        SELECT suppkey,
               CASE WHEN in1 AND NOT in2 THEN 'delete'
                    WHEN in2 AND NOT in1 THEN 'insert'
                    ELSE 'update' END AS change_type,
               CASE WHEN in2 THEN name2 ELSE name1 END AS name,
               CAST(CASE WHEN in2 THEN bal2 ELSE bal1 END AS DOUBLE) AS balance
        FROM joined
        WHERE NOT (in1 AND in2 AND name1 = name2 AND bal1 = bal2)
    """,
    "incremental_rollup_equivalence": """
        SELECT n_name,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE), 2)
                 AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    # full recompute over ALL silver — equality with the Spark side's
    # incremental patching proves gold_incremental's cutoff algebra
    "gold_incremental_equivalence": """
        WITH daily AS (
          SELECT CAST(l_suppkey AS VARCHAR) AS symbol,
                 CAST(l_shipdate AS DATE) AS date,
                 CAST(MAX(l_extendedprice) AS DOUBLE) AS close,
                 CAST(SUM(l_quantity) AS BIGINT) AS volume
          FROM lineitem
          GROUP BY 1, 2
        )
        SELECT symbol, date, close, volume,
               close / LAG(close) OVER
                 (PARTITION BY symbol ORDER BY date) - 1 AS return_1d,
               AVG(CAST(volume AS DOUBLE)) OVER
                 (PARTITION BY symbol ORDER BY date
                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                 AS avg_volume_20d
        FROM daily
    """,
}


def incremental_cdc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance under a CHANGE FEED — the
    hard half of incremental view maintenance (insert-only merges are
    easy; updates and deletes need retractions): maintain per-nation
    supplier count + balance sum by applying the snapshot diff as
    +new/−old deltas to the snapshot-1 rollup, and emit the maintained
    rollup — which the oracle recomputes directly from snapshot 2, so
    equality PROVES the retraction algebra.

    Scale: the delta aggregate is O(changes), the merge is a union of
    two O(groups) frames — never a rescan of the base. Deletes subtract
    the old row, updates subtract old and add new, inserts add new."""
    from market_data_pipeline_databricks_spark.operators.cdc import (
        snapshot_diff,
    )

    s1 = _snap1(spark, sf_dir)
    s2 = _snap2(spark, sf_dir)
    nation_of = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_nationkey").alias("nationkey"),
    )
    # fresh keys get a deterministic nation too: key % 25
    nk = F.coalesce(F.col("nationkey"), (F.col("suppkey") % 25).cast("int"))

    base = (
        s1.join(nation_of, "suppkey", "left")
        .groupBy(nk.alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("balance")).alias("bal_sum"),
        )
    )
    diff = snapshot_diff(s1, s2, ["suppkey"], ["name", "balance"])
    # retraction deltas: emitted balance is NEW for insert/update, OLD
    # for delete; updates additionally retract the OLD value, which
    # only snapshot 1 still holds
    plus = diff.filter(F.col("_op") != "delete").select(
        "suppkey",
        F.lit(1).alias("dn"),
        F.col("balance").alias("db"),
    )
    minus = (
        diff.filter(F.col("_op") != "insert")
        .select("suppkey", F.col("_op"))
        .join(s1.select("suppkey", F.col("balance").alias("old_bal")), "suppkey")
        .select(
            "suppkey",
            F.lit(-1).alias("dn"),
            (-F.col("old_bal")).alias("db"),
        )
    )
    deltas = (
        plus.unionByName(minus)
        .join(nation_of, "suppkey", "left")
        .groupBy(nk.alias("nationkey"))
        .agg(
            F.sum("dn").alias("n_suppliers"),
            F.sum(F.col("db")).alias("bal_sum"),
        )
    )
    merged = (
        base.unionByName(deltas)
        .groupBy("nationkey")
        .agg(
            F.sum("n_suppliers").cast("long").alias("n_suppliers"),
            F.sum("bal_sum").alias("bal_sum"),
        )
        .filter(F.col("n_suppliers") > 0)
    )
    return merged.select(
        "nationkey",
        "n_suppliers",
        F.round(F.col("bal_sum").cast("double"), 2).alias("balance_sum"),
    )


QUERIES.update({"incremental_cdc_rollup": incremental_cdc_rollup})

ORACLE_SQL.update(
    {
        # the maintained rollup must equal a direct rollup of snapshot 2
        "incremental_cdc_rollup": _SNAPS_CTE + """
        , withnk AS (
          SELECT s2.suppkey, s2.balance,
                 COALESCE(sup.s_nationkey, CAST(s2.suppkey % 25 AS INT)) AS nationkey
          FROM snap2 s2
          LEFT JOIN supplier sup ON sup.s_suppkey = s2.suppkey
        )
        SELECT nationkey,
               COUNT(*) AS n_suppliers,
               ROUND(CAST(SUM(balance) AS DOUBLE), 2) AS balance_sum
        FROM withnk GROUP BY nationkey
    """,
    }
)


# ---------------------------------------------------------------------------
# Source/sink format roundtrips: the orders table leaves through a
# non-parquet sink, comes back through the matching source, and must
# aggregate identically to the parquet original (the DuckDB oracle
# reads the parquet view, so any lossiness in the sink/source pair —
# decimal precision, date encoding, null handling — breaks the hash).
# Files are written per run under a pid-nonce tmp dir; the read-back
# aggregate is asserted equal to the same aggregate over the original
# parquet IN-QUERY, and the parquet-rooted twin is what gets returned
# (plans/_eager.py:checked_lazy — no checkpoint/tempdir dependence
# survives, and a lossy sink/source pair raises instead of returning).
# ---------------------------------------------------------------------------

import os as _os

_FMT_NONCE = f"f{_os.getpid()}"


def _orders_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        "o_orderdate",
    )


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    # internal sum is decimal-exact; the FINAL projection is double and
    # the dates are DATE — DecimalType/timestamp_ntz output columns are
    # driver-hash hazards (VERDICT r10: the hash drops decimal trailing
    # zeros on one side), so they never leave a registry query
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("o_totalprice")
        .cast("decimal(27,2)")
        .cast("double")
        .alias("total_price"),
        F.min("o_orderdate").cast("date").alias("first_date"),
        F.max("o_orderdate").cast("date").alias("last_date"),
    )


def _format_roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    import shutil
    import tempfile

    src = _orders_projection(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix=f"rt_{fmt}_{_FMT_NONCE}_")
    try:
        src.write.mode("overwrite").format(fmt).save(out_dir)
        # JSON carries no schema — read back with the writer's schema
        # (production contract: schema-on-read is pinned by the table
        # DDL, never inferred); ORC embeds its schema but the explicit
        # one asserts the same contract.
        back = spark.read.format(fmt).schema(src.schema).load(out_dir)
        return checked_lazy(
            _roundtrip_agg(back),
            _roundtrip_agg(src),
            f"source_{fmt}_roundtrip",
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC sink → ORC source → aggregate == parquet oracle
    (columnar format parity: decimals, dates, predicate-compatible
    statistics survive the trip)."""
    return _format_roundtrip(spark, sf_dir, "orc")


def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines sink → schema-on-read JSON source →
    aggregate == parquet oracle (text interchange parity: decimal
    string forms and ISO dates parse back losslessly under the pinned
    schema — the lake-landing-zone contract)."""
    return _format_roundtrip(spark, sf_dir, "json")


QUERIES.update(
    {
        "source_orc_roundtrip": source_orc_roundtrip,
        "source_json_roundtrip": source_json_roundtrip,
    }
)

_ROUNDTRIP_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS total_price,
       CAST(MIN(o_orderdate) AS DATE) AS first_date,
       CAST(MAX(o_orderdate) AS DATE) AS last_date
FROM orders GROUP BY o_orderstatus
"""

ORACLE_SQL.update(
    {
        "source_orc_roundtrip": _ROUNDTRIP_SQL,
        "source_json_roundtrip": _ROUNDTRIP_SQL,
    }
)


def warehouse_erase_rtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure drive (GDPR hard delete): orders lands
    year-partitioned in a throwaway warehouse, a deterministic key
    batch (o_custkey % 97 == 0) is hard-deleted via the
    partition-scoped erase (sources/writers.py:erase_keys — broadcast
    key set, rewrite bounded by touched partitions, null-safe key
    matching), and the post-erase table aggregates per status with the
    audit count as a column. The DuckDB oracle replays the erase as a
    plain anti-filter over the original table — any row the rewrite
    lost, kept, or duplicated breaks the hash. EAGER (writes at
    construction)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources import writers as W

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        "o_orderdate",
    ).withColumn("p_year", F.year("o_orderdate"))
    wh = tempfile.mkdtemp(prefix="rtbf_wh_")
    try:
        W.overwrite_table(orders, wh, "orders", ["p_year"])
        keys = (
            orders.filter(F.col("o_custkey") % 97 == 0)
            .select("o_custkey")
            .distinct()
        )
        n_erased = W.erase_keys(
            spark, wh, "orders", keys, ["o_custkey"], ["p_year"]
        )
        back = spark.read.parquet(f"{wh}/orders")

        def agg(df: DataFrame) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
            )

        erased_ct = (
            orders.filter(F.col("o_custkey") % 97 == 0)
            .agg(F.count(F.lit(1)).cast("long").alias("n_erased"))
        )
        twin = agg(orders.filter(F.col("o_custkey") % 97 != 0)).crossJoin(
            F.broadcast(erased_ct)
        )
        return checked_lazy(
            agg(back).withColumn(
                "n_erased", F.lit(int(n_erased)).cast("long")
            ),
            twin,
            "warehouse_erase_rtbf",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution landing drive: batch 1 (odd order keys) lands
    WITHOUT o_orderpriority; batch 2 (even keys) arrives with the new
    column and appends through the evolution-checked writer
    (sources/writers.py:append_with_schema_evolution — name-aligned,
    typed-NULL backfill, type mutations raise). The mergeSchema view
    must show NULL priority exactly for batch-1 rows; the oracle
    replays that from the original table. EAGER (writes at
    construction)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources import writers as W

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    evolved = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        "o_orderpriority",
    )
    wh = tempfile.mkdtemp(prefix="schevo_wh_")
    try:
        W.append_with_schema_evolution(spark, base, wh, "orders_evo")
        merged = W.append_with_schema_evolution(spark, evolved, wh, "orders_evo")
        twin = orders.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(
                F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderpriority"))
            )
            .cast("long")
            .alias("n_with_priority"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(27,2)")
            .cast("double")
            .alias("sum_price"),
        )
        return checked_lazy(
            merged.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count("o_orderpriority").cast("long").alias("n_with_priority"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
            ),
            twin,
            "source_schema_evolution",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


QUERIES.update(
    {
        "warehouse_erase_rtbf": warehouse_erase_rtbf,
        "source_schema_evolution": source_schema_evolution,
    }
)

ORACLE_SQL.update(
    {
        "warehouse_erase_rtbf": """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price,
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey % 97 = 0) AS BIGINT)
         AS n_erased
FROM orders WHERE o_custkey % 97 <> 0
GROUP BY o_orderstatus
""",
        "source_schema_evolution": """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END)
            AS BIGINT) AS n_with_priority,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderstatus
""",
    }
)


def _time_travel_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy parquet-rooted recomputation of the (v1, v2) side-by-side
    aggregate that ``warehouse_time_travel`` / ``stream_snapshot_commits``
    construct through snapshot commits: v1 is the raw orders table, v2
    applies the +10.00 correction to every o_orderkey % 50 == 0 order."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    corrected = (
        F.when(
            F.col("o_orderkey") % 50 == 0,
            (F.col("o_totalprice") + F.lit(10.00).cast("decimal(12,2)"))
            .cast("decimal(12,2)"),
        )
        .otherwise(F.col("o_totalprice"))
    )
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_v1"),
        F.sum("o_totalprice")
        .cast("decimal(27,2)")
        .cast("double")
        .alias("sum_price_v1"),
        F.count(F.lit(1)).cast("long").alias("n_rows_v2"),
        F.sum(corrected)
        .cast("decimal(27,2)")
        .cast("double")
        .alias("sum_price_v2"),
    )


def warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel drive over the snapshot table format
    (sources/snapshots.py — versioned manifests over immutable
    parquet, file-level copy-on-write MERGE): version 1 commits
    orders; version 2 COW-merges a correction batch (+10.00 on every
    o_orderkey % 50 == 0 order). The query reads BOTH versions through
    their manifests and reports them side by side per status — proving
    v1 still serves the pre-merge values after v2 commits (isolation +
    time travel) and v2 shows exactly the corrections. The DuckDB
    oracle reconstructs both versions from the original table, so a
    merge that lost, duplicated, or cross-contaminated a row breaks
    the hash. EAGER (commits at construction)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        commit_merge_keys,
        read_version,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    tdir = tempfile.mkdtemp(prefix="ttravel_")
    try:
        commit_append(orders.repartition(8, "o_orderkey"), tdir)
        batch = orders.filter(F.col("o_orderkey") % 50 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(10.00).cast("decimal(12,2)"))
            .cast("decimal(12,2)")
            .alias("o_totalprice"),
        )
        commit_merge_keys(spark, tdir, batch, ["o_orderkey"])

        def agg(df: DataFrame, tag: str) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).cast("long").alias(f"n_rows_{tag}"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias(f"sum_price_{tag}"),
            )

        out = agg(read_version(spark, tdir, 1), "v1").join(
            agg(read_version(spark, tdir, 2), "v2"), "o_orderstatus"
        )
        return checked_lazy(
            out, _time_travel_twin(spark, sf_dir), "warehouse_time_travel"
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


def warehouse_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction drive (sources/writers.py:compact_table):
    orders lands year-partitioned but fragmented (50-way repartition →
    ~50 files per year partition), compaction rewrites each partition
    to ceil(bytes/target) files — one file per year at this scale —
    and the post-compaction table must aggregate identically to the
    original. n_files_after is emitted as a column: with every
    partition far under the target size it equals the distinct year
    count, which the oracle computes as a scalar subquery. EAGER
    (writes + compacts at construction)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources import writers as W

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        F.year("o_orderdate").alias("p_year"),
    )
    wh = tempfile.mkdtemp(prefix="compact_wh_")
    try:
        orders.repartition(50).write.partitionBy("p_year").parquet(
            f"{wh}/orders"
        )
        n_after = W.compact_table(
            spark, wh, "orders", partition_cols=["p_year"]
        )
        back = spark.read.parquet(f"{wh}/orders")

        def agg(df: DataFrame) -> DataFrame:
            return df.groupBy("p_year").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
            )

        nf = orders.agg(
            F.countDistinct("p_year").cast("long").alias("n_files_after")
        )
        return checked_lazy(
            agg(back).withColumn(
                "n_files_after", F.lit(int(n_after)).cast("long")
            ),
            agg(orders).crossJoin(F.broadcast(nf)),
            "warehouse_compact_small_files",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


QUERIES.update(
    {
        "warehouse_time_travel": warehouse_time_travel,
        "warehouse_compact_small_files": warehouse_compact_small_files,
    }
)

ORACLE_SQL.update(
    {
        "warehouse_time_travel": """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows_v1,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price_v1,
       CAST(COUNT(*) AS BIGINT) AS n_rows_v2,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                + CASE WHEN o_orderkey % 50 = 0
                       THEN CAST(10.00 AS DECIMAL(12,2))
                       ELSE CAST(0.00 AS DECIMAL(12,2)) END)
            AS DECIMAL(27,2)) AS DOUBLE) AS sum_price_v2
FROM orders GROUP BY o_orderstatus
""",
        "warehouse_compact_small_files": """
SELECT CAST(year(o_orderdate) AS INT) AS p_year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price,
       CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders) AS BIGINT)
         AS n_files_after
FROM orders GROUP BY 1
""",
    }
)


def warehouse_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed BETWEEN TABLE VERSIONS — Delta's
    ``table_changes()`` equivalent, composed from the snapshot format's
    time-travel reads and the CDC diff operator: v1 commits orders, v2
    COW-merges the +10.00 correction batch (o_orderkey % 50 == 0), and
    the query diffs read_version(1) against read_version(2)
    (operators/cdc.py:snapshot_diff — full-outer on the key, null-safe
    change detection). The feed must contain EXACTLY the correction
    rows tagged 'update' with their post-merge values: the oracle
    reconstructs that set from the original table, so a phantom
    insert/delete (a row the merge lost or duplicated) or a missed
    update breaks the hash. EAGER (commits at construction)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.operators.cdc import (
        snapshot_diff,
    )
    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        commit_merge_keys,
        read_version,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    tdir = tempfile.mkdtemp(prefix="snapcdc_")
    try:
        commit_append(orders.repartition(8, "o_orderkey"), tdir)
        batch = orders.filter(F.col("o_orderkey") % 50 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(10.00).cast("decimal(12,2)"))
            .cast("decimal(12,2)")
            .alias("o_totalprice"),
        )
        commit_merge_keys(spark, tdir, batch, ["o_orderkey"])
        feed = snapshot_diff(
            read_version(spark, tdir, 1),
            read_version(spark, tdir, 2),
            ["o_orderkey"],
            ["o_orderstatus", "o_totalprice"],
        )
        twin = orders.filter(F.col("o_orderkey") % 50 == 0).select(
            "o_orderkey",
            F.lit("update").alias("change_type"),
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit(10.00).cast("decimal(12,2)"))
            .cast("decimal(12,2)")
            .cast("double")
            .alias("o_totalprice"),
        )
        return checked_lazy(
            feed.select(
                "o_orderkey",
                F.col("_op").alias("change_type"),
                "o_orderstatus",
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
            ),
            twin,
            "warehouse_snapshot_cdc",
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


QUERIES.update({"warehouse_snapshot_cdc": warehouse_snapshot_cdc})

ORACLE_SQL.update(
    {
        "warehouse_snapshot_cdc": """
SELECT o_orderkey,
       'update' AS change_type,
       o_orderstatus,
       CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
            + CAST(10.00 AS DECIMAL(12,2)) AS DECIMAL(12,2)) AS DOUBLE)
         AS o_totalprice
FROM orders WHERE o_orderkey % 50 = 0
"""
    }
)


def warehouse_row_level_security(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level security + column masking as a governed view
    (sources/access.py — the Lakeguard-style plan-rewrite policy
    layer): the "EMEA analyst" principal sees ONLY Europe-region
    customers, with the customer name replaced by a salted SHA-256
    pseudonym and the balance generalized to $1000 bands — the masks
    substitute IN PLACE before any consumer logic, so nothing
    downstream of the view can observe a raw value. The query then
    aggregates per nation over the governed view; the DuckDB oracle
    replays filter + masks + rollup, so a policy that leaked a row or
    a raw value breaks the hash.

    Scale shape: the row filter is an ordinary predicate (rides
    Catalyst pushdown to the scan), the masks are ordinary expressions
    (sha2/floor — no UDF tax), and nation broadcasts; policy costs
    nothing the equivalent hand-written query wouldn't."""
    from market_data_pipeline_databricks_spark.sources.access import (
        Policy,
        masked_bucket,
        masked_hash,
        secured_view,
    )

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).select("c_name", "c_acctbal", "n_name", "n_regionkey")
    emea = Policy(
        row_filter="n_regionkey = 3",
        column_masks={
            "c_name": masked_hash("c_name", "gov-2026"),
            "c_acctbal": masked_bucket("c_acctbal", 1000),
        },
    )
    v = secured_view(base, emea)
    return v.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("c_name").cast("long").alias("n_principals"),
        F.sum("c_acctbal").cast("long").alias("sum_bal_band"),
    )


QUERIES.update({"warehouse_row_level_security": warehouse_row_level_security})

ORACLE_SQL.update(
    {
        "warehouse_row_level_security": """
WITH v AS (
  SELECT n.n_name,
         sha256('gov-2026:' || c_name) AS c_name_m,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) * 1000 AS bal_m
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = 3
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT c_name_m) AS BIGINT) AS n_principals,
       CAST(SUM(bal_m) AS BIGINT) AS sum_bal_band
FROM v GROUP BY n_name
"""
    }
)


def warehouse_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM / retention drive over the snapshot format
    (sources/snapshots.py:expire_versions — the Delta VACUUM +
    ``delta.logRetentionDuration`` pair): v1 commits orders, v2 and v3
    COW-merge two disjoint correction batches (+10.00 on
    o_orderkey % 50 == 0, then +5.00 on % 70 == 0 — keys divisible by
    both take both), then retention keeps ONLY the latest version.
    The audit enforces, in-query:

    - time travel to the expired v1 must now FAIL (its manifest is
      gone — reading it would mean retention lied);
    - the vacuum must report exactly 2 expired versions and must have
      physically deleted at least one unreferenced data file;
    - the retained latest version must still read EXACTLY the
      twice-corrected table — pinned by the checked_lazy multiset
      diff against the lazy recomputation from the source parquet
      (a vacuum that deleted a still-referenced file surfaces here as
      missing rows → ConstructionMismatchError → driver err).

    Scale: expire_versions is manifest-scaled driver work (file path
    sets), never row-scaled; the reads are ordinary manifest-pinned
    parquet scans. EAGER (commits + vacuums at construction; returns
    the lazy parquet-rooted twin per the round-10 return discipline)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        commit_merge_keys,
        expire_versions,
        latest_version,
        read_version,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    tdir = tempfile.mkdtemp(prefix="vacuum_")
    try:
        commit_append(orders.repartition(8, "o_orderkey"), tdir)

        def correction(mod: int, delta: str) -> None:
            base = read_version(spark, tdir, latest_version(tdir))
            batch = base.filter(F.col("o_orderkey") % mod == 0).select(
                "o_orderkey",
                "o_orderstatus",
                (F.col("o_totalprice") + F.lit(delta).cast("decimal(12,2)"))
                .cast("decimal(12,2)")
                .alias("o_totalprice"),
            )
            commit_merge_keys(spark, tdir, batch.localCheckpoint(), ["o_orderkey"])

        correction(50, "10.00")
        correction(70, "5.00")
        versions_removed, files_deleted = expire_versions(tdir, keep_last=1)
        if versions_removed != 2 or files_deleted < 1:
            raise RuntimeError(
                f"vacuum contract regressed: expired {versions_removed} "
                f"versions (want 2), deleted {files_deleted} files (want >=1)"
            )
        # the actual invariant is the MANIFEST's absence (a bare
        # read-failure check would also pass if retention wrongly kept
        # the manifest but deleted its data files)
        import pathlib

        if (pathlib.Path(tdir) / "v1.json").exists():
            raise RuntimeError(
                "time travel to the EXPIRED v1 still works after vacuum — "
                "retention did not drop the manifest"
            )
        latest = read_version(spark, tdir, latest_version(tdir))
        constructed = latest.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_totalprice")
            .cast("decimal(27,2)")
            .cast("double")
            .alias("sum_price"),
        )
        corrected = (
            F.col("o_totalprice")
            + F.when(
                F.col("o_orderkey") % 50 == 0, F.lit("10.00").cast("decimal(12,2)")
            ).otherwise(F.lit("0.00").cast("decimal(12,2)"))
            + F.when(
                F.col("o_orderkey") % 70 == 0, F.lit("5.00").cast("decimal(12,2)")
            ).otherwise(F.lit("0.00").cast("decimal(12,2)"))
        ).cast("decimal(12,2)")
        twin = orders.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(corrected)
            .cast("decimal(27,2)")
            .cast("double")
            .alias("sum_price"),
        )
        return checked_lazy(constructed, twin, "warehouse_vacuum_audit")
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


QUERIES.update({"warehouse_vacuum_audit": warehouse_vacuum_audit})

ORACLE_SQL.update(
    {
        "warehouse_vacuum_audit": """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                + CASE WHEN o_orderkey % 50 = 0
                       THEN CAST(10.00 AS DECIMAL(12,2))
                       ELSE CAST(0.00 AS DECIMAL(12,2)) END
                + CASE WHEN o_orderkey % 70 = 0
                       THEN CAST(5.00 AS DECIMAL(12,2))
                       ELSE CAST(0.00 AS DECIMAL(12,2)) END
            AS DECIMAL(12,2))) AS DECIMAL(27,2)) AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderstatus
"""
    }
)


def warehouse_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish drive (sources/snapshots.py:stage_append /
    read_staged / publish_staged — the Iceberg WAP / Delta staging
    workflow): v1 commits orders; a late-arriving batch (re-keyed
    copies of every o_orderkey % 100 == 0 order, +1.00, keys offset
    past the current max so the append is collision-free) is STAGED
    behind a branch manifest that published readers cannot see; the
    audit then runs against the staged read and the publish only
    happens after it passes. In-query contract:

    - isolation: while staged, ``latest_version`` must still be 1
      (a staged batch that leaks into the published table defeats the
      entire workflow — raises);
    - audit: the staged batch must carry no internal duplicate keys
      and no key overlap with v1 (raises on either — the audit HALTS
      a bad publish, it does not warn);
    - the published v2 must read EXACTLY orders ∪ batch — pinned by
      the checked_lazy multiset diff against the lazy recomputation.

    The discard path (audit fails → staged files physically removed,
    published table untouched) is pinned by tests/test_r10_ops.py.
    EAGER (stages + publishes at construction; returns the lazy
    parquet-rooted twin per the round-10 return discipline)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        latest_version,
        publish_staged,
        read_staged,
        read_version,
        stage_append,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    tdir = tempfile.mkdtemp(prefix="wap_")
    try:
        commit_append(orders.repartition(8, "o_orderkey"), tdir)
        # offset past the max by ONE: the testdata contains key 0
        # (0 % 100 == 0), which a bare +max would map onto max itself
        mx = orders.agg(F.max("o_orderkey")).first()[0]
        batch = orders.filter(F.col("o_orderkey") % 100 == 0).select(
            (F.col("o_orderkey") + F.lit(int(mx) + 1)).alias("o_orderkey"),
            "o_orderstatus",
            (F.col("o_totalprice") + F.lit("1.00").cast("decimal(12,2)"))
            .cast("decimal(12,2)")
            .alias("o_totalprice"),
        )
        stage_append(batch, tdir, "late_arrivals")
        if latest_version(tdir) != 1:
            raise RuntimeError(
                "WAP isolation regressed: staging changed the published "
                "version"
            )
        staged = read_staged(spark, tdir, "late_arrivals")
        # one aggregate job for row/key counts, one semi-join job for
        # the overlap — the audit never scans the staged batch a third
        # time (this is the construction hot path)
        stats = staged.agg(
            F.count(F.lit(1)).alias("n_staged"),
            F.countDistinct("o_orderkey").alias("n_keys"),
        ).first()
        n_overlap = staged.join(
            read_version(spark, tdir, 1), "o_orderkey", "left_semi"
        ).count()
        if stats["n_keys"] != stats["n_staged"] or n_overlap != 0:
            raise RuntimeError(
                f"WAP audit failed: {stats['n_staged']} staged rows, "
                f"{stats['n_keys']} distinct keys, {n_overlap} keys "
                "colliding with v1"
            )
        published = publish_staged(tdir, "late_arrivals")
        constructed = (
            read_version(spark, tdir, published)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
            )
        )
        twin_all = orders.select("o_orderstatus", "o_totalprice").unionByName(
            orders.filter(F.col("o_orderkey") % 100 == 0).select(
                "o_orderstatus",
                (F.col("o_totalprice") + F.lit("1.00").cast("decimal(12,2)"))
                .cast("decimal(12,2)")
                .alias("o_totalprice"),
            )
        )
        twin = twin_all.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_totalprice")
            .cast("decimal(27,2)")
            .cast("double")
            .alias("sum_price"),
        )
        return checked_lazy(constructed, twin, "warehouse_write_audit_publish")
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


QUERIES.update({"warehouse_write_audit_publish": warehouse_write_audit_publish})

ORACLE_SQL.update(
    {
        "warehouse_write_audit_publish": """
WITH allrows AS (
  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice
  FROM orders
  UNION ALL
  SELECT o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2))
              + CAST(1.00 AS DECIMAL(12,2)) AS DECIMAL(12,2))
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(o_totalprice) AS DECIMAL(27,2)) AS DOUBLE) AS sum_price
FROM allrows GROUP BY o_orderstatus
"""
    }
)


def warehouse_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REWRITE-FREE partition-evolution drive
    (sources/snapshots.py:evolve_partition_spec — the Iceberg
    spec-evolution mechanic): version 1 commits the even-orderkey half
    of orders un-clustered; the spec then evolves to cluster on
    o_custkey; version 3 commits the odd half range-clustered with
    per-file min/max bounds recorded in the manifest. The read is a
    custkey range (100..400) through :func:`read_pruned` — pre-
    evolution files are scanned (no bounds → conservative keep), post-
    evolution files outside the range are SKIPPED at the manifest, and
    the residual filter makes exactness independent of the pruning.
    The DuckDB oracle replays the identical filter over the raw table,
    so a prune that dropped a matching file (or double-listed one)
    breaks the hash; the skip-count behavior itself is pinned by
    tests/test_snapshots.py. At 100 TB this is the layout-change path:
    evolving the spec costs one manifest write, never a table rewrite.
    EAGER (commits + evolves at construction)."""
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        evolve_partition_spec,
        read_pruned,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    tdir = tempfile.mkdtemp(prefix="pevolve_")
    try:
        commit_append(
            orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), tdir
        )
        evolve_partition_spec(tdir, ["o_custkey"])
        commit_append(
            orders.filter(F.col("o_orderkey") % 2 == 1),
            tdir,
            cluster_partitions=8,
        )
        pruned = read_pruned(
            spark, tdir, [("between", "o_custkey", 100, 400)]
        )
        constructed = pruned.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_totalprice")
            .cast("decimal(27,2)")
            .cast("double")
            .alias("sum_price"),
        )
        twin = (
            orders.filter(F.col("o_custkey").between(100, 400))
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
            )
        )
        return checked_lazy(
            constructed, twin, "warehouse_partition_evolution"
        )
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


QUERIES.update(
    {"warehouse_partition_evolution": warehouse_partition_evolution}
)

ORACLE_SQL.update(
    {
        "warehouse_partition_evolution": """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price
FROM orders
WHERE o_custkey BETWEEN 100 AND 400
GROUP BY o_orderstatus
"""
    }
)


def warehouse_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN-PARTITIONING drive (sources/snapshots.py transform spec
    keys — the Iceberg feature the raw-column spec stopped short of):
    two snapshot tables are built from orders, one evolved to
    ``month(o_orderdate)``, one to ``bucket(8, o_custkey)``; each gets
    an un-clustered pre-evolution commit, a spec-aware clustered
    commit, and a ``rewrite_to_spec`` of the tail so every file
    carries TRANSFORM-space bounds. The reads then filter on the
    SOURCE columns only — a plain ``o_orderdate`` range and a plain
    ``o_custkey`` equality; the engine maps the predicates into month
    / hash-bucket space at the manifest (``prune_files`` with a
    ``between`` / ``eq`` predicate) and the drive ASSERTS files were actually
    skipped on both paths, so the hidden mapping is enforced, not
    incidental. Residual row filters keep exactness independent of
    pruning; the DuckDB oracle replays both raw filters, so a
    mis-mapped month or a Python/Spark bucket-hash mismatch that drops
    a matching file breaks the hash. At 100 TB this kills the
    "analyst forgot the redundant partition predicate → full scan"
    failure mode: queries never name the transform. EAGER (commits +
    evolves + rewrites at construction)."""
    import datetime as dt
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        evolve_partition_spec,
        prune_files,
        read_pruned,
        rewrite_to_spec,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
    )
    lo = dt.datetime(1996, 3, 1)
    hi = dt.datetime(1996, 5, 31, 23, 59, 59)
    cust = 371
    tm = tempfile.mkdtemp(prefix="hidmonth_")
    tb = tempfile.mkdtemp(prefix="hidbucket_")
    try:

        def _build(tdir: str, spec_key: str) -> None:
            commit_append(
                orders.filter(F.col("o_orderkey") % 3 == 0).repartition(3),
                tdir,
            )
            evolve_partition_spec(tdir, [spec_key])
            commit_append(
                orders.filter(F.col("o_orderkey") % 3 != 0),
                tdir,
                cluster_partitions=8,
            )
            rewrite_to_spec(spark, tdir, cluster_partitions=4)

        _build(tm, "month(o_orderdate)")
        _build(tb, "bucket(8, o_custkey)")
        month_range = [("between", "o_orderdate", lo, hi)]
        custkey_point = [("eq", "o_custkey", cust)]
        kept_m, total_m = prune_files(tm, month_range)
        kept_b, total_b = prune_files(tb, custkey_point)
        if not (len(kept_m) < total_m and len(kept_b) < total_b):
            raise AssertionError(
                "warehouse_hidden_partitioning: transform pruning "
                f"skipped nothing (month {len(kept_m)}/{total_m}, "
                f"bucket {len(kept_b)}/{total_b}) — the hidden mapping "
                "is not engaging"
            )

        def agg(df: DataFrame, label: str) -> DataFrame:
            return (
                df.groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("o_totalprice")
                    .cast("decimal(27,2)")
                    .cast("double")
                    .alias("sum_price"),
                )
                .withColumn("slice", F.lit(label))
                .select("slice", "o_orderstatus", "n_rows", "sum_price")
            )

        constructed = agg(
            read_pruned(spark, tm, month_range), "month_range"
        ).unionByName(
            agg(read_pruned(spark, tb, custkey_point), "custkey_point")
        )
        twin = agg(
            orders.filter(F.col("o_orderdate").between(lo, hi)),
            "month_range",
        ).unionByName(
            agg(orders.filter(F.col("o_custkey") == cust), "custkey_point")
        )
        return checked_lazy(
            constructed, twin, "warehouse_hidden_partitioning"
        )
    finally:
        shutil.rmtree(tm, ignore_errors=True)
        shutil.rmtree(tb, ignore_errors=True)


QUERIES.update(
    {"warehouse_hidden_partitioning": warehouse_hidden_partitioning}
)

ORACLE_SQL.update(
    {
        "warehouse_hidden_partitioning": """
SELECT 'month_range' AS slice, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01 00:00:00'
                      AND TIMESTAMP '1996-05-31 23:59:59'
GROUP BY o_orderstatus
UNION ALL
SELECT 'custkey_point' AS slice, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price
FROM orders
WHERE o_custkey = 371
GROUP BY o_orderstatus
"""
    }
)


def warehouse_composite_spec_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPOSITE transform spec + CONJUNCTIVE manifest pruning
    (sources/snapshots.py:prune_files over a two-predicate list — the
    follow-on to warehouse_hidden_partitioning's single-entry specs):
    ONE snapshot table of 1996 orders evolves to ``["month(o_orderdate)",
    "bucket(8, o_custkey)"]`` — both transform dimensions at once —
    with an un-clustered pre-evolution commit (the conservative
    never-pruned path stays exercised) and a spec-clustered commit
    whose files carry tight (month, bucket) bounds. The read then
    filters on SOURCE columns only — a plain ``o_orderdate`` range AND
    a plain ``o_custkey`` equality — and the engine prunes the
    conjunction through BOTH entries at the manifest. The drive
    ASSERTS the conjunction keeps strictly fewer files than either
    predicate alone (each dimension must engage, not just ride along)
    and than the total. The probed customer is the busiest one inside
    the range, computed from the data on both sides (Spark argmax /
    DuckDB scalar subquery) so the slice is never empty. Residual row
    filters keep exactness independent of pruning; the oracle replays
    the raw filters over the source table, so a mis-mapped month or a
    bucket-hash mismatch that drops a matching file breaks the hash.
    At 100 TB this is the point-lookup-in-a-time-window shape — scan
    O(files of one month × one bucket), not O(table). EAGER (commits +
    evolution at construction)."""
    import datetime as dt
    import shutil
    import tempfile

    from market_data_pipeline_databricks_spark.sources.snapshots import (
        commit_append,
        evolve_partition_spec,
        prune_files,
        read_pruned,
    )

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").between(
                dt.datetime(1996, 1, 1), dt.datetime(1996, 12, 31, 23, 59, 59)
            )
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        )
    )
    lo = dt.datetime(1996, 3, 1)
    hi = dt.datetime(1996, 5, 31, 23, 59, 59)
    target = (
        orders.filter(F.col("o_orderdate").between(lo, hi))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("o_custkey"))
        .first()["o_custkey"]
    )
    td = tempfile.mkdtemp(prefix="hidconj_")
    try:
        commit_append(
            orders.filter(F.col("o_orderkey") % 5 == 0).repartition(2), td
        )
        evolve_partition_spec(
            td, ["month(o_orderdate)", "bucket(8, o_custkey)"]
        )
        commit_append(
            orders.filter(F.col("o_orderkey") % 5 != 0),
            td,
            cluster_partitions=48,
        )
        preds = [
            ("between", "o_orderdate", lo, hi),
            ("eq", "o_custkey", int(target)),
        ]
        kept_c, total = prune_files(td, preds)
        kept_m, _ = prune_files(td, preds[:1])
        kept_b, _ = prune_files(td, preds[1:])
        if not (
            len(kept_c) < len(kept_m)
            and len(kept_c) < len(kept_b)
            and len(kept_c) < total
        ):
            raise AssertionError(
                "warehouse_composite_spec_pruning: the conjunction must "
                "out-prune each single predicate (conj "
                f"{len(kept_c)}, month-range {len(kept_m)}, bucket "
                f"{len(kept_b)}, total {total}) — a composite spec "
                "dimension is not engaging"
            )
        # conjunction semantics: intersection of the per-predicate sets
        if set(kept_c) != set(kept_m) & set(kept_b):
            raise AssertionError(
                "warehouse_composite_spec_pruning: conjunctive kept set "
                "is not the intersection of the per-predicate kept sets"
            )
        constructed = (
            read_pruned(spark, td, preds)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
            )
            .select("o_orderstatus", "n_rows", "sum_price")
        )
        twin = (
            orders.filter(
                F.col("o_orderdate").between(lo, hi)
                & (F.col("o_custkey") == int(target))
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_totalprice")
                .cast("decimal(27,2)")
                .cast("double")
                .alias("sum_price"),
            )
            .select("o_orderstatus", "n_rows", "sum_price")
        )
        return checked_lazy(
            constructed, twin, "warehouse_composite_spec_pruning"
        )
    finally:
        shutil.rmtree(td, ignore_errors=True)


QUERIES.update(
    {"warehouse_composite_spec_pruning": warehouse_composite_spec_pruning}
)

ORACLE_SQL.update(
    {
        "warehouse_composite_spec_pruning": """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(27,2))
            AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01 00:00:00'
                      AND TIMESTAMP '1996-05-31 23:59:59'
  AND o_custkey = (
      SELECT o_custkey FROM orders
      WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01 00:00:00'
                            AND TIMESTAMP '1996-05-31 23:59:59'
      GROUP BY o_custkey
      ORDER BY COUNT(*) DESC, o_custkey ASC
      LIMIT 1)
GROUP BY o_orderstatus
"""
    }
)
