"""Similarity search over embedding columns (array<float>).

Two paths, both shuffle-disciplined:

- **brute-force cosine top-k** — the exactness baseline: query set ×
  corpus equi-free join, dot products as built-in higher-order
  functions (``zip_with`` + ``aggregate``: sequential double fold, so
  results are bit-reproducible across engines), top-k per query via
  ROW_NUMBER window. Scale shape: broadcast the (small) query set,
  stream the corpus — no corpus shuffle at any size; per-partition
  cost is |queries| × dim per row.
- **LSH-bucketed ANN** — the 100 TB path: random-hyperplane signature
  buckets (deterministic seeded planes), candidates only within the
  same bucket (+ optional multi-probe by flipping one bit), exact
  re-rank of candidates. Recall/cost tradeoff via n_planes.

- **IVF ANN** — k-means coarse quantizer trained on a driver sample,
  distributed cell assignment via Arrow-batched pandas UDF, probe
  ``nprobe`` cells per query, exact re-rank within. Same
  candidate-generation seam as LSH with a tunable recall knob.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold — deterministic bits."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two non-zero vectors. CONTRACT: inputs must
    have non-zero norm — a zero vector has no defined direction, and
    under ANSI mode the division raises DIVIDE_BY_ZERO rather than
    silently returning NaN. The embeddings source guarantees non-zero
    vectors; screen any external corpus with ``norm(v) > 0`` first.
    Left unguarded deliberately so the DuckDB oracle twins (which
    divide identically) stay bit-for-bit equivalent."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, neighbor_id, cosine_sim, rank); self-matches
    excluded; rank ties broken by neighbor id (deterministic).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rank"))
    )


def sign_signature_words(vec_col, dim: int = 64):
    """Binary sign quantization: bit d = (v[d] > 0), packed into
    32-dim BIGINT words (no 2^63 sign-overflow, any dim). Unlike every
    hashed signature in this module, the sign signature is a pure
    function of the STORED floats — no hash family, no seed — so a SQL
    oracle reproduces it exactly from the same parquet values."""
    words = []
    for w in range((dim + 31) // 32):
        bits = None
        for b in range(32):
            d = w * 32 + b
            if d >= dim:
                break
            term = F.when(
                F.element_at(vec_col, d + 1) > 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            bits = term if bits is None else bits + term
        words.append(bits)
    return words


def sign_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top-k by Hamming distance on binary sign signatures, with the
    exact cosine attached — the compressed-linear-scan ANN baseline
    (1 bit/dim: a 64-dim float vector becomes 8 bytes, so the scan
    reads 32× less than the float baseline; ranking is two bit_count
    XORs per pair). Deterministic: rank orders by (hamming, neighbor
    id), never by float cosine, so ties are engine-independent.

    Scale: O(|queries| × corpus) like every linear-scan baseline, but
    the per-pair cost is two XOR+popcounts over broadcast 16-byte
    signatures; the sublinear paths (sign-LSH banding, IVF) build on
    the same signature. Returns (query_id, neighbor_id, hamming,
    cosine_sim, rank)."""
    # sign bits come off the RAW float column — sign(float) == sign of
    # its double widening, and skipping the transform keeps the 64
    # element_at comparisons over a plain attribute (codegen CSE-safe).
    # One 32-bit word per 32 dims, so any dim works (not just 64).
    cw = sign_signature_words(F.col(vec_col), dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cvec"),
        *[w.alias(f"c{i}") for i, w in enumerate(cw)],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qvec"),
        *[w.alias(f"q{i}") for i, w in enumerate(cw)],
    )
    hamming = sum(
        F.bit_count(F.col(f"c{i}").bitwiseXOR(F.col(f"q{i}")))
        for i in range(len(cw))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            hamming.cast("long").alias("hamming"),
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            "cosine_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def random_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


#: Reference corpus size for the auto-tuning rule below — the scale at
#: which the hand-validated 3-plane default keeps expected bucket size
#: (n / 2^planes) inside the regime where the banding constant, not the
#: per-bucket quadratic, dominates (measured at sf0.1: the embeddings
#: table is 2k vectors there; the r5 sf1.0 rehearsal = 20k).
LSH_BASE_ROWS = 2_000


def _lsh_tables_for_miss(p1: float, n_planes: int, target_miss: float) -> int:
    """Tables needed so (1 − p₁^planes)^tables ≤ target_miss."""
    import math

    miss_per_table = 1.0 - p1**n_planes
    if miss_per_table <= 0.0:
        return 1
    return max(1, math.ceil(math.log(target_miss) / math.log(miss_per_table)))


def lsh_candidate_fraction(n_planes: int, n_tables: int) -> float:
    """Expected fraction of RANDOM (near-orthogonal) pairs that become
    candidates: 1 − (1 − 2^-planes)^tables. For a bulk of unrelated
    vectors the per-table collision probability is 2^-planes (each
    plane splits an orthogonal pair with probability ½), and a pair is
    a candidate if ANY table co-buckets it. Measured at the r5 sf1.0
    rehearsal: predicted 0.78 at (6, 96), observed 151.4M of 200M
    distinct pairs = 0.757."""
    return 1.0 - (1.0 - 0.5**n_planes) ** n_tables


def lsh_auto_tuning(
    n_rows: int,
    threshold: float,
    target_miss: float = 2e-7,
    base_planes: int = 3,
    base_rows: int = LSH_BASE_ROWS,
    max_planes: int = 24,
) -> tuple[int, int]:
    """Derive (n_planes, n_tables) from corpus size and cosine threshold
    by minimizing the modeled join volume at a fixed miss budget.

    The banding law, validated against measurement at sf1.0
    (BASELINE.md "LSH tuning rule"): with p₁ = 1 − θ/π the per-pair
    miss rate of ``tables`` independent ``planes``-bit sign tables is
    (1 − p₁^planes)^tables, so tables(planes) is solved from the miss
    budget, and the dominant costs are

    - **banding**: n · tables rows hashed/exploded/shuffled, and
    - **candidates**: (n²/2) · (1 − (1 − 2^-planes)^tables) rows
      through the bucket join + DISTINCT + exact verify

    — the same row-shaped work per unit (measured ≈2.3e-7 s/row at
    sf1.0), so the tuner picks the plane count minimizing their sum.
    More planes always cut candidates (ratio 1/(2p₁) < 1 per plane at
    any threshold above 0) but inflate tables 1/p₁ per plane; the
    argmin lands where the marginal banding row buys exactly one
    candidate row. ``base_planes`` floors the search (the
    hand-validated small-corpus default) and ``base_rows`` keeps tiny
    corpora on that floor.
    """
    import math

    p1 = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    n = max(int(n_rows), 1)
    best: tuple[float, int, int] | None = None
    for p in range(base_planes, max_planes + 1):
        t = _lsh_tables_for_miss(p1, p, target_miss)
        cost = n * t + (n * n / 2.0) * lsh_candidate_fraction(p, t)
        if best is None or cost < best[0]:
            best = (cost, p, t)
    _, n_planes, n_tables = best
    if n <= base_rows:
        # Small corpora: the candidate term is tiny everywhere, so the
        # argmin drifts high on noise-level differences; pin the
        # validated small-scale default plane count instead.
        n_planes = base_planes
        n_tables = _lsh_tables_for_miss(p1, n_planes, target_miss)
    return n_planes, n_tables


def _bucket_array_udf(planes: np.ndarray, n_planes: int, n_tables: int):
    """Arrow-batched sign-LSH hasher: ALL tables' buckets in one BLAS
    matmul per batch.

    The Column form below evaluates planes·tables interpreted
    higher-order folds per row, which is the dominant *constant* of the
    multitable structure once tables grow with corpus size (the r5
    sf1.0 rehearsal's "fixed overhead"). Here the whole signature is
    X(batch×dim) @ P.T(dim×M) — one vectorized matmul — then each
    table's ``n_planes`` sign bits pack into a long. Bit convention
    matches :func:`lsh_bucket` exactly (bit_i = 1 iff dot > 0)."""
    pmat = np.ascontiguousarray(planes, dtype=np.float64)
    weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    from pyspark.sql.types import LongType

    @pandas_udf(ArrayType(LongType()))
    def buckets(v: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(e, dtype=np.float64) for e in v], dtype=np.float64)
        signs = (x @ pmat.T) > 0  # (batch, n_tables*n_planes)
        b = signs.reshape(len(x), n_tables, n_planes) @ weights
        return pd.Series(list(b))

    return buckets


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit_i = 1 iff dot(vec, plane_i) > 0."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(
            dot(vec, p) > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_rows: int | None = None,
    design_cos: float = 0.5,
    target_miss: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact re-rank within the query's LSH buckets.

    2^n_planes buckets per table; corpus is hashed once (one narrow
    projection carrying only (id, table, bucket)), candidates come from
    an equi-join on (table, bucket) — at 100 TB this is a shuffle on a
    small int key instead of a cross join.

    **Scale-adaptive tuning** (default): with ``n_planes``/``n_tables``
    unset, planes grow with log₂ of corpus growth via
    :func:`lsh_auto_tuning` so per-query candidate volume
    (n_tables · n/2^planes) stays constant as the corpus grows, and
    tables are solved so a true neighbor at ``design_cos`` is missed
    with probability ≤ ``target_miss`` (the recall knob — top-k has no
    hard threshold, so the design point is explicit). Pass ``n_rows``
    when the corpus frame is derived (avoids the plan-build count).
    """
    if n_planes is not None and n_tables is None:
        n_tables = 1  # pinned planes = the legacy single-table form
    elif n_planes is None or n_tables is None:
        auto_rows = n_rows if n_rows is not None else corpus.count()
        auto_planes, auto_tables = lsh_auto_tuning(
            auto_rows, design_cos, target_miss=target_miss, base_planes=6
        )
        n_planes = n_planes if n_planes is not None else auto_planes
        n_tables = n_tables if n_tables is not None else auto_tables
    first = corpus.select(vec_col).first()
    dim = len(first[0])

    all_planes = np.vstack(
        [
            np.asarray(random_planes(dim, n_planes, seed + t), dtype=np.float64)
            for t in range(n_tables)
        ]
    )
    hash_udf = _bucket_array_udf(all_planes, n_planes, n_tables)

    def _banded(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        v = df.select(
            F.col(id_col).alias(out_id), _as_double(F.col(vec_col)).alias(out_vec)
        )
        return v.select(
            out_id,
            out_vec,
            F.posexplode(hash_udf(F.col(out_vec))).alias("table_id", "bucket"),
        )

    c = _banded(corpus, "neighbor_id", "cvec")
    q = _banded(queries, "query_id", "qvec")
    # Candidate pairs dedup on ids BEFORE the exact re-rank so each
    # (query, neighbor) cosine is computed once however many tables
    # they co-bucket in.
    cand = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qvec", "cvec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("long").alias("rank"))
    )


def cosine_near_duplicates_multitable(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_rows: int | None = None,
    structure: str = "auto",
    seed: int = 42,
) -> DataFrame:
    """Multi-table sign-LSH candidates + EXACT cosine verification.

    Standard multi-probe structure: ``n_tables`` independent
    hyperplane sets; a pair is a candidate if it shares a bucket in ANY
    table (recall 1 − (1 − p₁ⁿ)ᵀ with p₁ = 1 − θ/π), and every
    candidate is then verified with the exact cosine, so precision is
    1 by construction — the output differs from the brute-force form
    only on banding misses.

    Recall economics are threshold-dependent and worth stating
    honestly: at production near-dup thresholds (cos ≥ 0.9, p₁ ≈ 0.86)
    a few tables of 8+ planes give recall ≈ 1 while pruning candidate
    volume by the bucket count. At thresholds near the bulk of the
    pair-similarity distribution (like this testdata's 0.45, where
    p₁ ≈ 0.65) NO hyperplane scheme prunes much — the LSH exponent
    ρ → 1 — so tuning must track corpus size, and the value of the
    structure is that bucket joins replace the all-pairs cross join,
    which is the part that cannot ship at 100 TB.

    **Scale-adaptive tuning** (default): when ``n_planes``/``n_tables``
    are not pinned, they are derived from the corpus row count via
    :func:`lsh_auto_tuning` — the plane count that minimizes modeled
    banding + candidate rows at the 2e-7 per-pair miss budget. The row
    count comes from ``n_rows`` if the caller already knows it (e.g. a
    parquet footer count), else from a ``df.count()`` — the one
    documented plan-build action in this operator, cheap when ``df``
    is a plain scan, so callers on derived frames should pass
    ``n_rows``.

    **Structure selection** (``structure="auto"``, default): the same
    model decides whether banding prunes AT ALL. At thresholds in the
    bulk of the pair-similarity distribution the best achievable
    candidate fraction stays near 1 (r5 sf1.0 rehearsal: 76% of all
    pairs at (6, 96)), so shuffled bucket joins pay the quadratic at
    row rate with no pruning; ``auto`` then delegates to
    :func:`cosine_near_duplicates_blocked` — exact, same output
    contract, quadratic paid at matmul rate (≈100× cheaper per pair;
    the 25× margin below is conservative). Pass ``structure="lsh"``
    to force the banded path (e.g. to measure it), or ``"blocked"``
    to force the GEMM path.
    """
    auto_rows = n_rows
    if n_planes is None or n_tables is None:
        import math

        if auto_rows is None:
            auto_rows = df.count()
        if n_planes is None:
            n_planes, auto_tables = lsh_auto_tuning(auto_rows, threshold)
        else:
            # planes pinned: solve tables from the miss budget at that
            # plane count (same banding law, fixed first coordinate)
            p1 = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
            mpt = 1.0 - p1**n_planes
            auto_tables = (
                1 if mpt <= 0.0 else max(1, math.ceil(math.log(2e-7) / math.log(mpt)))
            )
        n_tables = n_tables if n_tables is not None else auto_tables
    if structure == "auto" and auto_rows is not None:
        all_pairs = auto_rows * auto_rows / 2.0
        lsh_units = auto_rows * n_tables + all_pairs * lsh_candidate_fraction(
            n_planes, n_tables
        )
        if lsh_units > all_pairs / 25.0:
            structure = "blocked"
    if structure == "blocked":
        return cosine_near_duplicates_blocked(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col, n_rows=auto_rows
        )
    first = df.select(vec_col).first()
    dim = len(first[0])
    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    )
    # One Arrow-batched matmul computes every table's bucket; the
    # banded stream carries only (id, table, bucket) through the
    # explode + self-join (same narrowing discipline as MinHash banding
    # in operators/dedup). Plane values are identical to the Column
    # path (same seeds), so tuning — not hashing — decides the output.
    all_planes = np.vstack(
        [
            np.asarray(random_planes(dim, n_planes, seed + t), dtype=np.float64)
            for t in range(n_tables)
        ]
    )
    hash_udf = _bucket_array_udf(all_planes, n_planes, n_tables)
    banded = v.select(
        "id", F.posexplode(hash_udf(F.col("vec"))).alias("table_id", "bucket")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def brute_force_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-dups — the oracle-checkable baseline
    (O(n²); for corpora small enough to verify against)."""
    v = df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def cosine_near_duplicates_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine near-dups at BLAS rate — the bulk-threshold
    scale path.

    When the threshold sits in the bulk of the pair-similarity
    distribution, sign-LSH candidates degenerate to ~all pairs
    (measured at the sf1.0 rehearsal: 76% of all 200M pairs survive the
    (6,96) banding), so the shuffled bucket join pays quadratic
    *row-shaped* cost (~2.3e-7 s/row) with no pruning to show for it.
    This operator accepts the quadratic honestly and pays it at matmul
    rate instead (~1e-9 s/pair): block-pair cogroup + one numpy GEMM
    per block pair.

    Plan shape (fully distributed — no driver collect):

    1. each row gets block = pmod(hash(id), B) with
       B = ⌈n / rows_per_block⌉;
    2. the A-side stream replicates each row to keys {(blk, j), j ≥ blk},
       the B-side to {(i, blk), i ≤ blk} — every unordered block pair
       is materialized exactly once, so the pair (a, b) is emitted by
       exactly one task (shuffle volume: (B+1)·n vector rows);
    3. ``cogroup().applyInPandas`` per key computes Xa @ Xb.T in
       row-chunks, keeps pairs with numpy-cosine ≥ threshold − 1e-6
       (slack covers the fold-vs-SIMD association difference ~1e-15
       AND the final ``round(cos, 6) ≥ threshold`` filter, which
       admits raw cosines down to threshold − 5e-7);
    4. survivors (≈ the true pairs, tiny) are re-scored with the same
       sequential-fold :func:`cosine` used everywhere else, so the
       output is BIT-IDENTICAL to :func:`brute_force_near_duplicates`.

    At 100 TB corpora the quadratic itself is the limit — there this
    operator is the within-cell kernel under the IVF coarse quantizer
    (train_ivf_centroids), while multitable LSH remains the
    sub-quadratic path at high thresholds where it actually prunes.
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    n = n_rows if n_rows is not None else df.count()
    n_blocks = max(1, -(-n // rows_per_block))
    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("vec")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int"))
    # Side columns carry DISTINCT names: with identical names a
    # self-cogroup from one parent plan hits attribute dedup and the
    # right-hand pandas frame arrives with only the key columns
    # (reproduced on Spark 4.1; renaming sidesteps it).
    a_side = v.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        F.col("id").alias("ida"),
        F.col("vec").alias("veca"),
    )
    b_side = v.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.col("id").alias("idb"),
        F.col("vec").alias("vecb"),
    )
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cos_approx", DoubleType()),
        ]
    )
    # Slack must cover BOTH the fold-vs-SIMD association difference
    # (~1e-15) and the final round(cos, 6) >= threshold filter, which
    # admits raw cosines down to threshold - 5e-7: a pair at exactly
    # threshold - 5e-7 rounds up and is kept by brute force, so the
    # prefilter must not drop it. 1e-6 covers the rounding half-step
    # with margin; the exact re-score stage below restores precision,
    # so the only cost is a few extra survivors re-checked.
    slack = float(threshold) - 1e-6

    def gemm(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_approx": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_approx": "float64"}
            )
        xa = np.asarray([np.asarray(e, dtype=np.float64) for e in left["veca"]])
        xb = np.asarray([np.asarray(e, dtype=np.float64) for e in right["vecb"]])
        ia = left["ida"].to_numpy()
        ib = right["idb"].to_numpy()
        na = np.linalg.norm(xa, axis=1)
        nb = np.linalg.norm(xb, axis=1)
        same = key[0] == key[1]
        frames = []
        chunk = 2048
        for s in range(0, len(xa), chunk):
            g = (xa[s : s + chunk] @ xb.T) / np.outer(na[s : s + chunk], nb)
            r, c = np.nonzero(g >= slack)
            if len(r) == 0:
                continue
            lo = ia[s + r]
            hi = ib[c]
            keep = lo != hi if same else np.ones(len(r), dtype=bool)
            lo, hi, cs = lo[keep], hi[keep], g[r[keep], c[keep]]
            swap = lo > hi
            lo2 = np.where(swap, hi, lo)
            hi2 = np.where(swap, lo, hi)
            frames.append(
                pd.DataFrame({"id_a": lo2, "id_b": hi2, "cos_approx": cs})
            )
        if not frames:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_approx": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_approx": "float64"}
            )
        out = pd.concat(frames, ignore_index=True)
        if same:
            # the diagonal block sees each unordered pair twice
            out = out.drop_duplicates(["id_a", "id_b"])
        return out

    cand = (
        a_side.groupBy("bi", "bj")
        .cogroup(b_side.groupBy("bi", "bj"))
        .applyInPandas(gemm, out_schema)
        .select("id_a", "id_b")
    )
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 20000,
    iters: int = 10,
    seed: int = 42,
    metric: str = "cosine",
) -> np.ndarray:
    """K-means coarse quantizer on a deterministic driver-side sample —
    spherical (cosine) by default, or plain L2 Lloyd's with
    ``metric="l2"`` (unnormalized vectors, mean centroids: the FAISS
    IVF convention — one metric must serve BOTH the coarse prune and
    the fine ranking, so IVF-PQ's L2 ADC pairs with L2 cells).

    IVF training is centralized by design everywhere (FAISS trains the
    coarse quantizer on a sample too) — at 100 TB you still sample
    O(100k) vectors to the driver; only *assignment* must distribute.
    Sample is ordered by id → reproducible across runs/partitionings.
    """
    rows = (
        df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .orderBy("id")
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if metric == "cosine":
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)].copy()
    for _ in range(iters):
        if metric == "cosine":
            assign = np.argmax(X @ cent.T, axis=1)
        else:
            assign = np.argmax(
                X @ cent.T - 0.5 * (cent * cent).sum(axis=1), axis=1
            )
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                if metric == "cosine":
                    cent[c] = m / max(np.linalg.norm(m), 1e-12)
                else:
                    cent[c] = m / len(members)
    return cent


def assign_ivf_cells(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_col: str = "cells",
    metric: str = "cosine",
) -> DataFrame:
    """Attach the ``nprobe`` nearest centroid ids as an array column —
    by cosine on normalized vectors (default) or by L2 on raw vectors
    (``metric="l2"``; the argsort key x·c − ½‖c‖² orders identically
    to −‖x−c‖², the ‖x‖² term being constant per row). The metric
    MUST match the one the centroids were trained under.

    Arrow-batched pandas UDF: one matrix multiply per batch (the
    vectorized scale path — per-row Python would be 100× slower).
    Centroids ride along as a closure broadcast (KBs).
    """
    cent = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(ArrayType(IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if metric == "cosine":
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            sims = X @ cent.T
        else:
            sims = X @ cent.T - 0.5 * (cent * cent).sum(axis=1)
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return df.withColumn(out_col, cells(F.col(vec_col)))


def ivf_auto_tuning(n_rows: int) -> tuple[int, int]:
    """(n_cells, nprobe) from corpus size: cells ∝ √n (the standard IVF
    balance point — per-query work is n·nprobe/cells + cells, minimized
    at cells ≈ √(n·nprobe)), nprobe growing slowly with cells so the
    probed FRACTION shrinks while absolute probed cells rise (cells
    shrink as n grows, so a fixed-count probe keeps the true-neighbor
    cells covered). Fixed 16-cell tuning measured 8.8× wall for 10×
    rows at the sf1.0 rehearsal; this rule restores the √n class.

    Honest regime note (mirrors the LSH/blocked split): the √n class
    at stable recall requires CLUSTERED vectors — real-embedding
    corpora, where a query's neighbors concentrate in few cells. On
    unclustered (near-random) vectors like the synthetic testdata,
    recall for any IVF is ≈ the probed fraction, so a shrinking
    fraction trades recall for the class; callers needing a recall
    floor on such data should pin nprobe/n_cells (the recall tests
    pin them) or use the exact/blocked paths."""
    import math

    n_cells = max(16, math.ceil(2.0 * math.sqrt(max(n_rows, 1))))
    # nprobe ∝ log(cells): absolute probed cells rise (coverage of the
    # neighbor cells improves) while the probed FRACTION falls. A
    # constant fraction (e.g. cells/16) silently restores the linear
    # class, and even √cells drifts to n^(3/4) work at extreme n
    # (property-tested); log keeps per-query work O(√n·log n).
    nprobe = max(3, round(math.log2(n_cells)))
    return n_cells, nprobe


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int | None = 16,
    nprobe: int | None = 3,
    n_rows: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF top-k: corpus vectors live in their 1 nearest cell; queries
    probe their ``nprobe`` nearest cells and re-rank exactly within.

    Scale: candidate generation is an equi-join on a small int cell id
    (shuffle ∝ corpus + nprobe×queries, not corpus×queries); recall is
    tunable via nprobe — cross-validated against brute force in tests.
    Pass ``n_cells=None`` to derive (cells, nprobe) from the corpus
    count via :func:`ivf_auto_tuning` (``n_rows`` avoids the plan-build
    count when the caller knows it).
    """
    if n_cells is None or nprobe is None:
        auto_rows = n_rows if n_rows is not None else corpus.count()
        auto_cells, auto_probe = ivf_auto_tuning(auto_rows)
        n_cells = n_cells if n_cells is not None else auto_cells
        nprobe = nprobe if nprobe is not None else auto_probe
    cent = train_ivf_centroids(
        corpus, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed
    )
    c = assign_ivf_cells(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cvec"),
        ),
        cent,
        vec_col="cvec",
        nprobe=1,
    ).select("neighbor_id", "cvec", F.col("cells")[0].alias("cell"))
    q = assign_ivf_cells(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
        ),
        cent,
        vec_col="qvec",
        nprobe=nprobe,
    ).select("query_id", "qvec", F.explode("cells").alias("cell"))

    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def label_centroid_components(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-(label, dimension) centroid components → (label, dim,
    centroid, n_vecs), dim 0-based.

    posexplode fans each vector into dim (pos, val) rows — a constant
    dim× blowup that stays linear in corpus size — then one shuffle on
    the (label, dim) pair with full map-side partial aggregation.
    Component means run through a DECIMAL(27,12)-exact sum (addition is
    associative, so the mean is bit-identical on any partitioning and
    any engine — the repo-wide cross-engine discipline) and are rounded
    to ``round_dp`` decimals so downstream dot products fold identical
    bits everywhere. A raw double AVG would be accumulation-order
    dependent, and ROUND cannot mask an ulp that sits on a rounding
    boundary.
    """
    d = df.select(
        F.col(label_col).alias("label"), F.posexplode(vec_col).alias("dim", "val")
    )
    n = F.count(F.lit(1))
    exact_sum = F.sum(
        F.col("val").cast("double").cast("decimal(27,12)")
    ).cast("double")
    return d.groupBy("label", "dim").agg(
        F.round(exact_sum / n, round_dp).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    ).select(
        "label", F.col("dim").cast("long").alias("dim"), "centroid", "n_vecs"
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid as an assembled array<double> → (label,
    centroid, n_vecs). Second aggregation is |labels| × dim rows
    regardless of corpus size — negligible."""
    comp = label_centroid_components(df, label_col=label_col, vec_col=vec_col)
    return (
        comp.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("pairs"),
            F.max("n_vecs").alias("n_vecs"),
        )
        .select(
            "label",
            F.transform("pairs", lambda p: p["centroid"]).alias("centroid"),
            "n_vecs",
        )
    )


def label_noise_screen(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Label-noise screen: cosine of every vector against its own
    label's centroid vs the best other-label centroid; rows where the
    other label wins (on round-6 cosines, both engines) are mislabel
    suspects — confident-learning-style screening reduced to Column
    algebra.

    Scale shape: the centroid set is |labels| rows, packed into ONE
    broadcast row of (label, centroid) structs; the corpus never
    shuffles and the comparison is a zero-shuffle per-row array fold —
    |labels| × dim multiply-adds per vector, pipelined with the scan.
    """
    cents = label_centroids(df, label_col=label_col, vec_col=vec_col)
    packed = cents.agg(
        F.collect_list(F.struct("label", "centroid")).alias("__cents__")
    )
    e = df.select(
        F.col(id_col),
        F.col(label_col).alias("label"),
        _as_double(F.col(vec_col)).alias("__v__"),
    )
    sims = e.crossJoin(F.broadcast(packed)).select(
        id_col,
        "label",
        F.transform(
            "__cents__",
            lambda s: F.struct(
                s["label"].alias("c_label"),
                F.round(cosine(F.col("__v__"), s["centroid"]), 6).alias("cos"),
            ),
        ).alias("__sims__"),
    )
    own = F.element_at(
        F.filter("__sims__", lambda s: s["c_label"] == F.col("label")), 1
    )["cos"]
    other = F.array_max(
        F.transform(
            F.filter("__sims__", lambda s: s["c_label"] != F.col("label")),
            lambda s: s["cos"],
        )
    )
    # Single-label corpora have no other-label centroid: best_other_cos
    # is NULL (documented — "no competing label existed"), and is_suspect
    # coalesces to false so a three-valued NULL can't silently drop rows
    # from `is_suspect = false` consumers (round-3 advice).
    return sims.select(
        id_col,
        "label",
        own.alias("own_cos"),
        other.alias("best_other_cos"),
        F.coalesce(other > own, F.lit(False)).alias("is_suspect"),
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray, list[float]]:
    """Fully DISTRIBUTED Lloyd's k-means over the whole corpus — the
    complement of train_ivf_centroids (which samples to the driver,
    FAISS-style). Here only the k×dim centroid matrix ever sits on the
    driver; both halves of every iteration are corpus-scale Spark jobs:

    - E-step: Arrow-batched pandas UDF assigns each vector to its
      nearest centroid (one matrix multiply per batch; centroids ride
      along as a closure broadcast of KBs).
    - M-step: posexplode → (cluster, dim) partial-aggregated sums — a
      single shuffle whose reduce side is k×dim rows, independent of
      corpus size — collected and normalized on the driver.

    Initialization is deterministic (the k lowest-id vectors), so
    results are reproducible across runs and partitionings. Returns
    (assignments DataFrame [id, cluster, sq_dist], final centroids,
    per-iteration inertia) — inertia is monotonically non-increasing,
    which the tests assert.

    Scale note: ``iters`` Spark jobs re-scan the input; callers persist
    ``df`` (the queries() wrapper does) so iterations hit cached
    vectors, the standard MLlib-style loop shape.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    init = (
        df.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    cent = np.array([r["v"] for r in init], dtype=np.float64)
    inertia: list[float] = []

    def assigner(c: np.ndarray):
        sq = (c * c).sum(axis=1)

        @pandas_udf(
            StructType(
                [
                    StructField("cluster", IntegerType()),
                    StructField("sq_dist", DoubleType()),
                ]
            )
        )
        def assign(vecs: pd.Series) -> pd.DataFrame:
            X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            # ||x-c||² = ||x||² - 2x·c + ||c||²; argmin over c
            d = (X * X).sum(axis=1, keepdims=True) - 2 * (X @ c.T) + sq
            best = np.argmin(d, axis=1)
            return pd.DataFrame(
                {
                    "cluster": best.astype("int32"),
                    "sq_dist": np.maximum(d[np.arange(len(X)), best], 0.0),
                }
            )

        return assign

    for _ in range(iters):
        assigned = df.select(
            F.col(id_col).alias("id"),
            _as_double(F.col(vec_col)).alias("v"),
            assigner(cent)(F.col(vec_col)).alias("a"),
        ).select("id", "v", F.col("a.cluster").alias("cluster"), F.col("a.sq_dist").alias("sq_dist"))
        stats = (
            assigned.select(
                "cluster", "sq_dist", F.posexplode("v").alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(
                # decimal-exact sums: the M-step is order-independent
                # bit-for-bit, so the whole loop is deterministic
                # across partitionings and runs
                F.sum(F.col("val").cast("decimal(38,12)"))
                .cast("double")
                .alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("sq_dist").cast("decimal(38,12)"))
                .cast("double")
                .alias("sd"),
            )
            .collect()
        )
        n_per = {}
        sums = np.zeros_like(cent)
        total_sd = 0.0
        for r in stats:
            sums[r["cluster"], r["dim"]] = r["s"]
            n_per[r["cluster"]] = r["n"]
            if r["dim"] == 0:
                total_sd += r["sd"]
        inertia.append(total_sd)
        for c in range(len(cent)):
            if n_per.get(c):
                cent[c] = sums[c] / n_per[c]
    final = df.select(
        F.col(id_col).alias("id"),
        assigner(cent)(F.col(vec_col)).alias("a"),
    ).select(
        "id",
        F.col("a.cluster").cast("long").alias("cluster"),
        F.col("a.sq_dist").alias("sq_dist"),
    )
    return final, cent, inertia
