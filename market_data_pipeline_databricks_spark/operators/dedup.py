"""Deduplication operators for training-data pipelines.

Five dedup families, all shuffle-disciplined for 100 TB:

- **exact**: hash-groupBy on a normalized fingerprint (one shuffle on a
  16-byte key; skew-free because md5 is uniform);
- **MinHash + LSH**: shingle → per-seed min of xxhash64 → band hashes →
  candidate pairs via equi-join on (band_id, band_hash) — the classic
  shingle/minhash/band/bucket pipeline, entirely in built-in JVM
  expressions (no Python, no UDF);
- **SimHash**: 64-bit sign-of-sum signature via explode + bit-count
  aggregation; near-dups = pairs within Hamming distance d on any of
  4 16-bit bands;
- **n-gram Jaccard**: exact token-set Jaccard on candidate pairs
  blocked by rare shingles (oracle-verifiable in plain SQL);
- **embedding cosine** near-dup lives in operators/similarity.py.

Scale notes: every candidate-generation step is an equi-join on a
bucket key, never a cross join; bucket skew is bounded by dropping
over-frequent buckets (``max_bucket_size``), the standard guard against
degenerate shingles (boilerplate headers etc.).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.operators import text as TX


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of documents with identical normalized text: one row per
    fingerprint with the keeper (min id) and the duplicate count."""
    return (
        df.select(F.col(id_col), TX.fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one document per fingerprint (the min id): the
    survivor set. Implemented as a min-id semi-join, not a window, so
    the only shuffle key is the fingerprint."""
    keepers = exact_duplicates(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingle_col: Column, num_hashes: int = 64) -> Column:
    """Array of ``num_hashes`` min-hashes over a SHINGLE-ARRAY column.

    Each hash family member is xxhash64(shingle, seed_i) — independent
    seeds give independent permutation approximations. Pure Column
    expression: evaluates inside whole-stage codegen.

    Takes a pre-materialized shingle array (project ``TX.shingles(...)``
    into its own column first), NOT the raw text expression: higher-order
    lambdas defeat common-subexpression elimination, so an inlined
    shingle expression would be re-evaluated once per hash — 64× the
    normalize/tokenize/shingle work (measured 12× wall-clock on the
    signature projection alone).
    """

    def seeded_hash(seed: int):
        return lambda s: F.xxhash64(s, F.lit(seed))

    return F.array(
        *[
            F.array_min(F.transform(shingle_col, seeded_hash(i)))
            for i in range(num_hashes)
        ]
    )


def lsh_bands(sig_col: Column, num_bands: int = 16, rows_per_band: int = 4) -> Column:
    """Hash each band (contiguous signature slice) to one bucket key.
    Returns array<struct<band_id,band_hash>> ready to explode."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(sig_col, b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(num_bands)
        ]
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int = 200,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard =
    fraction of matching signature components. Buckets larger than
    ``max_bucket_size`` are dropped (degenerate-content guard — at web
    scale a boilerplate bucket would otherwise produce O(n²) pairs).

    ``portable=True`` swaps the seeded-xxhash64 signature and band
    hashing for the md5-derived affine family + string band keys so a
    DuckDB oracle replays the banding exactly; the xxhash64 default
    stays the engine-internal fast path.
    """
    rows_per_band = num_hashes // num_bands
    # Shingle array materialized behind its own projection (see
    # minhash_signature PERF note), signature computed once per doc —
    # and PERSISTED: sigs feeds the banding, the bucket-size skew
    # guard, both self-join sides and both verification joins; without
    # persistence each consumer re-executes the 64-hash signature
    # (same fix class as the blocked-Jaccard shingleset persist).
    from pyspark import StorageLevel

    shingled = df.select(
        F.col(id_col).alias("id"),
        TX.shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    if portable:
        shingled = shingled.select(
            "id", portable_base_hashes(F.col("sh")).alias("hb")
        )
        sig_col = portable_signature(F.col("hb"), num_hashes)
    else:
        sig_col = minhash_signature(F.col("sh"), num_hashes)
    sigs = shingled.select("id", sig_col.alias("sig")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # The banded stream stays NARROW (id, band key) — the 64-long
    # signature arrays never ride through the explode, the bucket-size
    # aggregation, or the self-join; they re-join only onto the (tiny
    # relative to the corpus) candidate-pair set at the end.
    bands_col = (
        portable_lsh_bands(F.col("sig"), num_bands, rows_per_band)
        if portable
        else lsh_bands(F.col("sig"), num_bands, rows_per_band)
    )
    banded = sigs.select("id", F.explode(bands_col).alias("b")).select(
        "id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )

    # Skew guard: drop over-full buckets before the self-join.
    bucket_sizes = banded.groupBy("band_id", "band_hash").agg(F.count(F.lit(1)).alias("sz"))
    banded = banded.join(
        bucket_sizes.filter(F.col("sz") <= max_bucket_size).select("band_id", "band_hash"),
        ["band_id", "band_hash"],
        "left_semi",
    )

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    pairs = cand.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))
    return pairs.select(
        "id_a", "id_b", F.round(est, 6).alias("est_jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.5,
    **kwargs,
) -> DataFrame:
    """Near-duplicate pairs with estimated Jaccard ≥ threshold."""
    return minhash_candidate_pairs(df, **kwargs).filter(
        F.col("est_jaccard") >= threshold
    )


def minhash_verified_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    max_bucket_size: int = 200,
    portable: bool = False,
) -> DataFrame:
    """Banded-MinHash candidates + EXACT Jaccard verification — the
    production recall/precision split for near-dup detection at scale.

    The banding stage is the 100-TB path (an equi-join on band keys —
    no all-pairs, no rare-shingle DF pass over the corpus); the exact
    Jaccard then runs only on the candidate set, which is tiny relative
    to the corpus. Output is identical to ``ngram_jaccard_pairs`` at
    the same threshold whenever banding recall on ≥-threshold pairs is
    1 — for near-identical duplicates (J ≥ 0.9, the regime content
    dedup targets) a 16-band/4-row scheme misses a pair with
    probability (1 − J⁴)¹⁶ < 1e-10, so the equality is effectively
    structural (asserted against the exact form on testdata in
    tests/test_training_ops.py). For lower target thresholds, raise
    ``num_bands`` (more, shorter bands shift the S-curve left).
    """
    cand = minhash_candidate_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
        portable=portable,
    ).select("id_a", "id_b")
    docs = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(TX.shingles(F.col(text_col), shingle_k)).alias("shingleset"),
    )
    da = docs.select(F.col("id").alias("id_a"), F.col("shingleset").alias("sh_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("shingleset").alias("sh_b"))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_MINHASH_P30 = 1073741789  # largest prime < 2^30 — base-hash range
_MINHASH_P31 = 2147483647  # 2^31 − 1 (Mersenne prime) — family modulus


def minhash_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the Carter–Wegman affine
    MinHash family h_i(x) = (a_i·x + b_i) mod P31. Mersenne-Twister
    seeded — stable across Python versions — and shared verbatim with
    the DuckDB oracle (plans/text_ops.py embeds the same pairs in a
    VALUES list), so both engines replay identical signatures."""
    import random

    rng = random.Random(20260815)
    return [
        (rng.randrange(1, _MINHASH_P31), rng.randrange(0, _MINHASH_P31))
        for _ in range(num_hashes)
    ]


def _affine_fn(a: int, b: int):
    """Factory (NOT a default-arg lambda — PySpark reads a 2-arg HOF
    lambda as (element, index)) for one Carter–Wegman family member."""
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MINHASH_P31)


def portable_base_hashes(shingle_col: Column) -> Column:
    """One md5-derived base hash per shingle, reduced mod P30 so the
    affine family never overflows signed 64-bit. Project the result
    into its OWN column before feeding :func:`portable_signature` —
    interpreted HOFs get no CSE, so an inlined base-hash expression
    would re-run the md5 once per family member."""
    return F.transform(
        shingle_col, lambda s: TX.portable_hash60(s) % F.lit(_MINHASH_P30)
    )


def portable_signature(hb_col: Column, num_hashes: int = 64) -> Column:
    """MinHash signature from a BOUND base-hash array column: per
    family member, min over the array of (a·h + b) mod P31."""
    return F.array(
        *[
            F.array_min(F.transform(hb_col, _affine_fn(a, b)))
            for a, b in minhash_affine_params(num_hashes)
        ]
    )


def portable_lsh_bands(
    sig_col: Column, num_bands: int = 16, rows_per_band: int = 4
) -> Column:
    """Band keys as comma-joined signature-slice STRINGS (no engine
    hash): array<struct<band_id, band_hash>> ready to explode, oracle-
    replayable via string_agg(... ORDER BY seed). The xxhash64 form
    (:func:`lsh_bands`) stays the engine-internal default — 8-byte
    fixed-width keys shuffle cheaper at 100 TB."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(
                            sig_col, b * rows_per_band + r + 1
                        ).cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_hash"),
            )
            for b in range(num_bands)
        ]
    )


def minhash_near_duplicates_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    max_bucket_size: int = 200,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with ORACLE-REPLAYABLE hashes.

    Identical pipeline to :func:`minhash_candidate_pairs` (shingle →
    per-seed min-hash → banded equi-join → estimated Jaccard ≥
    threshold) with two substitutions that make every intermediate
    value reproducible in plain SQL on any engine:

    - each hash-family member is ``portable_hash60(seed || ':' ||
      shingle)`` (md5-derived 60-bit int) instead of seeded xxhash64;
    - the band bucket key is the comma-joined signature slice STRING
      instead of an xxhash64 of it (fixed-width band hashing matters
      at 100 TB for shuffle width — 8-byte keys vs ~80-byte strings —
      but is an engine-internal detail, so the oracle form skips it).

    The DuckDB oracle replays the whole algorithm — including banding
    recall misses and the max_bucket_size skew guard — so the driver's
    hash check pins the LSH behavior itself, not just a downstream
    verification (same discipline as the BPE merge-chain oracle).
    Plan shape and shuffle structure are unchanged from the xxhash64
    form: the banded stream stays (id, band key)-narrow, buckets over
    ``max_bucket_size`` are dropped before the self-join, signatures
    re-join only onto the candidate set.

    The hash family is the classic Carter–Wegman affine construction
    over ONE md5-derived base hash per shingle: h_i(s) = (a_i·h(s) +
    b_i) mod p with h(s) = portable_hash60(s) mod P30 — one md5 per
    shingle instead of ``num_hashes`` md5s (measured 4.96 s → the
    xxhash64 form's ~2.3 s at sf0.1; a_i·h < 2^61 so the arithmetic
    never overflows a signed 64-bit int on either engine).
    """
    from pyspark import StorageLevel

    rows_per_band = num_hashes // num_bands
    sigs = (
        df.select(
            F.col(id_col).alias("id"),
            TX.shingles(F.col(text_col), shingle_k).alias("sh"),
        )
        # base hashes in their own projection: the md5 evaluates once
        # per shingle; the affine transforms below read the bound
        # column (no-CSE-inside-HOF lesson, round 3/4)
        .select("id", portable_base_hashes(F.col("sh")).alias("hb"))
        .select("id", portable_signature(F.col("hb"), num_hashes).alias("sig"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    banded = sigs.select(
        "id",
        F.explode(portable_lsh_bands(F.col("sig"), num_bands, rows_per_band)).alias(
            "b"
        ),
    ).select(
        "id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_key")
    )
    bucket_sizes = banded.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    banded = banded.join(
        bucket_sizes.filter(F.col("sz") <= max_bucket_size).select(
            "band_id", "band_key"
        ),
        ["band_id", "band_key"],
        "left_semi",
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    pairs = cand.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))
    return pairs.select(
        "id_a", "id_b", F.round(est, 6).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document over distinct tokens.

    bit_j(doc) = 1 iff sum over tokens of (bit_j(xxhash64(token)) ? +1 : -1) > 0.
    Explode + one groupBy on the doc id; the 64 bit-sums are a single
    wide aggregate (codegen'd), not 64 passes.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(TX.tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(64)
        ]
    )
    sim = bit_sums.select(
        "id",
        sum(
            [
                F.when(
                    F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
                ).otherwise(F.lit(0).cast("long"))
                for j in range(64)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sim


def simhash_near_duplicates_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bits: int = 60,
    num_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with an ORACLE-REPLAYABLE signature.

    60-bit sign-of-sum signature over DISTINCT normalized tokens, each
    token hashed with ``portable_hash60`` (md5-derived) so a DuckDB
    oracle reproduces every signature bit-for-bit. Candidates come from
    equi-joins on ``num_bands`` disjoint 15-bit bands, then the exact
    popcount filter keeps pairs within ``max_hamming``.

    Banding recall is EXACTLY 1 here by pigeonhole, not probabilisticly:
    with ``max_hamming`` < ``num_bands``, at most ``max_hamming`` of the
    ``num_bands`` disjoint bands can contain a differing bit, so at
    least one band is identical and every qualifying pair is a
    candidate. The oracle may therefore check all-pairs Hamming
    directly — banded output is structurally equal, independent of the
    data. (Requires ``n_bits % num_bands == 0``.)

    Relational vote aggregation (explode distinct tokens → one groupBy
    with 60 conditional sums) rather than 60 higher-order ``aggregate``
    lambdas: HOFs get no common-subexpression elimination, and the
    single hash projection feeds all 60 bit-votes in one pass.
    """
    if n_bits % num_bands != 0:
        raise ValueError(f"n_bits {n_bits} not divisible by num_bands {num_bands}")
    if max_hamming >= num_bands:
        raise ValueError(
            f"max_hamming {max_hamming} >= num_bands {num_bands} — pigeonhole "
            "recall guarantee (and hence oracle equality) would not hold"
        )
    band_bits = n_bits // num_bands
    th = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(TX.tokens(F.col(text_col)))).alias("tok"),
        )
        .select("id", TX.portable_hash60(F.col("tok")).alias("h"))
    )
    votes = th.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{b}")
            for b in range(n_bits)
        ]
    )
    sig_expr = None
    for b in range(n_bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig_expr = term if sig_expr is None else sig_expr + term
    sim = votes.select("id", sig_expr.alias("simhash"))
    bands = sim.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.band_id", "b.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard on blocked candidates
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_shingle_df: int = 10,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact k-gram-shingle-set Jaccard for pairs blocked on rare shingles.

    Blocking: only pairs sharing a shingle that appears in ≤
    ``max_shingle_df`` documents become candidates — selective shingles
    bound the join fan-out, the SQL-expressible cousin of MinHash
    banding (this one has a DuckDB oracle twin). Jaccard is computed on
    shingle *sets* (word unigram sets are too dense to discriminate on
    small vocabularies).

    The (id, shingleset) frame is persisted (MEMORY_AND_DISK, spills
    at scale): it feeds the rarity aggregate, BOTH sides of the
    candidate join, and both verification sides — without persistence
    Catalyst re-executes the normalize→split→shingle HOF chain for
    each of those five consumers (measured 40 s → 15 s at sf0.1; the
    same class of fix as round 3's MinHash signature
    materialization). Lazy persist, not localCheckpoint, so building
    the plan stays free of jobs.
    """
    from pyspark import StorageLevel

    docs = (
        df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                TX.shingles(F.col(text_col), shingle_k)
            ).alias("shingleset"),
        )
        # 64-bit shingle hashes, computed once alongside the strings:
        # the candidate verify below runs its set intersections on
        # longs (measured ~2.5× faster than string-array intersects at
        # sf0.1 — the verify stage dominated the whole operator), with
        # the EXACT string-set Jaccard re-checked on the (tiny)
        # survivor set so the output semantics stay purely
        # string-defined. See the prefilter note below.
        .withColumn(
            "hset",
            F.array_sort(
                F.array_distinct(
                    F.transform("shingleset", lambda s: F.xxhash64(s))
                )
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sh = docs.select("id", F.explode("shingleset").alias("shingle"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") <= max_shingle_df)
        .select("shingle")
    )
    sh_rare = sh.join(rare, "shingle", "left_semi")
    a, b = sh_rare.alias("a"), sh_rare.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Stage 1 — hashed prefilter: Jaccard over the long-hash sets via
    # inclusion-exclusion (|A∪B| = |A|+|B|−|A∩B|: one intersect, no
    # union allocation). A hash collision can perturb this value only
    # by ~1/|set| with probability ≈ |corpus shingles|²/2⁶⁵, so a 2%
    # threshold slack makes a missed true pair effectively impossible;
    # false positives fall through to the exact stage.
    ha = docs.select(F.col("id").alias("id_a"), F.col("hset").alias("h_a"))
    hb = docs.select(F.col("id").alias("id_b"), F.col("hset").alias("h_b"))
    hinter = F.size(F.array_intersect("h_a", "h_b"))
    pre = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .filter(
            hinter / (F.size("h_a") + F.size("h_b") - hinter).cast("double")
            >= F.lit(threshold * 0.98)
        )
        .select("id_a", "id_b")
    )
    # Stage 2 — exact verify on the survivors (tiny): the STRING-set
    # Jaccard, so the operator's contract (and its DuckDB oracle) is
    # untouched by the hashing above.
    da = docs.select(F.col("id").alias("id_a"), F.col("shingleset").alias("sh_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("shingleset").alias("sh_b"))
    return (
        pre.join(da, "id_a")
        .join(db, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction: (node, component) where component = min id in the
    component. Published MapReduce algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the same doubling
    scheme GraphFrames uses.

    Near-dup PAIRS are not a dedup decision — similarity is not
    transitive, so keep-one-per-pair can over- or under-delete chains
    (A~B~C). Components give the closure: one survivor per cluster.

    Each round is two shuffle stages (large-star, small-star), and the
    edge set contracts toward stars centered on the component minimum in
    O(log n) rounds — a path of length 10^6 converges in ~20 rounds where
    plain min-label propagation needs 10^6. ``max_iter=25`` therefore
    covers any graph this engine can hold; convergence is detected as an
    edge-set fixpoint (not a last-pass change count), so a graph that
    finishes exactly on the final round is accepted, never a false abort.
    The driver loop carries only tiny change counts, never data;
    per-round ``localCheckpoint`` truncates lineage.
    """
    # Canonical big→small directed edges, self-loops dropped. LAZY
    # local checkpoint (r15): the count() just below is the first
    # action and materializes the checkpoint — an eager checkpoint ran
    # a dedicated job for data the count re-read immediately after
    # (two jobs where one suffices, in a loop whose cost is per-round
    # fixed overhead). Identity is unchanged: lazy or eager, the frame
    # is rooted in ONE checkpointed RDD instance, so every later
    # consumer reads the same materialized blocks.
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    converged = False
    # The previous round's edge count rides along in the driver (an int,
    # not data): re-counting the checkpointed previous set each round
    # would add one job per round to an op whose bench cost is already
    # fixed per-round overhead, not data.
    prev_count = e.count()
    for _ in range(max_iter):
        # -- large-star: every node links its LARGER neighbors to its
        # minimum (of neighborhood ∪ self). Keeps big→small invariant.
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mnv"))
            .select("u", F.least("mnv", "u").alias("m"))
        )
        # no distinct here: duplicate (u, v) rows collapse map-side in
        # mins2's partial aggregation and in small's final distinct, so
        # deduping first costs a full extra exchange per round (r14:
        # one of ~6 round shuffles) for bytes the next stage would
        # have collapsed anyway — the round output (small) stays
        # distinct, which is what the fixpoint test and the result
        # contract require.
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # -- small-star: group by the big end; link all (smaller)
        # neighbors and self to the group minimum.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # lazy: the fixpoint count below is the materializing
            # action (same one-job-per-round cut as the initial set)
            .localCheckpoint(eager=False)
        )
        # Fixpoint test on the canonical edge set: both sides are
        # distinct, so equal counts + empty one-way difference ⇔ equal.
        # The exceptAll job runs only when the cheap count gate passes.
        sc = small.count()
        if sc == prev_count and small.exceptAll(e).limit(1).count() == 0:
            e = small
            converged = True
            break
        prev_count = sc
        e = small
    if not converged:
        # Silently returning split components would be a wrong answer.
        # With doubling this needs > 2^max_iter nodes — unreachable — but
        # guard anyway rather than emit wrong clusters.
        raise RuntimeError(
            f"connected_components did not converge after {max_iter} "
            f"large-star/small-star rounds; raise max_iter"
        )
    # Fixpoint edges are stars (node → component min); centers appear
    # only as destinations, so add their self-labels.
    return e.select(F.col("u").alias("node"), F.col("v").alias("component")).unionByName(
        e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_shingle_df: int = 10,
    threshold: float = 0.5,
) -> DataFrame:
    """Max-containment near-dup pairs: C(a,b) = |shingles(a) ∩
    shingles(b)| / min(|shingles(a)|, |shingles(b)|) for pairs blocked
    on rare shingles — the asymmetric companion to
    ``ngram_jaccard_pairs``. Jaccard misses the case a training-data
    curator cares most about: a SHORT document embedded verbatim
    inside a much longer one (quote farms, boilerplate wrappers,
    test-set snippets pasted into crawled pages), where |∩|/|∪| is
    tiny but |∩|/|smaller| ≈ 1. Containment is the decontamination
    metric (Lee et al.'s dedup literature uses exactly this form).

    Same blocking and persist discipline as ``ngram_jaccard_pairs``
    (see that docstring for the scale argument: selective shingles
    bound the candidate fan-out; the (id, shingleset) frame feeds five
    consumers so it is persisted). Containment divides two exact
    integers, so ROUND(..., 6) is deterministic on both engines.
    """
    from pyspark import StorageLevel

    docs = (
        df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                TX.shingles(F.col(text_col), shingle_k)
            ).alias("shingleset"),
        )
        .withColumn(
            "hset",
            F.array_sort(
                F.array_distinct(
                    F.transform("shingleset", lambda s: F.xxhash64(s))
                )
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sh = docs.select("id", F.explode("shingleset").alias("shingle"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") <= max_shingle_df)
        .select("shingle")
    )
    sh_rare = sh.join(rare, "shingle", "left_semi")
    a, b = sh_rare.alias("a"), sh_rare.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Hashed prefilter + exact string verify — same two-stage scheme
    # (and the same collision/slack argument) as ngram_jaccard_pairs.
    ha = docs.select(F.col("id").alias("id_a"), F.col("hset").alias("h_a"))
    hb = docs.select(F.col("id").alias("id_b"), F.col("hset").alias("h_b"))
    pre = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .filter(
            F.size(F.array_intersect("h_a", "h_b"))
            / F.least(F.size("h_a"), F.size("h_b")).cast("double")
            >= F.lit(threshold * 0.98)
        )
        .select("id_a", "id_b")
    )
    da = docs.select(F.col("id").alias("id_a"), F.col("shingleset").alias("sh_a"))
    db = docs.select(F.col("id").alias("id_b"), F.col("shingleset").alias("sh_b"))
    return (
        pre.join(da, "id_a")
        .join(db, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.least(F.size("sh_a"), F.size("sh_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def ngram_jaccard_cross_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_shingle_df: int = 10,
    threshold: float = 0.1,
) -> DataFrame:
    """Incremental fuzzy dedup: blocked exact shingle-Jaccard between a
    NEW batch and the EXISTING corpus only — the daily-crawl companion
    to :func:`ngram_jaccard_pairs` (which is all-pairs within one
    frame) and to the md5 exact incremental dedup.

    Scale shape: candidate fan-out is batch-side × corpus-side on rare
    shingles — no corpus×corpus term anywhere, so daily cost is
    O(batch × block occupancy) regardless of corpus history size.
    Shingle rarity (the blocking key selectivity) is computed over the
    UNION of both sides: document frequency is a corpus-global
    property, and computing it batch-locally would let a corpus-common
    shingle masquerade as rare.

    Returns (batch id, corpus id, jaccard) for every cross pair at or
    above ``threshold`` — deterministic, fully SQL-expressible (oracle
    twin in plans/text_ops.py)."""
    from pyspark import StorageLevel

    def prep(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(f"id_{side}"),
                F.array_distinct(
                    TX.shingles(F.col(text_col), shingle_k)
                ).alias(f"sh_{side}"),
            )
            .withColumn(
                f"h_{side}",
                F.array_sort(
                    F.array_distinct(
                        F.transform(f"sh_{side}", lambda s: F.xxhash64(s))
                    )
                ),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    db_ = prep(batch, "b")
    dc_ = prep(corpus, "c")
    sh_b = db_.select("id_b", F.explode("sh_b").alias("shingle"))
    sh_c = dc_.select("id_c", F.explode("sh_c").alias("shingle"))
    rare = (
        sh_b.select(F.col("id_b").alias("id"), "shingle")
        .unionByName(sh_c.select(F.col("id_c").alias("id"), "shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") <= max_shingle_df)
        .select("shingle")
    )
    cand = (
        sh_b.join(rare, "shingle", "left_semi")
        .join(sh_c.join(rare, "shingle", "left_semi"), "shingle")
        .select("id_b", "id_c")
        .distinct()
    )
    # Hashed prefilter + exact string verify on survivors — same
    # two-stage scheme (and collision/slack argument) as
    # ngram_jaccard_pairs.
    hinter = F.size(F.array_intersect("h_b", "h_c"))
    pre = (
        cand.join(db_.select("id_b", "h_b"), "id_b")
        .join(dc_.select("id_c", "h_c"), "id_c")
        .filter(
            hinter / (F.size("h_b") + F.size("h_c") - hinter).cast("double")
            >= F.lit(threshold * 0.98)
        )
        .select("id_b", "id_c")
    )
    return (
        pre.join(db_.select("id_b", "sh_b"), "id_b")
        .join(dc_.select("id_c", "sh_c"), "id_c")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_b", "sh_c"))
                / F.size(F.array_union("sh_b", "sh_c")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_b").alias("batch_id"),
            F.col("id_c").alias("corpus_id"),
            "jaccard",
        )
    )


def minhash_cross_verified_near_duplicates(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    max_bucket_size: int = 200,
    portable: bool = False,
) -> DataFrame:
    """Incremental banded-MinHash near-dup detection: the new batch's
    band keys probe the corpus's band keys — the 100-TB twin of
    :func:`ngram_jaccard_cross_pairs` (which pays a corpus-global
    shingle-DF pass for its deterministic blocking; here the corpus
    side contributes only its persisted signatures/band keys, the
    production pattern where the corpus index is maintained once and
    each day's batch probes it).

    Candidates = cross band-bucket collisions only (no corpus×corpus,
    no batch×batch term); every candidate is verified with the exact
    shingle Jaccard, so precision is 1. Output equals
    :func:`ngram_jaccard_cross_pairs` when BOTH blocking schemes have
    recall 1 on the corpus: banding recall here (J ≥ 0.9 pairs are
    missed with probability < 1e-10 at 16×4), AND the exact form's
    rare-shingle blocking (df ≤ max_shingle_df), which can miss true
    pairs that share only common shingles — in general the two outputs
    are incomparable (each can contain pairs the other's blocking
    missed); on the pinned testdata both recalls are 1 and keep-set
    equality is pytest-pinned at the 0.5 threshold."""
    from pyspark import StorageLevel

    rows_per_band = num_hashes // num_bands

    def prep(df: DataFrame, side: str):
        sh = df.select(
            F.col(id_col).alias(f"id_{side}"),
            TX.shingles(F.col(text_col), shingle_k).alias("sh"),
        )
        if portable:
            # base hashes bound in their own projection (no CSE inside
            # interpreted HOFs), then the oracle-replayable affine
            # signature + string band keys
            sigs = (
                sh.select(
                    f"id_{side}",
                    F.array_distinct("sh").alias(f"shset_{side}"),
                    portable_base_hashes(F.col("sh")).alias("hb"),
                )
                .select(
                    f"id_{side}",
                    f"shset_{side}",
                    portable_signature(F.col("hb"), num_hashes).alias("sig"),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            bands_col = portable_lsh_bands(F.col("sig"), num_bands, rows_per_band)
        else:
            sigs = sh.select(
                f"id_{side}",
                F.array_distinct("sh").alias(f"shset_{side}"),
                minhash_signature(F.col("sh"), num_hashes).alias("sig"),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            bands_col = lsh_bands(F.col("sig"), num_bands, rows_per_band)
        banded = sigs.select(
            f"id_{side}",
            F.explode(bands_col).alias("b"),
        ).select(
            f"id_{side}",
            F.col("b.band_id").alias("band_id"),
            F.col("b.band_hash").alias("band_hash"),
        )
        return sigs, banded

    sigs_b, banded_b = prep(batch, "b")
    sigs_c, banded_c = prep(corpus, "c")
    # Skew guard on the corpus side (the big one): drop over-full
    # buckets before the probe join.
    ok_buckets = (
        banded_c.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") <= max_bucket_size)
        .select("band_id", "band_hash")
    )
    banded_c = banded_c.join(ok_buckets, ["band_id", "band_hash"], "left_semi")
    cand = (
        banded_b.join(banded_c, ["band_id", "band_hash"])
        .select("id_b", "id_c")
        .distinct()
    )
    return (
        cand.join(sigs_b.select("id_b", "shset_b"), "id_b")
        .join(sigs_c.select("id_c", "shset_c"), "id_c")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("shset_b", "shset_c"))
                / F.size(F.array_union("shset_b", "shset_c")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_b").alias("batch_id"),
            F.col("id_c").alias("corpus_id"),
            "jaccard",
        )
    )
