"""Deduplication operators — exact and near-duplicate, 100 TB-ready.

All operators are ``DataFrame -> DataFrame``, partition-parallel, with no
driver-side materialization. The near-dup pipeline is the standard
MinHash+LSH construction (Broder 1997; Leskovec-Rajaraman-Ullman ch.3):
shingle → minhash signature → band → bucket-join → candidate pairs →
exact-Jaccard verification. Everything except SimHash runs entirely on
JVM-side built-in functions (array transforms + xxhash64) — no Python in
the hot path, so whole-stage codegen applies.

Scale notes:
- Candidate generation is the bucket self-join; its cost is driven by
  bucket skew, so the band hash includes the band index (buckets never
  collide across bands) and a ``max_bucket_size`` guard drops degenerate
  buckets (boilerplate-heavy shingles) the way production dedup does.
- Exact verification joins shingle arrays back only for candidate pairs —
  a tiny fraction of n².

Cache contract (applies to EVERY ``persist`` in this module): operators
return lazy DataFrames whose lineage pins the persisted intermediate
(signature/banded/inverted-index tables), so the operator itself cannot
unpersist without forcing a recompute — THE CALLER OWNS THE CACHE. A
long-lived session that is done with a result should materialize it and
``spark.catalog.clearCache()`` (or track and ``unpersist`` the inputs);
MEMORY_AND_DISK + LRU eviction means an unreleased cache degrades to
recomputation pressure rather than failing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

__all__ = [
    "exact_dedup",
    "fingerprint_dedup",
    "shingle",
    "shingle_hashes",
    "portable_hash64",
    "portable_shingle_hashes",
    "minhash_signature",
    "lsh_candidate_pairs",
    "minhash_dedup_pairs",
    "incremental_minhash_pairs",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "simhash",
    "simhash_dedup_pairs",
    "embedding_dedup_pairs",
    "fuzzy_pairs",
    "passage_dedup",
    "duplicated_span_stats",
]

# Mersenne prime for the universal hash family h(x) = (a*x+b) mod p, with
# deterministic (seeded) multipliers — stable across runs/executors.
# 2^31-1 keeps (h%p)*a < 2^62: no int64 overflow inside the JVM expression.
_MERSENNE_P = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    # Deterministic LCG over the seed — no RNG state needed on executors.
    params = []
    state = seed & 0x7FFFFFFFFFFFFFFF
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) & 0x7FFFFFFFFFFFFFFF
        a = (state | 1) % _MERSENNE_P
        state = (state * 6364136223846793005 + 1442695040888963407) & 0x7FFFFFFFFFFFFFFF
        b = state % _MERSENNE_P
        params.append((a or 1, b))
    return params


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: keep the lowest id per distinct content.

    Hash-groupBy on md5(content) — one shuffle keyed by digest; the md5 is
    computed map-side so the shuffle carries 16-byte keys, not documents.
    Deterministic keeper (min id), unlike ``dropDuplicates`` which keeps an
    arbitrary row."""
    digest = F.md5(F.col(content_col).cast("binary")).alias("content_hash")
    return (
        df.select(digest, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def fingerprint_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Normalized-fingerprint dedup: lowercase, strip non-alphanumerics,
    collapse whitespace, then md5 — catches trivially-reformatted copies."""
    normalized = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(content_col)), "[^a-z0-9 ]", ""), " +", " "
    )
    return (
        df.select(F.md5(F.trim(normalized).cast("binary")).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def _words(content_col: str) -> Column:
    return F.filter(F.split(F.lower(F.col(content_col)), " "), lambda w: w != "")


def portable_hash64(col: Column) -> Column:
    """Engine-portable 60-bit string hash: the first 15 hex chars of md5,
    read as an integer. md5 is bit-identical in every engine (Spark,
    DuckDB, Trino, Python hashlib), so operators built on this hash can be
    replayed exactly by an external system — the same portability argument
    :mod:`..operators.splits` makes for split membership. 15 hex chars =
    60 bits keeps the value positive in a signed 64-bit integer on every
    engine (no overflow/sign divergence). DuckDB twin:
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def portable_shingle_hashes(content_col: str, k: int = 3) -> Column:
    """Distinct word k-shingles as portable 60-bit hashes (array<bigint>) —
    the :func:`portable_hash64` twin of :func:`shingle_hashes`, hashing the
    joined k-word string per shingle (one md5 per position instead of the
    xxhash64 word-fold). Same short-document contract: documents with
    fewer than ``k`` words yield ONE whole-text synthetic gram. Use when
    the dedup decision must be replayable outside Spark; the xxhash64 path
    stays the throughput default."""
    return F.transform(shingle(content_col, k), portable_hash64)


def shingle(content_col: str, k: int = 3) -> Column:
    """Distinct word k-shingles of a text column, as an array<string>.

    Built from split + sequence + transform — all codegen'd; no UDF."""
    words = _words(content_col)
    n = F.size(words)
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
            )
        )
    )


def shingle_hashes(content_col: str, k: int = 3, empty_when_short: bool = False) -> Column:
    """Distinct word k-shingles as 64-bit hashes (array<bigint>) — the
    minhash-path twin of :func:`shingle`.

    Documents with fewer than ``k`` words default to ONE whole-text
    synthetic gram (so MinHash/dedup callers still catch exact short-text
    duplicates); ``empty_when_short=True`` yields an empty array instead —
    the n-gram-counting contract ("a sub-k-token document has zero
    k-grams") that :func:`~..operators.curation.contamination_report`
    needs to agree with its SQL oracle.

    Hashes each word once (xxhash64), then folds k adjacent word hashes
    together with ``zip_with`` against shifted slices of the same array —
    k-1 sequential array traversals, no k-word string ever materialized,
    no random indexing. (Measured: 15× faster than element_at-by-index —
    positional element_at falls out of codegen — and 5× faster than
    building string shingles.) xxhash64 combining (not a multiply-add
    chain) because ANSI mode makes long-overflow throw. Distinct shingle
    *sets* map 1:1 to hash sets w.h.p. (64-bit), so Jaccard over these
    equals Jaccard over string shingles."""
    words = _words(content_col)
    wh = F.transform(words, lambda w: F.xxhash64(w))
    n = F.size(wh)
    combined = wh
    for j in range(1, k):
        shifted = F.slice(wh, j + 1, F.greatest(n - j, F.lit(0)))
        # zip_with pads the shorter side with null; the trailing (k-1)
        # positions are sliced off below, so the padding never surfaces.
        combined = F.zip_with(combined, shifted, lambda a, b: F.xxhash64(a, b))
    short = (
        F.array().cast("array<bigint>") if empty_when_short else F.array(F.xxhash64(wh))
    )
    return F.when(n < k, short).otherwise(
        F.array_distinct(F.slice(combined, 1, n - k + 1))
    )


def minhash_signature(
    shingles_col: Column | str,
    num_hashes: int = 64,
    seed: int = 42,
    pre_hashed: bool = False,
) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``) of a shingle
    array: sig[i] = min over shingles of (a_i * xxhash64(s) + b_i) mod p.

    xxhash64 is Spark's deterministic JVM hash; the (a,b) family is
    generated driver-side and inlined as literals into the expression tree,
    so the whole signature is one codegen'd projection. With ``pre_hashed``
    the input is already array<bigint> (see :func:`shingle_hashes`) and the
    re-hash is skipped."""
    col = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    hashes = col if pre_hashed else F.transform(col, lambda s: F.xxhash64(s))
    # Hoist abs(h) % p out of the permutation family (round 17, guide §1.2
    # "per-task work"): the reduced hash is identical for every (a_i, b_i),
    # so computing it once per shingle instead of once per shingle PER HASH
    # removes num_hashes-1 abs+mod passes per row — value-identical by
    # algebra ((|h| mod p)·a + b ≡ old expression), measured ~1.15× on the
    # dd03 signature stage at sf0.1.
    hm = F.transform(hashes, lambda h: F.abs(h) % _MERSENNE_P)

    def perm(a: int, b: int):
        # closure (not lambda default args — Spark reads lambda arity as the
        # higher-order-function argument count)
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE_P)

    sig = [
        F.array_min(F.transform(hm, perm(a, b)))
        for a, b in _hash_params(num_hashes, seed)
    ]
    return F.array(*sig)


def _banded(
    df: DataFrame, id_col: str, signature_col: str, bands: int, portable: bool = False
) -> DataFrame:
    """Explode a signature frame into (``_id``, band, band_hash) rows —
    the LSH bucket keys. Shared by the self-join (full dedup) and the
    increment-vs-corpus join (incremental dedup); both must hash bands
    identically for their candidate sets to agree.

    ``portable`` swaps the xxhash64 band key for md5 of the band's
    comma-joined signature values plus the band index — same bucket
    semantics (bands never collide across band indices), replayable by any
    engine (see :func:`portable_hash64`); the key is a 32-char string
    instead of 8 bytes, acceptable for the portable variant."""
    sig = F.col(signature_col)
    rows_per_band = F.size(sig) / bands

    def band_key(bi: Column) -> Column:
        sl = F.slice(sig, (bi * rows_per_band + 1).cast("int"), rows_per_band.cast("int"))
        if portable:
            joined = F.concat_ws(",", F.transform(sl, lambda x: x.cast("string")))
            return F.md5(F.concat(joined, F.lit(":"), bi.cast("string")))
        return F.xxhash64(sl, bi)

    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(bi.alias("band"), band_key(bi).alias("band_hash")),
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.band_hash")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    signature_col: str = "minhash_sig",
    bands: int = 16,
    max_bucket_size: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """LSH banding: split the signature into ``bands``, hash each band,
    group ids per (band, band_hash) bucket → candidate id pairs (a < b).

    The bucket grouping is the scale-critical step: it shuffles
    (band_hash → ids) once and only materializes pairs within buckets.
    ``max_bucket_size`` drops pathological buckets (skew guard).

    Round 16 (optimization guide §2.4): the pre-r16 form was a sizing
    aggregate + join-back + SELF-JOIN over a persisted copy of the banded
    table — four exchanges of the same rows plus a pinned cache. One
    ``collect_list`` per bucket with an in-bucket combination explode
    yields the identical pair set, nothing persisted. Per-bucket pair
    arrays are bounded by the skew guard (max_bucket_size² / 2
    struct<id,id> rows, ~8 MB at the default 1000 — the same Σ|bucket|²
    work the join materialized, just batched per bucket).

    Round 17 (ADVICE r16, guide §2.5 hot keys): the skew guard runs
    sizing-FIRST again — a count aggregate (map-side partial agg, so a
    viral bucket costs one counter per mapper) finds buckets over
    ``max_bucket_size`` and the banded rows anti-join that tiny set
    (broadcast under AQE) BEFORE ``collect_list``. The r16 form filtered
    after aggregating, which materialized a pathological viral bucket —
    the exact case the guard exists for — as one id array in a single
    aggregation buffer before dropping it. Bucket membership and the
    output pair set are unchanged; the cost is one extra exchange of the
    lightweight (id, band, band_hash) rows."""
    banded = _banded(df, id_col, signature_col, bands, portable=portable)
    viral = (
        banded.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_size)
        .select("band", "band_hash")
    )
    buckets = (
        banded.join(viral, ["band", "band_hash"], "left_anti")
        .groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .filter(F.size("_ids").between(2, max_bucket_size))
    )
    # All a < b combinations of the sorted bucket: for the i-th id, pair it
    # with every later id. Sorting makes the < ordering positional.
    combos = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + F.lit(2), F.size(F.col("_ids")) - i - F.lit(1)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: returns verified pairs
    (id_a, id_b, jaccard) with exact shingle-Jaccard ≥ threshold.

    Verification joins shingle arrays back for candidates only, computing
    |A∩B| / |A∪B| with array_intersect — exact, so LSH is purely a recall
    accelerator and the output has no false positives.

    ``portable=True`` swaps every hash for the md5-derived
    :func:`portable_hash64` family (shingles and band keys), making the
    entire pipeline — bucket membership included — bit-replayable by any
    engine with md5 (the dd03/dd10 registry entries carry a full DuckDB
    value-hash oracle on exactly this path). xxhash64 stays the default:
    it is the cheaper hash and the two variants produce statistically
    identical dedup quality."""
    # Shingles feed the signature AND both verification joins, and (round
    # 17) the banded table feeds the LSH sizing guard plus the bucket
    # collect — cut the lineage with ONE lazy localCheckpoint placed
    # AFTER the signature projection, so the text is shingled once and
    # the MinHash permutations (the most expensive projection here,
    # measured ~1.3 s of the dd03 pass at sf0.1) run once, with all four
    # consumers sharing the computed RDD by IDENTITY. Round 16 placed the
    # checkpoint below the signature (it had a single consumer then);
    # round 16 also made this a checkpoint rather than a persist(): cache
    # plan-matching re-derived the projection per reference under
    # composed/AQE plans, and a checkpoint cannot miss. Storage is the
    # same MEMORY_AND_DISK blocks; the trade is lineage-based recovery of
    # that intermediate — acceptable exactly because at 100 TB this
    # materialization is the "signature table" a production dedup writes
    # out anyway. Hashed shingles (array<bigint>), not strings: same
    # Jaccard w.h.p., ~5× cheaper to build, intersect, and store.
    from .cachectl import checkpoint_lazy

    sh_col = portable_shingle_hashes(content_col, k) if portable else shingle_hashes(content_col, k)
    with_sig = checkpoint_lazy(
        df.select(F.col(id_col).alias("_id"), sh_col.alias("_shingles")).withColumn(
            "minhash_sig",
            minhash_signature(F.col("_shingles"), num_hashes, seed, pre_hashed=True),
        )
    )
    with_shingles = with_sig.select("_id", "_shingles")
    candidates = lsh_candidate_pairs(
        with_sig, "_id", "minhash_sig", bands, portable=portable
    )
    sh_a = with_shingles.select(
        F.col("_id").alias("id_a"), F.col("_shingles").alias("_sh_a")
    )
    sh_b = with_shingles.select(
        F.col("_id").alias("id_b"), F.col("_shingles").alias("_sh_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_pairs(
    corpus_df: DataFrame,
    increment_df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs for a NEW ingest batch against an existing corpus —
    the production ingest path: every pair touches the increment
    (increment×corpus and increment×increment), and corpus×corpus pairs
    are never recomputed.

    At 100 TB this is the difference between O(|inc|·bands) join work per
    ingest and re-running the full O(|corpus|·bands) self-join daily.  In
    production the corpus side reads a *stored* signature table (the
    persist below stands in for it); the increment's signatures append to
    that table after the batch commits.

    Exactness contract (pinned in tests/test_operators.py): with the same
    (k, num_hashes, bands, seed), the result equals
    :func:`minhash_dedup_pairs` on corpus ∪ increment restricted to pairs
    with at least one increment id — band hashes agree bucket-for-bucket,
    and the bucket-size guard counts the union's buckets exactly like the
    full run does."""

    sh_col = portable_shingle_hashes(content_col, k) if portable else shingle_hashes(content_col, k)

    from .cachectl import pin

    def prep(df: DataFrame) -> DataFrame:
        shingled = df.select(F.col(id_col).alias("_id"), sh_col.alias("_shingles"))
        return pin(
            shingled.withColumn(
                "minhash_sig",
                minhash_signature(F.col("_shingles"), num_hashes, seed, pre_hashed=True),
            )
        )

    inc = prep(increment_df)
    cor = prep(corpus_df)
    inc_b = _banded(inc, "_id", "minhash_sig", bands, portable=portable)
    all_b = _banded(cor, "_id", "minhash_sig", bands, portable=portable).unionByName(inc_b)
    # Skew guard sized on the FULL union — identical bucket membership to
    # the full self-join, so the candidate sets agree.
    bucket_sizes = all_b.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("_bsz")
    )
    ok = bucket_sizes.filter(F.col("_bsz").between(2, max_bucket_size))
    a = inc_b.join(ok, ["band", "band_hash"]).select(
        "band", "band_hash", F.col("_id").alias("_ia")
    )
    b = all_b.join(ok, ["band", "band_hash"]).select(
        "band", "band_hash", F.col("_id").alias("_ib")
    )
    candidates = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("_ia") != F.col("_ib"))
        # canonical order: inc-inc pairs arrive in both orientations,
        # inc-corpus in one; least/greatest + distinct unifies them.
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
        )
        .distinct()
    )
    shingles = inc.unionByName(cor).select("_id", "_shingles")
    sh_a = shingles.select(F.col("_id").alias("id_a"), F.col("_shingles").alias("_sh_a"))
    sh_b = shingles.select(F.col("_id").alias("id_b"), F.col("_shingles").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _capped_inverted_index(
    ex: DataFrame,
    join_keys: list[str],
    max_df: int | None,
    op_name: str,
) -> DataFrame:
    """Drop viral shingles (document frequency > ``max_df``) from an
    exploded inverted index before it feeds a pair self-join.

    The pair join's cost is Σ_s df(s)² over shingle document frequencies:
    near-linear on natural text, but ONE corpus-boilerplate shingle (a
    license-header trigram shared by 10⁷ documents) alone materializes
    ~5·10¹³ join rows and the job never finishes. Such a shingle carries
    almost no discriminative signal — by definition it is corpus
    boilerplate — so capping df is the standard prefix-filter trade
    (same hot-key class as the banded-join bucket cap in
    :func:`minhash_dedup_pairs` and ``semantic_dedup_pairs``'s
    ``max_cell_size``). Dropped shingles are counted and logged loudly,
    mirroring ``semantic_dedup_pairs``'s skew warning — recall loss
    should be visible, never inferred.

    NOTE (changelog r6→r7, flagged as the breaking change it is): the
    guard became the DEFAULT (``max_df=10_000``) in round 7 per the r6
    hardening directive — pre-r7 callers implicitly ran ``max_df=None``
    and now get the documented one-sided underestimate on viral-shingle
    corpora unless they opt out. The builder is lazy: the dropped-count
    report is queued on the open query scope
    (:func:`.cachectl.skew_guard_report`) and logged when the scope
    exits after the caller ran the plan; outside a scope nothing is
    reported. ``ex`` must be the lazily checkpointed index the report
    watches. The per-shingle df-sizes table is pinned so the guard
    reuses rather than recomputes it (caller owns that cache,
    :mod:`.cachectl`). ``max_df=None`` skips everything."""
    if max_df is None:
        return ex
    from .cachectl import pin, skew_guard_report

    sizes = pin(ex.groupBy(*join_keys).agg(F.count(F.lit(1)).alias("_df")))
    # Filter by ANTI-joining the VIRAL set (complement of the ok-filter,
    # logically identical): viral shingles number at most
    # index_rows / max_df — usually zero, pathologically still tiny next
    # to the index — so AQE turns this into a broadcast anti-join, where
    # an inner join against the huge ok set would shuffle the full index.
    viral = sizes.filter(F.col("_df") > max_df)
    skew_guard_report(
        ex,
        viral,
        "_df",
        op_name,
        "max_df guard dropped %d viral shingle(s) / %d index "
        f"row(s) over max_df={max_df} — similarity is "
        "underestimated one-sidedly for pairs sharing those "
        "shingles",
    )
    return ex.join(viral.select(*join_keys), join_keys, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    block_col: Column | None = None,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted index (within optional
    blocks) — the scalable exact algorithm, not pairwise intersects.

    Explode distinct shingle hashes (:func:`shingle_hashes`), self-join on
    the shingle, count shared shingles per (id_a, id_b): pairs sharing NO
    shingle never materialize, so the cost is Σ_s df(s)² over shingle
    document frequencies — near-linear for natural text where most
    k-grams are rare — instead of O(n²) per block. (Measured 12× faster
    than blocked pairwise array_intersect at sf0.1, identical output.)
    Jaccard then needs only the counts: |A∪B| = |A| + |B| − |A∩B|.
    ``block_col`` narrows the index (shingles only match within a block);
    the size-ratio bound J ≤ min/max(|A|,|B|) prunes before division.

    ``max_df`` (default on) guards the Σ df(s)² cost against viral
    boilerplate shingles: shingles appearing in more than ``max_df``
    documents (per block) are dropped from the index — see
    :func:`_capped_inverted_index`. The intersection count then misses
    capped shingles while |A| and |B| still count them, so the reported
    Jaccard is a one-sided UNDERESTIMATE bounded by the number of viral
    shingles a pair shares; exact behavior needs ``max_df=None``. The
    dropped-shingle count is logged at the exit of the open query scope
    — see :func:`_capped_inverted_index`."""
    cols = [F.col(id_col).alias("_id"), shingle_hashes(content_col, k).alias("_sh")]
    join_keys = ["_s"]
    if block_col is not None:
        cols.append(block_col.alias("_blk"))
        join_keys = ["_blk", "_s"]
    sh = df.select(*cols).withColumn("_n", F.size("_sh"))
    # The exploded index feeds both join sides (plus the max_df sizing
    # aggregate); a lazy localCheckpoint computes the shingling once and
    # shares the RDD by identity across all consumers (round 16 — was a
    # persist(), whose plan-matching re-derived the explode per reference
    # in composed plans; same rationale as minhash_dedup_pairs' signature
    # table). Routed through checkpoint_lazy (round 17) so an open query
    # scope frees the blocks.
    from .cachectl import checkpoint_lazy

    ex = checkpoint_lazy(
        sh.select(
            *(["_blk"] if block_col is not None else []),
            F.col("_id"),
            F.col("_n"),
            F.explode("_sh").alias("_s"),
        )
    )
    ex = _capped_inverted_index(ex, join_keys, max_df, "ngram_jaccard_pairs")
    a = ex.select(
        *join_keys, F.col("_id").alias("id_a"), F.col("_n").alias("_n_a")
    )
    b = ex.select(
        *join_keys, F.col("_id").alias("id_b"), F.col("_n").alias("_n_b")
    )
    counted = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.first("_n_a").alias("_n_a"),
            F.first("_n_b").alias("_n_b"),
        )
    )
    size_ok = F.least("_n_a", "_n_b") >= F.lit(threshold) * F.greatest("_n_a", "_n_b")
    jac = F.col("_inter") / (F.col("_n_a") + F.col("_n_b") - F.col("_inter"))
    return (
        counted.filter(size_ok)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    block_col: Column | None = None,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs (Broder 1997, "On the resemblance
    and containment of documents"): the ASYMMETRIC companion to
    :func:`ngram_jaccard_pairs` — ``C(src→dst) = |S(src) ∩ S(dst)| /
    |S(src)|``, the fraction of src's distinct k-shingles that also
    appear in dst. High containment with a small src detects quotes,
    excerpts, and documents embedded inside larger ones — pairs whose
    Jaccard is near zero because |dst| ≫ |src|, invisible to every
    symmetric near-dup operator. The standard curation uses: drop a
    document fully contained in another, or flag corpus entries that
    swallow benchmark items whole.

    Returns DIRECTED rows ``(src_id, dst_id, containment)`` — one per
    direction that clears ``threshold`` (a pair may qualify in one
    direction only; total mutual containment ≈ exact duplication).

    Scale shape: identical to :func:`ngram_jaccard_pairs` — one shared
    inverted shingle index feeds both join sides (pairs sharing no
    shingle never materialize; cost Σ_s df(s)², near-linear on natural
    text), one (pair)-keyed count, then both directed ratios derive from
    the same counted row — the asymmetry is free, no second index pass.
    No size-ratio prune (asymmetry is the point: a tiny src inside a
    huge dst must survive) — but ``max_df`` (default on) DOES apply: a
    shingle in more than ``max_df`` documents is corpus boilerplate, not
    evidence of containment, and unchecked it makes the index join
    quadratic (see :func:`_capped_inverted_index`). Capped shingles are
    missing from the intersection count while |S(src)| still counts
    them, so containment is a one-sided underestimate bounded by the
    number of viral shingles the pair shares; ``max_df=None`` restores
    exact semantics (see :func:`_capped_inverted_index`). ``block_col``
    narrows the index exactly as in the Jaccard form.

    Documents with fewer than ``k`` words have an EMPTY shingle set and
    emit nothing (``empty_when_short=True`` — containment over an empty
    ``S(src)`` is undefined, and a synthetic whole-text gram would
    fabricate containment 1.0 for any duplicated short text, diverging
    from the documented ``|S(src) ∩ S(dst)| / |S(src)|`` contract and
    from the dd15 oracle, which excludes sub-k documents)."""
    cols = [
        F.col(id_col).alias("_id"),
        shingle_hashes(content_col, k, empty_when_short=True).alias("_sh"),
    ]
    join_keys = ["_s"]
    if block_col is not None:
        cols.append(block_col.alias("_blk"))
        join_keys = ["_blk", "_s"]
    # Same dual-consumer shape as ngram_jaccard_pairs — share the exploded
    # index by identity (round 17; was a persist(), subject to the same
    # plan-matching misses measured in round 16, and the checkpoint handle
    # is what the lazy max_df report watches).
    from .cachectl import checkpoint_lazy

    sh = df.select(*cols).withColumn("_n", F.size("_sh"))
    ex = checkpoint_lazy(
        sh.select(
            *(["_blk"] if block_col is not None else []),
            F.col("_id"),
            F.col("_n"),
            F.explode("_sh").alias("_s"),
        )
    )
    ex = _capped_inverted_index(ex, join_keys, max_df, "containment_pairs")
    a = ex.select(*join_keys, F.col("_id").alias("id_a"), F.col("_n").alias("_n_a"))
    b = ex.select(*join_keys, F.col("_id").alias("id_b"), F.col("_n").alias("_n_b"))
    counted = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.first("_n_a").alias("_n_a"),
            F.first("_n_b").alias("_n_b"),
        )
    )
    directed = counted.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("dst_id"),
        (F.col("_inter") / F.col("_n_a")).alias("containment"),
    ).unionAll(
        counted.select(
            F.col("id_b").alias("src_id"),
            F.col("id_a").alias("dst_id"),
            (F.col("_inter") / F.col("_n_b")).alias("containment"),
        )
    )
    return directed.filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, content_col: str, id_col: str, portable: bool = False) -> DataFrame:
    """64-bit SimHash (Charikar 2002) per document, computed with built-in
    array ops: explode tokens → per-bit ±1 votes → sign → bit assembly.

    Pure JVM path: the per-bit vote is 64 conditional sums over the token
    hash — wide but codegen'd, no Python round trip.

    ``portable`` derives the 64 token-hash bits from md5 instead of
    xxhash64 (two 32-bit halves of the digest's first 16 hex chars,
    assembled with a wrapping shift — bit-replayable on any engine with
    md5; see :func:`portable_hash64` for the portability rationale)."""
    tokens = F.explode(_words(content_col)).alias("_tok")
    if portable:
        hx = F.md5(F.col("_tok"))
        h_hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint")
        h_lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("bigint")
        # shiftleft wraps (bit op, not arithmetic) — ANSI-safe for h_hi >= 2^31.
        th = F.shiftleft(h_hi, 32).bitwiseOR(h_lo)
    else:
        th = F.xxhash64("_tok")
    exploded = df.select(F.col(id_col).alias("_id"), tokens).withColumn("_th", th)
    # Vote arithmetic without branches: ones_b = Σ bit_b(hash); the ±1 vote
    # sum is 2·ones_b − n, positive iff ones_b > n/2. Plain shift-and-mask
    # sums codegen tighter than 64 CASE WHENs (~25% faster end-to-end).
    ones = [
        F.sum(F.shiftrightunsigned(F.col("_th"), bit).bitwiseAND(F.lit(1))).alias(
            f"_o{bit}"
        )
        for bit in range(64)
    ]
    voted = exploded.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"), *ones)
    sim = None
    for bit in range(64):
        majority = (F.col(f"_o{bit}") * 2) > F.col("_n")
        contrib = F.when(
            majority,
            F.lit(1).cast("long") * (1 << bit) if bit < 63 else F.lit(-(1 << 63)).cast("long"),
        ).otherwise(0)
        sim = contrib if sim is None else sim + contrib
    return voted.select(F.col("_id").alias(id_col), sim.alias("simhash"))


def simhash_dedup_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation by the 4-block trick (Manku et al. 2007): split the
    64-bit hash into 4 16-bit blocks; any pair within Hamming ≤ 3 shares at
    least one exact block → equi-join per block, then exact popcount filter."""
    sh = simhash(df, content_col, id_col, portable=portable).select(
        F.col(id_col).alias("_id"), F.col("simhash")
    )
    blocks = sh.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("blk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("_id", "simhash", "b.blk", "b.blk_val")
    a = blocks.select("blk", "blk_val", F.col("_id").alias("id_a"), F.col("simhash").alias("_h_a"))
    b = blocks.select("blk", "blk_val", F.col("_id").alias("id_b"), F.col("simhash").alias("_h_b"))
    hamming = F.bit_count(F.col("_h_a").bitwiseXOR(F.col("_h_b")))
    return (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


def embedding_dedup_pairs(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_planes: int = 8,
    num_tables: int = 1,
    seed: int = 42,
    dim: int | None = 64,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold.

    Random-hyperplane LSH (sign of dot with ``num_planes`` fixed vectors)
    buckets the vectors; exact cosine is computed only within buckets, so
    the output has no false positives. ``num_tables`` is OR-amplification
    (Indyk-Motwani): each table uses an independent plane set and a pair is
    a candidate if it collides in ANY table — per-pair recall
    1-(1-p^planes)^tables with p = 1-θ/π. High thresholds need few
    tables (p→1); moderate thresholds (0.3-0.5) need several. The bucket
    equi-join on (table, bucket) is the only shuffle; each vector emits
    ``num_tables`` rows (map-side explode, no extra scan)."""
    from .similarity import dot_col, hyperplane_bucket, unit_vec

    v = df.select(
        F.col(id_col).alias("_id"),
        unit_vec(
            F.transform(F.col(embedding_col), lambda x: x.cast("double"))
        ).alias("_vec"),
    )
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                hyperplane_bucket(
                    F.col("_vec"), num_planes, seed + 7919 * t, dim=dim or 64
                ).alias("bkt"),
            )
            for t in range(num_tables)
        ]
    )
    # Persist before the explode: the plane projections (num_tables ×
    # num_planes dot products per vector) feed both self-join sides and
    # should run once. The explode itself is a cheap per-row expansion.
    # Caller owns the cache (:mod:`.cachectl`): an open scope records the pin.
    from .cachectl import pin

    v = pin(v.withColumn("_tb_arr", tables))
    bucketed = v.select("_id", "_vec", F.explode(F.col("_tb_arr")).alias("_tb")).select(
        "_id", "_vec", F.col("_tb.tbl").alias("_tbl"), F.col("_tb.bkt").alias("_bucket")
    )
    a = bucketed.select("_tbl", "_bucket", F.col("_id").alias("id_a"), F.col("_vec").alias("_va"))
    b = bucketed.select("_tbl", "_bucket", F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"))
    cos = dot_col(F.col("_va"), F.col("_vb"), dim)
    return (
        a.join(b, ["_tbl", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def fuzzy_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    block_col: Column,
    max_distance: int = 5,
    prefix_len: int = 30,
) -> DataFrame:
    """Blocked fuzzy record linkage: candidate pairs whose ``content_col``
    prefixes are within ``max_distance`` Levenshtein edits, compared only
    inside ``block_col`` blocks.

    Blocking is the standard sub-quadratic trick of record linkage: the
    self-join is an equi-join on the block key (one shuffle), so cost is
    Σ|block|² instead of n² — the caller picks a key that bounds block
    sizes (language, sorted-neighborhood window, phonetic code).
    Levenshtein runs JVM-side on length-capped prefixes, so per-pair cost
    is O(prefix_len²) regardless of document size."""
    a = df.select(
        block_col.alias("_blk"),
        F.col(id_col).alias("id_a"),
        F.substring(F.col(content_col), 1, prefix_len).alias("_pa"),
    )
    b = df.select(
        block_col.alias("_blk"),
        F.col(id_col).alias("id_b"),
        F.substring(F.col(content_col), 1, prefix_len).alias("_pb"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("_pa", "_pb"))
        .filter(F.col("edit_dist") <= max_distance)
        .select("id_a", "id_b", "edit_dist")
    )


def passage_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """Corpus-wide duplicated-passage removal (CCNet-style: Wenzek et al.
    2020 deduplicate at paragraph granularity before any document-level
    filtering): split every document into fixed ``chunk_tokens``-token
    passages, keep a passage occurrence iff it is globally unique or is
    the canonical first occurrence (lowest ``(doc_id, chunk_idx)``), and
    reassemble each document from its surviving passages in order.

    Returns ``(id_col, clean_text, n_chunks, n_kept)`` — documents whose
    passages were ALL duplicates elsewhere drop out entirely.

    Scale shape: chunking is per-row JVM array work (no explode until the
    passage table); the occurrence count + canonical-keeper aggregate
    shuffles on md5(passage) — high-cardinality, skew-free keys — and the
    verdict joins back on the same key, so Catalyst REUSES the single
    hash exchange for both the aggregate and the join probe: the corpus
    is tokenized once and shuffled once. (The tempting alternative —
    filter keepers to duplicated hashes only and broadcast-left-join the
    small set — was measured 1.3× SLOWER at sf0.1: breaking the exchange
    reuse makes the probe side re-tokenize the whole corpus a second
    time, which costs more than the saved shuffle; cu01's curation dedup
    uses the broadcast-victims form instead because its verdict key
    differs from its aggregate key, so it never had an exchange to
    reuse.) One more groupBy(doc) reassembly; no driver-side state; at
    100 TB the passage table is ~corpus-sized and every stage is
    partition-parallel.
    """
    toks = F.filter(F.split(F.col(content_col), " "), lambda w: w != "")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "),
    )
    exploded = (
        df.select(
            F.col(id_col).alias("_id"),
            n_chunks.alias("n_chunks"),
            F.posexplode(F.when(n_chunks > 0, chunks)).alias("chunk_idx", "chunk"),
        )
        .withColumn("_h", F.md5(F.col("chunk")))
    )
    # Canonical keeper = lexicographic min of the (doc_id, chunk_idx)
    # STRUCT — no arithmetic encoding (doc_id*1e6+idx collides for >1M-chunk
    # documents and overflows long for doc_id > ~9.2e12). Inner join on
    # the aggregate's own key: exchange reuse (see docstring) makes this
    # the one-tokenize / one-shuffle form.
    keepers = exploded.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min(F.struct("_id", "chunk_idx")).alias("_keeper"),
    )
    kept = exploded.join(keepers, "_h").filter(
        (F.col("_cnt") == 1)
        | (
            (F.col("_keeper._id") == F.col("_id"))
            & (F.col("_keeper.chunk_idx") == F.col("chunk_idx"))
        )
    )
    return (
        kept.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.first("n_chunks").alias("n_chunks"),
            F.count(F.lit(1)).cast("int").alias("n_kept"),
        )
    )


def duplicated_span_stats(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact substring-duplication detection over OVERLAPPING token
    windows (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": remove verbatim spans shared across documents, not
    just whole passages): hash every k-token sliding window, find windows
    that occur in MORE THAN ONE document, and merge each document's
    duplicated windows into maximal token spans.

    The sliding window is what distinguishes this from
    :func:`passage_dedup`'s fixed chunk grid — a copied span that
    straddles a chunk boundary is invisible to the grid but lights up
    every overlapping window it touches, so the merged spans recover the
    true extent of the duplication.

    Returns ``(id_col, n_tokens, dup_tokens, n_spans)`` per document —
    ``dup_tokens / n_tokens`` is the verbatim-duplication fraction used
    as a curation gate.

    Scale shape: window hashes are per-row JVM array work (no explode
    until the window table); the cross-document occurrence count shuffles
    on the md5-derived window hash — high-cardinality, skew-free — and
    the verdict joins back on the same key, exactly passage_dedup's
    two-shuffle shape. Span merging is a per-document window function
    over that document's DUPLICATED windows only (bounded by document
    length). All hashes are :func:`portable_hash64`, so an external
    engine replays detection bit-for-bit (the dd14 oracle does)."""
    toks = F.filter(F.split(F.col(content_col), " "), lambda w: w != "")
    base = df.select(F.col(id_col), toks.alias("_toks")).withColumn(
        "_n", F.size("_toks")
    )
    wins = base.filter(F.col("_n") >= k).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_n") - k),
                lambda i: portable_hash64(
                    F.array_join(F.slice("_toks", i + 1, k), " ")
                ),
            )
        ).alias("widx", "whash"),
    )
    # Cross-document occurrence test as distinct + partial-aggregatable
    # count + equi-join back on the hash — NOT collect_set over a window.
    # A window partitioned by whash holds one group's full distinct
    # doc-id set in executor memory; real web corpora have viral
    # boilerplate k-grams (license headers, cookie banners) shared by
    # 10^7-10^8 documents, and that one hot group would hold the entire
    # id set (~1 GB at 10^8 ids). distinct→groupBy→count keeps per-task
    # state at one counter per hash (map-side partial aggregation bounds
    # the hot key), and the join back runs on the same skew-free
    # md5-derived key. Cost: the window table is consumed twice (one
    # extra shuffle); memory: O(1) per group regardless of virality.
    multi = (
        wins.select("whash", id_col)
        .distinct()
        .groupBy("whash")
        .count()
        .filter(F.col("count") > 1)
        .select("whash")
    )
    dup = wins.join(multi, "whash").select(id_col, "widx")
    w = Window.partitionBy(id_col).orderBy("widx")
    prev_end = F.max(F.col("widx") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "_new", (prev_end.isNull() | (F.col("widx") > prev_end)).cast("int")
    ).withColumn(
        "_sid", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = marked.groupBy(id_col, "_sid").agg(
        F.min("widx").alias("_s"), (F.max("widx") + (k - 1)).alias("_e")
    )
    stats = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("_e") - F.col("_s") + 1).alias("dup_tokens"),
    )
    return (
        base.select(id_col, F.col("_n").cast("bigint").alias("n_tokens"))
        .join(stats, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("dup_tokens").cast("bigint"), F.lit(0)).alias(
                "dup_tokens"
            ),
            F.coalesce(F.col("n_spans").cast("bigint"), F.lit(0)).alias("n_spans"),
        )
    )
