"""Training-data-pipeline query entries (SURVEY.md §2.D): dedup, similarity
search, text analysis, multimodal — each wired to the operator library with
a DuckDB oracle. Every entry in this module carries a full value-hash
oracle: the LSH/signature pipelines run their *portable* (md5-derived)
hash variants so DuckDB can replay signatures, band buckets, bit votes,
and skew guards bit-for-bit (see operators.dedup.portable_hash64); their
recall/exactness invariants against all-pairs baselines are additionally
pinned in pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as TX
from ..operators.multimodal import attach_media, decode_image_stub, media_stats
from ..sources.testdata import load_table
from .registry import register


# -- generated-oracle helpers for the hyperplane-LSH entries ----------------
# The hyperplanes are DETERMINISTIC (seeded numpy, inlined as literals on
# the Spark side, operators/similarity.py:_plane_literals), so the DuckDB
# oracle can replay the exact same LSH: the plane constants are rendered
# into the SQL text at registration time via exact repr round-trips
# (VARCHAR→DOUBLE cast preserves every bit). Bucket signs and ranking
# dots are sequential left-folds on both engines (list_sum ↔ F.aggregate),
# verified bit-identical by the ss05 entry's hash verdict.

_UNIT_VEC_CTE = """
    uv AS (
      SELECT vec_id,
             CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS u
      FROM (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)
      )
    )
"""


def _plane_sql(plane: list[float]) -> str:
    return "CAST([" + ", ".join(f"'{x!r}'" for x in plane) + "] AS DOUBLE[])"


def _bucket_sql(u: str, seed: int, num_planes: int = 4, dim: int = 64) -> str:
    """SQL for operators.similarity.hyperplane_bucket: one bit per plane =
    sign(u·plane), little-endian bit packing."""
    planes = S._plane_literals(dim, num_planes, seed)
    bits = [
        f"(CASE WHEN list_sum(list_transform({u}, (x, i) -> x * ({_plane_sql(p)})[i]))"
        f" >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


# -- xxhash64 in SQL (fixed 8-byte input) -----------------------------------
# Spark's xxhash64(BIGINT) (XXH64.hashLong, seed 42) replayed as DuckDB
# HUGEINT arithmetic: 64×64-bit multiplies are limb-split (32-bit halves)
# so no intermediate exceeds int128, everything masked back to 64 bits.
# Validated bit-for-bit against F.xxhash64 (tests/test_operators.py).
# This is what lets the seeded-centroid operators (ss03/dd11) carry full
# value-hash oracles: their only non-SQL ingredient was this hash.

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = "CAST('18446744073709551615' AS HUGEINT)"  # 2^64 - 1


def _mul64_sql(x: str, c: int) -> str:
    """(x * c) mod 2^64 with x a HUGEINT column (< 2^64) and c a 64-bit
    constant, via 32-bit limb products (largest intermediate < 2^65)."""
    cl, ch = c & 0xFFFFFFFF, c >> 32
    low = f"(({x} & 4294967295) * {cl})"
    cross = (
        f"((((({x} & 4294967295) * {ch}) + ((({x} >> 32) & 4294967295) * {cl}))) "
        f"& 4294967295)"
    )
    return (
        f"((((({low} >> 32) + {cross}) & 4294967295) << 32) | ({low} & 4294967295))"
    )


def _rotl64_sql(x: str, r: int) -> str:
    return f"((({x} << {r}) | ({x} >> {64 - r})) & {_M64})"


def _xxh64_long_sql(input_expr: str, src_sql: str, keep: str, seed: int = 42) -> str:
    """Nested-subquery SQL computing Spark's xxhash64 of a BIGINT expression
    over ``src_sql``, yielding columns ``keep`` + ``xh`` (signed BIGINT,
    exactly Spark's value). One projection per hash stage keeps every
    expression small (no exponential inlining)."""
    base = (seed + _XXH_P5 + 8) & ((1 << 64) - 1)  # folded: seed + P5 + len
    q = f"SELECT {keep}, (CAST({input_expr} AS HUGEINT) & {_M64}) AS x FROM {src_sql}"
    stages = [
        _mul64_sql("x", _XXH_P2),
        _rotl64_sql("x", 31),
        _mul64_sql("x", _XXH_P1),
        f"xor(CAST('{base}' AS HUGEINT), x)",
        _rotl64_sql("x", 27),
        _mul64_sql("x", _XXH_P1),
        f"((x + CAST('{_XXH_P4}' AS HUGEINT)) & {_M64})",
        "xor(x, (x >> 33))",
        _mul64_sql("x", _XXH_P2),
        "xor(x, (x >> 29))",
        _mul64_sql("x", _XXH_P3),
        "xor(x, (x >> 32))",
    ]
    for s in stages:
        q = f"SELECT {keep}, {s} AS x FROM ({q})"
    signed = (
        f"CASE WHEN x >= CAST('9223372036854775808' AS HUGEINT) "
        f"THEN CAST(x - CAST('18446744073709551616' AS HUGEINT) AS BIGINT) "
        f"ELSE CAST(x AS BIGINT) END"
    )
    return f"SELECT {keep}, {signed} AS xh FROM ({q})"



# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dd01_exact_dedup",
    oracle="""
    SELECT content_hash, CAST(MIN(doc_id) AS BIGINT) AS doc_id, COUNT(*) AS dup_count
    FROM (SELECT doc_id, MD5(text) AS content_hash FROM documents)
    GROUP BY content_hash ORDER BY doc_id
    """,
)
def dd01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (operators.dedup.exact_dedup)."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(d, "text", "doc_id").orderBy("doc_id")


@register(
    "dd02_fingerprint_dedup",
    oracle="""
    SELECT fingerprint, CAST(MIN(doc_id) AS BIGINT) AS doc_id, COUNT(*) AS dup_count
    FROM (
        SELECT doc_id,
               MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
        FROM documents
    ) GROUP BY fingerprint ORDER BY doc_id
    """,
)
def dd02_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup (operators.dedup.fingerprint_dedup)."""
    d = load_table(spark, sf_dir, "documents")
    return D.fingerprint_dedup(d, "text", "doc_id").orderBy("doc_id")


@register(
    "dd12_passage_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    idx AS (
        SELECT doc_id, toks,
               unnest(range(CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
        FROM toks WHERE len(toks) > 0
    ),
    chunks AS (
        SELECT doc_id,
               CAST(i AS INT) AS chunk_idx,
               array_to_string(list_slice(toks, i*10 + 1, i*10 + 10), ' ') AS chunk,
               CAST(ceil(len(toks) / 10.0) AS INT) AS n_chunks,
               doc_id * 1000000 + i AS occ
        FROM idx
    ),
    agg AS (
        SELECT chunk, COUNT(*) AS cnt, MIN(occ) AS keeper
        FROM chunks GROUP BY chunk
    ),
    kept AS (
        SELECT c.* FROM chunks c JOIN agg a USING (chunk)
        WHERE a.cnt = 1 OR a.keeper = c.occ
    )
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
           CAST(MIN(n_chunks) AS INT) AS n_chunks,
           CAST(COUNT(*) AS INT) AS n_kept
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
)
def dd12_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide passage dedup (operators.dedup.
    passage_dedup): 10-token passages, globally-unique-or-first-occurrence
    keep rule, order-preserving reassembly. The oracle replays the exact
    rule in SQL, so the hash match pins chunking, canonical-keeper choice,
    and reassembly byte-for-byte."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    return D.passage_dedup(d, "text", "doc_id", chunk_tokens=10).orderBy("doc_id")


@register(
    "dd14_substring_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
        FROM documents
    ),
    base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM toks),
    wins AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS widx,
               ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
                   AS whash
        FROM base, unnest(generate_series(1, CAST(n_tokens AS INT) - 7)) AS r(i)
        WHERE n_tokens >= 8
    ),
    shared AS (
        SELECT whash FROM wins GROUP BY whash HAVING COUNT(DISTINCT doc_id) > 1
    ),
    dup AS (SELECT w.doc_id, w.widx FROM wins w JOIN shared USING (whash)),
    marked AS (
        SELECT doc_id, widx,
               CASE WHEN widx > COALESCE(
                   MAX(widx + 7) OVER (PARTITION BY doc_id ORDER BY widx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS new_span
        FROM dup
    ),
    sp AS (
        SELECT doc_id, widx,
               SUM(new_span) OVER (PARTITION BY doc_id ORDER BY widx
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ),
    spans AS (
        SELECT doc_id, sid, MIN(widx) AS s, MAX(widx) + 7 AS e
        FROM sp GROUP BY doc_id, sid
    ),
    st AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           COALESCE(st.dup_tokens, 0) AS dup_tokens,
           COALESCE(st.n_spans, 0) AS n_spans
    FROM base b LEFT JOIN st USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def dd14_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication stats over overlapping 8-token windows
    (operators.dedup.duplicated_span_stats — Lee et al. 2022's exact
    substring dedup, the rule passage grids miss when a copied span
    straddles a chunk boundary): windows shared by >1 document merge into
    maximal per-document spans; dup_tokens/n_tokens is the verbatim-
    duplication curation gate. Portable md5-derived window hashes let the
    oracle replay detection, span merging, and the per-doc totals
    bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    return D.duplicated_span_stats(d, "text", "doc_id", k=8).orderBy("doc_id")


def _minhash_oracle(
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.35,
    seed: int = 42,
    max_bucket_size: int = 1000,
    pair_filter: str = "TRUE",
) -> str:
    """DuckDB SQL replaying the FULL portable MinHash+LSH pipeline
    (operators.dedup.minhash_dedup_pairs with portable=True) — shingles,
    the seeded (a·h+b) mod p signature family, band keys, the bucket-size
    skew guard, candidate generation, and exact-Jaccard verification.
    Every hash is md5-derived (portable_hash64 / md5 band keys), so both
    engines agree bit-for-bit, bucket-for-bucket. ``pair_filter`` narrows
    the output (the incremental entry keeps only increment-touching
    pairs, which by the incremental-exactness contract equals running the
    increment-sided pipeline)."""
    rpb = num_hashes // bands
    perms = ",\n        ".join(
        f"list_min(list_transform(hh, h -> ((h % 2147483647) * {a} + {b}) % 2147483647))"
        for a, b in D._hash_params(num_hashes, seed)
    )
    return f"""
    WITH words AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    hs AS (
        SELECT doc_id, list_distinct(list_transform(
            CASE WHEN len(ws) < {k} THEN [array_to_string(ws, ' ')]
                 ELSE list_distinct(list_transform(
                        range(1, len(ws) - {k} + 2),
                        i -> array_to_string(list_slice(ws, i, i + {k - 1}), ' ')))
            END,
            g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS hh
        FROM words
    ),
    sig AS (
        SELECT doc_id, [
        {perms}
        ] AS sig FROM hs
    ),
    banded AS (
        SELECT doc_id, r.range AS band,
               md5(array_to_string(list_slice(sig, r.range * {rpb} + 1, (r.range + 1) * {rpb}), ',')
                   || ':' || CAST(r.range AS VARCHAR)) AS band_hash
        FROM sig CROSS JOIN range({bands}) r
    ),
    sized AS (
        SELECT band, band_hash FROM banded
        GROUP BY band, band_hash HAVING COUNT(*) BETWEEN 2 AND {max_bucket_size}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a
        JOIN sized s ON a.band = s.band AND a.band_hash = s.band_hash
        JOIN banded b ON b.band = s.band AND b.band_hash = s.band_hash
        WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT id_a, id_b,
               CAST(len(list_intersect(ha.hh, hb.hh)) AS DOUBLE)
                   / len(list_distinct(ha.hh || hb.hh)) AS jaccard
        FROM cand
        JOIN hs ha ON ha.doc_id = cand.id_a
        JOIN hs hb ON hb.doc_id = cand.id_b
    ) WHERE jaccard >= {threshold} AND ({pair_filter})
    ORDER BY id_a, id_b
    """


@register("dd03_minhash_lsh_pairs", oracle=_minhash_oracle())
def dd03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified ≥ 0.35
    (operators.dedup.minhash_dedup_pairs, portable md5 hash family so the
    DuckDB oracle replays the whole pipeline — signatures, band buckets,
    skew guard — bit-for-bit). Recall vs the exact all-pairs baseline is
    separately pinned in tests/test_operators.py."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    return (
        D.minhash_dedup_pairs(d, "text", "doc_id", threshold=0.35, portable=True)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


@register(
    "dd10_incremental_dedup",
    oracle=_minhash_oracle(pair_filter="id_a >= 400 OR id_b >= 400"),
)
def dd10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-path near-dedup (operators.dedup.incremental_minhash_pairs):
    documents with doc_id >= 400 arrive as a new batch and are checked
    against the doc_id < 400 corpus — every returned pair touches the
    increment, and corpus×corpus work is never redone. The oracle runs the
    FULL portable pipeline restricted to increment-touching pairs: by the
    incremental-exactness contract (also pinned in
    tests/test_operators.py) the two are identical, so the hash verdict
    checks that contract against an independent engine."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < 400)
    increment = d.filter(F.col("doc_id") >= 400)
    return (
        D.incremental_minhash_pairs(
            corpus, increment, "text", "doc_id", threshold=0.35, portable=True
        )
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def _centroid_route_ctes(num_cells: int, seed: int = 42, cent_filter: str = "TRUE") -> str:
    """Shared CTE chain for the seeded-centroid operators (ss03/dd11/ss09):
    unit vectors, xxhash64-seeded centroid sample (exact Spark hash via
    _xxh64_long_sql), numpy-equivalent double normalization, and per-vector
    cell dots. Downstream CTEs pick argmax cells / probed cells.
    ``cent_filter`` restricts which vectors are eligible as centroids
    (ss09 samples them from the BASE ingest only)."""
    return f"""
    {_UNIT_VEC_CTE},
    hq AS ({_xxh64_long_sql(f"vec_id + {seed}", "embeddings", "vec_id")}),
    cents AS (
      SELECT cid, CAST(ROW_NUMBER() OVER (ORDER BY xh, cid) AS INTEGER) - 1 AS cell,
             CASE WHEN cn = 0 THEN cu ELSE list_transform(cu, x -> x / cn) END AS cu2
      FROM (
        SELECT c.vec_id AS cid, c.u AS cu,
               sqrt(list_sum(list_transform(c.u, x -> x * x))) AS cn, h.xh
        FROM uv c JOIN hq h ON h.vec_id = c.vec_id
        WHERE {cent_filter}
        ORDER BY h.xh, c.vec_id LIMIT {num_cells}
      )
    ),
    cd AS (
      SELECT v.vec_id, c.cell,
             list_sum(list_transform(v.u, (x, i) -> x * c.cu2[i])) AS d
      FROM uv v CROSS JOIN cents c
    )
    """


@register(
    "ss09_incremental_ivf_index",
    oracle=f"""
    WITH {_centroid_route_ctes(num_cells=16, cent_filter="c.vec_id % 2 = 0")},
    routed AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
        FROM cd
      ) WHERE rn = 1
    )
    SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM routed ORDER BY vec_id
    """,
)
def ss09_incremental_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained IVF index AS A CATALOG TABLE
    (operators.similarity.ivf_assignments + catalog.snapshots): the BASE
    ingest (even vec_ids) derives the frozen seeded centroids and commits
    its (vec_id, cell) assignments; the DELTA ingest (odd vec_ids) is
    routed with the SAME centroids and appended as a second commit — index
    maintenance cost ∝ delta, never corpus, the property that makes ANN
    indexing survivable at 100 TB (a rebuild-per-ingest index is the
    classic vector-pipeline scale failure; freezing the coarse quantizer
    is how real IVF systems stay append-only). The oracle replays
    base-restricted centroid sampling and full-corpus routing in SQL, so
    the hash match proves the two-commit incremental index is
    bit-identical to a from-scratch build. ≥2 snapshots asserted — the
    maintenance really was incremental."""
    from ..catalog.snapshots import SnapshotTable
    from ..operators.similarity import _seeded_centroids, ivf_assignments
    from ..sources.testdata import work_dir

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    # Cell count PINNED to the oracle's 16 (ss03 convention): deriving it
    # from base.count() here while the oracle hard-codes 16 would diverge
    # once the base exceeds 160k vectors. Production sizing guidance
    # (_derived_num_cells) applies at index-build time, not in this
    # hash-gated replay.
    num_cells = 16
    cents = _seeded_centroids(base, "embedding", "vec_id", num_cells, seed=42)
    table = SnapshotTable(spark, work_dir("ss09_index"))
    table.append(ivf_assignments(base, "embedding", "vec_id", cents))
    table.append(ivf_assignments(delta, "embedding", "vec_id", cents))
    if len(table.snapshots()) < 2:  # explicit raise: survives python -O
        raise RuntimeError("expected >= 2 snapshot commits on the index table")
    return table.read().orderBy("vec_id")


@register(
    "dd11_semantic_dedup",
    oracle=f"""
    WITH {_centroid_route_ctes(num_cells=16)},
    routed AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(ua.u, (x, i) -> x * ub.u[i])) AS cos
      FROM routed a JOIN routed b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN uv ua ON ua.vec_id = a.vec_id
      JOIN uv ub ON ub.vec_id = b.vec_id
    )
    SELECT id_a, id_b, round(cos, 6) AS cosine FROM pairs
    WHERE cos >= 0.35 ORDER BY id_a, id_b
    """,
)
def dd11_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding near-dedup (operators.similarity.
    semantic_dedup_pairs): cluster-then-compare — centroid cells bound the
    pair work to Σ|cell|² instead of n². No-false-positives and
    exact-duplicate-recall invariants pinned in tests/test_operators.py.
    The synthetic embeddings are i.i.d. random (max within-cell cosine
    ~0.45, measured), so like dd06 the threshold targets the top tail of
    the actual distribution; the operator's 0.9 default is for real
    corpora, where semantic duplicates exist by construction.

    Cell count PINNED to the oracle's 16 (ss09's convention): the oracle
    CTE hard-codes 16 cells, so deriving it from a ``count()`` job here
    both paid one extra full pass per run and would diverge from the
    oracle past 160k vectors. The skew guard's filter runs no job at
    build time; its dropped-cell report is logged only when a caller's
    query scope exits (operators.cachectl).
    ``centroid_source`` hands the centroid top-k collect the raw scan so
    it skips the spread repartition built for routing parallelism
    (round 17 — centroid choice is partitioning-independent)."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    return (
        S.semantic_dedup_pairs(
            e, "embedding", "vec_id", threshold=0.35, num_cells=16,
            centroid_source=load_table(spark, sf_dir, "embeddings"),
        )
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


@register(
    "dd04_ngram_jaccard",
    # Replays the Spark side's inverted-index construction INCLUDING the
    # max_df=10000 viral-shingle cap: the intersection count comes from an
    # exploded equi-join over shingles with per-block document frequency
    # <= 10000, while |A| and |B| count the full shingle sets — the same
    # one-sided-underestimate semantics as _capped_inverted_index. (At
    # driver SFs no shingle approaches the cap, so this also equals the
    # uncapped Jaccard; the construction is replayed so the oracle stays
    # faithful at ANY data scale.)
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(len(toks) - 2),
                   i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
               )) AS shingles
        FROM (SELECT doc_id, lang,
                     list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ), ex AS (
        SELECT doc_id, lang, len(shingles) AS n, unnest(shingles) AS s FROM sh
    ), ok AS (
        SELECT lang, s FROM ex GROUP BY lang, s HAVING COUNT(*) <= 10000
    ), exc AS (
        SELECT ex.doc_id, ex.lang, ex.n, ex.s FROM ex JOIN ok USING (lang, s)
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS i, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM exc a JOIN exc b
          ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
    FROM inter
    WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.3
    ORDER BY id_a, id_b
    """,
)
def dd04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs blocked by language
    (operators.dedup.ngram_jaccard_pairs) — fully SQL-expressible, so this
    one carries a real oracle for the whole shingle pipeline."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.3, block_col=F.col("lang")
    )
    return pairs.select(
        "id_a", "id_b", F.col("jaccard").cast("double").alias("jaccard")
    ).orderBy("id_a", "id_b")


@register(
    "dd15_containment_pairs",
    # Same max_df=10000 replay as the dd04 oracle: intersection from the
    # df-capped exploded index, |S(src)| from the full set (one-sided
    # underestimate semantics of _capped_inverted_index; a no-op at
    # driver SFs where no shingle approaches the cap).
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(len(toks) - 2),
                   i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
               )) AS shingles
        FROM (SELECT doc_id, lang,
                     list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
              FROM documents)
        WHERE len(toks) >= 3
    ), ex AS (
        SELECT doc_id, lang, len(shingles) AS n, unnest(shingles) AS s FROM sh
    ), ok AS (
        SELECT lang, s FROM ex GROUP BY lang, s HAVING COUNT(*) <= 10000
    ), exc AS (
        SELECT ex.doc_id, ex.lang, ex.n, ex.s FROM ex JOIN ok USING (lang, s)
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS i, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM exc a JOIN exc b
          ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT src_id, dst_id, containment FROM (
        SELECT id_a AS src_id, id_b AS dst_id,
               CAST(i AS DOUBLE) / na AS containment FROM inter
        UNION ALL
        SELECT id_b AS src_id, id_a AS dst_id,
               CAST(i AS DOUBLE) / nb AS containment FROM inter
    ) WHERE containment >= 0.6
    ORDER BY src_id, dst_id
    """,
)
def dd15_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram CONTAINMENT pairs blocked by language
    (operators.dedup.containment_pairs — Broder 1997's asymmetric
    measure): directed (src, dst) rows where >= 60% of src's distinct
    shingles appear in dst — the quote/excerpt/embedded-document
    detector symmetric Jaccard (dd04) cannot see when dst is much
    larger than src. Shares dd04's inverted-index machinery and its
    oracle convention (string shingles on the DuckDB side double as a
    hash-collision check for the xxhash64 path); both directed ratios
    derive from one counted row, so the asymmetry adds no index pass."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.containment_pairs(
        d, "text", "doc_id", k=3, threshold=0.6, block_col=F.col("lang")
    )
    return pairs.select(
        "src_id", "dst_id", F.col("containment").cast("double").alias("containment")
    ).orderBy("src_id", "dst_id")


# Shared DuckDB fragment: the dd04 3-gram Jaccard pair graph (threshold 0.3,
# blocked by lang, max_df=10000 cap replayed exactly as in the dd04 oracle),
# symmetrized, plus connected components via a recursive CTE — min label
# over the transitive closure equals the component minimum.
_CC_ORACLE_PREFIX = """
WITH RECURSIVE sh AS (
    SELECT doc_id, lang,
           list_distinct(list_transform(
               range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
           )) AS shingles
    FROM (SELECT doc_id, lang,
                 list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
          FROM documents)
    WHERE len(toks) >= 3
),
ex AS (
    SELECT doc_id, lang, len(shingles) AS n, unnest(shingles) AS s FROM sh
),
ok AS (
    SELECT lang, s FROM ex GROUP BY lang, s HAVING COUNT(*) <= 10000
),
exc AS (
    SELECT ex.doc_id, ex.lang, ex.n, ex.s FROM ex JOIN ok USING (lang, s)
),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS i, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
    FROM exc a JOIN exc b
      ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b FROM inter
    WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.3
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
    SELECT src AS node, src AS comp FROM edges
    UNION
    SELECT e.dst AS node, r.comp FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
"""


@register(
    "dd07_duplicate_clusters",
    oracle=_CC_ORACLE_PREFIX
    + """
    SELECT node, component FROM cc ORDER BY node
    """,
)
def dd07_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the dd04 near-dup pair graph
    (operators.clustering.connected_components): distributed min-label
    propagation + pointer jumping, oracle-checked against DuckDB's
    recursive-CTE transitive closure."""
    from ..operators.clustering import connected_components

    d = load_table(spark, sf_dir, "documents", spread=True)
    pairs = D.ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.3, block_col=F.col("lang")
    )
    # The pair graph at any SF is tiny next to the corpus; 8-way rounds
    # keep per-round job overhead flat even under an untuned 200-partition
    # session (the operator restores the setting afterwards).
    return connected_components(
        pairs, "id_a", "id_b", shuffle_partitions=8
    ).orderBy("node")


@register(
    "dd08_near_dedup_survivors",
    oracle=_CC_ORACLE_PREFIX
    + """
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM cc WHERE node <> component)
    ORDER BY d.doc_id
    """,
)
def dd08_near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: pair generation → clustering → keep the
    min-id representative per cluster (operators.clustering.
    near_dedup_survivors); every other cluster member is dropped via one
    anti-join, so the corpus is scanned once and never shuffled."""
    from ..operators.clustering import near_dedup_survivors

    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.3, block_col=F.col("lang")
    )
    return near_dedup_survivors(
        d.select("doc_id", "lang"), pairs, "doc_id", shuffle_partitions=8
    ).orderBy("doc_id")


def _simhash_oracle(max_hamming: int = 6) -> str:
    """DuckDB SQL replaying portable SimHash end-to-end: md5-derived
    64-bit token hashes (two 32-bit hex halves), per-bit majority votes,
    signed fingerprint assembly, Manku 4-block candidate join, exact
    Hamming verification via bit_count(xor(...)). Same vote arithmetic as
    the Spark side (ones·2 > n), so fingerprints agree bit-for-bit."""
    # bits 0..31 come from the digest's second 8 hex chars, 32..63 from the
    # first 8 — matching shiftleft(h_hi,32)|h_lo on the Spark side.
    votes = ",\n        ".join(
        f"SUM((h2 >> {b}) & 1) AS o{b}" if b < 32 else f"SUM((h1 >> {b - 32}) & 1) AS o{b}"
        for b in range(64)
    )
    fp_bits = " + ".join(
        f"(CASE WHEN o{b} * 2 > n THEN {1 << b} ELSE 0 END)" for b in range(63)
    )
    fp = f"({fp_bits} + (CASE WHEN o63 * 2 > n THEN (-9223372036854775807 - 1) ELSE 0 END))"
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS tok
        FROM documents
    ),
    th AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
               ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2
        FROM toks
    ),
    votes AS (
        SELECT doc_id, COUNT(*) AS n,
        {votes}
        FROM th GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {fp} AS fp FROM votes),
    blocks AS (
        SELECT doc_id, fp, r.range AS blk,
               CAST(((CAST(fp AS HUGEINT) & CAST('18446744073709551615' AS HUGEINT))
                     >> (16 * r.range)) & 65535 AS BIGINT) AS blk_val
        FROM fp CROSS JOIN range(4) r
    )
    SELECT id_a, id_b, hamming FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.blk_val = b.blk_val
        WHERE a.doc_id < b.doc_id
    ) WHERE hamming <= {max_hamming}
    ORDER BY id_a, id_b
    """


@register("dd05_simhash_pairs", oracle=_simhash_oracle())
def dd05_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤6 near-dup pairs (operators.dedup.simhash_dedup_pairs,
    portable md5-derived token bits so the DuckDB oracle replays votes,
    fingerprints, and the Manku block join bit-for-bit)."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_dedup_pairs(
        d, "text", "doc_id", max_hamming=6, portable=True
    ).orderBy("id_a", "id_b")


def _dd06_pair_ctes() -> str:
    """Shared CTE block replaying embedding_dedup_pairs' candidate + cosine
    computation (used by dd06 and the cross-modal dd13)."""
    return _DD06_IMPL()


def _DD06_IMPL() -> str:
    # 8 OR-amplification tables, seeds 42 + 7919·t — the exact plane sets
    # the Spark side inlines (operators/dedup.py:embedding_dedup_pairs).
    # Two DuckDB plan traps avoided, 45 s → <1 s at sf0.01 with the same
    # bit-for-bit arithmetic:
    # 1. The plane vectors are a 32-row VALUES CTE joined in, not inline
    #    array literals — DuckDB rebuilds an inline 64-element literal per
    #    row per plane (~0.4 s × 32 planes of pure literal construction).
    # 2. Tables unpivot to (vec_id, t, b) rows equi-joined on (t, b) — the
    #    banded shape the Spark side shuffles on — instead of an
    #    OR-of-equalities self-join, which nested-loops. Cosine is computed
    #    once per DISTINCT candidate, with the identical
    #    list_sum(list_transform(...)) sequential sum the Spark side's
    #    dot product agrees with to the last bit.
    plane_rows = ",\n             ".join(
        f"({t}, {p}, {_plane_sql(plane)})"
        for t in range(8)
        for p, plane in enumerate(S._plane_literals(64, 4, 42 + 7919 * t))
    )
    ctes = f"""
    WITH {_UNIT_VEC_CTE},
    planes(t, p, w) AS (
      SELECT * FROM (VALUES {plane_rows})
    ),
    bl AS (
      SELECT v.vec_id, pl.t,
             SUM(CASE WHEN list_sum(list_transform(v.u, (x, i) -> x * pl.w[i])) >= 0
                      THEN (1 << pl.p) ELSE 0 END) AS b
      FROM uv v CROSS JOIN planes pl
      GROUP BY v.vec_id, pl.t
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bl a JOIN bl b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             list_sum(list_transform(x.u, (v, i) -> v * y.u[i])) AS cos
      FROM cand c JOIN uv x ON x.vec_id = c.id_a JOIN uv y ON y.vec_id = c.id_b
    )"""
    return ctes


def _dd06_oracle() -> str:
    return (
        _dd06_pair_ctes()
        + """
    SELECT id_a, id_b, round(cos, 6) AS cosine FROM pairs
    WHERE cos >= 0.35 ORDER BY id_a, id_b
    """
    )


@register("dd06_embedding_dedup", oracle=_dd06_oracle())
def dd06_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.35 via multi-table hyperplane LSH
    (operators.dedup.embedding_dedup_pairs); recall vs the exact pair set is
    pinned in tests/test_operators.py. The synthetic embeddings are i.i.d.
    random (max pairwise cosine ~0.5 at sf0.01), so the threshold targets
    the top tail of the actual distribution; 8 OR-tables × 4 planes give
    ~0.7+ recall at cosine 0.35."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        D.embedding_dedup_pairs(
            e, "embedding", "vec_id", threshold=0.35, num_planes=4, num_tables=8
        )
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "ss01_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cosine
             FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id
         ),
         ranked AS (
             SELECT query_id, neighbor_id,
                    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
             FROM scored
         )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ss01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-5 cosine neighbors for every 50th vector
    (operators.similarity.cosine_topk). The hash-gated output is the
    neighbor ranking (ids), not the float scores — rankings are stable
    across engines because the double dot products agree to ~1e-15 and
    random embeddings don't tie at that scale."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    q = e.filter(F.col("vec_id") % 50 == 0)
    return (
        S.cosine_topk(e, q, "embedding", "vec_id", k=5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "ss07_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cosine
             FROM q CROSS JOIN c WHERE c.label <> q.label
         ),
         ranked AS (
             SELECT query_id, neighbor_id,
                    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
             FROM scored
         )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ss07_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators.similarity.hard_negatives — the
    DPR/Contriever contrastive-training companion to ss01): for every
    50th vector, the top-5 most similar vectors with a DIFFERENT label —
    the confusable negatives an embedding model actually needs. Gated on
    the (query, neighbor, rank) assignment like ss01; the label
    inequality runs before the rank window, so a positive can never
    occupy a negative slot."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return (
        S.hard_negatives(e, q, "embedding", "vec_id", "label", k=5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "ss02_lsh_topk",
    oracle=f"""
    WITH {_UNIT_VEC_CTE},
    bk AS (
      SELECT vec_id, u, {_bucket_sql("u", seed=42, num_planes=4)} AS bucket
      FROM uv
    ),
    scored AS (
      SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qr.vec_id
               ORDER BY list_sum(list_transform(qr.u, (x, i) -> x * c.u[i])) DESC,
                        c.vec_id
             ) AS INTEGER) AS rank
      FROM bk c JOIN bk qr
        ON c.bucket = qr.bucket AND qr.vec_id % 50 = 0 AND c.vec_id <> qr.vec_id
    )
    SELECT query_id, neighbor_id, rank FROM scored WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ss02_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (operators.similarity.lsh_topk);
    recall vs ss01 is pinned in tests/test_operators.py; the oracle
    replays the seeded hyperplane buckets exactly (see _bucket_sql)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return (
        S.lsh_topk(e, q, "embedding", "vec_id", k=5, num_planes=4)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "ss05_quantized_topk",
    oracle=r"""
    WITH uv AS (
      SELECT vec_id,
             CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS u
      FROM (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)
      )
    ),
    qz AS (
      SELECT vec_id, u,
             greatest(list_max(list_transform(u, x -> abs(x))) / 127.0, 1e-30) AS s
      FROM uv
    ),
    qv AS (
      SELECT vec_id, s, list_transform(u, x -> CAST(round(x / s) AS INTEGER)) AS q
      FROM qz
    ),
    scored AS (
      SELECT qr.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qr.vec_id
               ORDER BY ((list_sum(list_transform(c.q, (x, i) -> x * qr.q[i])) * c.s)
                          * qr.s) DESC,
                        c.vec_id
             ) AS INTEGER) AS rank
      FROM qv c JOIN qv qr ON qr.vec_id % 50 = 0 AND c.vec_id <> qr.vec_id
    )
    SELECT query_id, neighbor_id, rank FROM scored WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ss05_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized approximate top-5
    (operators.similarity.quantized_cosine_topk): integer dot products
    over 4×-smaller vectors; recall ≥ 0.7 vs the exact ranking is pinned
    in tests/test_operators.py. The quantization pipeline (unit-normalize
    → symmetric int8 with per-vector scale → integer dot × scales) is
    deterministic IEEE math in identical operation order on both engines,
    so the oracle replays it exactly — the hash verdict covers the full
    quantized ranking, not just row counts."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return (
        S.quantized_cosine_topk(e, q, "embedding", "vec_id", k=5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "ss03_ivf_topk",
    oracle=f"""
    WITH {_centroid_route_ctes(num_cells=8)},
    cand AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
        FROM cd WHERE vec_id % 50 = 0
      ) WHERE rn <= 3
    ),
    scored AS (
      SELECT qp.vec_id AS query_id, ca.vec_id AS neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qp.vec_id
               ORDER BY list_sum(list_transform(qu.u, (x, i) -> x * cu.u[i])) DESC,
                        ca.vec_id
             ) AS INTEGER) AS rank
      FROM cand ca JOIN qprobe qp ON ca.cell = qp.cell AND ca.vec_id <> qp.vec_id
      JOIN uv cu ON cu.vec_id = ca.vec_id
      JOIN uv qu ON qu.vec_id = qp.vec_id
    )
    SELECT query_id, neighbor_id, rank FROM scored WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ss03_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell approximate top-5 (operators.similarity.ivf_topk). The
    oracle replays the full IVF construction: xxhash64-seeded centroid
    sample (exact Spark hash in SQL), argmax cell routing, nprobe=3 probe
    set, within-cell exact-cosine ranking."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return (
        S.ivf_topk(e, q, "embedding", "vec_id", k=5, num_cells=8, nprobe=3)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "ss14_pq_adc_topk",
    oracle=f"""
    WITH {_centroid_route_ctes(num_cells=8)},
    hq2 AS ({_xxh64_long_sql("vec_id + 7", "embeddings", "vec_id")}),
    samples AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY xh, cid) AS INTEGER) - 1 AS code, su
      FROM (
        SELECT c.vec_id AS cid, c.u AS su, h.xh
        FROM uv c JOIN hq2 h ON h.vec_id = c.vec_id
        ORDER BY h.xh, c.vec_id LIMIT 16
      )
    ),
    scw AS (
      SELECT js.j, s.code, list_slice(s.su, js.j * 8 + 1, js.j * 8 + 8) AS cw
      FROM samples s
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) js
    ),
    pc AS (
      SELECT vec_id, j, code FROM (
        SELECT d.vec_id, d.j, d.code,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.j
                                  ORDER BY d.d2, d.code) AS rn
        FROM (
          SELECT v.vec_id, w.j, w.code,
                 list_sum(list_transform(list_slice(v.u, w.j * 8 + 1, w.j * 8 + 8),
                          (x, i) -> (x - w.cw[i]) * (x - w.cw[i]))) AS d2
          FROM uv v CROSS JOIN scw w
        ) d
      ) WHERE rn = 1
    ),
    cand AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
        FROM cd WHERE vec_id % 50 = 0
      ) WHERE rn <= 3
    ),
    adcterm AS (
      SELECT qp.vec_id AS query_id, ca.vec_id AS neighbor_id, p.j,
             list_sum(list_transform(list_slice(qu.u, p.j * 8 + 1, p.j * 8 + 8),
                      (x, i) -> x * w.cw[i])) AS term
      FROM cand ca
      JOIN qprobe qp ON ca.cell = qp.cell AND ca.vec_id <> qp.vec_id
      JOIN pc p ON p.vec_id = ca.vec_id
      JOIN scw w ON w.j = p.j AND w.code = p.code
      JOIN uv qu ON qu.vec_id = qp.vec_id
    ),
    adc AS (
      SELECT query_id, neighbor_id, list_sum(list(term ORDER BY j)) AS score
      FROM adcterm GROUP BY query_id, neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
      FROM adc
    )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def ss14_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-5 with asymmetric-distance scoring
    (operators.similarity.pq_adc_topk, Jégou et al. 2011): candidates
    live as 8-byte PQ codes (~32× smaller than float32) in 8 IVF cells;
    queries probe 3 cells and score by LUT-sum. The oracle replays the
    FULL index construction in SQL — seeded sample codebooks (seed 7,
    exact Spark xxhash64), per-subspace d² code assignment, IVF cell
    routing (shared ss03 CTEs), and the per-subspace ADC terms folded in
    fixed j order — so the hash verdict covers the complete approximate
    ranking, codebooks included. Recall vs the exact ranking is pinned
    in tests/test_operators.py. Cell/codebook sizes pinned to the
    oracle's 8/16 (ss09 convention); production sizing guidance is
    _derived_num_cells + m/ksub tuning at index-build time."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return (
        S.pq_adc_topk(
            e, q, "embedding", "vec_id",
            k=5, m=8, ksub=16, codebook_seed=7, num_cells=8, nprobe=3,
        )
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "tx01_token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' '),
                                w -> w <> '')) AS BIGINT) AS n_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM documents ORDER BY doc_id
    """,
)
def tx01_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (operators.text.token_count_col)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count_col("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


@register(
    "tx02_lang_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS doc_cnt,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def tx02_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language/source statistics."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


@register(
    "tx03_quality_features",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper,
           CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
           CAST(len(list_filter(string_split(lower(text), ' '),
                w -> list_contains(['the','and','of','to','a','in','is','that','it','for'], w)))
                AS BIGINT) AS n_stopwords
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def tx03_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring raw features (integer counts — the ratio combination
    is a trivial projection; integers hash-compare exactly)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tokens = F.filter(F.split(F.lower(F.col("text")), " "), lambda w: w != "")
    stop = F.array(*[F.lit(w) for w in TX._LANG_MARKERS["en"]])
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^A-Z]", "")).cast("long").alias("n_upper"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("n_digit"),
        F.size(F.filter(tokens, lambda t: F.array_contains(stop, t))).cast("long").alias("n_stopwords"),
    ).orderBy("doc_id")


@register(
    "tx04_language_id",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS tokens
      FROM documents
    ),
    scores AS (
      SELECT lang,
        [
          {'nh': -len(list_filter(tokens, t -> list_contains(['der','die','und','das','von','den','im','ein','mit','des'], t))), 'lg': 'de'},
          {'nh': -len(list_filter(tokens, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))), 'lg': 'en'},
          {'nh': -len(list_filter(tokens, t -> list_contains(['el','la','de','que','y','en','los','se','del','las'], t))), 'lg': 'es'},
          {'nh': -len(list_filter(tokens, t -> list_contains(['le','la','de','et','les','des','en','un','du','une'], t))), 'lg': 'fr'},
          {'nh': -(len(list_filter(tokens, t -> list_contains(['的','是','了','在','和','有','我','他','这','不'], t)))
                + (length(text) - length(replace(text,'的','')))
                + (length(text) - length(replace(text,'是','')))
                + (length(text) - length(replace(text,'了','')))
                + (length(text) - length(replace(text,'在','')))
                + (length(text) - length(replace(text,'和','')))
                + (length(text) - length(replace(text,'有','')))
                + (length(text) - length(replace(text,'我','')))
                + (length(text) - length(replace(text,'他','')))
                + (length(text) - length(replace(text,'这','')))
                + (length(text) - length(replace(text,'不','')))), 'lg': 'zh'}
        ] AS sc
      FROM toks
    ),
    best AS (SELECT lang, list_sort(sc)[1] AS b FROM scores)
    SELECT lang,
           CASE WHEN b['nh'] < 0 THEN b['lg'] ELSE 'und' END AS lang_guess,
           COUNT(*) AS cnt
    FROM best GROUP BY lang, lang_guess ORDER BY lang, lang_guess
    """,
)
def tx04_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID vs the labeled lang column
    (operators.text.language_id_col); accuracy pinned in
    tests/test_operators.py. The oracle replays the marker-argmax exactly:
    per-language marker-token hits (plus zh substring counts), ascending
    sort on (-hits, lang) structs, 'und' when zero hits."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang", TX.language_id_col("text").alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("lang", "lang_guess")
    )


@register(
    "tx05_fingerprints",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), w -> w <> '') AS ts
        FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(
               CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
                    ELSE list_transform(range(1, len(ts) - 8 + 2),
                                        i -> array_to_string(list_slice(ts, i, i + 7), ' '))
               END,
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS fingerprint
    FROM toks ORDER BY doc_id
    """,
)
def tx05_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints (operators.text.
    rolling_fingerprint_col, portable md5-derived gram hashes — the oracle
    replays gram windows and the min-hash selection exactly)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TX.rolling_fingerprint_col("text", portable=True).alias("fingerprint")
    ).orderBy("doc_id")


@register(
    "tx06_bpe_token_estimate",
    oracle="""
    SELECT doc_id,
           CAST(list_sum(list_transform(
               list_filter(string_split(regexp_replace(lower(text), '([^a-z0-9\\s])', ' \\1 ', 'g'), ' '),
                           w -> w <> ''),
               w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS bpe_tokens
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def tx06_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token estimate (operators.text.bpe_ish_token_count_col)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id", TX.bpe_ish_token_count_col("text").alias("bpe_tokens")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "mm01_media_metadata",
    oracle="""
    SELECT 'image' AS media_type, COUNT(*) AS cnt,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_bytes
    FROM documents
    """,
)
def mm01_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata aggregation: documents' text bytes stand in as
    binary payloads (UTF-8 encode — ASCII corpus, so byte length = char
    length in the oracle); payloads never reach the aggregate (column
    pruning drops them)."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_media(
        d.withColumn("payload", F.encode(F.col("text"), "UTF-8")), "payload"
    )
    return media_stats(media).select("media_type", "cnt", "total_bytes")


@register(
    "mm02_decode_pipeline",
    oracle="""
    SELECT d.doc_id,
           8 AS width, 8 AS height, 192 AS n_pixels,
           CAST(SUM((d.doc_id * 31 + i.range * 7 + j.range * 3 + c.range) % 256)
                AS BIGINT) AS pixel_sum
    FROM documents d, range(8) i, range(8) j, range(3) c
    WHERE d.doc_id < 50
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def mm02_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode inside the engine: per document, a deterministic
    8x8 RGB image (pixel[i,j,c] = (doc_id*31 + i*7 + j*3 + c) % 256) is
    **encoded to actual BMP bytes and decoded back by the pure-numpy BMP
    codec** (operators.multimodal.encode_bmp / decode_images), all inside
    ``mapInPandas`` — the oracle recomputes the pixel arithmetic in SQL,
    so the whole binary round trip (headers, bottom-up rows, BGR order,
    stride padding, Arrow batching) is hash-gated, not stubbed."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import decode_images, encode_bmp

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)

    def render(batches):
        i, j, c = np.meshgrid(
            np.arange(8), np.arange(8), np.arange(3), indexing="ij"
        )
        base = i * 7 + j * 3 + c
        for pdf in batches:
            payloads = [
                encode_bmp(((int(doc_id) * 31 + base) % 256).astype(np.uint8))
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    rendered = d.select("doc_id").mapInPandas(render, "doc_id long, payload binary")
    media = attach_media(rendered, "payload").select("doc_id", "media")
    decoded = decode_images(media)
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.size("pixels").alias("n_pixels"),
        F.aggregate(
            F.col("pixels"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("pixel_sum"),
    ).orderBy("doc_id")


@register(
    "mm06_image_resize",
    oracle="""
    SELECT d.doc_id, 8 AS width, 8 AS height, 27 AS n_pixels,
           CAST(SUM((d.doc_id * 31 + ((i.range * 8) // 3) * 7
                     + ((j.range * 8) // 3) * 3 + c.range) % 256)
                AS BIGINT) AS pixel_sum
    FROM documents d, range(3) i, range(3) j, range(3) c
    WHERE d.doc_id < 50
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def mm06_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image RESIZE through the engine (operators.multimodal.
    decode_images with out_w/out_h → _resize_nearest): the mm02
    deterministic 8×8 BMP round trip, downsampled to 3×3 by
    nearest-neighbor inside the same mapInPandas pass — the thumbnail /
    vision-preprocessor step of a multimodal pipeline. 3 does not divide
    8, so the oracle replays the exact floor-index selection
    (src_idx = (dst_idx·8)//3 → rows/cols {0, 2, 5}), gating the
    resampling arithmetic, not just the codec."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import decode_images, encode_bmp

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)

    def render(batches):
        i, j, c = np.meshgrid(
            np.arange(8), np.arange(8), np.arange(3), indexing="ij"
        )
        base = i * 7 + j * 3 + c
        for pdf in batches:
            payloads = [
                encode_bmp(((int(doc_id) * 31 + base) % 256).astype(np.uint8))
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    rendered = d.select("doc_id").mapInPandas(render, "doc_id long, payload binary")
    media = attach_media(rendered, "payload").select("doc_id", "media")
    decoded = decode_images(media, out_w=3, out_h=3)
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.size("pixels").alias("n_pixels"),
        F.aggregate(
            F.col("pixels"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("pixel_sum"),
    ).orderBy("doc_id")


@register(
    "mm03_feature_extraction",
    oracle=r"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             least(octet_length(encode(text)), 4096) AS nb
      FROM documents WHERE doc_id < 50
    ),
    comps AS (
      SELECT doc_id,
        list_transform(range(0, 16), j ->
          CAST(CAST(COALESCE(list_sum(list_transform(
            list_filter(range(0, nb), i -> i % 16 = j),
            i -> (strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 1)
          )), 0) / 255.0 AS REAL) AS DOUBLE)
        ) AS f
      FROM b
    )
    SELECT doc_id, 16 AS dim,
           round(sqrt(list_sum(list_transform(f, x -> x * x))), 6) AS feature_norm
    FROM comps ORDER BY doc_id
    """,
)
def mm03_feature_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature-extraction (embedding) pipeline: binary payload →
    fixed-dim float vector per document, then a vector-norm projection —
    the exact batch shape a model forward pass plugs into
    (operators.multimodal.extract_features_stub). The stub's hash-fold is
    integer byte sums ÷ 255.0 cast to float32, so the SQL oracle (hex-
    decoding the UTF-8 payload) reproduces it bit-for-bit."""
    from ..operators.multimodal import extract_features_stub
    from ..operators.similarity import norm_col

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = attach_media(
        d.withColumn("payload", F.encode(F.col("text"), "UTF-8")), "payload"
    ).select("doc_id", "media")
    feats = extract_features_stub(media, dim=16)
    vec = F.transform(F.col("features"), lambda x: x.cast("double"))
    return feats.select(
        "doc_id",
        F.size("features").alias("dim"),
        F.round(norm_col(vec), 6).alias("feature_norm"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# End-to-end curation pipeline
# ---------------------------------------------------------------------------

_CURATION_DECIDED_SQL = """
    WITH annotated AS (
        SELECT doc_id, lang, text,
               len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS n_tokens,
               CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1) AS punct_ratio,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1) AS digit_ratio
        FROM documents
    ),
    decided AS (
        SELECT *, CASE WHEN text IS NULL OR trim(text) = '' THEN 'empty'
                       WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'lang'
                       WHEN n_tokens < 10 THEN 'too_short'
                       WHEN n_tokens > 100000 THEN 'too_long'
                       WHEN punct_ratio > 0.3 THEN 'punct'
                       WHEN digit_ratio > 0.5 THEN 'digits'
                       ELSE NULL END AS reject_reason
        FROM annotated
    )
"""


@register(
    "cu01_curated_documents",
    oracle=_CURATION_DECIDED_SQL
    + """
    , kept AS (SELECT * FROM decided WHERE reject_reason IS NULL),
    keeper AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text))
    SELECT k.doc_id, k.lang, CAST(k.n_tokens AS BIGINT) AS n_tokens
    FROM kept k WHERE k.doc_id IN (SELECT doc_id FROM keeper)
    ORDER BY doc_id
    """,
)
def cu01_curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full curation pipeline (operators.curation.curate_documents):
    quality rules → language allow-list → exact dedup, single scan +
    one hash-keyed shuffle."""
    from ..operators.curation import curate_documents

    d = load_table(spark, sf_dir, "documents")
    return (
        curate_documents(d)
        .select("doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens"))
        .orderBy("doc_id")
    )


@register(
    "cu02_curation_report",
    oracle=_CURATION_DECIDED_SQL
    + """
    SELECT COALESCE(reject_reason, 'kept') AS decision,
           COUNT(*) AS docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM decided GROUP BY decision ORDER BY decision
    """,
)
def cu02_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation health report: doc count + token volume per decision
    bucket (operators.curation.curation_report)."""
    from ..operators.curation import curation_report

    d = load_table(spark, sf_dir, "documents")
    return curation_report(d)


@register(
    "cu04_length_band_filter",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    th AS (SELECT quantile_cont(n_tokens, 0.1) AS lo, quantile_cont(n_tokens, 0.95) AS hi FROM t)
    SELECT doc_id, n_tokens FROM t, th
    WHERE n_tokens BETWEEN lo AND hi
    ORDER BY doc_id
    """,
)
def cu04_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative length gate (operators.curation.
    percentile_band_filter): keep documents inside the exact [p10, p95]
    token-count band. One percentile aggregate broadcast into a map-side
    filter — the scale-correct shape for corpus-relative thresholds (no
    global sort, no driver loop). Spark's percentile() and DuckDB's
    quantile_cont share the linear-interpolation definition; the integer
    scores make the arithmetic bit-identical."""
    from ..operators.curation import percentile_band_filter
    from ..operators.text import token_count_col

    d = load_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", token_count_col("text").cast("long").alias("n_tokens"))
    return percentile_band_filter(scored, "n_tokens", 0.1, 0.95).orderBy("doc_id")


_SS_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cosine
             FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id
         ),
         ranked AS (
             SELECT query_id, neighbor_id,
                    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
             FROM scored
         )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
"""


@register("ss04_numpy_topk", oracle=_SS_TOPK_ORACLE)
def ss04_numpy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-5 via Arrow-batched numpy GEMM
    (operators.similarity.numpy_cosine_topk) — must produce the identical
    ranking as the JVM-expression path ss01 and the DuckDB oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return (
        S.numpy_cosine_topk(e, q, "embedding", "vec_id", k=5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "sk01_salted_aggregate",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def sk01_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators.skew.salted_aggregate) —
    must equal the plain GROUP BY exactly (decimal partials re-merge
    losslessly), which is precisely what the oracle checks."""
    from ..operators.skew import salted_aggregate
    from .compat import dec

    ev = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "cnt_events": F.count(F.lit(1)),
            "sum_value": F.sum(dec("value")),
        },
        num_salts=16,
    )
    return out.select(
        "event_type",
        F.col("cnt_events").cast("long").alias("cnt_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("event_type")


@register(
    "sk02_salted_join",
    oracle="""
    SELECT e.user_id, COUNT(*) AS events, COUNT(DISTINCT e.event_type) AS types
    FROM events e JOIN (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ) p ON e.user_id = p.user_id
    GROUP BY e.user_id ORDER BY e.user_id
    """,
)
def sk02_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key join (operators.skew.salted_join) — must produce
    exactly the plain equi-join result (the salt explodes the small side
    by num_salts and re-collapses in the aggregate), which the plain-SQL
    oracle pins."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    purchasers = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    joined = salted_join(ev, purchasers, on="user_id", num_salts=8)
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.count_distinct("event_type").alias("types"),
        )
        .orderBy("user_id")
    )


@register(
    "pr01_table_profile",
    oracle="""
    WITH stats AS (
        SELECT 'o_custkey' AS "column", COUNT(*) AS n_rows,
               COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_nulls,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
               CAST(MAX(o_custkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*),
               COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END),
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
               CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*),
               COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END),
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
               CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
        FROM orders
    )
    SELECT * FROM stats ORDER BY "column"
    """,
)
def pr01_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile (operators.profiling.profile_columns):
    nulls, exact distinct count, min/max as strings — single wide
    aggregate, no per-column jobs. Double min/max stringify identically in
    Spark and DuckDB for these magnitudes (shortest-roundtrip repr)."""
    from ..operators.profiling import profile_columns

    o = load_table(spark, sf_dir, "orders")
    return profile_columns(o, ["o_custkey", "o_orderstatus", "o_totalprice"])


@register(
    "pr03_quality_expectations",
    oracle="""
    WITH checks AS (
        SELECT 'not_null' AS rule, 'doc_id' AS "column",
               COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS violations,
               COUNT(*) AS total
        FROM documents
        UNION ALL
        SELECT 'unique', 'doc_id',
               COUNT(doc_id) - COUNT(DISTINCT doc_id), COUNT(*)
        FROM documents
        UNION ALL
        SELECT 'range', 'n_chars',
               COUNT(CASE WHEN n_chars IS NOT NULL
                          AND n_chars NOT BETWEEN 1 AND 10000 THEN 1 END),
               COUNT(*)
        FROM documents
        UNION ALL
        SELECT 'in_set', 'lang',
               COUNT(CASE WHEN lang IS NOT NULL
                          AND lang NOT IN ('en','de','fr','es','zh','ja') THEN 1 END),
               COUNT(*)
        FROM documents
        UNION ALL
        SELECT 'matches', 'source',
               COUNT(CASE WHEN source IS NOT NULL
                          AND NOT regexp_matches(source, '^src[0-9]+$') THEN 1 END),
               COUNT(*)
        FROM documents
    )
    SELECT rule, "column", violations, total, violations = 0 AS passed
    FROM checks ORDER BY rule, "column"
    """,
)
def pr03_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators.profiling.
    expectations_report, the Deequ/Great-Expectations shape): five rules —
    not-null, uniqueness, numeric range, categorical domain, regex — all
    evaluated in ONE wide aggregate over a single scan (adding a rule adds
    an expression, not a pass). The oracle recomputes each rule as plain
    SQL."""
    from ..operators.profiling import expectations_report

    d = load_table(spark, sf_dir, "documents")
    return expectations_report(
        d,
        [
            ("not_null", "doc_id"),
            ("unique", "doc_id"),
            ("range", "n_chars", 1, 10000),
            ("in_set", "lang", ["en", "de", "fr", "es", "zh", "ja"]),
            ("matches", "source", "^src[0-9]+$"),
        ],
    ).orderBy("rule", "column")


@register(
    "pr04_drift_psi",
    oracle="""
    WITH ref AS (SELECT event_type, value FROM events
                 WHERE ts < TIMESTAMP '2024-01-15' AND value IS NOT NULL),
    cur AS (SELECT event_type, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-15' AND value IS NOT NULL),
    stats AS (
        SELECT event_type, CAST(MIN(value) AS DOUBLE) AS lo,
               CAST(MAX(value) AS DOUBLE) AS hi, COUNT(*) AS n_ref
        FROM ref GROUP BY event_type
    ),
    rb AS (
        SELECT r.event_type,
               CASE WHEN s.hi = s.lo THEN 0
                    ELSE LEAST(9, GREATEST(0, CAST(FLOOR(
                        (CAST(r.value AS DOUBLE) - s.lo) / ((s.hi - s.lo) / 10.0)
                    ) AS INT))) END AS bin,
               COUNT(*) AS nr
        FROM ref r JOIN stats s USING (event_type) GROUP BY 1, 2
    ),
    cb AS (
        SELECT c.event_type,
               CASE WHEN s.hi = s.lo THEN 0
                    ELSE LEAST(9, GREATEST(0, CAST(FLOOR(
                        (CAST(c.value AS DOUBLE) - s.lo) / ((s.hi - s.lo) / 10.0)
                    ) AS INT))) END AS bin,
               COUNT(*) AS nc
        FROM cur c JOIN stats s USING (event_type) GROUP BY 1, 2
    ),
    tc AS (SELECT event_type, COUNT(*) AS n_cur FROM cur GROUP BY event_type),
    grid AS (
        SELECT COALESCE(rb.event_type, cb.event_type) AS event_type,
               COALESCE(rb.bin, cb.bin) AS bin, rb.nr, cb.nc
        FROM rb FULL JOIN cb ON rb.event_type = cb.event_type AND rb.bin = cb.bin
    )
    SELECT g.event_type,
           ROUND(SUM(
               (GREATEST(1e-6, COALESCE(g.nc, 0) / CAST(t.n_cur AS DOUBLE))
                - GREATEST(1e-6, COALESCE(g.nr, 0) / CAST(s.n_ref AS DOUBLE)))
               * LN(GREATEST(1e-6, COALESCE(g.nc, 0) / CAST(t.n_cur AS DOUBLE))
                    / GREATEST(1e-6, COALESCE(g.nr, 0) / CAST(s.n_ref AS DOUBLE)))
           ), 6) AS psi,
           s.n_ref, t.n_cur
    FROM grid g JOIN stats s USING (event_type) JOIN tc t USING (event_type)
    GROUP BY g.event_type, s.n_ref, t.n_cur
    ORDER BY g.event_type
    """,
)
def pr04_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift report (operators.profiling.
    psi_report): the first half of the month is the reference snapshot,
    the rest the current batch; per event_type, PSI over 10 equal-width
    bins of the reference value range. The standard ingest-drift gate
    (PSI > 0.25 = distribution shifted). The oracle recomputes the exact
    binning, epsilon floors, and Σ(q−p)·ln(q/p) arithmetic; ROUND(6)
    absorbs summation-order ULPs, same convention as sp06."""
    from ..operators.profiling import psi_report

    e = load_table(spark, sf_dir, "events")
    cutoff = "2024-01-15"
    ref = e.filter(F.col("ts") < cutoff)
    cur = e.filter(F.col("ts") >= cutoff)
    return psi_report(
        ref, cur, "value", group_by=["event_type"], bins=10
    ).orderBy("event_type")


@register(
    "sp01_dataset_split",
    oracle="""
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 < 9 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM documents GROUP BY split ORDER BY split
    """,
)
def sp01_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split summary. The oracle-checked variant
    cuts on doc_id % 10 (SQL-expressible on both engines); the production
    operator (operators.splits.split_by_hash) uses the same cumulative-cut
    construction over a seeded xxhash64 bucket — its determinism and
    fraction accuracy are pinned in tests/test_splits.py."""
    d = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 < 8, "train")
        .when(F.col("doc_id") % 10 < 9, "val")
        .otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.min("doc_id").cast("long").alias("min_id"),
        )
        .orderBy("split")
    )


@register(
    "tx07_vocabulary",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              w -> w <> '')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, COUNT(*) AS count,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_count
        FROM toks GROUP BY token
    )
    SELECT token, count, doc_count FROM vocab
    ORDER BY count DESC, token LIMIT 100
    """,
)
def tx07_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary (operators.text.vocabulary): explode →
    count + document frequency, one token-keyed shuffle."""
    from ..operators.text import word_tokens_col

    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.explode(word_tokens_col(F.lower(F.col("text")))).alias("token")
    )
    return (
        ex.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.count_distinct("doc_id").alias("doc_count"),
        )
        .orderBy(F.col("count").desc(), "token")
        .limit(100)
    )


@register(
    "tx08_bigram_counts",
    oracle="""
    WITH toks AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS ngram
        FROM toks WHERE len(ws) >= 2
    )
    SELECT ngram, COUNT(*) AS count FROM grams
    GROUP BY ngram ORDER BY count DESC, ngram LIMIT 50
    """,
)
def tx08_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams (operators.text.ngram_counts — zip_with over
    shifted slices, no per-position indexing)."""
    from ..operators.text import ngram_counts

    d = load_table(spark, sf_dir, "documents")
    return (
        ngram_counts(d, "text", n=2)
        .orderBy(F.col("count").desc(), "ngram")
        .limit(50)
    )


@register(
    "tx09_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              w -> w <> '')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT t.doc_id, t.token,
               ROUND(t.tf * LN(CAST(n.n AS DOUBLE) / d.df), 6) AS tfidf
        FROM tf t JOIN dfreq d USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
        FROM scored
    ) WHERE rk <= 3 ORDER BY doc_id, token
    """,
)
def tx09_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators.text.tfidf + rank
    window). Deterministic tie-break on token so both engines agree."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = TX.tfidf(d, "text", "doc_id").withColumn(
        "tfidf", F.round("tfidf", 6)
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf")
        .orderBy("doc_id", "token")
    )


@register(
    "tx10_bm25_ranking",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              w -> w <> '')) AS token
        FROM documents
    ),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM doclen),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks
        WHERE token IN ('hash', 'join', 'vector') GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    scored AS (
        SELECT t.doc_id,
               LN(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS ts
        FROM tf t JOIN dfreq d USING (token)
                  JOIN doclen l USING (doc_id)
                  CROSS JOIN stats s
    )
    SELECT doc_id, ROUND(SUM(ts), 6) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def tx10_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for query {hash, join, vector}
    (operators.text.bm25_scores, k1=1.2 b=0.75): query-term postings only
    hit the shuffle; corpus stats broadcast."""
    d = load_table(spark, sf_dir, "documents")
    return (
        TX.bm25_scores(d, "text", "doc_id", ["hash", "join", "vector"])
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@register(
    "sp02_stratified_sample",
    oracle="""
    SELECT lang, COUNT(*) AS docs
    FROM documents
    WHERE (lang = 'en' AND doc_id % 10 < 2) OR (lang = 'zh')
    GROUP BY lang ORDER BY lang
    """,
)
def sp02_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus rebalance summary: downsample English to ~20%,
    keep all Chinese. Oracle variant cuts on doc_id % 10 (SQL-expressible
    on both engines); the hash-cut production operator
    (operators.splits.sample_stratified) is pinned in tests/test_splits.py."""
    d = load_table(spark, sf_dir, "documents")
    keep = ((F.col("lang") == "en") & (F.col("doc_id") % 10 < 2)) | (
        F.col("lang") == "zh"
    )
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("lang")
    )

@register(
    "pr02_correlation_matrix",
    oracle="""
    WITH s AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS s_q,
               SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS s_p,
               SUM(CAST(l_discount AS DECIMAL(18,4))) AS s_d,
               SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS p_qq,
               SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS p_qp,
               SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS p_qd,
               SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS p_pp,
               SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS p_pd,
               SUM(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS p_dd
        FROM lineitem
    )
    SELECT col_a, col_b, ROUND(corr, 6) AS corr FROM (
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
               (n * CAST(p_qp AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_p AS DOUBLE))
               / sqrt((n * CAST(p_qq AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                      * (n * CAST(p_pp AS DOUBLE) - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE))) AS corr
        FROM s
        UNION ALL
        SELECT 'l_quantity', 'l_discount',
               (n * CAST(p_qd AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_d AS DOUBLE))
               / sqrt((n * CAST(p_qq AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                      * (n * CAST(p_dd AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)))
        FROM s
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount',
               (n * CAST(p_pd AS DOUBLE) - CAST(s_p AS DOUBLE) * CAST(s_d AS DOUBLE))
               / sqrt((n * CAST(p_pp AS DOUBLE) - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE))
                      * (n * CAST(p_dd AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)))
        FROM s
    ) ORDER BY col_a, col_b
    """,
)
def pr02_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem measures in one
    aggregation pass (operators.profiling.column_correlations) — exact
    decimal sums, oracle-identical double arithmetic."""
    from ..operators.profiling import column_correlations

    li = load_table(spark, sf_dir, "lineitem")
    out = column_correlations(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select(
        "col_a", "col_b", F.round("corr", 6).alias("corr")
    ).orderBy("col_a", "col_b")


@register(
    "mm04_audio_decode",
    oracle="""
    SELECT d.doc_id, 8000 AS sample_rate, 256 AS n_samples, 1 AS n_channels,
           32 AS duration_ms,
           CAST(SUM(POW((d.doc_id * 7 + t.range * 13) % 65536 - 32768, 2))
                AS BIGINT) AS sum_sq,
           CAST(MAX(ABS((d.doc_id * 7 + t.range * 13) % 65536 - 32768))
                AS INTEGER) AS peak
    FROM documents d, range(256) t
    WHERE d.doc_id < 40
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def mm04_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode inside the engine: per document, a deterministic
    256-sample int16 PCM signal (sample[t] = (doc_id*7 + t*13) % 65536
    − 32768) is **encoded to actual RIFF/WAVE bytes and parsed back by the
    pure-numpy WAV decoder** (operators.multimodal.encode_wav /
    decode_audio) under ``mapInPandas``; the oracle recomputes Σsample²
    and peak amplitude in SQL, hash-gating the full chunk-walk round trip."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import decode_audio, encode_wav

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)

    def render(batches):
        t = np.arange(256, dtype=np.int64)
        for pdf in batches:
            payloads = [
                encode_wav(
                    ((int(doc_id) * 7 + t * 13) % 65536 - 32768).astype(np.int16),
                    sample_rate=8000,
                )
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    rendered = d.select("doc_id").mapInPandas(render, "doc_id long, payload binary")
    media = attach_media(rendered, "payload", media_type="audio", codec="pcm_s16le")
    return (
        decode_audio(media.select("doc_id", "media"))
        .select(
            "doc_id", "sample_rate", "n_samples", "n_channels",
            "duration_ms", "sum_sq", "peak",
        )
        .orderBy("doc_id")
    )


@register(
    "tx11_pii_scrub",
    oracle="""
    WITH injected AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com at 10.0.0.'
                    || (doc_id % 256) || ' or https://ex.com/' || doc_id AS t
        FROM documents
    ), scrubbed AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                   '(?:https?://|www\\.)[^\\s]+', '<URL>', 'g'),
                   '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g') AS t
        FROM injected
    )
    SELECT doc_id, t AS text,
           CAST(length(regexp_replace(t, '<(EMAIL|IP|URL|PHONE)>', chr(1), 'g'))
                - length(regexp_replace(t, '<(EMAIL|IP|URL|PHONE)>', '', 'g'))
                AS INTEGER) AS pii_removed
    FROM scrubbed ORDER BY doc_id
    """,
)
def tx11_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators.text.scrub_pii): deterministic synthetic
    PII (email + IPv4 + URL per document) is injected, then the
    regexp_replace chain redacts it with typed placeholders; the oracle
    runs the identical chain in DuckDB, hash-gating the full scrubbed
    text, not just counts."""
    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com at 10.0.0."),
            (F.col("doc_id") % 256), F.lit(" or https://ex.com/"), F.col("doc_id"),
        ).alias("text"),
    )
    return TX.scrub_pii(injected, "text").select(
        "doc_id", "text", "pii_removed"
    ).orderBy("doc_id")


@register(
    "tx12_repetition_stats",
    oracle="""
    WITH built AS (
        SELECT doc_id,
               text || chr(10) || text || chr(10) || 'tail ' || doc_id AS t
        FROM documents
    ), lines AS (
        SELECT doc_id,
               list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
                           l -> l <> '') AS ls
        FROM built
    ), words AS (
        SELECT b.doc_id, w
        FROM built b, UNNEST(list_filter(regexp_split_to_array(b.t, '\\s+'),
                                         x -> x <> '')) AS u(w)
    ), top AS (
        SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_w FROM (
            SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
        ) GROUP BY doc_id
    )
    SELECT l.doc_id,
           CAST(len(l.ls) AS INTEGER) AS n_lines,
           CAST(len(list_distinct(l.ls)) AS INTEGER) AS n_distinct_lines,
           CAST(len(l.ls) - len(list_distinct(l.ls)) AS DOUBLE) / len(l.ls)
               AS dup_line_ratio,
           CAST(t.top_c AS DOUBLE) / t.n_w AS top_word_ratio
    FROM lines l JOIN top t ON l.doc_id = t.doc_id
    ORDER BY l.doc_id
    """,
)
def tx12_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (operators.text.repetition_stats):
    duplicate-line ratio and top-word fraction per document, computed as
    single-pass array expressions (sorted run-length scan — no shuffle,
    no O(n²) per-row work). Each document is given one duplicated line so
    the ratio is exercised; the oracle recomputes both signals
    relationally (unnest + group-by)."""
    d = load_table(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), F.col("text"),
                    F.concat(F.lit("tail "), F.col("doc_id"))).alias("text"),
    )
    return TX.repetition_stats(built, "text", "doc_id").orderBy("doc_id")


@register(
    "cu05_contamination_report",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ), grams AS (
        SELECT doc_id, g
        FROM toks, UNNEST(list_distinct(list_transform(
            range(len(ws) - 7),
            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' '
                 || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] || ' ' || ws[i+8]
        ))) AS u(g)
    ), bench AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
    ), rep AS (
        SELECT gr.doc_id, COUNT(*) AS n_grams, COUNT(b.g) AS n_contaminated
        FROM grams gr LEFT JOIN bench b ON gr.g = b.g
        GROUP BY gr.doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.n_grams, 0) AS n_grams,
           COALESCE(r.n_contaminated, 0) AS n_contaminated,
           CASE WHEN COALESCE(r.n_grams, 0) > 0
                THEN CAST(r.n_contaminated AS DOUBLE) / r.n_grams
                ELSE 0.0 END AS contamination
    FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
    ORDER BY d.doc_id
    """,
)
def cu05_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination scoring (operators.curation.
    contamination_report): fraction of each doc's distinct 8-grams
    colliding with the benchmark slice (doc_id % 10 = 0 — so benchmark
    docs score 1.0 against themselves and true partial overlaps rank
    between). Same broadcast-semi-join scale shape as cu03; the oracle
    recomputes count and fraction with raw string grams."""
    from ..operators.curation import contamination_report

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    return contamination_report(d, bench, "text", "doc_id", k=8).orderBy("doc_id")


@register(
    "cu03_decontaminate",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ), grams AS (
        SELECT doc_id, g
        FROM toks, UNNEST(list_distinct(list_transform(
            range(len(ws) - 7),
            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' '
                 || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] || ' ' || ws[i+8]
        ))) AS u(g)
    ), bench AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
    ), bad AS (
        SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
    ORDER BY d.doc_id
    """,
)
def cu03_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.curation.decontaminate): every
    tenth document plays the held-out benchmark; training docs sharing any
    8-gram with it (including the benchmark members themselves and their
    near-duplicates) are dropped via the hashed-shingle broadcast
    semi-join. The oracle joins on the 8-gram *strings* — hash and string
    joins agree unless xxhash64 collides, so the equality doubles as a
    collision check."""
    from ..operators.curation import decontaminate

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    return (
        decontaminate(d, bench, "text", "doc_id", k=8)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "cu06_boilerplate_removal",
    oracle="""
    WITH docs AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ), ch AS (
        SELECT doc_id, source, CAST(u.i AS INT) AS chunk_idx,
               array_to_string(list_slice(toks, u.i * 3 + 1, u.i * 3 + 3), ' ') AS chunk,
               CAST(ceil(len(toks) / 3.0) AS INT) AS n_chunks
        FROM docs, UNNEST(range(CAST(ceil(len(toks) / 3.0) AS BIGINT))) u(i)
    ), bp AS (
        SELECT source, chunk
        FROM ch GROUP BY source, chunk HAVING COUNT(DISTINCT doc_id) >= 2
    ), kept AS (
        -- anti-join form, matching the operator: only passages in the
        -- boilerplate set are removed; a NULL source never matches, so
        -- NULL-group documents keep all passages
        SELECT ch.* FROM ch WHERE NOT EXISTS (
            SELECT 1 FROM bp WHERE bp.source = ch.source AND bp.chunk = ch.chunk
        )
    )
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
           n_chunks,
           CAST(COUNT(*) AS INT) AS n_kept
    FROM kept GROUP BY doc_id, n_chunks
    ORDER BY doc_id
    """,
)
def cu06_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate removal (operators.curation.
    boilerplate_removal — the RefinedWeb line-dedup step): 3-token
    passages repeated across ≥2 distinct documents of the same source are
    site template and removed from every document, unique passages
    reassemble in order. The oracle replays chunking, the within-source
    distinct-doc count, and the ordered reassembly on the passage
    *strings* (the Spark side aggregates md5 keys — agreement doubles as
    a collision check). The small synthetic vocabulary makes 3-gram
    repeats within a 25-doc source common, so the gate covers real
    removals, full survivals, and total-boilerplate dropouts."""
    from ..operators.curation import boilerplate_removal

    d = load_table(spark, sf_dir, "documents", spread=True)
    return boilerplate_removal(
        d, "text", "doc_id", "source", chunk_tokens=3, min_docs=2
    ).orderBy("doc_id")


@register(
    "dd09_fuzzy_linkage",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(substr(a.text, 1, 30), substr(b.text, 1, 30)) AS edit_dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 30), substr(b.text, 1, 30)) <= 5
    ORDER BY id_a, id_b
    """,
)
def dd09_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (operators.dedup.fuzzy_pairs):
    language-blocked Levenshtein candidate pairs — the edit-distance
    complement to the set-based near-dup detectors, with the same
    sub-quadratic blocking discipline (equi-join on the block key, never
    all pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return D.fuzzy_pairs(
        d, "text", "doc_id", block_col=F.col("lang"), max_distance=5, prefix_len=30
    ).orderBy("id_a", "id_b")


@register(
    "ss06_embedding_centroids",
    oracle="""
    SELECT e.label, r.range AS dim,
           CAST(SUM(CAST(FLOOR(CAST(e.embedding[r.range + 1] AS DOUBLE)
                                * 1000000) AS BIGINT)) AS BIGINT) AS comp_sum,
           COUNT(*) AS n
    FROM embeddings e, range(64) r
    GROUP BY e.label, dim
    ORDER BY e.label, dim
    """,
)
def ss06_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in fixed point
    (operators.similarity.centroid_fixed_point): float components floored
    to micro-units and summed as exact integers — the only centroid
    formulation that is bit-identical under any partitioning (float sums
    are order-dependent), which is also why it can carry a DuckDB oracle
    at all."""
    from ..operators.similarity import centroid_fixed_point

    e = load_table(spark, sf_dir, "embeddings")
    return (
        centroid_fixed_point(e, "embedding", "label")
        .select(F.col("grp").alias("label"), "dim", "comp_sum", "n")
        .orderBy("label", "dim")
    )


@register(
    "sp03_global_shuffle",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '-42') AS shuffle_key
    FROM documents ORDER BY shuffle_key
    """,
)
def sp03_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle (operators.splits.
    global_shuffle): reproducible md5 keys, range-partitioned total order
    — never a single-partition window. The oracle recomputes every key,
    so determinism is hash-gated end to end."""
    from ..operators.splits import global_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return global_shuffle(d, "doc_id", seed=42).select("doc_id", "shuffle_key")


@register(
    "sp04_sequence_packing",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''))
                    AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR) || '-42') AS pack_key
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens, pack_key,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pack_key
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS start_offset
        FROM keyed
    )
    SELECT doc_id, n_tokens, start_offset,
           CAST(start_offset // 256 AS BIGINT) AS first_chunk,
           CAST(CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 256
                     ELSE start_offset // 256 END AS BIGINT) AS last_chunk,
           CAST(CASE WHEN n_tokens > 0
                     THEN (start_offset + n_tokens - 1) // 256 - start_offset // 256 + 1
                     ELSE 0 END AS BIGINT) AS n_chunks
    FROM cum ORDER BY doc_id
    """,
)
def sp04_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators.packing.pack_sequences):
    every document's token interval and chunk span in a 256-token packing,
    ordered by a reproducible md5 shuffle key.

    The oracle recomputes the global exclusive cumsum with a plain window;
    the Spark side uses the scalable two-phase construction (bucketed
    cumsum + broadcast bucket offsets — no single-partition window over
    the corpus), so the hash match proves the two are equivalent."""
    from ..operators.packing import pack_sequences
    from ..operators.text import token_count_col

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_col(F.col("text")).alias("n_tokens")
    )
    return (
        pack_sequences(d, "doc_id", "n_tokens", seq_len=256, seed=42)
        .select("doc_id", "n_tokens", "start_offset", "first_chunk", "last_chunk", "n_chunks")
        .orderBy("doc_id")
    )


@register(
    "sp05_epoch_mix",
    oracle="""
    WITH weighted AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2 WHEN 'src2' THEN 1
               END AS n_ep,
               CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 WHEN 'src2' THEN 0
               END AS frac_ep
        FROM documents WHERE source IN ('src0', 'src1', 'src2')
    ),
    exploded AS (
        SELECT doc_id, source, n_ep, frac_ep, unnest(generate_series(1, n_ep)) AS epoch
        FROM weighted
    )
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
    FROM exploded
    WHERE epoch <= n_ep - frac_ep
       OR substr(md5(CAST(doc_id AS VARCHAR) || '-42-' || CAST(n_ep AS VARCHAR)), 1, 8)
            < '80000000'
    ORDER BY doc_id, epoch
    """,
)
def sp05_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted epoch upsampling (operators.splits.mix_epochs):
    src0 ×3 epochs, src1 ×1.5 (1 full + md5-gated half), src2 ×1; other
    sources dropped.  The oracle replays the exact membership rule
    (md5-prefix cutoff 0x80000000 == fraction 0.5), so the deterministic
    mixing contract — not just counts — is hash-checked."""
    from ..operators.splits import mix_epochs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        mix_epochs(d, {"src0": 3.0, "src1": 1.5, "src2": 1.0}, "source", "doc_id", seed=42)
        .select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))
        .orderBy("doc_id", "epoch")
    )


@register(
    "tx13_rarity_scores",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS tok
        FROM documents
    ),
    doc_tok AS (SELECT doc_id, tok, COUNT(*) AS occ FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS total FROM toks)
    SELECT doc_id,
           CAST(SUM(occ) AS BIGINT) AS n_tokens,
           CAST(SUM(occ * (total // cnt)) AS DOUBLE) / CAST(SUM(occ) AS DOUBLE) AS rarity
    FROM doc_tok JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def tx13_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative rarity scoring (operators.text.rarity_scores) — the
    perplexity-filter proxy, in exact integer arithmetic so the oracle
    hash-matches bit for bit (no float accumulation order, no libm)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.rarity_scores(d, "text", "doc_id").orderBy("doc_id")


@register(
    "sp06_temperature_weights",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    t AS (SELECT SUM(n_docs) AS total, SUM(POW(n_docs, 0.5)) AS mass FROM c)
    SELECT c.source, c.n_docs,
           ROUND((t.total * POW(c.n_docs, 0.5) / t.mass) / c.n_docs, 6) AS epochs
    FROM c, t ORDER BY c.source
    """,
)
def sp06_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled mixture spec (operators.splits.
    temperature_weights, alpha=0.5 — the mBERT/XLM-R exponentiated-share
    construction): per-source epoch factors that upweight small sources
    while preserving expected corpus size; the dict feeds mix_epochs
    (sp05) for the actual map-side replication. The oracle recomputes
    share^alpha arithmetic relationally; ROUND(6) absorbs
    double-summation association differences."""
    from ..operators.splits import temperature_weights

    d = load_table(spark, sf_dir, "documents")
    w = temperature_weights(d, "source", alpha=0.5)
    mapping = F.create_map(*[F.lit(x) for kv in w.items() for x in kv])
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("epochs", F.round(mapping[F.col("source")], 6))
        .orderBy("source")
    )


@register(
    "sp07_kfold",
    oracle="""
    WITH folds AS (
        SELECT doc_id, source, n_chars,
               CAST(('0x' || substr(md5(source || ':42'), 1, 15))::BIGINT % 5 AS INT)
                   AS fold
        FROM documents
    )
    SELECT fold, COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM folds GROUP BY fold ORDER BY fold
    """,
)
def sp07_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment with GROUP
    co-assignment (operators.splits.kfold_column): folding on the source
    key — not the row id — keeps every document of a source in one fold,
    the leakage guard for near-duplicate corpora. The per-fold census
    (docs, distinct sources, char mass) hash-gates every assignment via
    the portable md5 hash the oracle replays; co-assignment itself is the
    n_sources column — fold counts must sum to the 20 distinct sources
    with no source split across folds (pinned in tests/test_splits.py)."""
    from ..operators.splits import kfold_column

    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("fold", kfold_column("source", k=5, seed=42))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .orderBy("fold")
    )


@register(
    "tx14_sliding_chunks",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE doc_id < 50
    ),
    idx AS (
        SELECT doc_id, ws,
               unnest(range(CASE WHEN len(ws) <= 16 THEN 1
                                 ELSE 1 + CAST(ceil((len(ws) - 16) / 8.0) AS BIGINT)
                            END)) AS i
        FROM toks WHERE len(ws) > 0
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           array_to_string(list_slice(ws, i*8 + 1, i*8 + 16), ' ') AS chunk,
           CAST(len(list_slice(ws, i*8 + 1, i*8 + 16)) AS INT) AS n_tokens
    FROM idx ORDER BY doc_id, chunk_idx
    """,
)
def tx14_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows (operators.text.sliding_chunks,
    16-token chunks / stride 8 → 50% overlap): the chunker feeding
    embedding encoders and long-context inference. Per-row JVM array
    work + one explode, no shuffle; the oracle replays window
    arithmetic and reassembly relationally."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        TX.sliding_chunks(d, "text", "doc_id", chunk_tokens=16, stride=8)
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "mm05_frame_sampling",
    oracle="""
    WITH f AS (
        SELECT doc_id, text,
               unnest(range(0, (doc_id % 10) * 1000 + 500, 1000)) AS frame_ms
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id, frame_ms,
           substr(text, CAST(frame_ms % 32 AS INT) + 1, 16) AS frame_str
    FROM f ORDER BY doc_id, frame_ms
    """,
)
def mm05_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (operators.multimodal.
    sample_frames_stub): per media row, a JVM-side explode of the sampled
    timestamp grid (one row per second of duration) with a payload slice
    per frame — the real pipeline shape (grid explode → per-frame decode);
    only the codec seek is stubbed as a substring. Durations are a
    deterministic function of doc_id (attach_media's duration override),
    so the oracle replays the exact grid and slices; the ASCII corpus
    makes byte slices equal char slices on both engines."""
    from ..operators.multimodal import sample_frames_stub

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    media = attach_media(
        d.withColumn("payload", F.encode(F.col("text"), "UTF-8")),
        "payload",
        media_type="video",
        duration_ms=(F.col("doc_id") % 10) * 1000 + 500,
    )
    frames = sample_frames_stub(media.select("doc_id", "media"), every_ms=1000)
    return frames.select(
        "doc_id",
        "frame_ms",
        F.decode(F.col("frame_payload"), "UTF-8").alias("frame_str"),
    ).orderBy("doc_id", "frame_ms")


@register(
    "sp08_fixed_per_group",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 15))::BIGINT,
                            CAST(doc_id AS VARCHAR)
               ) AS _rank
        FROM documents
    )
    SELECT doc_id, source, CAST(_rank AS INT) AS _rank
    FROM ranked WHERE _rank <= 5
    ORDER BY source, _rank
    """,
)
def sp08_fixed_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sampling (operators.splits.
    sample_fixed_per_group): exactly 5 documents per source, chosen by
    portable-hash rank within the group — the balanced-eval-set
    constructor fraction sampling can't express. Every assignment is
    replayed by the oracle's identical hash ranking; the nested-subset
    property (rank ≤ k nests in rank ≤ k') holds by construction."""
    from ..operators.splits import sample_fixed_per_group

    d = load_table(spark, sf_dir, "documents")
    return (
        sample_fixed_per_group(d, "doc_id", "source", n=5, seed=42)
        .select("doc_id", "source", F.col("_rank").cast("int").alias("_rank"))
        .orderBy("source", "_rank")
    )


@register(
    "sp09_training_shards",
    oracle="""
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS INT)
               AS shard,
           COUNT(*) AS rows,
           bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
               AS id_hash_xor
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
)
def sp09_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard materialization with a verifiable manifest
    (operators.splits.write_training_shards): the curated corpus lands as
    8 deterministic md5-assigned hive shard directories — each dataloader
    worker reads exactly shard=<k>/ with directory-level pruning — plus a
    per-shard manifest (rows, order-independent XOR id-hash digest) the
    worker validates against. The oracle replays assignment, counts, and
    digests exactly; the inline check re-reads the written shards and
    proves the round trip preserved every row and its shard membership."""
    import os

    from ..operators.splits import write_training_shards
    from ..sources.testdata import work_dir

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    out = os.path.join(work_dir("sp09_shards"), "corpus")
    manifest = write_training_shards(d, out, "doc_id", num_shards=8)
    back = spark.read.parquet(out)
    # Round-trip check: every row landed, in its assigned shard dir
    # (partition column read back from the directory name).
    if back.count() != d.count():  # explicit raise: survives python -O
        raise RuntimeError("shard round trip lost rows")
    n_shards = back.select("shard").distinct().count()
    if n_shards != 8:
        raise RuntimeError(f"expected 8 shard dirs, got {n_shards}")
    return manifest.orderBy("shard")


@register(
    "sp10_corpus_to_shards",
    oracle=_CURATION_DECIDED_SQL
    + """
    , kept AS (SELECT * FROM decided WHERE reject_reason IS NULL),
    keeper AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    curated AS (
        SELECT k.* FROM kept k WHERE k.doc_id IN (SELECT doc_id FROM keeper)
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id, g
        FROM toks, UNNEST(list_distinct(list_transform(
            range(len(ws) - 7),
            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' '
                 || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] || ' ' || ws[i+8]
        ))) AS u(g)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
    bad AS (SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g),
    final AS (
        SELECT c.* FROM curated c WHERE c.doc_id NOT IN (SELECT doc_id FROM bad)
    ),
    train AS (SELECT * FROM final WHERE doc_id % 10 < 8),
    packed AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                    ORDER BY md5(CAST(doc_id AS VARCHAR) || '-42')
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS start_offset
        FROM train
    ),
    sharded AS (
        SELECT doc_id, n_tokens, start_offset,
               CAST((start_offset + n_tokens - 1) // 2048
                    - start_offset // 2048 + 1 AS BIGINT) AS n_chunks,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
                    AS INT) AS shard,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM packed
    )
    SELECT shard, COUNT(*) AS rows, bit_xor(h) AS id_hash_xor,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           CAST(SUM(n_chunks) AS BIGINT) AS chunk_slots,
           CAST(MIN(start_offset) AS BIGINT) AS min_offset,
           CAST(MAX(start_offset + n_tokens) AS BIGINT) AS max_end
    FROM sharded GROUP BY shard ORDER BY shard
    """,
)
def sp10_corpus_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship corpus→dataloader composition — raw documents to
    verified training shards as one chained pipeline: quality + language
    + exact-dedup curation (cu01's gates) → benchmark decontamination
    (cu03's 8-gram broadcast semi-join) → deterministic train split →
    concat-and-chunk sequence packing at 2048 tokens (sp04's two-phase
    cumsum — no global window) → 8 hash-assigned hive shard directories
    with a per-shard manifest (sp09's writer). Every stage is an operator
    this registry gates individually; this entry hash-gates the WHOLE
    chain, through a real disk write: the output is ONE aggregate over
    the WRITTEN files — per shard, the manifest columns (rows +
    order-independent XOR id digest, sp09's formulas) together with the
    packing stats (token volume, chunk-slot count, offset range) — and
    the DuckDB oracle replays curation, decontamination, split, packing,
    and shard assignment end-to-end. A hash match proves the full path —
    operators composed lazily, materialized once, certified from disk.

    Scale shape: curation/decontamination/packing all inherit their
    individually-audited shapes (single scan + hash-keyed shuffles,
    broadcast benchmark side, bucketed cumsum); the shard write is one
    hash-partitioned pass (md5 can't skew), and the certification is a
    SINGLE column-pruned read-back of the written files (the operator's
    own lazy manifest is discarded rather than paying a second pass —
    sp09 gates that surface on its own)."""
    import os

    from ..operators.curation import curate_documents, decontaminate
    from ..operators.dedup import portable_hash64
    from ..operators.packing import pack_sequences
    from ..operators.splits import write_training_shards
    from ..sources.testdata import work_dir

    d = load_table(spark, sf_dir, "documents")
    curated = curate_documents(d)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    final = decontaminate(curated, bench, "text", "doc_id", k=8)
    train = final.filter(F.col("doc_id") % 10 < 8)
    # Lineage cut (optimization guide §3.3/§8): packing's two-phase cumsum
    # references its input THREE times (intra-bucket window, bucket totals,
    # offset join-back), and each copy used to re-derive the whole
    # curate→decontaminate corpus lineage — the write plan held 21 corpus
    # scans and 8 independent rebuilds of the dedup pair table (event-log
    # measured; the pinned caches plan-matched at planning time but
    # recomputed at runtime). localCheckpoint of the 16-byte/doc survivor
    # table computes that lineage ONCE and hands packing an RDD-backed
    # frame — identity reuse, immune to cache plan-matching. Lazy (not
    # eager): materialized by the write job itself, no extra action.
    # Measured 12.5/5.6 s → 4.4 s stable at sf0.1/local[32].
    train_small = train.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    ).localCheckpoint(eager=False)
    packed = pack_sequences(
        train_small,
        "doc_id",
        "n_tokens",
        seq_len=2048,
        seed=42,
    ).select("doc_id", "n_tokens", "start_offset", "n_chunks")
    out = os.path.join(work_dir("sp10_shards"), "train")
    write_training_shards(packed, out, "doc_id", num_shards=8)
    return (
        spark.read.parquet(out)
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(portable_hash64(F.col("doc_id").cast("string"))).alias(
                "id_hash_xor"
            ),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.sum("n_chunks").cast("long").alias("chunk_slots"),
            F.min("start_offset").cast("long").alias("min_offset"),
            F.max(F.col("start_offset") + F.col("n_tokens")).cast("long").alias(
                "max_end"
            ),
        )
        .orderBy("shard")
    )


@register(
    "ir01_retrieval_metrics",
    oracle="""
    WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (
             SELECT q.vec_id AS query_id, q.label AS qlabel,
                    c.vec_id AS neighbor_id, c.label AS clabel,
                    list_cosine_similarity(q.v, c.v) AS cosine
             FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id
         ),
         ranked AS (
             SELECT query_id, qlabel, neighbor_id, clabel,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS r
             FROM scored
         ),
         nrel AS (
             SELECT q.vec_id AS query_id, COUNT(*) AS n_relevant
             FROM q JOIN c ON c.label = q.label AND c.vec_id <> q.vec_id
             GROUP BY 1
         ),
         hits AS (SELECT query_id, r FROM ranked WHERE r <= 5 AND clabel = qlabel),
         agg AS (
             SELECT query_id, COUNT(*) AS hits, MIN(r) AS first_r,
                    SUM(1.0 / log2(r + 1.0)) AS dcg
             FROM hits GROUP BY 1
         ),
         ideal AS (
             SELECT n.query_id, n.n_relevant, LEAST(n.n_relevant, 5) AS ideal_n,
                    list_sum(list_transform(
                        range(1, LEAST(n.n_relevant, 5) + 1),
                        i -> 1.0 / log2(i + 1.0))) AS idcg
             FROM nrel n
         )
    SELECT i.query_id, i.n_relevant, COALESCE(a.hits, 0) AS hits,
           ROUND(COALESCE(a.hits, 0) / CAST(i.ideal_n AS DOUBLE), 6) AS recall_at_k,
           ROUND(COALESCE(1.0 / a.first_r, 0.0), 6) AS mrr_at_k,
           ROUND(COALESCE(a.dcg / i.idcg, 0.0), 6) AS ndcg_at_k
    FROM ideal i LEFT JOIN agg a USING (query_id)
    ORDER BY i.query_id
    """,
)
def ir01_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation (operators.ranking.retrieval_metrics): score
    the exact top-5 cosine results (ss01's ranking) against same-label
    relevance judgments — per-query recall@5 / MRR@5 / nDCG@5, the
    TREC-style offline eval an embedding pipeline runs after every data
    change. One judgments join + one per-query aggregate, no windows over
    the corpus. ROUND(6) gates the few-term float metrics (DCG sums ≤5
    log-weights whose accumulation order differs between engines)."""
    from ..operators.ranking import retrieval_metrics

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    results = S.cosine_topk(e, q, "embedding", "vec_id", k=5)
    qrels = (
        q.select(F.col("vec_id").alias("query_id"), "label")
        .join(e.select(F.col("vec_id").alias("neighbor_id"), "label"), "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    m = retrieval_metrics(results, qrels, k=5)
    return m.select(
        "query_id",
        "n_relevant",
        "hits",
        F.round("recall_at_k", 6).alias("recall_at_k"),
        F.round("mrr_at_k", 6).alias("mrr_at_k"),
        F.round("ndcg_at_k", 6).alias("ndcg_at_k"),
    ).orderBy("query_id")


@register(
    "mm07_audio_frame_features",
    oracle="""
    WITH s AS (
        SELECT d.doc_id, CAST(t.range AS BIGINT) AS t,
               (d.doc_id * 7 + t.range * 13) % 65536 - 32768 AS v
        FROM documents d, range(256) t
        WHERE d.doc_id < 40
    ),
    fr AS (
        SELECT doc_id, CAST(t // 64 AS INT) AS frame_idx, t, v,
               lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
        FROM s
    )
    SELECT doc_id, frame_idx,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(v)) AS INTEGER) AS peak,
           CAST(SUM(CASE WHEN t % 64 > 0 AND pv * v < 0 THEN 1 ELSE 0 END)
                AS INTEGER) AS zero_crossings
    FROM fr GROUP BY doc_id, frame_idx
    ORDER BY doc_id, frame_idx
    """,
)
def mm07_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio features through the real WAV round trip
    (operators.multimodal.frame_audio_features): mm04's deterministic
    256-sample PCM signals are framed into four 64-sample windows with
    per-frame integer energy, peak, and strict zero-crossing counts —
    the framing front-end of fbank/MFCC-style featurizers, hash-gated
    end to end (encode → RIFF chunk walk → framing arithmetic)."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import encode_wav, frame_audio_features

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)

    def render(batches):
        t = np.arange(256, dtype=np.int64)
        for pdf in batches:
            payloads = [
                encode_wav(
                    ((int(doc_id) * 7 + t * 13) % 65536 - 32768).astype(np.int16),
                    sample_rate=8000,
                )
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    rendered = d.select("doc_id").mapInPandas(render, "doc_id long, payload binary")
    media = attach_media(rendered, "payload", media_type="audio", codec="pcm_s16le")
    return (
        frame_audio_features(media.select("doc_id", "media"), frame=64, hop=64)
        .select("doc_id", "frame_idx", "sum_sq", "peak", "zero_crossings")
        .orderBy("doc_id", "frame_idx")
    )


@register(
    "cu07_end_to_end_pipeline",
    oracle=_CURATION_DECIDED_SQL
    + """
    , kept AS (SELECT * FROM decided WHERE reject_reason IS NULL),
    keeper AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    curated AS (
        SELECT k.* FROM kept k WHERE k.doc_id IN (SELECT doc_id FROM keeper)
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id, g
        FROM toks, UNNEST(list_distinct(list_transform(
            range(len(ws) - 7),
            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' '
                 || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] || ' ' || ws[i+8]
        ))) AS u(g)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
    bad AS (SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g),
    final AS (
        SELECT c.* FROM curated c WHERE c.doc_id NOT IN (SELECT doc_id FROM bad)
    )
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 < 9 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           COUNT(DISTINCT lang) AS langs
    FROM final GROUP BY split ORDER BY split
    """,
)
def cu07_end_to_end_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline in ONE lazy plan: quality rules →
    language allow-list → exact dedup (curate_documents), benchmark
    decontamination against every tenth document (decontaminate, 8-gram
    broadcast semi-join), then deterministic train/val/test assignment
    and the per-split census a data card reports. Every stage is an
    operator this registry already gates individually (cu01, cu03, sp01);
    this entry hash-gates their COMPOSITION — filters composed in one
    scan, two hash-keyed shuffles (dedup key, per-split aggregate), the
    benchmark side broadcast — proving the operators chain without
    materialization barriers between stages."""
    from ..operators.curation import curate_documents, decontaminate

    d = load_table(spark, sf_dir, "documents", spread=True)
    curated = curate_documents(d)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    final = decontaminate(curated, bench, "text", "doc_id", k=8)
    split = F.when(F.col("doc_id") % 10 < 8, "train").when(
        F.col("doc_id") % 10 < 9, "val"
    ).otherwise("test")
    return (
        final.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.count_distinct("lang").alias("langs"),
        )
        .orderBy("split")
    )


@register(
    "cu08_dsir_selection",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(ws[u.i+1] || ' ' || ws[u.i+2]), 1, 15))::BIGINT
                   % 4096 AS b
        FROM toks, UNNEST(range(len(ws) - 1)) u(i)
    ),
    tc AS (SELECT b, COUNT(*) AS ct FROM grams WHERE source = 'src0' GROUP BY b),
    rc AS (SELECT b, COUNT(*) AS cr FROM grams GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM grams WHERE source = 'src0') AS t_total,
                   (SELECT COUNT(*) FROM grams) AS r_total),
    w AS (
        SELECT d.b,
               CAST(ROUND(ln((COALESCE(tc.ct, 0) + 1.0) / (tot.t_total + 4096.0))
                        - ln((COALESCE(rc.cr, 0) + 1.0) / (tot.r_total + 4096.0)), 6)
                    AS DECIMAL(16,6)) AS wb
        FROM (SELECT unnest(range(4096)) AS b) d
        LEFT JOIN tc ON tc.b = d.b
        LEFT JOIN rc ON rc.b = d.b
        CROSS JOIN tot
    ),
    doc_w AS (
        SELECT g.doc_id, COUNT(*) AS n_grams, CAST(SUM(w.wb) AS DOUBLE) AS log_weight
        FROM grams g JOIN w ON w.b = g.b GROUP BY g.doc_id
    ),
    allw AS (
        SELECT d.doc_id,
               CAST(COALESCE(doc_w.n_grams, 0) AS BIGINT) AS n_grams,
               COALESCE(doc_w.log_weight, 0.0) AS log_weight
        FROM documents d LEFT JOIN doc_w ON doc_w.doc_id = d.doc_id
    )
    SELECT doc_id, n_grams, log_weight,
           (ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id) <= 150) AS selected
    FROM allw ORDER BY doc_id
    """,
)
def cu08_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (operators.curation.dsir_log_weights —
    Xie et al. 2023's importance resampling): per-document log importance
    weights under hashed-bigram unigram models of a TARGET distribution
    (here the 'src0' slice; in production an external high-quality
    corpus) vs the RAW corpus, plus the top-150 selection a resampling
    pass would keep. Every hash is portable_hash64, each bucket's
    log-ratio is rounded once to 6 decimals, and the per-document sum is
    exact DECIMAL (order-independent), so the DuckDB oracle reproduces
    both the weights and the selected set bit-for-bit — including
    deterministic (weight, doc_id) tie-breaking at the cut.

    Scale shape: bucket counts are bounded by num_buckets (map-side
    partial combine), the 4096-row weight table broadcasts into the raw
    gram stream (the corpus is never shuffled by gram), the per-doc sum
    is the one corpus-keyed shuffle, and the selection is a broadcast
    top-k membership join (TakeOrderedAndProject — no global sort or
    single-partition window over the corpus)."""
    from ..operators.curation import dsir_log_weights

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("source") == "src0")
    weights = dsir_log_weights(
        d, target, "text", "doc_id", num_buckets=4096, n_gram=2
    )
    top = (
        weights.orderBy(F.col("log_weight").desc(), F.col("doc_id"))
        .limit(150)
        .select("doc_id")
        .withColumn("_sel", F.lit(True))
    )
    return (
        weights.join(F.broadcast(top), "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "log_weight",
            F.coalesce("_sel", F.lit(False)).alias("selected"),
        )
        .orderBy("doc_id")
    )


@register(
    "tx16_token_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws
        FROM documents
    ),
    wc AS (
        SELECT doc_id, u.w, COUNT(*) AS c
        FROM toks, UNNEST(ws) AS u(w)
        GROUP BY doc_id, u.w
    ),
    s AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               COUNT(*) AS n_distinct,
               SUM(CASE WHEN c > 1
                        THEN CAST(ROUND(c * log2(c) * 1000000) AS BIGINT)
                        ELSE 0 END) AS s_int
        FROM wc GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(s.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(s.n_distinct, 0) AS BIGINT) AS n_distinct_words,
           CASE WHEN s.n_words IS NULL THEN 0.0
                ELSE ROUND(log2(s.n_words) - (s.s_int / 1000000.0) / s.n_words, 6)
           END AS entropy
    FROM toks t LEFT JOIN s USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def tx16_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon word entropy (operators.text.token_entropy) —
    the information-theoretic repetition/templated-text gate. The Spark
    side is a per-row sorted run-length scan inside ONE aggregate
    expression (no explode, no shuffle); the oracle counts words the
    opposite way (explode + GROUP BY). They hash-match because the inner
    sum accumulates in integer micro-bits — each run's c*log2(c) rounded
    once then summed exactly — so the two completely different
    computation orders are forced to the identical value."""
    from ..operators.text import token_entropy

    d = load_table(spark, sf_dir, "documents")
    return token_entropy(d, "text", "doc_id").orderBy("doc_id")


@register(
    "tx15_bigram_fluency",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents
    ),
    doc_big AS (
        SELECT doc_id, ws[u.i + 1] || ' ' || ws[u.i + 2] AS big, COUNT(*) AS occ
        FROM toks, UNNEST(range(len(ws) - 1)) u(i)
        GROUP BY doc_id, big
    ),
    bigc AS (SELECT big, SUM(occ) AS cb FROM doc_big GROUP BY big),
    unic AS (
        SELECT string_split(big, ' ')[1] AS w1, SUM(occ) AS cu
        FROM doc_big GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(SUM(d.occ) AS BIGINT) AS n_bigrams,
           CAST(SUM(d.occ * (u.cu // b.cb)) AS DOUBLE) / CAST(SUM(d.occ) AS BIGINT)
               AS surprise
    FROM doc_big d
    JOIN bigc b ON b.big = d.big
    JOIN unic u ON u.w1 = string_split(d.big, ' ')[1]
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def tx15_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-transition fluency scoring (operators.text.
    bigram_surprise_scores — the second-order LM-filter proxy): per
    document, the occurrence-weighted mean inverse conditional frequency
    of its word transitions, in exact integer arithmetic so the oracle
    replays every floor division bit-for-bit. Catches word salad that
    unigram rarity (tx13) cannot — common words in uncommon orders."""
    d = load_table(spark, sf_dir, "documents")
    return TX.bigram_surprise_scores(d, "text", "doc_id").orderBy("doc_id")


@register(
    "ss08_range_search",
    oracle="""
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id % 100 = 0),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    list_cosine_similarity(q.v, c.v) AS cosine
             FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id
         )
    SELECT query_id, neighbor_id FROM scored
    WHERE cosine >= 0.2
    ORDER BY query_id, neighbor_id
    """,
)
def ss08_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range similarity search — ALL neighbors above a cosine threshold
    rather than a fixed top-k (the dedup/recall-audit query shape: "every
    vector within distance r", where k is unknowable upfront). Same
    broadcast-query scoring as ss01 with a map-side threshold filter
    instead of the rank window — strictly cheaper (no per-query shuffle
    at all; the filter runs inside the scan stage). Gated on the
    (query, neighbor) membership set; the synthetic i.i.d. embeddings
    make 0.2 a selective-but-nonempty threshold at sf0.01."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        S.unit_vec(S._as_double(F.col("embedding"))).alias("_qv"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        S.unit_vec(S._as_double(F.col("embedding"))).alias("_cv"),
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", S.dot_col(F.col("_qv"), F.col("_cv")))
        .filter(F.col("cosine") >= 0.2)
        .select("query_id", "neighbor_id")
        .orderBy("query_id", "neighbor_id")
    )


@register(
    "dd13_crossmodal_dedup",
    oracle=_dd06_pair_ctes()
    + """
    SELECT p.id_a, p.id_b, round(p.cos, 6) AS cosine,
           (md5(da.text) = md5(db.text)) AS same_text,
           (da.lang = db.lang) AS same_lang
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    WHERE p.cos >= 0.35
    ORDER BY p.id_a, p.id_b
    """,
)
def dd13_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup analysis: the embedding near-dup pairs (dd06's
    hyperplane LSH) joined back to their DOCUMENTS, labeling each pair
    with whether the text is also an exact duplicate and whether the
    languages agree — the semantic-vs-lexical disagreement matrix a
    curation pipeline uses to separate paraphrases (semantic dup,
    lexically distinct → pick one) from translations (semantic dup,
    different lang → keep both) from true copies. One extra broadcast-
    scale join per side on the id; the pair table is the small side by
    construction."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    pairs = D.embedding_dedup_pairs(
        e, "embedding", "vec_id", threshold=0.35, num_planes=4, num_tables=8
    )
    da = d.select(
        F.col("doc_id").alias("id_a"),
        F.md5("text").alias("_ha"),
        F.col("lang").alias("_la"),
    )
    db = d.select(
        F.col("doc_id").alias("id_b"),
        F.md5("text").alias("_hb"),
        F.col("lang").alias("_lb"),
    )
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round("cosine", 6).alias("cosine"),
            (F.col("_ha") == F.col("_hb")).alias("same_text"),
            (F.col("_la") == F.col("_lb")).alias("same_lang"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "mm08_multimodal_to_shards",
    oracle=_CURATION_DECIDED_SQL
    + """
    , kept AS (SELECT * FROM decided WHERE reject_reason IS NULL),
    keeper AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    curated AS (
        SELECT k.doc_id, CAST(k.n_tokens AS BIGINT) AS n_tokens
        FROM kept k WHERE k.doc_id IN (SELECT doc_id FROM keeper)
    ),
    audio AS (
        SELECT c.doc_id,
               CAST(SUM(POW((c.doc_id * 257 + t.range * 13) % 65536 - 32768, 2))
                    AS BIGINT) AS sum_sq,
               CAST(MAX(ABS((c.doc_id * 257 + t.range * 13) % 65536 - 32768))
                    AS INTEGER) AS peak
        FROM curated c, range(256) t
        GROUP BY c.doc_id
    ),
    image AS (
        SELECT c.doc_id,
               CAST(SUM((c.doc_id * 31 + i.range * 7 + j.range * 3 + ch.range)
                        % 256) AS BIGINT) AS pixel_sum
        FROM curated c, range(8) i, range(8) j, range(3) ch
        GROUP BY c.doc_id
    ),
    gated AS (
        SELECT c.doc_id, c.n_tokens, a.sum_sq, im.pixel_sum
        FROM curated c
        JOIN audio a USING (doc_id)
        JOIN image im USING (doc_id)
        WHERE a.peak < 24576 AND im.pixel_sum >= 12288
    ),
    sharded AS (
        SELECT doc_id, n_tokens, sum_sq, pixel_sum,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % 4 AS INT) AS shard,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM gated
    )
    SELECT shard, COUNT(*) AS rows, bit_xor(h) AS id_hash_xor,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           CAST(SUM(sum_sq) AS BIGINT) AS audio_energy,
           CAST(SUM(pixel_sum) AS BIGINT) AS pixel_volume
    FROM sharded GROUP BY shard ORDER BY shard
    """,
)
def mm08_multimodal_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal flagship — text curation joined with REAL in-engine
    image and audio decodes, gated jointly, written to verified training
    shards: cu01's quality+language+exact-dedup curation picks the text
    survivors, then (only for survivors — media decode is the expensive
    stage of a multimodal ingest, so it runs AFTER the cheap text gates
    prune the corpus) each document's deterministic 8x8 BMP (mm02's
    pixel grid) and 256-sample PCM WAV (mm04's signal) are encoded to
    actual container bytes and decoded back by the pure-numpy codecs
    (operators.multimodal.decode_images / decode_audio) under
    ``mapInPandas``; a joint multimodal quality gate drops clipped audio
    (peak >= 24576) and too-dark images (mean pixel < 64, i.e.
    pixel_sum < 64*192), and the survivors land in 4 hash-assigned hive
    shard directories (operators.splits.write_training_shards). The
    returned manifest — per shard: rows, order-independent XOR id
    digest, token volume, total audio energy (exact integer Σ sample²),
    total pixel volume — is aggregated from ONE column-pruned read-back
    of the WRITTEN files, and the DuckDB oracle replays curation, both
    decode arithmetics, the joint gate, and the md5 shard assignment
    end-to-end: a hash match certifies the whole text+image+audio path
    from raw corpus to on-disk shards. Complements sp10 (the text-only
    flagship: decontamination + packing); together they cover both
    north-star pipeline shapes.

    Scale shape: curation is cu01's audited single-scan + 24-byte-pair
    shuffle; everything after it is ONE LINEAR narrow pipeline with zero
    joins — n_tokens rides through the render and both decoders
    (mapInPandas passes non-media columns through), and the gates are
    ordered cheapest-first (text rules prune before any decode, the
    audio verdict prunes before the image decode — at 100 TB this
    ordering is the difference between decoding every crawled blob and
    decoding only earlier-stage survivors); the shard write is one
    md5-partitioned pass and the certification one column-pruned read
    of the written files."""
    import os

    import numpy as np
    import pandas as pd

    from ..operators.curation import curate_documents
    from ..operators.dedup import portable_hash64
    from ..operators.multimodal import (
        decode_audio,
        decode_images,
        encode_bmp,
        encode_wav,
    )
    from ..operators.splits import write_training_shards
    from ..sources.testdata import work_dir

    d = load_table(spark, sf_dir, "documents")
    curated = curate_documents(d).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )

    def render(batches):
        t = np.arange(256, dtype=np.int64)
        i, j, c = np.meshgrid(np.arange(8), np.arange(8), np.arange(3), indexing="ij")
        base = i * 7 + j * 3 + c
        for pdf in batches:
            wavs, bmps = [], []
            for doc_id in pdf["doc_id"]:
                k = int(doc_id)
                wavs.append(
                    encode_wav(((k * 257 + t * 13) % 65536 - 32768).astype(np.int16),
                               sample_rate=8000)
                )
                bmps.append(encode_bmp(((k * 31 + base) % 256).astype(np.uint8)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["n_tokens"],
                    "wav": wavs,
                    "bmp": bmps,
                }
            )

    # One LINEAR pass, zero joins: n_tokens rides along through the render
    # and both decoders (mapInPandas passes non-media columns through), and
    # the audio gate prunes BEFORE the image decode — progressive filtering,
    # each modality's decode paid only by the previous stages' survivors.
    rendered = curated.mapInPandas(
        render, "doc_id long, n_tokens long, wav binary, bmp binary"
    )
    audio = decode_audio(
        attach_media(rendered, "wav", media_type="audio", codec="pcm_s16le")
        .select("doc_id", "n_tokens", "bmp", "media")
    )
    audio_ok = audio.filter(F.col("peak") < 24576).select(
        "doc_id", "n_tokens", "sum_sq", "bmp"
    )
    image = decode_images(
        attach_media(audio_ok, "bmp", media_type="image", codec="bmp")
        .select("doc_id", "n_tokens", "sum_sq", "media")
    ).select(
        "doc_id",
        "n_tokens",
        "sum_sq",
        F.aggregate(F.col("pixels"), F.lit(0).cast("long"), lambda a, x: a + x)
        .alias("pixel_sum"),
    )
    gated = image.filter(F.col("pixel_sum") >= 12288)
    out = os.path.join(work_dir("mm08_shards"), "train")
    write_training_shards(gated, out, "doc_id", num_shards=4)
    return (
        spark.read.parquet(out)
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(portable_hash64(F.col("doc_id").cast("string"))).alias(
                "id_hash_xor"
            ),
            F.sum("n_tokens").cast("long").alias("tokens"),
            F.sum("sum_sq").cast("long").alias("audio_energy"),
            F.sum("pixel_sum").cast("long").alias("pixel_volume"),
        )
        .orderBy("shard")
    )


@register(
    "sp11_greedy_packing",
    oracle="""
    WITH RECURSIVE base AS (
        SELECT doc_id,
               LEAST(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                          w -> w <> '')) AS BIGINT), 512) AS n,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % 8 AS INT) AS packer,
               md5(CAST(doc_id AS VARCHAR) || '-42') AS k
        FROM documents
    ),
    ordered AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY packer ORDER BY k) AS rn
        FROM base
    ),
    g AS (
        SELECT packer, rn, doc_id, n,
               CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS bin_offset,
               n AS fill
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.packer, o.rn, o.doc_id, o.n,
               CASE WHEN g.fill + o.n <= 512 THEN g.bin ELSE g.bin + 1 END,
               CASE WHEN g.fill + o.n <= 512 THEN g.fill
                    ELSE CAST(0 AS BIGINT) END,
               CASE WHEN g.fill + o.n <= 512 THEN g.fill + o.n ELSE o.n END
        FROM g JOIN ordered o ON o.packer = g.packer AND o.rn = g.rn + 1
    )
    SELECT doc_id, packer, bin, bin_offset, n AS n_packed
    FROM g ORDER BY doc_id
    """,
)
def sp11_greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy NO-SPLIT sequence packing (operators.packing.
    pack_greedy_nosplit): whole documents first-fit into 512-token bins —
    the SFT-style "sample packing" where an example never straddles a
    training sequence, complementing sp04's pretraining concat-and-chunk
    (which splits at chunk boundaries by design). The greedy recurrence
    is sequential, so it runs the way production packers distribute it:
    md5-hash routing to 8 independent packers, each packing its bounded
    document set in shuffled order inside one applyInPandas group —
    parallel across packers, no global coordination.

    The gate is the FULL per-document placement (packer, bin, offset,
    truncated length), not an aggregate: the DuckDB oracle replays the
    exact greedy recurrence per packer with a recursive CTE, so a hash
    match proves routing, ordering, the fits-or-opens rule, truncation,
    and zero-token handling all at once.

    Scale shape: one shuffle (groupBy packer — md5-uniform, no skew),
    then Arrow-batched bounded sequential work per group; num_packers is
    the parallelism knob (10^5-10^6 at 100 TB). The oracle's recursion
    is per-packer rows (~corpus/8 deep at test SFs) — replay cost, not
    engine cost."""
    from ..operators.packing import pack_greedy_nosplit
    from ..operators.text import token_count_col

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_col(F.col("text")).alias("n_tokens")
    )
    return (
        pack_greedy_nosplit(
            d, "doc_id", "n_tokens", seq_len=512, num_packers=8, seed=42
        )
        .select("doc_id", "packer", "bin", "bin_offset", "n_packed")
        .orderBy("doc_id")
    )


@register(
    "cu09_token_budget_selection",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    w -> w <> '')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   w -> w <> ''))) AS INT) AS score
        FROM documents
    ),
    keyed AS (
        SELECT *, printf('%015x', 4096 - score) || md5(CAST(doc_id AS VARCHAR))
                  AS k
        FROM scored
    ),
    cum AS (
        SELECT doc_id, score, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_before
        FROM keyed
    )
    SELECT doc_id, score, n_tokens, cum_before
    FROM cum WHERE cum_before + n_tokens <= 12000
    ORDER BY doc_id
    """,
)
def cu09_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quality selection (operators.curation.
    select_token_budget): fund the corpus best-first — documents ordered
    by an integer quality score (distinct-word vocabulary count)
    descending, md5 tiebreak — and keep exactly the fully-funded prefix
    under a 12k-token budget, the FineWeb-Edu-style "train on the best N
    tokens" step that composes after gating (cu01) and ahead of packing
    (sp04/sp11). The gate hash-checks each kept document's running
    total, not just membership: the oracle replays the ordering key
    (fixed-width hex + md5 — bit-identical across engines) with a plain
    window cumsum, while the Spark side uses the scalable two-phase
    cumsum (key-prefix buckets + broadcast offsets — no single-partition
    window over the corpus), so the hash match again proves the two
    cumsum constructions equivalent on a second ordering shape."""
    from ..operators.curation import select_token_budget
    from ..operators.text import word_tokens_col

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(word_tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(word_tokens_col(F.lower(F.col("text")))))
        .cast("int")
        .alias("score"),
    )
    return (
        select_token_budget(
            d, "score", "n_tokens", "doc_id", budget=12_000, max_score=4096
        )
        .select("doc_id", "score", "n_tokens", "cum_before")
        .orderBy("doc_id")
    )


@register(
    "ss10_margin_mining",
    oracle="""
    WITH av AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    bv AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id % 10 = 5
    ),
    x AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_cosine_similarity(a.v, b.v) AS cos
        FROM av a CROSS JOIN bv b
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b)
                 AS fr,
               ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY cos DESC, id_a)
                 AS br
        FROM x
    ),
    avg_a AS (
        SELECT id_a, SUM(cos) / COUNT(*) AS avg_a
        FROM ranked WHERE fr <= 4 GROUP BY id_a
    ),
    avg_b AS (
        SELECT id_b, SUM(cos) / COUNT(*) AS avg_b
        FROM ranked WHERE br <= 4 GROUP BY id_b
    ),
    cand AS (
        SELECT id_a, id_b, cos FROM ranked WHERE fr = 1 OR br = 1
    ),
    scored AS (
        SELECT c.id_a, c.id_b, c.cos,
               c.cos / ((a.avg_a + b.avg_b) / 2) AS margin
        FROM cand c JOIN avg_a a USING (id_a) JOIN avg_b b USING (id_b)
    )
    SELECT id_a, id_b, ROUND(cos, 6) AS cosine, ROUND(margin, 6) AS margin
    FROM scored WHERE margin >= 1.05
    ORDER BY id_a, id_b
    """,
)
def ss10_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators.similarity.margin_mining —
    Artetxe & Schwenk 2019, the LASER/CCMatrix method): mine aligned
    pairs between two embedding populations (vec_id % 10 = 0 vs = 5
    stand in for the two languages) by the RATIO margin — candidate
    cosine normalized by the mean of both endpoints' k-NN cosines — so
    embedding-space hubs that score high against everything don't flood
    the mined set the way a raw cosine cutoff lets them. Forward+backward
    best-neighbor candidates ("max" strategy), k=4 neighborhood, keep
    margin >= 1.05; the gate hash-checks each mined pair's cosine AND
    margin (ROUND 6 — the few-term float ratio), with the threshold
    sitting >= 1e-4 from every observed margin at all test SFs so the
    full-precision cut can't flip cross-engine."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") % 10 == 0)
    b = e.filter(F.col("vec_id") % 10 == 5)
    mined = S.margin_mining(a, b, "embedding", "vec_id", k=4, threshold=1.05)
    return mined.select(
        "id_a",
        "id_b",
        F.round("cosine", 6).alias("cosine"),
        F.round("margin", 6).alias("margin"),
    ).orderBy("id_a", "id_b")


@register(
    "ss11_margin_mining_lsh",
    oracle=f"""
    WITH {_UNIT_VEC_CTE},
    bk AS (
      SELECT vec_id, u, {_bucket_sql("u", seed=42, num_planes=3)} AS bucket
      FROM uv
    ),
    coll AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(a.u, (x, i) -> x * b.u[i])) AS cos
      FROM bk a JOIN bk b ON a.bucket = b.bucket
      WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 5
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b)
               AS fr,
             ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY cos DESC, id_a)
               AS br
      FROM coll
    ),
    avg_a AS (
        SELECT id_a, SUM(cos) / COUNT(*) AS avg_a
        FROM ranked WHERE fr <= 4 GROUP BY id_a
    ),
    avg_b AS (
        SELECT id_b, SUM(cos) / COUNT(*) AS avg_b
        FROM ranked WHERE br <= 4 GROUP BY id_b
    ),
    cand AS (
        SELECT id_a, id_b, MAX(cos) AS cos
        FROM ranked WHERE fr = 1 OR br = 1 GROUP BY id_a, id_b
    ),
    scored AS (
        SELECT c.id_a, c.id_b, c.cos,
               c.cos / ((a.avg_a + b.avg_b) / 2) AS margin
        FROM cand c JOIN avg_a a USING (id_a) JOIN avg_b b USING (id_b)
    )
    SELECT id_a, id_b, ROUND(cos, 6) AS cosine, ROUND(margin, 6) AS margin
    FROM scored WHERE margin >= 1.05
    ORDER BY id_a, id_b
    """,
)
def ss11_margin_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining in the TWO-LARGE-SIDES configuration
    (operators.similarity.margin_mining with the ``topk`` hook backed by
    lsh_topk) — the CCMatrix-scale regime ss10's broadcast path can't
    serve: when neither language side fits in a broadcast, candidate
    generation must be an equi-join on LSH buckets (one shuffle per
    direction, no cross product), and the margin algebra runs unchanged
    over the RETRIEVED neighborhood — exactly the FAISS-backed
    construction of Artetxe & Schwenk 2019 / Schwenk et al. 2021
    (CCMatrix), where k-NN averages are taken over approximate
    neighbors. The oracle replays the seeded hyperplane buckets
    (_bucket_sql, bit-identical sign tests), the bucket-collision
    scoring, both direction ranks, the retrieved-k-NN averages, the
    groupBy-max pair dedupe, and the margin ratio; the hash gate covers
    each mined pair's cosine AND margin (ROUND 6). The 1.05 threshold
    sits >= 3.8e-3 from every observed margin at all test SFs, so the
    full-precision cut can't flip cross-engine. Recall vs the exact
    miner (ss10's path) is pinned in tests/test_operators.py."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") % 10 == 0)
    b = e.filter(F.col("vec_id") % 10 == 5)

    def lshq(cand: DataFrame, qry: DataFrame) -> DataFrame:
        return S.lsh_topk(
            cand, qry, "embedding", "vec_id", k=4, num_planes=3,
            exclude_self=False,
        )

    mined = S.margin_mining(
        a, b, "embedding", "vec_id", k=4, threshold=1.05, topk=lshq
    )
    return mined.select(
        "id_a",
        "id_b",
        F.round("cosine", 6).alias("cosine"),
        F.round("margin", 6).alias("margin"),
    ).orderBy("id_a", "id_b")


def _mmr_oracle(k: int = 5, pool: int = 12, lam: float = 0.7, lsh_planes: int | None = None) -> str:
    """Oracle for ss12: the greedy MMR recursion UNROLLED into k plain
    CTE steps (DuckDB disallows aggregates in a recursive term, and k is
    a small constant, so unrolling is both legal and readable). Step t
    scores every not-yet-selected pool candidate as lam*relevance -
    (1-lam)*max(similarity to the selected set) and picks the row_number
    winner with the same (score DESC, neighbor_id) tie-break the Spark
    side's first-max argmax over id-sorted candidates expresses. Float
    literals are rendered with repr so lam/(1-lam) are bit-identical to
    the numpy constants. ``lsh_planes`` switches the candidate pool from
    the exact brute-force ranking to seeded-hyperplane bucket collisions
    (ss13's two-stage configuration) — the greedy unroll is identical."""
    lam_s = repr(float(lam))
    om = repr(1.0 - float(lam))
    if lsh_planes is None:
        # exact pool: brute-force ranking, same construction as ss01
        pool_cte = f"""pool AS MATERIALIZED (
             SELECT query_id, neighbor_id, cosine FROM (
                 SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        list_cosine_similarity(q.v, c.v) AS cosine,
                        ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rnk
                 FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id)
             WHERE rnk <= {pool}
         )"""
    else:
        # LSH pool: the seeded hyperplane buckets replayed bit-for-bit
        # (same construction ss11 proves), candidates = bucket collisions
        pool_cte = f"""{_UNIT_VEC_CTE},
         bk AS (
             SELECT vec_id, u,
                    {_bucket_sql("u", seed=42, num_planes=lsh_planes)} AS bucket
             FROM uv
         ),
         pool AS MATERIALIZED (
             SELECT query_id, neighbor_id, cosine FROM (
                 SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                        list_sum(list_transform(qb.u, (x, i) -> x * cb.u[i])) AS cosine,
                        ROW_NUMBER() OVER (PARTITION BY qb.vec_id
                            ORDER BY list_sum(list_transform(qb.u, (x, i) -> x * cb.u[i])) DESC,
                                     cb.vec_id) AS rnk
                 FROM bk qb JOIN bk cb ON qb.bucket = cb.bucket
                 WHERE qb.vec_id % 50 = 0 AND qb.vec_id <> cb.vec_id)
             WHERE rnk <= {pool}
         )"""
    parts = [
        f"""
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 50 = 0),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         {pool_cte},
         pv AS MATERIALIZED (SELECT p.query_id, p.neighbor_id, c.v
                FROM pool p JOIN c ON c.vec_id = p.neighbor_id),
         psim AS MATERIALIZED (
             SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
                    list_cosine_similarity(a.v, b.v) AS s
             FROM pv a JOIN pv b
               ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
         ),
         s1 AS (
             SELECT query_id, neighbor_id, 1 AS mmr_rank FROM (
                 SELECT query_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {lam_s} * cosine DESC, neighbor_id) AS rn
                 FROM pool) WHERE rn = 1
         ),
         sel1 AS MATERIALIZED (SELECT * FROM s1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f""",
         cand{t} AS (
             SELECT p.query_id, p.neighbor_id,
                    {lam_s} * p.cosine - {om} * pen.mx AS score
             FROM pool p
             JOIN (SELECT ps.query_id, ps.i AS neighbor_id, MAX(ps.s) AS mx
                   FROM psim ps JOIN sel{t - 1} sl
                     ON sl.query_id = ps.query_id AND sl.neighbor_id = ps.j
                   GROUP BY ps.query_id, ps.i) pen
               ON pen.query_id = p.query_id AND pen.neighbor_id = p.neighbor_id
             ANTI JOIN sel{t - 1} sl2
               ON sl2.query_id = p.query_id AND sl2.neighbor_id = p.neighbor_id
         ),
         s{t} AS (
             SELECT query_id, neighbor_id, {t} AS mmr_rank FROM (
                 SELECT query_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rn
                 FROM cand{t}) WHERE rn = 1
         ),
         sel{t} AS MATERIALIZED (SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM s{t})"""
        )
    parts.append(
        f"""
    SELECT query_id, neighbor_id, CAST(mmr_rank AS INT) AS mmr_rank
    FROM sel{k} ORDER BY query_id, mmr_rank"""
    )
    return "".join(parts)


@register("ss12_mmr_rerank", oracle=_mmr_oracle())
def ss12_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators.similarity.mmr_rerank,
    Carbonell & Goldstein 1998) of each query's exact top-12 candidates
    down to 5 diverse results at lambda=0.7. The hash gate covers the
    full greedy SELECTION ORDER (query_id, neighbor_id, mmr_rank) — ids
    and ranks only, not float scores, the ss01 ranking-stability
    policy."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return (
        S.mmr_rerank(e, q, "embedding", "vec_id", k=5, pool=12, lam=0.7)
        .select("query_id", "neighbor_id", "mmr_rank")
        .orderBy("query_id", "mmr_rank")
    )


@register(
    "sp12_curriculum_order",
    oracle="""
    WITH banded AS (
        SELECT doc_id, n_tokens,
               (CASE WHEN n_tokens >= 40 THEN 1 ELSE 0 END +
                CASE WHEN n_tokens >= 70 THEN 1 ELSE 0 END) AS phase
        FROM (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' '),
                                        w -> w <> '')) AS BIGINT) AS n_tokens
            FROM documents)
    )
    SELECT doc_id, CAST(phase AS INT) AS phase,
           CAST(ROW_NUMBER() OVER (
               ORDER BY lower(to_hex(phase)) || md5(CAST(doc_id AS VARCHAR) || '-42')
           ) - 1 AS BIGINT) AS global_step
    FROM banded ORDER BY doc_id
    """,
)
def sp12_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (operators.splits.curriculum_order,
    Bengio et al. 2009): documents banded easy->hard by whitespace token
    count (thresholds 40/70 => 3 phases), md5-shuffled within a phase,
    with an exact scalable global_step index from the two-phase cumsum
    (no single-partition window — the oracle's global ROW_NUMBER is the
    semantic spec, not the plan). Hash gate: (doc_id, phase,
    global_step) — the entire schedule."""
    from ..operators.splits import curriculum_order

    d = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", TX.token_count_col("text")
    )
    out = curriculum_order(d, "doc_id", "n_tokens", thresholds=[40, 70], seed=42)
    return out.select(
        "doc_id", F.col("phase").cast("int").alias("phase"), "global_step"
    ).orderBy("doc_id")


@register(
    "tx17_ngram_novelty",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                    ELSE list_distinct(list_transform(
                        range(len(toks) - 2),
                        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
               END AS shingles
        FROM (SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
              FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    fo AS (SELECT s, MIN(doc_id) AS first_owner FROM ex GROUP BY s)
    SELECT ex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN fo.first_owner = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN fo.first_owner = ex.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS novelty
    FROM ex JOIN fo USING (s)
    GROUP BY ex.doc_id ORDER BY doc_id
    """,
)
def tx17_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty attribution
    (operators.text.ngram_novelty): the share of each document's
    distinct shingles it is FIRST (minimum doc_id) to introduce — the
    linear-cost corpus-redundancy diagnostic. The novelty double is an
    IEEE division of the two hash-gated longs, so it hashes identically
    on both engines."""
    d = load_table(spark, sf_dir, "documents")
    return TX.ngram_novelty(d, "text", "doc_id", n=3).orderBy("doc_id")


@register(
    "rag01_retrieval_pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        FROM documents WHERE doc_id < 200
    ),
    idx AS (
        SELECT doc_id, ws,
               unnest(range(CASE WHEN len(ws) <= 16 THEN 1
                                 ELSE 1 + CAST(ceil((len(ws) - 16) / 8.0) AS BIGINT)
                            END)) AS i
        FROM toks WHERE len(ws) > 0
    ),
    ch AS (
        SELECT doc_id, doc_id * 1000000 + i AS chunk_id,
               array_to_string(list_slice(ws, i*8 + 1, i*8 + 16), ' ') AS chunk
        FROM idx
    ),
    emb AS (
        SELECT doc_id, chunk_id,
               list_transform(range(0, 8), j ->
                   ((('0x' || substr(md5(chunk || '#' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                     % 2001) - 1000) / 1000.0) AS v
        FROM ch
    ),
    q AS (SELECT doc_id, chunk_id, v FROM emb
          WHERE doc_id % 20 = 0 AND chunk_id % 1000000 = 0),
    scored AS (
        SELECT q.chunk_id AS query_id, q.doc_id AS qdoc,
               c.chunk_id AS neighbor_id, c.doc_id AS cdoc,
               list_cosine_similarity(q.v, c.v) AS cosine
        FROM q CROSS JOIN emb c WHERE q.chunk_id <> c.chunk_id
    ),
    ranked AS (
        SELECT query_id, qdoc, neighbor_id, cdoc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS r
        FROM scored
    ),
    nrel AS (
        SELECT q.chunk_id AS query_id, COUNT(*) AS n_relevant
        FROM q JOIN ch c ON c.doc_id = q.doc_id AND c.chunk_id <> q.chunk_id
        GROUP BY 1
    ),
    hits AS (SELECT query_id, r FROM ranked WHERE r <= 5 AND cdoc = qdoc),
    agg AS (
        SELECT query_id, COUNT(*) AS hits, MIN(r) AS first_r,
               SUM(1.0 / log2(r + 1.0)) AS dcg
        FROM hits GROUP BY 1
    ),
    ideal AS (
        SELECT n.query_id, n.n_relevant, LEAST(n.n_relevant, 5) AS ideal_n,
               list_sum(list_transform(
                   range(1, LEAST(n.n_relevant, 5) + 1),
                   i -> 1.0 / log2(i + 1.0))) AS idcg
        FROM nrel n
    )
    SELECT i.query_id, i.n_relevant, COALESCE(a.hits, 0) AS hits,
           ROUND(COALESCE(a.hits, 0) / CAST(i.ideal_n AS DOUBLE), 6) AS recall_at_k,
           ROUND(COALESCE(1.0 / a.first_r, 0.0), 6) AS mrr_at_k,
           ROUND(COALESCE(a.dcg / i.idcg, 0.0), 6) AS ndcg_at_k
    FROM ideal i LEFT JOIN agg a USING (query_id)
    ORDER BY i.query_id
    """,
)
def rag01_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-corpus pipeline FLAGSHIP: sliding-window chunking
    (tx14's operator, 16 tokens / stride 8) → deterministic
    feature-hashed embeddings (operators.similarity.hash_embedding —
    the SQL-replayable encoder stand-in; swap a mapInPandas model
    encoder in production, everything downstream is encoder-agnostic)
    → exact top-5 retrieval with first-chunk queries → TREC-style
    same-document relevance evaluation (operators.ranking.
    retrieval_metrics). The standard "did chunking+indexing preserve
    findability" regression an embedding corpus runs after every data
    change: a query chunk should retrieve its sibling chunks.

    Composition is chunk-explode (no shuffle) → map-side embed →
    broadcast-query scoring → one rank window + one judgments join —
    the retrieval stage swaps to lsh_topk/ivf_topk for large query
    sets (the hooks ss11 proves). Oracle replays chunk arithmetic, the
    md5 embedding, ranking, and all three metrics end-to-end; ROUND(6)
    gates the few-term float metrics (ir01's policy)."""
    from ..operators.ranking import retrieval_metrics

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # chunk_id = doc_id * 1e6 + chunk_idx: collision-free up to 1e6
    # chunks/doc (~8M tokens at this stride) and doc_id ~9.2e12 before
    # bigint overflow — both far beyond real corpora; a 1000 multiplier
    # would collide at ~8k-token documents (review r8)
    ch = TX.sliding_chunks(d, "text", "doc_id", chunk_tokens=16, stride=8).select(
        "doc_id",
        (F.col("doc_id") * 1_000_000 + F.col("chunk_idx")).alias("chunk_id"),
        "chunk",
    )
    emb = ch.withColumn("v", S.hash_embedding("chunk", dim=8, buckets=2001))
    q = emb.filter((F.col("doc_id") % 20 == 0) & (F.col("chunk_id") % 1_000_000 == 0))
    results = S.cosine_topk(emb, q, "v", "chunk_id", k=5, exclude_self=True)
    qrels = (
        q.select(F.col("chunk_id").alias("query_id"), F.col("doc_id").alias("_qd"))
        .join(
            ch.select(F.col("chunk_id").alias("neighbor_id"), F.col("doc_id").alias("_cd")),
            F.col("_qd") == F.col("_cd"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    m = retrieval_metrics(results, qrels, k=5)
    return m.select(
        "query_id",
        "n_relevant",
        "hits",
        F.round("recall_at_k", 6).alias("recall_at_k"),
        F.round("mrr_at_k", 6).alias("mrr_at_k"),
        F.round("ndcg_at_k", 6).alias("ndcg_at_k"),
    ).orderBy("query_id")


@register("ss13_mmr_rerank_lsh", oracle=_mmr_oracle(lsh_planes=3))
def ss13_mmr_rerank_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking over an LSH-bucketed candidate pool
    (operators.similarity.mmr_rerank with the ``topk`` hook backed by
    lsh_topk) — the large-query-set configuration ss12's broadcast pool
    stage can't serve: candidate generation becomes one bucket equi-join
    shuffle (no cross product), and the greedy MMR selection runs
    unchanged over the RETRIEVED pool — the standard two-stage
    retrieve-then-rerank layout. The oracle replays the seeded
    hyperplane buckets (ss11's bit-identical sign tests), the
    bucket-collision ranking, and the unrolled greedy recursion; the
    hash gate covers the full selection order."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    q = e.filter(F.col("vec_id") % 50 == 0)

    def lshq(cand: DataFrame, qry: DataFrame) -> DataFrame:
        return S.lsh_topk(
            cand, qry, "embedding", "vec_id", k=12, num_planes=3,
            exclude_self=True,
        )

    return (
        S.mmr_rerank(e, q, "embedding", "vec_id", k=5, pool=12, lam=0.7, topk=lshq)
        .select("query_id", "neighbor_id", "mmr_rank")
        .orderBy("query_id", "mmr_rank")
    )


@register(
    "pr05_calibration_bins",
    oracle="""
    WITH scored AS (
        SELECT CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM (SELECT lang,
                     list_filter(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' '),
                                 w -> w <> '') AS toks
              FROM documents)
        WHERE len(toks) > 0
    ),
    binned AS (
        SELECT LEAST(GREATEST(CAST(floor((score - CAST(0.0 AS DOUBLE)) / CAST(1.0 AS DOUBLE) * 10) AS INT), 0), 9) AS bin, pos
        FROM scored
    )
    SELECT bin,
           bin * CAST(0.1 AS DOUBLE) AS bin_lo,
           (bin + 1) * CAST(0.1 AS DOUBLE) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_positive,
           CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS positive_rate
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def pr05_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration bins
    (operators.profiling.calibration_bins, Guo et al. 2017): lexical
    diversity (distinct/total tokens) as the score, is-English as the
    binary outcome, 10 fixed-width bins over [0, 1) — the calibration
    evidence a score-thresholded curation gate (cu09's budget selection)
    needs before trusting its threshold. One scan, one bins-sized
    aggregate; the rate is an exact IEEE division of the two hash-gated
    longs."""
    from ..operators.profiling import calibration_bins

    d = load_table(spark, sf_dir, "documents")
    toks = TX.word_tokens_col("text")
    scored = d.select(
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("score"),
        (F.col("lang") == "en").alias("is_en"),
    ).filter(F.size(toks) > 0)
    return calibration_bins(
        scored, "score", "is_en", bins=10, lo=0.0, hi=1.0
    ).orderBy("bin")


@register(
    "sp13_mix_manifest",
    oracle=_CURATION_DECIDED_SQL
    + """
    , kept AS (SELECT * FROM decided WHERE reject_reason IS NULL),
    keeper AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    base AS (
        SELECT k.doc_id, k.n_tokens, d.source,
               ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR) || '-42'), 1, 15))::BIGINT
                 % 1000000 AS bucket
        FROM kept k JOIN documents d USING (doc_id)
        WHERE k.doc_id IN (SELECT doc_id FROM keeper)
    ),
    labeled AS (
        SELECT source,
               CASE WHEN bucket < 800000 THEN 'train'
                    WHEN bucket < 900000 THEN 'val'
                    ELSE 'test' END AS split,
               n_tokens
        FROM base
    ),
    agg AS (
        SELECT source, split, CAST(COUNT(*) AS BIGINT) AS docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens
        FROM labeled GROUP BY source, split
    )
    SELECT source, split, docs, tokens,
           CAST(tokens AS DOUBLE) / SUM(tokens) OVER (PARTITION BY split)
             AS token_share
    FROM agg ORDER BY source, split
    """,
)
def sp13_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix manifest — the config-facing artifact a run actually
    consumes: per (source, split) document count, token volume, and
    within-split token share, computed AFTER curation (cu01's audited
    kept set) and a PORTABLE md5 split
    (operators.splits.split_assignment(portable=True), so a dataloader
    or SQL engine can recompute every row's membership). cu02 reports
    per-DECISION volumes; this reports what the training job reads.
    One map-side split expression + one (source, split) aggregate; the
    share window runs over the aggregated sources x splits rows —
    bounded by the mixture spec, not the corpus."""
    from ..operators.curation import curate_documents
    from ..operators.splits import split_assignment

    d = load_table(spark, sf_dir, "documents")
    kept = curate_documents(d)
    labeled = kept.withColumn(
        "split",
        split_assignment(
            "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=42,
            portable=True,
        ),
    )
    from pyspark.sql import Window as W

    agg = labeled.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
    )
    share = (F.col("tokens").cast("double") /
             F.sum("tokens").over(W.partitionBy("split")))
    return agg.withColumn("token_share", share).orderBy("source", "split")


@register(
    "cu10_domain_curation",
    oracle="""
    WITH stats AS (
        SELECT source, COUNT(*) AS domain_docs,
               CAST(SUM(n_chars) AS BIGINT) AS domain_chars
        FROM documents GROUP BY source
    ),
    allowed AS (
        SELECT * FROM stats
        WHERE domain_docs >= 20
          AND domain_chars >= domain_docs * 290
          AND source NOT IN ('src4', 'src7')
    ),
    capped AS (
        SELECT d.doc_id, d.source, d.n_chars, a.domain_docs, a.domain_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY d.source
                   ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#42'), 1, 15))::BIGINT,
                            CAST(d.doc_id AS VARCHAR)
               ) AS kept_rank
        FROM documents d JOIN allowed a USING (source)
    )
    SELECT doc_id, source, n_chars, domain_docs, domain_chars,
           CAST(kept_rank AS INT) AS kept_rank
    FROM capped WHERE kept_rank <= 15
    ORDER BY source, kept_rank
    """,
)
def cu10_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/URL-level curation (operators.curation.domain_curation —
    the per-DOMAIN gating layer of C4/RefinedWeb/FineWeb-style web-corpus
    pipelines, on top of the per-document cu01-cu09 family): domain
    aggregates gate all of a domain's documents at once (min doc count +
    exact integer min-avg-length), deny-listed domains drop wholesale,
    and surviving domains are capped at 15 documents each by portable
    md5-hash rank. One partial-agg groupBy over domains, one broadcast
    gate join, one WindowGroupLimit-pushed rank — the oracle replays
    every gate and the exact cap membership."""
    from ..operators.curation import domain_curation

    d = load_table(spark, sf_dir, "documents")
    out = domain_curation(
        d,
        deny=["src4", "src7"],
        min_docs=20,
        min_avg_chars=290,
        max_per_domain=15,
        seed=42,
    )
    return out.select(
        "doc_id",
        "source",
        "n_chars",
        "domain_docs",
        "domain_chars",
        F.col("kept_rank").cast("int").alias("kept_rank"),
    ).orderBy("source", "kept_rank")
