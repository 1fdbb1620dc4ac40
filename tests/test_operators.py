"""Operator-library tests: dedup, similarity, text, temporal joins,
multimodal plumbing — invariants that the DuckDB oracle can't express
(recall vs exact baselines, approximation quality, stub contracts)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from trino_iceberg_spark.operators import dedup as D
from trino_iceberg_spark.operators import similarity as S
from trino_iceberg_spark.operators import text as TX
from trino_iceberg_spark.operators.joins import asof_join, range_join
from trino_iceberg_spark.operators.multimodal import (
    DecodeUnavailable,
    attach_media,
    decode_image_stub,
    extract_features_stub,
    sample_frames_stub,
)
from trino_iceberg_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# --- dedup ----------------------------------------------------------------


def test_exact_dedup_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "unique text"), (4, "hello world")],
        "id long, text string",
    )
    out = {r["id"]: r["dup_count"] for r in D.exact_dedup(df, "text", "id").collect()}
    assert out == {1: 3, 3: 1}  # min-id keeper, correct multiplicity


def test_fingerprint_dedup_catches_reformatting(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "HELLO WORLD."), (4, "different")],
        "id long, text string",
    )
    out = {r["id"]: r["dup_count"] for r in D.fingerprint_dedup(df, "text", "id").collect()}
    assert out == {1: 3, 4: 1}


def test_minhash_recall_against_exact_jaccard(spark, docs):
    """LSH candidates must recover the overwhelming majority of true
    high-Jaccard pairs (16 bands × 4 rows ⇒ ~99% recall at J≥0.5)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert lsh <= exact or not exact  # verification step ⇒ no false positives
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.9


def test_minhash_pairs_are_verified_no_false_positives(spark, docs):
    pairs = D.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.35).collect()
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.35).collect()
    }
    for r in pairs:
        assert (r["id_a"], r["id_b"]) in exact
        assert abs(r["jaccard"] - exact[(r["id_a"], r["id_b"])]) < 1e-9


def test_lsh_bucket_size_guard_drops_viral_buckets_sizing_first(spark):
    """Round 17: the skew guard counts bucket sizes BEFORE collect_list
    (a viral bucket is never materialized as one aggregation buffer).
    Semantics pinned: identical texts share every band bucket, so with
    max_bucket_size below the duplicate-group size the group emits NO
    pairs, while a smaller duplicate group still pairs normally."""
    from pyspark.sql import functions as F

    rows = [(i, "spam spam spam wonderful spam and eggs") for i in range(10)]
    rows += [(100, "a genuinely different sentence here ok"),
             (101, "a genuinely different sentence here ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = df.select(
        F.col("doc_id").alias("_id"),
        D.minhash_signature(D.shingle_hashes("text", 3)).alias("minhash_sig"),
    )
    guarded = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sig, "_id", max_bucket_size=5).collect()
    }
    # the 10-member viral group is dropped whole; the pair survives
    assert guarded == {(100, 101)}
    unguarded = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(sig, "_id", max_bucket_size=1000).collect()
    }
    assert (0, 1) in unguarded and (100, 101) in unguarded
    assert len(unguarded) == 45 + 1


def _viral_cell_corpus(spark):
    """24 unit vectors in 2 seeded cells: ids chosen so the two seeded
    centroids span both directions (xxhash64(id+42) ascending picks 157
    then 142 from this id set) and, at ``max_cell_size=5``, the small
    cell survives the guard while the 21-row viral one is dropped."""
    rows = [(i, [1.0, 0.0]) for i in range(20)] + [(142, [1.0, 0.0])] + [
        (157 + i, [0.0, 1.0]) for i in range(3)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _jobs(spark) -> int:
    """Jobs run so far outside any job group."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup() or [])


def _cached_rdds(spark) -> set[int]:
    """Ids of the RDDs holding cached blocks (a block-manager metadata
    call, no job). Compared as sets, so a ContextCleaner sweep of some
    earlier test's blocks cannot flip an assertion."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_lazy_skew_report_fires_without_extra_job(spark, caplog):
    """The skew guard's recall-loss report runs off the query path:
    building runs no report job, the caller's plan is untouched (a
    CollectMetrics observation was measured flipping the pair join to
    sort-merge), and the warning is logged synchronously when the query
    scope exits, over the checkpoint the caller's own action
    materialized."""
    import logging as _logging

    from trino_iceberg_spark.operators.cachectl import CacheRegistry

    df = _viral_cell_corpus(spark)
    with caplog.at_level(_logging.WARNING, logger="trino_iceberg_spark.operators"):
        with CacheRegistry():
            jobs_before = _jobs(spark)
            out = S.semantic_dedup_pairs(
                df, "embedding", "vec_id", threshold=0.9, num_cells=2,
                max_cell_size=5,
            )
            # only the inherent centroid collect runs at build time
            assert _jobs(spark) - jobs_before <= 1
            out.write.format("noop").mode("overwrite").save()
            assert not any("skew guard" in r.message for r in caplog.records)
        msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "skew guard dropped 1 cell(s) / 21 row(s)" in m for m in msgs
    ), msgs


def test_guarded_plans_never_run_cost_nothing(spark, caplog):
    """Four guarded plans built inside one scope and never run: building
    runs no job beyond semantic_dedup_pairs' centroid collect, and the
    scope's exit runs no job, leaves no thread and no cached block, and
    reports nothing (no materialized checkpoint, nothing to report)."""
    import logging as _logging
    import threading

    from trino_iceberg_spark.operators.cachectl import CacheRegistry

    docs = spark.createDataFrame(
        [(i, f"shared boiler plate text doc{i} tail{i}") for i in range(30)],
        "doc_id long, text string",
    )
    emb = _viral_cell_corpus(spark)
    storage_before = _cached_rdds(spark)
    threads_before = threading.active_count()
    with caplog.at_level(_logging.WARNING, logger="trino_iceberg_spark.operators"):
        with CacheRegistry() as scope:
            jobs_before = _jobs(spark)
            for _ in range(2):
                D.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, max_df=2)
            for _ in range(2):
                S.semantic_dedup_pairs(
                    emb, "embedding", "vec_id", threshold=0.9, num_cells=2,
                    max_cell_size=5,
                )
            # one centroid collect per semantic_dedup_pairs build
            assert _jobs(spark) - jobs_before == 2
            # each ngram build: index checkpoint + df-sizes pin; each
            # semantic build: routed-cell checkpoint
            assert len(scope) == 6 and len(scope._reports) == 4
            jobs_at_exit = _jobs(spark)
        assert _jobs(spark) == jobs_at_exit
    assert len(scope) == 0 and not scope._reports
    assert threading.active_count() == threads_before
    assert not _cached_rdds(spark) - storage_before
    assert not any("guard dropped" in r.message for r in caplog.records)


def test_nested_scope_releases_only_its_own_handles(spark, docs):
    """Pins and checkpoints register with the INNERMOST open scope: an
    inner scope's exit frees what was made inside it and leaves the
    outer scope's handles (and their blocks) alone."""
    from trino_iceberg_spark.operators.cachectl import CacheRegistry

    small = docs.limit(60)
    before = _cached_rdds(spark)
    with CacheRegistry() as outer:
        kept = TX.tfidf(small, "text", "doc_id")
        kept.count()
        assert len(outer) == 1
        outer_rdds = _cached_rdds(spark) - before
        assert outer_rdds
        with CacheRegistry() as inner:
            TX.ngram_novelty(small, "text", "doc_id").count()
            assert len(inner) == 1 and len(outer) == 1
            inner_rdds = _cached_rdds(spark) - before - outer_rdds
            assert inner_rdds
        assert len(inner) == 0 and len(outer) == 1
        now = _cached_rdds(spark)
        assert outer_rdds <= now and not inner_rdds & now
        # the outer checkpoint is still readable
        assert kept.count() > 0
    assert len(outer) == 0
    assert not outer_rdds & _cached_rdds(spark)


def test_scope_body_that_raises_releases_and_reports_nothing(spark, caplog):
    """An exception inside the scope still releases every handle, runs
    no report job and logs no report, and propagates unchanged."""
    import logging as _logging

    from trino_iceberg_spark.operators.cachectl import CacheRegistry

    df = _viral_cell_corpus(spark)
    storage_before = _cached_rdds(spark)
    with caplog.at_level(_logging.WARNING, logger="trino_iceberg_spark.operators"):
        with pytest.raises(RuntimeError, match="boom"):
            with CacheRegistry() as scope:
                out = S.semantic_dedup_pairs(
                    df, "embedding", "vec_id", threshold=0.9, num_cells=2,
                    max_cell_size=5,
                )
                out.write.format("noop").mode("overwrite").save()
                assert _cached_rdds(spark) - storage_before
                jobs_at_raise = _jobs(spark)
                raise RuntimeError("boom")
    assert _jobs(spark) == jobs_at_raise
    assert len(scope) == 0
    assert not _cached_rdds(spark) - storage_before
    assert not any("skew guard" in r.message for r in caplog.records)


def test_result_used_after_scope_exit(spark, docs, embeddings):
    """What the CacheRegistry docstring promises for a result used after
    its scope exits: a pinned result recomputes from its lineage (same
    rows); a checkpointed one raises Spark's "not found" block error,
    since the checkpoint truncated its lineage."""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    from trino_iceberg_spark.operators.cachectl import CacheRegistry

    a = embeddings.filter(F.col("vec_id") % 20 == 0)
    b = embeddings.filter(F.col("vec_id") % 20 == 10)
    with CacheRegistry():
        pinned = S.margin_mining(a, b, "embedding", "vec_id", k=2)
        inside = sorted(pinned.collect())
    assert sorted(pinned.collect()) == inside

    with CacheRegistry():
        checkpointed = TX.tfidf(docs.limit(60), "text", "doc_id")
        checkpointed.count()
    with pytest.raises((Py4JJavaError, PySparkException), match="not found"):
        checkpointed.count()


@pytest.mark.parametrize("elem", ["float", "double"])
def test_seeded_centroids_bit_identical_to_spark_expression(spark, elem):
    """Driver-side centroid normalization equals the Spark expression it
    replaced (``unit_vec(_as_double(...))`` over the same top-k rows)
    float.hex for float.hex, for array<float> and array<double> input,
    including all-zero vectors (+0.0 and -0.0) and magnitudes from
    1e-150 to 1e150. A vector with a null element never seeds, so it is
    excluded from the expected top-k too."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(60):
        scale = 10.0 ** rng.choice([-150, -20, -3, 0, 0, 0, 2, 30, 150])
        if elem == "float":
            scale = 10.0 ** rng.choice([-3, 0, 0, 2, 5])
        rows.append((i, [rng.gauss(0.0, 1.0) * scale for _ in range(24)]))
    rows.append((60, [0.0] * 24))
    rows.append((61, [-0.0] * 24))
    rows.append((62, [1.5] + [None] + [2.0] * 22))
    rows.append((63, [rng.uniform(-1, 1) for _ in range(3)]))  # ragged length
    df = spark.createDataFrame(rows, f"vec_id long, embedding array<{elem}>")

    def hexes(vecs):
        return [[None if x is None else x.hex() for x in v] for v in vecs]

    for num_cells, seed in [(len(rows), 42), (16, 42), (16, 7)]:
        got = S._seeded_centroids(df, "embedding", "vec_id", num_cells, seed)
        expected = [
            list(r["cv"])
            for r in df.select(
                F.col("vec_id").alias("cid"),
                S.unit_vec(S._as_double(F.col("embedding"))).alias("cv"),
            )
            .filter(F.col("cid") != 62)
            .orderBy(F.xxhash64(F.col("cid") + seed))
            .limit(num_cells)
            .collect()
        ]
        assert len(got) == min(num_cells, len(rows) - 1)
        assert hexes(got) == hexes(expected)
        if num_cells == len(rows):
            # every special row is among the centroids compared above
            got_hex = hexes(got)
            assert [(0.0).hex()] * 24 in got_hex
            assert [(-0.0).hex()] * 24 in got_hex
            assert not any(None in v for v in got)


def _corpus_with_null_vectors(spark):
    """(clean, dirty): 10 four-dim vectors in five duplicate pairs,
    and the same rows plus one null vector (id 100) and one vector with
    a null element (id 101)."""
    import random

    rng = random.Random(3)
    base = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(5)]
    rows = [(i, base[i % 5][:]) for i in range(10)]
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + [(100, None), (101, [0.5, None, 0.5, 0.5])], schema)
    return clean, dirty


def test_null_vectors_never_seed_and_route_nowhere(spark):
    """A null embedding, or one with a null element, never seeds a
    centroid and routes to no cell: semantic dedup, IVF search and PQ
    codebook fitting all run on such a corpus and give exactly what they
    give without those two rows."""
    clean, dirty = _corpus_with_null_vectors(spark)

    def dedup(df):
        return sorted(
            S.semantic_dedup_pairs(
                df, "embedding", "vec_id", threshold=0.99, num_cells=3
            ).collect()
        )

    pairs = dedup(dirty)
    assert pairs == dedup(clean)
    assert {(r.id_a, r.id_b) for r in pairs} >= {(i, i + 5) for i in range(5)}

    def search(df):
        return sorted(
            S.ivf_topk(
                df, df, "embedding", "vec_id", k=2, num_cells=3, nprobe=2
            ).collect()
        )

    hits = search(dirty)
    assert hits and hits == search(clean)
    ids = {r.query_id for r in hits} | {r.neighbor_id for r in hits}
    assert not ids & {100, 101}

    for iters in (0, 1):
        books = S.pq_codebooks(
            dirty, "embedding", "vec_id", m=2, ksub=12, seed=7, lloyd_iters=iters
        )
        assert books == S.pq_codebooks(
            clean, "embedding", "vec_id", m=2, ksub=12, seed=7, lloyd_iters=iters
        )
        assert len(books[0]) == 10  # every whole vector seeds, no null one
        assert all(x is not None for book in books for code in book for x in code)


def test_incremental_minhash_equals_full_run_on_touching_pairs(spark, docs):
    """Ingest-path contract: incremental pairs == full self-join pairs
    restricted to those touching the increment (same hash family → same
    band collisions → identical candidates and verified Jaccard)."""
    from pyspark.sql import functions as F

    corpus = docs.filter(F.col("doc_id") < 400)
    increment = docs.filter(F.col("doc_id") >= 400)
    inc_ids = {r["doc_id"] for r in increment.select("doc_id").collect()}
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.35).collect()
    }
    touching = {p: j for p, j in full.items() if p[0] in inc_ids or p[1] in inc_ids}
    incr = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.incremental_minhash_pairs(
            corpus, increment, "text", "doc_id", threshold=0.35
        ).collect()
    }
    assert set(incr) == set(touching)
    for p, j in incr.items():
        assert abs(j - touching[p]) < 1e-9


def test_semantic_dedup_no_false_positives_and_exact_recall(spark, embeddings):
    """Every emitted pair is a true cosine>=τ pair (no false positives),
    and rows with IDENTICAL embeddings are always caught — identical
    vectors route to the same centroid cell by construction."""
    from pyspark.sql import functions as F

    from trino_iceberg_spark.operators import similarity as S

    # plant an exact duplicate of vec_id 0 with a fresh id
    dup = embeddings.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999_999))
    e = embeddings.unionByName(dup)
    pairs = S.semantic_dedup_pairs(e, "embedding", "vec_id", threshold=0.8).collect()
    assert (0, 999_999) in {(r["id_a"], r["id_b"]) for r in pairs}
    # no false positives: verify each pair against direct cosine
    vecs = {r["vec_id"]: r["embedding"] for r in e.collect()}
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    for r in pairs:
        assert cos(vecs[r["id_a"]], vecs[r["id_b"]]) >= 0.8 - 1e-9


def test_rarity_scores_orders_rare_above_common(spark):
    """A doc of one-off tokens must outscore a doc of corpus-common tokens;
    scores are exact integers/«exact division», so equality across reruns
    is strict."""
    from trino_iceberg_spark.operators.text import rarity_scores

    rows = [(i, "common words repeated here") for i in range(1, 10)]
    rows.append((100, "zxqvw jkpfh qqrrtt"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r["doc_id"]: r["rarity"] for r in rarity_scores(df, "text", "doc_id").collect()}
    assert scores[100] > scores[1]
    assert all(scores[i] == scores[1] for i in range(2, 10))
    again = {r["doc_id"]: r["rarity"] for r in rarity_scores(df, "text", "doc_id").collect()}
    assert scores == again


def test_simhash_near_identical_docs_collide(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    df = spark.createDataFrame(
        [(1, base), (2, base + "extra token"), (3, "совершенно другой текст " * 20)],
        "id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in D.simhash_dedup_pairs(df, "text", "id", max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


# --- portable (md5-derived) hash variants ---------------------------------
# The dd03/dd05/dd10/tx05 registry entries run these paths so their DuckDB
# oracles can replay every hash. The tests below pin them against a THIRD
# engine — pure-Python hashlib — so the portability claim is engine-
# independent, not just Spark-matches-DuckDB.


def _py_hash64(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_portable_hash64_matches_python_md5(spark):
    samples = ["hello", "", "a b c", "Ünïcode ⚡ text", "x" * 500]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r["h"] for r in df.select(D.portable_hash64(F.col("s")).alias("h")).collect()]
    assert got == [_py_hash64(s) for s in samples]


def test_portable_minhash_signature_matches_python(spark):
    text = "the quick brown fox jumps over the quick brown dog again and again"
    df = spark.createDataFrame([(1, text)], "id long, text string")
    sig = df.select(
        D.minhash_signature(
            D.portable_shingle_hashes("text", k=3), num_hashes=8, seed=42, pre_hashed=True
        ).alias("sig")
    ).collect()[0]["sig"]
    words = [w for w in text.lower().split(" ") if w]
    grams = list(dict.fromkeys(" ".join(words[i : i + 3]) for i in range(len(words) - 2)))
    hashes = [_py_hash64(g) for g in grams]
    p = (1 << 31) - 1
    expected = [
        min((h % p * a + b) % p for h in hashes) for a, b in D._hash_params(8, 42)
    ]
    assert sig == expected


def test_portable_simhash_matches_python(spark):
    import hashlib

    texts = {1: "alpha beta gamma delta", 2: "one two three four five six seven"}
    df = spark.createDataFrame(list(texts.items()), "id long, text string")
    got = {r["id"]: r["simhash"] for r in D.simhash(df, "text", "id", portable=True).collect()}

    def py_simhash(text: str) -> int:
        toks = [w for w in text.lower().split(" ") if w]
        ones = [0] * 64
        for t in toks:
            d = hashlib.md5(t.encode()).hexdigest()
            h1, h2 = int(d[:8], 16), int(d[8:16], 16)
            full = (h1 << 32) | h2
            for b in range(64):
                ones[b] += (full >> b) & 1
        n = len(toks)
        fp = sum((1 << b) for b in range(64) if ones[b] * 2 > n)
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    assert got == {i: py_simhash(t) for i, t in texts.items()}


def test_portable_fingerprint_matches_python(spark):
    text = "pack my box with five dozen liquor jugs for the long portage home"
    df = spark.createDataFrame([(1, text)], "id long, text string")
    got = df.select(
        TX.rolling_fingerprint_col("text", portable=True).alias("f")
    ).collect()[0]["f"]
    toks = text.split()
    grams = [" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)]
    assert got == min(_py_hash64(g) for g in grams)


def test_portable_minhash_pairs_no_false_positives(spark, docs):
    """The portable pipeline keeps the exact-verification contract: every
    emitted pair is a true Jaccard ≥ τ pair of the exact inverted index."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.35).collect()
    }
    pairs = D.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.35, portable=True
    ).collect()
    assert pairs
    for r in pairs:
        assert (r["id_a"], r["id_b"]) in exact
        assert abs(r["jaccard"] - exact[(r["id_a"], r["id_b"])]) < 1e-9


def test_embedding_dedup_recall(spark, embeddings):
    """Hyperplane-bucketed pairs vs exact all-pairs at cosine ≥ 0.9."""
    v = embeddings.select(
        F.col("vec_id"), F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", S.cosine_sim_col(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.9)
        .collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_dedup_pairs(
            embeddings, "embedding", "vec_id", threshold=0.9, num_planes=4
        ).collect()
    }
    assert approx <= exact or not exact
    if len(exact) >= 5:
        assert len(approx & exact) / len(exact) >= 0.5  # 4 planes, no multiprobe


# --- similarity -----------------------------------------------------------


def test_lsh_topk_recall_vs_bruteforce(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(embeddings, q, "embedding", "vec_id", k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_topk(embeddings, q, "embedding", "vec_id", k=5, num_planes=2).collect()
    }
    # random near-orthogonal embeddings are LSH's worst case: collision
    # prob per true neighbor ≈ (1-θ/π)^planes ≈ 0.4 at cos≈0.4 with 2 planes
    assert len(approx & exact) / len(exact) >= 0.2


def test_ivf_topk_returns_k_per_query(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") % 100 == 0)
    out = S.ivf_topk(embeddings, q, "embedding", "vec_id", k=5, num_cells=8, nprobe=4)
    counts = {r["query_id"]: r["n"] for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert all(n == 5 for n in counts.values())
    assert len(counts) == q.count()


def test_cosine_topk_self_rank1_when_included(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") == 100)
    out = S.cosine_topk(embeddings, q, "embedding", "vec_id", k=1, exclude_self=False).collect()
    assert out[0]["neighbor_id"] == 100 and abs(out[0]["cosine"] - 1.0) < 1e-9


# --- text -----------------------------------------------------------------


def test_language_id_on_marker_sentences(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the park for a walk in the sun"),
            (2, "el perro y el gato de la casa en los árboles del parque"),
            (3, "le chien et le chat dans les arbres du jardin de la maison"),
            (4, "der Hund und die Katze von den Bäumen im Garten des Hauses"),
            (5, "我的猫是在他的家里和我的狗不在这这"),
            (6, "zzz qqq xxx www"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["lang"] for r in df.select("id", TX.language_id_col("text").alias("lang")).collect()}
    assert out == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "zh", 6: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "  a  b   c "), (2, ""), (3, "single")], "id long, text string")
    out = {r["id"]: r["n"] for r in df.select("id", TX.token_count_col("text").alias("n")).collect()}
    assert out == {1: 3, 2: 0, 3: 1}


def test_quality_features_ranges(spark, docs):
    feats = TX.quality_features("text")
    row = docs.select(*[v.alias(k) for k, v in feats.items()]).agg(
        F.min("punct_ratio").alias("min_p"),
        F.max("punct_ratio").alias("max_p"),
        F.min("stopword_ratio").alias("min_s"),
        F.max("stopword_ratio").alias("max_s"),
    ).collect()[0]
    assert 0 <= row["min_p"] <= row["max_p"] <= 1
    assert 0 <= row["min_s"] <= row["max_s"] <= 1


def test_fingerprint_stability(spark, docs):
    fp1 = docs.select("doc_id", TX.rolling_fingerprint_col("text").alias("fp")).collect()
    fp2 = docs.select("doc_id", TX.rolling_fingerprint_col("text").alias("fp")).collect()
    assert sorted(map(tuple, fp1)) == sorted(map(tuple, fp2))


# --- temporal joins -------------------------------------------------------


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_and_forward(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:05"), "L1"), (1, _ts("2024-01-01T10:00:20"), "L2"),
         (2, _ts("2024-01-01T09:00:00"), "L3")],
        "k long, t timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "R1"), (1, _ts("2024-01-01T10:00:10"), "R2"),
         (2, _ts("2024-01-01T09:30:00"), "R3")],
        "k long, t timestamp, rv string",
    )
    back = asof_join(left, right, on="k", left_time="t", right_time="t")
    got = {(r["lv"]): r["rv"] for r in back.collect()}
    assert got == {"L1": "R1", "L2": "R2", "L3": None}
    fwd = asof_join(left, right, on="k", left_time="t", right_time="t", direction="forward")
    got_f = {(r["lv"]): r["rv"] for r in fwd.collect()}
    assert got_f == {"L1": "R2", "L2": None, "L3": "R3"}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01T10:00:20"), "L")], "k long, t timestamp, lv string")
    right = spark.createDataFrame([(1, _ts("2024-01-01T10:00:00"), "R")], "k long, t timestamp, rv string")
    within = asof_join(left, right, on="k", left_time="t", right_time="t", tolerance_us=30_000_000)
    outside = asof_join(left, right, on="k", left_time="t", right_time="t", tolerance_us=10_000_000)
    assert within.collect()[0]["rv"] == "R"
    assert outside.collect()[0]["rv"] is None


def test_range_join_matches_naive_theta(spark):
    points = spark.range(0, 500).select((F.col("id") * 7 % 311).alias("p"), F.col("id"))
    ranges = spark.range(0, 40).select(
        (F.col("id") * 11 % 200).alias("lo"),
        (F.col("id") * 11 % 200 + 25).alias("hi"),
        F.col("id").alias("rid"),
    )
    fast = range_join(points, ranges, "p", "lo", "hi", bucket_width=16).select("id", "rid")
    naive = points.crossJoin(ranges).filter(
        (F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi"))
    ).select("id", "rid")
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))


# --- multimodal -----------------------------------------------------------


def test_media_attach_and_decode_stub(spark):
    df = spark.createDataFrame([(1, b"\x01\x02\x03\x04"), (2, b"")], "id long, payload binary")
    media = attach_media(df, "payload").select("id", "media")
    rows = {r["id"]: r["media"] for r in media.collect()}
    assert rows[1]["meta"]["n_bytes"] == 4 and rows[2]["meta"]["n_bytes"] == 0
    decoded = decode_image_stub(media, out_w=2, out_h=2).collect()
    by_id = {r["id"]: r["pixels"] for r in decoded}
    assert by_id[1] == [1, 2, 3, 4] and len(by_id[2]) == 4


def test_decode_unavailable_raised_without_fake(spark):
    df = spark.createDataFrame([(1, b"abc")], "id long, payload binary")
    media = attach_media(df, "payload").select("id", "media")
    with pytest.raises(Exception) as exc_info:
        decode_image_stub(media, fake=False).collect()
    assert "DecodeUnavailable" in str(exc_info.value) or "decode" in str(exc_info.value)


def test_bmp_roundtrip_exact():
    """encode_bmp → decode_image_bytes is pixel-exact, both row orders,
    odd widths (stride padding), 24- and 32-bit."""
    import numpy as np
    from trino_iceberg_spark.operators.multimodal import (
        decode_image_bytes,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (8, 8), (4, 7)]:  # odd widths force padding
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_image_bytes(encode_bmp(img)), img)
        assert np.array_equal(decode_image_bytes(encode_ppm(img)), img)


def test_ppm_header_comments_and_errors():
    import numpy as np
    from trino_iceberg_spark.operators.multimodal import (
        DecodeUnavailable,
        decode_image_bytes,
        encode_ppm,
    )

    img = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    raw = encode_ppm(img)
    commented = b"P6\n# a comment\n2 2\n# more\n255\n" + raw.split(b"255\n", 1)[1]
    assert np.array_equal(decode_image_bytes(commented), img)
    with pytest.raises(DecodeUnavailable):
        decode_image_bytes(b"\x89PNG not supported")
    with pytest.raises(DecodeUnavailable):
        decode_image_bytes(encode_ppm(img)[:10])  # truncated pixel data


def test_decode_images_mapinpandas(spark):
    """Real decode through the Arrow/mapInPandas path: good BMP rows get
    pixels, undecodable rows get nulls (not a crashed partition)."""
    import numpy as np
    from trino_iceberg_spark.operators.multimodal import decode_images, encode_bmp

    img1 = np.full((2, 3, 3), 9, dtype=np.uint8)
    img2 = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    df = spark.createDataFrame(
        [(1, bytes(encode_bmp(img1))), (2, bytes(encode_bmp(img2))), (3, b"not an image")],
        "id long, payload binary",
    )
    media = attach_media(df, "payload").select("id", "media")
    rows = {r["id"]: r for r in decode_images(media).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (3, 2)
    assert rows[1]["pixels"] == [9] * 18
    assert rows[2]["pixels"] == list(range(27))
    assert rows[3]["width"] is None and rows[3]["pixels"] is None
    resized = {r["id"]: r for r in decode_images(media, out_w=1, out_h=1).collect()}
    assert resized[1]["pixels"] == [9, 9, 9]  # nearest-neighbor picks a real pixel


def test_wav_roundtrip_and_chunk_walk():
    import numpy as np
    from trino_iceberg_spark.operators.multimodal import (
        DecodeUnavailable,
        decode_wav_bytes,
        encode_wav,
    )

    mono = (np.arange(100, dtype=np.int64) * 997 % 65536 - 32768).astype(np.int16)
    rate, got = decode_wav_bytes(encode_wav(mono, 8000))
    assert rate == 8000 and got.shape == (100, 1)
    assert np.array_equal(got[:, 0], mono)
    stereo = np.stack([mono, -mono], axis=1).astype(np.int16)
    _, got2 = decode_wav_bytes(encode_wav(stereo, 44100))
    assert np.array_equal(got2, stereo)
    # unknown chunk before fmt/data is skipped (real encoders emit LIST)
    raw = encode_wav(mono, 8000)
    import struct as st

    injected = raw[:12] + st.pack("<4sI", b"LIST", 4) + b"INFO" + raw[12:]
    injected = st.pack("<4sI4s", b"RIFF", len(injected) - 8, b"WAVE") + injected[12:]
    _, got3 = decode_wav_bytes(injected)
    assert np.array_equal(got3[:, 0], mono)
    with pytest.raises(DecodeUnavailable):
        decode_wav_bytes(b"RIFFxxxxNOPE")


def test_decode_audio_mapinpandas(spark):
    import numpy as np
    from trino_iceberg_spark.operators.multimodal import decode_audio, encode_wav

    tone = np.full(50, 1000, dtype=np.int16)
    df = spark.createDataFrame(
        [(1, bytes(encode_wav(tone, 1000))), (2, b"not audio")],
        "id long, payload binary",
    )
    media = attach_media(df, "payload", media_type="audio").select("id", "media")
    rows = {r["id"]: r for r in decode_audio(media).collect()}
    assert rows[1]["n_samples"] == 50 and rows[1]["duration_ms"] == 50
    assert rows[1]["sum_sq"] == 50 * 1000 * 1000 and rows[1]["peak"] == 1000
    assert rows[2]["sum_sq"] is None


def test_feature_extraction_stub_dims(spark):
    df = spark.createDataFrame([(1, b"hello"), (2, b"world!")], "id long, payload binary")
    media = attach_media(df, "payload").select("id", "media")
    feats = extract_features_stub(media, dim=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)


def test_frame_sampling_grid(spark):
    df = spark.createDataFrame([(1, b"0123456789abcdef" * 4)], "id long, payload binary")
    media = attach_media(df, "payload").select("id", "media")
    frames = sample_frames_stub(media, every_ms=100_000).collect()
    dur = frames[0]["media"]["meta"]["duration_ms"]
    assert len(frames) == dur // 100_000 + 1


# ---------------------------------------------------------------------------
# TF-IDF / BM25 (oracle covers corpus math; these pin boundary semantics)
# ---------------------------------------------------------------------------


def test_tfidf_ubiquitous_token_zero(spark):
    df = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple cherry")], "doc_id bigint, text string"
    )
    rows = {(r.doc_id, r.token): r for r in TX.tfidf(df, "text", "doc_id").collect()}
    assert rows[(1, "apple")].tfidf == 0.0  # df == N -> ln(1) == 0
    assert rows[(1, "banana")].df == 1 and rows[(1, "banana")].tfidf > 0


def test_bm25_only_matching_docs_scored(spark):
    df = spark.createDataFrame(
        [(1, "hash join hash"), (2, "sort merge"), (3, "hash sort join")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.score for r in TX.bm25_scores(df, "text", "doc_id", ["hash"]).collect()}
    assert set(got) == {1, 3}  # doc 2 has no query term -> absent
    assert got[1] > got[3] > 0  # higher tf wins at equal doc length


def test_quantized_topk_recall_vs_exact(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(embeddings, q, "embedding", "vec_id", k=5).collect()
    }
    quant = S.quantized_cosine_topk(embeddings, q, "embedding", "vec_id", k=5).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in quant}
    # int8 on unit vectors perturbs each coordinate by <= 1/254; with
    # near-orthogonal random embeddings the top-5 sets stay mostly stable
    assert len(approx & exact) / len(exact) >= 0.7
    # approximate scores stay within quantization error of valid cosines
    assert all(-1.1 <= r["qcosine"] <= 1.1 for r in quant)


def test_quantize_embeddings_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0])], "id long, embedding array<double>"
    )
    row = S.quantize_embeddings(df, "embedding").collect()[0]
    assert len(row.qvec) == 4 and max(abs(v) for v in row.qvec) == 127
    recon = [v * row.qscale for v in row.qvec]
    assert all(abs(a - b) <= row.qscale / 2 + 1e-12 for a, b in zip(recon, [1.0, -0.5, 0.25, 0.0]))


def test_passage_dedup_removes_cross_doc_repeats_keeps_first(spark):
    from trino_iceberg_spark.operators.dedup import passage_dedup

    boiler = " ".join(f"b{i}" for i in range(10))  # one exact 10-token chunk
    u1 = " ".join(f"x{i}" for i in range(10))
    u2 = " ".join(f"y{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, boiler + " " + u1), (2, boiler + " " + u2), (3, boiler)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in passage_dedup(df, "text", "doc_id").collect()}
    # doc 1 is the canonical first occurrence: keeps everything
    assert out[1]["clean_text"] == boiler + " " + u1
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    # doc 2 loses the boilerplate chunk, keeps its unique tail
    assert out[2]["clean_text"] == u2
    assert out[2]["n_kept"] == 1
    # doc 3 was pure boilerplate: drops out entirely
    assert 3 not in out


def test_passage_dedup_unique_doc_roundtrips(spark):
    from trino_iceberg_spark.operators.dedup import passage_dedup

    text = " ".join(f"w{i}" for i in range(25))  # 3 chunks, last one short
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    row = passage_dedup(df, "text", "doc_id").collect()[0]
    assert row["clean_text"] == text
    assert row["n_chunks"] == 3 and row["n_kept"] == 3


def test_percentile_band_filter_drops_tails(spark):
    from trino_iceberg_spark.operators.curation import percentile_band_filter

    df = spark.createDataFrame([(i, i) for i in range(1, 101)], "id long, s long")
    kept = sorted(r["id"] for r in percentile_band_filter(df, "s", 0.1, 0.9).collect())
    # p10 of 1..100 = 10.9, p90 = 90.1 (linear interpolation)
    assert kept[0] == 11 and kept[-1] == 90


def test_expectations_report_catches_violations(spark):
    from trino_iceberg_spark.operators.profiling import expectations_report

    df = spark.createDataFrame(
        [(1, "en", 5), (2, "en", 50), (2, "xx", None), (None, "de", 7)],
        "id long, lang string, n long",
    )
    out = {
        (r["rule"], r["column"]): (r["violations"], r["total"], r["passed"])
        for r in expectations_report(
            df,
            [
                ("not_null", "id"),
                ("unique", "id"),
                ("range", "n", 1, 10),
                ("in_set", "lang", ["en", "de"]),
            ],
        ).collect()
    }
    assert out[("not_null", "id")] == (1, 4, False)
    assert out[("unique", "id")] == (1, 4, False)  # id=2 twice
    assert out[("range", "n")] == (1, 4, False)  # 50 out of range; NULL ignored
    assert out[("in_set", "lang")] == (1, 4, False)  # 'xx'
    clean = expectations_report(df.filter("id = 1"), [("not_null", "id")]).collect()
    assert clean[0]["passed"] is True


def test_sketch_rollup_cascade_accuracy(spark, sf_dir):
    """Daily estimates derived by UNIONING hourly sketches must sit within
    HLL's error envelope of the exact per-day distinct count (lgk=12 →
    ~1.6% typical; assert 5%), and the cascade must never re-read raw."""
    from trino_iceberg_spark.operators.timeseries import (
        merge_sketch_rollup,
        sketch_estimate,
        sketch_rollup,
    )
    from trino_iceberg_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    hourly = sketch_rollup(e, "ts", ("event_type",), "user_id", "hour")
    daily = sketch_estimate(merge_sketch_rollup(hourly, "day", ("event_type",)))
    exact = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.countDistinct("user_id").alias("exact"))
    joined = daily.join(exact, ["bucket", "event_type"]).collect()
    assert joined
    for r in joined:
        assert abs(r["approx_distinct"] - r["exact"]) <= max(2, 0.05 * r["exact"])


def test_kmv_cascade_equals_direct_and_bounds_error(spark, sf_dir):
    """KMV exactness property: merging hourly min-k sketches must produce
    byte-identical daily sketches to computing min-k from raw (min-k of a
    union == min-k of per-part min-k sets). Estimates sit within a
    generous multiple of KMV's 1/√(k−2) error envelope; cells that never
    filled (< k distinct) are exact by construction."""
    from trino_iceberg_spark.operators.sketches import kmv_estimate, kmv_merge, kmv_rollup
    from trino_iceberg_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events").withColumn(
        "user_key", F.col("user_id").cast("string")
    )
    hourly = kmv_rollup(e, "ts", ("event_type",), "user_key", "hour", k=64)
    daily = kmv_merge(hourly, "day", ("event_type",), k=64)
    direct = kmv_rollup(e, "ts", ("event_type",), "user_key", "day", k=64)
    cascaded = {(r["bucket"], r["event_type"]): (r["kmv"], r["cnt"]) for r in daily.collect()}
    from_raw = {(r["bucket"], r["event_type"]): (r["kmv"], r["cnt"]) for r in direct.collect()}
    assert cascaded == from_raw
    est = {
        (r["bucket"], r["event_type"]): r["est_distinct"]
        for r in kmv_estimate(daily, k=64).collect()
    }
    exact = {
        (r["bucket"], r["event_type"]): r["d"]
        for r in e.groupBy(F.date_trunc("day", "ts").alias("bucket"), "event_type")
        .agg(F.countDistinct("user_key").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)
    for key, d in exact.items():
        if d < 64:
            assert est[key] == float(d)  # unfilled sketch is the exact set
        else:
            assert abs(est[key] - d) <= 0.5 * d


def test_derived_num_cells_scales_with_corpus():
    """Scale-honest default: ~target_cell_size rows per cell with a floor
    of 16 (tiny corpora keep the historical 16-cell behavior); a 5M-row
    corpus must NOT get 16 cells."""
    from trino_iceberg_spark.operators.similarity import _derived_num_cells

    assert _derived_num_cells(1_000, 10_000) == 16
    assert _derived_num_cells(5_000_000, 10_000) == 500


def test_sample_cascade_equals_direct_and_tracks_quantiles(spark, sf_dir):
    """Bottom-k sample exactness property: merging hourly hash-bottom-k
    (hash, value) samples must reproduce byte-identical daily samples to
    sampling from raw at day granularity. Quantile estimates from the
    64-row sample track the exact per-cell percentiles within a loose
    order-statistic envelope, and unfilled cells are exact."""
    from trino_iceberg_spark.operators.sketches import (
        sample_merge,
        sample_quantiles,
        sample_rollup,
    )
    from trino_iceberg_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    hourly = sample_rollup(e, "ts", ("event_type",), "value", "event_id", "hour", k=64)
    daily = sample_merge(hourly, "day", ("event_type",), k=64)
    direct = sample_rollup(e, "ts", ("event_type",), "value", "event_id", "day", k=64)
    cascaded = {(r["bucket"], r["event_type"]): (r["smp"], r["cnt"]) for r in daily.collect()}
    from_raw = {(r["bucket"], r["event_type"]): (r["smp"], r["cnt"]) for r in direct.collect()}
    assert cascaded and cascaded == from_raw

    est = {
        (r["bucket"], r["event_type"]): (r["cnt"], r["p50_est"])
        for r in sample_quantiles(daily, (0.5,)).collect()
    }
    exact = {
        (r["bucket"], r["event_type"]): r["p50"]
        for r in e.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", "ts").alias("bucket"), "event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p50"))
        .collect()
    }
    lo_all = e.agg(F.min("value")).first()[0]
    hi_all = e.agg(F.max("value")).first()[0]
    spread = hi_all - lo_all
    for key, (cnt, p50) in est.items():
        if cnt <= 64:
            # unfilled sample IS the cell: discrete median == an exact
            # order statistic, within one value of the interpolated median
            assert abs(p50 - exact[key]) <= spread * 0.25
        else:
            # 64-point sample median: loose but meaningful envelope
            assert abs(p50 - exact[key]) <= spread * 0.35


def test_psi_report_detects_shift_and_ignores_noise(spark):
    """PSI ≈ 0 when current matches reference; large when the distribution
    shifts; NULLs excluded; per-group isolation."""
    from trino_iceberg_spark.operators.profiling import psi_report

    ref_rows = [("a", float(i % 100)) for i in range(1000)] + [("b", float(i % 50)) for i in range(500)]
    same = [("a", float((i * 7) % 100)) for i in range(700)]       # same uniform shape
    shifted = [("b", 40.0 + float(i % 10)) for i in range(500)]    # mass into 2 bins
    cur_rows = same + shifted + [("a", None)] * 25
    ref = spark.createDataFrame(ref_rows, "g string, v double")
    cur = spark.createDataFrame(cur_rows, "g string, v double")
    out = {r["g"]: r for r in psi_report(ref, cur, "v", group_by=["g"]).collect()}
    assert out["a"]["psi"] < 0.05          # same shape -> stable
    assert out["b"]["psi"] > 0.25          # concentrated -> shifted
    assert out["a"]["n_cur"] == 700        # NULLs excluded from the census
    assert out["a"]["n_ref"] == 1000 and out["b"]["n_ref"] == 500
    # ungrouped mode works and matches a single-group computation
    one = psi_report(
        ref.filter(F.col("g") == "a").select("v"),
        cur.filter(F.col("g") == "a").filter(F.col("v").isNotNull()).select("v"),
        "v",
    ).collect()
    assert len(one) == 1 and abs(one[0]["psi"] - out["a"]["psi"]) < 1e-9


def test_retrieval_metrics_hand_computed(spark):
    """Perfect, partial, and zero retrieval against hand-computed values."""
    import math

    from trino_iceberg_spark.operators.ranking import retrieval_metrics

    results = spark.createDataFrame(
        [
            # q1: relevant docs at ranks 1 and 2 (perfect for n_rel=2)
            (1, 101, 1), (1, 102, 2), (1, 103, 3),
            # q2: one relevant at rank 3
            (2, 201, 1), (2, 202, 2), (2, 203, 3),
            # q3: nothing relevant retrieved
            (3, 301, 1),
        ],
        "query_id long, neighbor_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, 101), (1, 102), (2, 203), (2, 299), (3, 399)],
        "query_id long, neighbor_id long",
    )
    m = {r["query_id"]: r for r in retrieval_metrics(results, qrels, k=3).collect()}
    assert m[1]["hits"] == 2 and m[1]["recall_at_k"] == 1.0
    assert m[1]["mrr_at_k"] == 1.0 and abs(m[1]["ndcg_at_k"] - 1.0) < 1e-12
    # q2: n_rel=2, ideal_n=2; hits=1 at rank 3
    assert m[2]["hits"] == 1 and m[2]["recall_at_k"] == 0.5
    assert abs(m[2]["mrr_at_k"] - 1 / 3) < 1e-12
    expected_ndcg = (1 / math.log2(4)) / (1 / math.log2(2) + 1 / math.log2(3))
    assert abs(m[2]["ndcg_at_k"] - expected_ndcg) < 1e-12
    # q3: judged but nothing relevant retrieved
    assert m[3]["hits"] == 0 and m[3]["recall_at_k"] == 0.0
    assert m[3]["mrr_at_k"] == 0.0 and m[3]["ndcg_at_k"] == 0.0


def test_sketch_rollups_keep_null_dimension_cells(spark):
    """kmv_rollup / sample_rollup must not drop cells whose dimension value
    is NULL: both sides of the count↔sketch merge compute the NULL cell
    (groupBy keeps NULL keys), so the join must be null-safe."""
    from trino_iceberg_spark.operators.sketches import kmv_rollup, sample_rollup

    e = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "click", 1.0, "u1"),
            (2, "2024-01-01 10:30:00", None, 2.0, "u2"),
            (3, "2024-01-01 10:45:00", None, 3.0, "u2"),
        ],
        "event_id long, ts string, event_type string, value double, user_id string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    kmv = kmv_rollup(e, "ts", ("event_type",), "user_id", "hour", k=64).collect()
    cells = {r["event_type"]: r["cnt"] for r in kmv}
    assert cells == {"click": 1, None: 2}
    assert all(r["kmv"] for r in kmv)

    smp = sample_rollup(e, "ts", ("event_type",), "value", "event_id", "hour", k=64).collect()
    cells = {r["event_type"]: r["cnt"] for r in smp}
    assert cells == {"click": 1, None: 2}
    assert sorted(p["_v"] for r in smp if r["event_type"] is None for p in r["smp"]) == [2.0, 3.0]


def test_work_dir_is_pid_namespaced_and_fresh():
    """Scratch dirs are per-process (concurrent registry runs can't clobber
    each other) and recreated empty on every call."""
    import os

    from trino_iceberg_spark.sources.testdata import work_dir

    d1 = work_dir("wd_test")
    assert str(os.getpid()) in d1
    assert os.path.isdir(d1) and not os.listdir(d1)
    with open(os.path.join(d1, "f"), "w") as fh:
        fh.write("x")
    d2 = work_dir("wd_test")
    assert d2 == d1 and not os.listdir(d2)  # fresh on re-entry
    assert work_dir("wd_other") != d1


def test_stale_work_root_sweep(tmp_path, monkeypatch):
    """The sweeper removes (a) PID-namespaced trees whose owner is dead
    and (b) legacy fixed-name tis_* trees — but never a live PID's tree,
    never a non-tis name, and never a tree with a RECENT mtime anywhere
    inside it (a directory's own mtime misses nested writes)."""
    import os
    import time

    import trino_iceberg_spark.sources.testdata as td

    monkeypatch.setattr(td.tempfile, "gettempdir", lambda: str(tmp_path))
    old = time.time() - 7200

    def make(name, fresh_nested=False):
        root = tmp_path / name
        (root / "stage").mkdir(parents=True)
        f = root / "stage" / "part-0"
        f.write_text("x")
        for p in (root, root / "stage", f):
            os.utime(p, (old, old))
        if fresh_nested:
            os.utime(f, None)  # nested file touched now; top dirs stay old
        return root

    dead = make("tis_999999999")  # no such PID
    live = make(f"tis_{os.getpid()}")
    legacy = make("tis_st08_events")
    legacy_active = make("tis_a11_unload", fresh_nested=True)
    unrelated = make("other_dir")
    td._sweep_stale_work_roots(min_age_s=3600.0)
    assert not dead.exists()
    assert not legacy.exists()
    assert live.exists()  # owner alive
    assert legacy_active.exists()  # nested mtime is recent
    assert unrelated.exists()  # not a tis_* name


def test_bloom_filter_contract(spark):
    """Portable Bloom: zero false negatives ever; deterministic bitmap
    (same keys → identical array); probe of an inserted key always hits;
    with 64 Kbit / k=4 over a handful of keys, non-members are rejected."""
    from trino_iceberg_spark.operators.sketches import bloom_build, bloom_might_contain

    keys = spark.createDataFrame([(i,) for i in range(50)], "k long")
    bloom = bloom_build(keys, "k")
    bm1 = bloom.collect()[0]["bloom"]
    bm2 = bloom_build(keys, "k").collect()[0]["bloom"]
    assert bm1 == bm2 and len(bm1) == (1 << 16) // 32
    probe = spark.createDataFrame([(i,) for i in range(200)], "k long")
    got = {r["k"]: r["bloom_hit"] for r in bloom_might_contain(probe, "k", bloom).collect()}
    assert all(got[i] for i in range(50))  # no false negatives
    # 50 keys * 4 bits in 65536 → FP rate ~1e-11; 150 non-members all miss
    assert not any(got[i] for i in range(50, 200))


def test_bloom_empty_reference_rejects_everything(spark):
    from trino_iceberg_spark.operators.sketches import bloom_build, bloom_might_contain

    empty = spark.createDataFrame([], "k long")
    bloom = bloom_build(empty, "k")
    assert all(b == 0 for b in bloom.collect()[0]["bloom"])
    probe = spark.createDataFrame([(1,), (2,)], "k long")
    assert not any(r["bloom_hit"] for r in bloom_might_contain(probe, "k", bloom).collect())


def test_bloom_null_keys_two_valued(spark):
    """NULL-key contract: a NULL in the reference set is dropped at build
    (no NULL map key / runtime error), and a NULL probe key yields False —
    two-valued semantics, not SQL IN's three-valued NULL."""
    from trino_iceberg_spark.operators.sketches import bloom_build, bloom_might_contain

    keys = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    bloom = bloom_build(keys, "k")  # must not raise on the NULL key
    probe = spark.createDataFrame([(1,), (None,), (99,)], "k long")
    got = {r["k"]: r["bloom_hit"] for r in bloom_might_contain(probe, "k", bloom).collect()}
    assert got[1] is True
    assert got[None] is False  # False, not None
    assert got[99] is False


def test_duplicated_span_stats_merges_overlapping_windows(spark):
    """Substring dedup: a copied 10-token span shared by two docs lights up
    3 overlapping 8-token windows that must merge into ONE span of exactly
    10 tokens; unique docs report zeros; sub-k docs are counted but never
    windowed."""
    copied = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [
        (1, "a b c " + copied + " x y z"),
        (2, copied + " p q r s t u v"),
        (3, "totally unique text with nothing shared here at all ok"),
        (4, "short doc"),  # < 8 tokens: no windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from trino_iceberg_spark.operators.dedup import duplicated_span_stats

    got = {r["doc_id"]: r for r in duplicated_span_stats(df, "text", "doc_id", k=8).collect()}
    assert got[1]["dup_tokens"] == 10 and got[1]["n_spans"] == 1
    assert got[2]["dup_tokens"] == 10 and got[2]["n_spans"] == 1
    assert got[3]["dup_tokens"] == 0 and got[3]["n_spans"] == 0
    assert got[4]["n_tokens"] == 2 and got[4]["dup_tokens"] == 0
    # two disjoint shared spans stay two spans
    far = "m1 m2 m3 m4 m5 m6 m7 m8"
    df2 = spark.createDataFrame(
        [
            (1, copied + " gap1 gap2 gap3 gap4 gap5 gap6 gap7 gap8 gap9 " + far),
            (2, copied + " other words entirely q w e r t y u"),
            (3, far + " more unrelated trailing words here now ok yes"),
        ],
        "doc_id long, text string",
    )
    got2 = {r["doc_id"]: r for r in duplicated_span_stats(df2, "text", "doc_id", k=8).collect()}
    assert got2[1]["n_spans"] == 2 and got2[1]["dup_tokens"] == 18


def test_duplicated_span_stats_viral_boilerplate_window(spark):
    """Hot-key hardening: 10^5 documents sharing one viral 8-token k-gram
    (the license-header / cookie-banner shape) must (a) produce the right
    answer and (b) never materialize the shared window's full doc-id set
    in one task — the occurrence count must be a partial-aggregatable
    distinct+count, not collect_set over a window partitioned by whash."""
    from trino_iceberg_spark.operators.dedup import duplicated_span_stats

    boiler = "this document is licensed under the open license"  # 8 tokens
    n = 100_000
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        f"concat('unique', id, ' padding', id, ' {boiler} tail', id) AS text",
    )
    out = duplicated_span_stats(docs, "text", "doc_id", k=8)
    # Plan shape: the whash-keyed distinct count partial-aggregates
    # (HashAggregate before the exchange) and there is NO window spec
    # over whash holding per-group member sets.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan
    agg = out.agg(
        F.sum(F.when(F.col("dup_tokens") > 0, 1).otherwise(0)).alias("dup_docs"),
        F.sum("dup_tokens").alias("total_dup"),
        F.max("n_spans").alias("max_spans"),
    ).collect()[0]
    # Every doc shares exactly the one boilerplate window: the viral
    # 8-token span is duplicated in all 10^5 docs, one span each.
    assert agg["dup_docs"] == n
    assert agg["total_dup"] == 8 * n
    assert agg["max_spans"] == 1


def test_ivf_assignments_incremental_equals_rebuild(spark, sf_dir):
    """The persisted-index contract: routing base + delta separately with
    FROZEN centroids must equal routing the whole corpus at once — cell
    assignments are per-vector pure functions of the centroids."""
    from trino_iceberg_spark.operators.similarity import (
        _seeded_centroids,
        ivf_assignments,
    )
    from trino_iceberg_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    cents = _seeded_centroids(base, "embedding", "vec_id", 16, seed=42)
    inc = ivf_assignments(base, "embedding", "vec_id", cents).unionByName(
        ivf_assignments(delta, "embedding", "vec_id", cents)
    )
    full = ivf_assignments(emb, "embedding", "vec_id", cents)
    a = sorted((r["vec_id"], r["cell"]) for r in inc.collect())
    b = sorted((r["vec_id"], r["cell"]) for r in full.collect())
    assert a and a == b


def test_training_shards_deterministic_and_prunable(spark, sf_dir, tmp_path):
    """Shard membership is a pure function of doc_id: two writes produce
    identical manifests; a single-shard read prunes to its directory and
    matches the manifest row count."""
    from trino_iceberg_spark.operators.splits import write_training_shards
    from trino_iceberg_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m1 = write_training_shards(d, str(tmp_path / "a"), "doc_id", num_shards=4)
    rows1 = sorted(tuple(r) for r in m1.collect())
    m2 = write_training_shards(d, str(tmp_path / "b"), "doc_id", num_shards=4)
    assert rows1 == sorted(tuple(r) for r in m2.collect())
    assert len(rows1) == 4 and sum(r[1] for r in rows1) == d.count()
    one = spark.read.parquet(str(tmp_path / "a")).filter("shard = 2")
    expected = next(r[1] for r in rows1 if r[0] == 2)
    assert one.count() == expected
    # directory-level pruning: the shard predicate lands in the scan's
    # PartitionFilters (not a post-scan Filter over all shards)
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = next((l for l in plan.splitlines() if "PartitionFilters" in l), "")
    assert "shard" in pf, plan


def test_containment_detects_excerpts_jaccard_misses(spark):
    """Broder containment contract: a short doc fully quoted inside a much
    larger one has containment 1.0 in that direction while its Jaccard is
    far below any dedup threshold — and the reverse direction does NOT
    qualify (asymmetry is the point). Unrelated docs emit nothing."""
    from trino_iceberg_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i} pad{i} extra{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, quote),                    # the excerpt
            (2, filler + " " + quote),     # contains it verbatim
            (3, "totally different content with nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["src_id"], r["dst_id"]): r["containment"]
        for r in containment_pairs(docs, "text", "doc_id", k=3, threshold=0.9).collect()
    }
    assert got == {(1, 2): 1.0}  # only the excerpt direction qualifies
    # the same pair is invisible to symmetric Jaccard at any real threshold
    jac = ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.3).collect()
    assert jac == []


def test_token_entropy_ranks_diversity(spark):
    """Entropy contract: uniform vocabulary maxes entropy (log2 n), full
    repetition zeroes it, and the mixed case lands exactly between;
    empty/singleton docs score 0.0 with correct counts; values are exact
    (integer micro-bit accumulation) so reruns match strictly."""
    from trino_iceberg_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [
            (1, "a a a a a a a a"),       # H = 0
            (2, "a b c d e f g h"),       # H = 3 (uniform over 8)
            (3, "a a a a b b c d"),       # H = 1.75 exactly
            (4, ""),
            (5, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in token_entropy(df, "text", "doc_id").collect()}
    assert got[1]["entropy"] == 0.0
    assert got[2]["entropy"] == 3.0
    assert got[3]["entropy"] == 1.75  # (8·3 − (4·2 + 2·1 + 0 + 0))/8 = 1.75
    assert got[4]["n_words"] == 0 and got[4]["entropy"] == 0.0
    assert got[5]["n_distinct_words"] == 1 and got[5]["entropy"] == 0.0
    again = {r["doc_id"]: r["entropy"] for r in token_entropy(df, "text", "doc_id").collect()}
    assert again == {k: v["entropy"] for k, v in got.items()}


def test_containment_excludes_sub_k_documents(spark):
    """Sub-k documents have an EMPTY shingle set (empty_when_short) — a
    duplicated two-word text must emit NO containment pair (a synthetic
    whole-text gram would fabricate containment 1.0 and diverge from the
    oracle's len >= k exclusion)."""
    from trino_iceberg_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "a longer document with words")],
        "doc_id long, text string",
    )
    assert containment_pairs(docs, "text", "doc_id", k=3, threshold=0.1).collect() == []


def test_token_entropy_null_text_zero_counts(spark):
    """NULL text scores entropy 0.0 with ZERO counts, not NULL counts —
    the ANSI size(NULL) path must coalesce so the output matches the
    oracle's COALESCE(..., 0)."""
    from trino_iceberg_spark.operators.text import token_entropy

    docs = spark.createDataFrame([(1, None), (2, "a b")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in token_entropy(docs, "text", "doc_id").collect()}
    assert got[1]["n_words"] == 0
    assert got[1]["n_distinct_words"] == 0
    assert got[1]["entropy"] == 0.0
    assert got[2]["n_words"] == 2 and got[2]["entropy"] == 1.0


def test_max_df_guard_survives_viral_shingle(spark, caplog):
    """Hot-shingle guard: 100k documents sharing ONE boilerplate trigram
    would materialize ~5e9 candidate pairs through the inverted index —
    with the default-on max_df cap the viral shingle is dropped (loudly)
    and the job finishes with zero pairs, since every other shingle is
    unique. This is the same hot-key class as dd03's bucket cap and
    dd11's max_cell_size. The drop is logged when the query scope the
    plan ran in exits."""
    import logging

    from trino_iceberg_spark.operators.cachectl import CacheRegistry
    from trino_iceberg_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.range(100_000).selectExpr(
        "id AS doc_id",
        "concat('common header trigram unique', id, ' tail', id, ' end', id) AS text",
    )
    with caplog.at_level(logging.WARNING, logger="trino_iceberg_spark.operators"):
        with CacheRegistry():
            pairs = ngram_jaccard_pairs(
                docs, "text", "doc_id", k=3, threshold=0.1, max_df=100
            )
            assert pairs.count() == 0
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "max_df guard dropped 1 viral shingle(s) / 100000 index row(s)" in m
        for m in msgs
    ), msgs


def test_max_df_cap_is_one_sided_underestimate(spark):
    """Cap semantics: capped shingles vanish from the INTERSECTION count
    while |A|/|B| still include them — so under an aggressive cap a pair
    whose only shared shingles are viral emits nothing, and max_df=None
    restores the exact Jaccard/containment."""
    from trino_iceberg_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "x y z a b c"), (2, "x y z a b d")],
        "doc_id long, text string",
    )
    exact = ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.1, max_df=None
    ).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in exact] == [(1, 2, 0.6)]
    capped = ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.1, max_df=1
    ).collect()
    assert capped == []  # all 3 shared shingles have df=2 > 1

    quote = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z and much more here")],
        "doc_id long, text string",
    )
    exact_c = containment_pairs(
        quote, "text", "doc_id", k=3, threshold=0.5, max_df=None
    ).collect()
    assert [(r.src_id, r.dst_id, r.containment) for r in exact_c] == [(1, 2, 1.0)]
    assert (
        containment_pairs(
            quote, "text", "doc_id", k=3, threshold=0.5, max_df=1
        ).collect()
        == []
    )


def test_decontaminate_sub_k_docs_contribute_no_grams(spark):
    """K-gram contract through decontaminate: a tab-separated document has
    ONE space-split token, hence zero 8-grams — it can neither contaminate
    nor be contaminated even when its exact text sits in the benchmark
    (the dedup path's synthetic whole-text gram must NOT leak in here; the
    SQL oracles model range(len(ws)-7) = zero grams for sub-8-word docs).
    A genuine 8-gram collision still drops the document."""
    from trino_iceberg_spark.operators.curation import decontaminate

    tab_text = "alpha\tbeta\tgamma\tdelta\tepsilon\tzeta\teta\ttheta\tiota\tkappa"
    long_text = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, tab_text), (2, long_text)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(10, tab_text), (11, long_text)], "doc_id long, text string"
    )
    out = sorted(r.doc_id for r in decontaminate(docs, bench, "text", "doc_id", k=8).collect())
    assert out == [1]  # doc 2 shares real 8-grams and drops; doc 1 is kept


def test_margin_mining_properties(spark, sf_dir):
    """Margin mining (Artetxe & Schwenk): candidates are exactly the
    forward/backward best-neighbor union; margins re-derive from the
    per-side k-NN averages; and the margin cut genuinely reorders pairs
    versus a raw-cosine cut (the method's point — hub suppression)."""
    from pyspark.sql import functions as F

    from trino_iceberg_spark.operators.similarity import (
        cosine_topk,
        margin_mining,
    )
    from trino_iceberg_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") % 10 == 0)
    b = e.filter(F.col("vec_id") % 10 == 5)
    # threshold=-1e9 ≈ no filter: the TRUE candidate union is asserted
    # (threshold=0.0 would silently drop negative-margin candidates)
    all_cand = margin_mining(a, b, "embedding", "vec_id", k=4, threshold=-1e9)
    rows = all_cand.collect()
    assert rows
    # candidate set = union of the two directions' rank-1 edges
    fwd1 = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(b, a, "embedding", "vec_id", k=1,
                             exclude_self=False).collect()
    }
    bwd1 = {
        (r["neighbor_id"], r["query_id"])
        for r in cosine_topk(a, b, "embedding", "vec_id", k=1,
                             exclude_self=False).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in rows} == fwd1 | bwd1
    # margins re-derive from the k-NN averages
    fwd = cosine_topk(b, a, "embedding", "vec_id", k=4, exclude_self=False)
    bwd = cosine_topk(a, b, "embedding", "vec_id", k=4, exclude_self=False)
    avg_a = {
        q: sum(x["cosine"] for x in g) / len(g)
        for q, g in __import__("itertools").groupby(
            sorted(fwd.collect(), key=lambda r: (r["query_id"], r["rank"])),
            key=lambda r: r["query_id"],
        )
        for g in [list(g)]
    }
    avg_b = {
        q: sum(x["cosine"] for x in g) / len(g)
        for q, g in __import__("itertools").groupby(
            sorted(bwd.collect(), key=lambda r: (r["query_id"], r["rank"])),
            key=lambda r: r["query_id"],
        )
        for g in [list(g)]
    }
    for r in rows:
        want = r["cosine"] / ((avg_a[r["id_a"]] + avg_b[r["id_b"]]) / 2)
        assert abs(r["margin"] - want) < 1e-9
    # the margin ordering differs from the raw-cosine ordering somewhere
    order_margin = [(r["id_a"], r["id_b"]) for r in sorted(rows, key=lambda r: -r["margin"])]
    order_cos = [(r["id_a"], r["id_b"]) for r in sorted(rows, key=lambda r: -r["cosine"])]
    assert order_margin != order_cos


# --- round 8: cache registry, lazy max-df guard, large-x-large mining -----


def test_cache_registry_collects_and_releases_exact_pins(spark, docs, embeddings):
    """A query scope records exactly the tables an operator pinned or
    checkpointed inside it and releases them on exit — the per-call
    release lever of the caller-owns-cache contract."""
    from trino_iceberg_spark.operators.cachectl import CacheRegistry
    from trino_iceberg_spark.operators.curation import curate_documents

    small = docs.limit(120)
    before = _cached_rdds(spark)
    # ngram_jaccard_pairs pins the df-sizes table AND records its
    # exploded-index lazy checkpoint for exact block release
    with CacheRegistry() as reg:
        pairs = D.ngram_jaccard_pairs(small, "text", "doc_id")
        assert len(reg) == 2
        pairs.count()  # materialize while pinned
        assert all(
            df.storageLevel.useMemory or df.storageLevel.useDisk for df in reg._pinned
        )
        mine = _cached_rdds(spark) - before
        assert len(mine) >= 2  # the pin AND the checkpointed index hold blocks
    assert len(reg) == 0
    # checkpoint blocks bypass clearCache — the scope must actually free
    # them, not just forget them
    assert not mine & _cached_rdds(spark)
    # curate_documents records its (md5, id) pair-table checkpoint
    with CacheRegistry() as reg2:
        curate_documents(small).count()
        assert len(reg2) == 1
    assert len(reg2) == 0
    # margin_mining pins fwd + bwd top-k; both are unpersisted on exit
    a = embeddings.filter(F.col("vec_id") % 20 == 0)
    b = embeddings.filter(F.col("vec_id") % 20 == 10)
    with CacheRegistry() as reg3:
        S.margin_mining(a, b, "embedding", "vec_id", k=2).count()
        assert len(reg3) == 2
        pinned = list(reg3)
    assert all(not (df.storageLevel.useMemory or df.storageLevel.useDisk) for df in pinned)
    # outside a scope the same operator pins as before and records nothing
    out = S.margin_mining(a, b, "embedding", "vec_id", k=2)
    assert len(reg3) == 0 and out.count() >= 0
    spark.catalog.clearCache()


def test_capped_index_lazy_diagnostics_identical_output(spark, docs):
    """The max-df guard's anti-join gives the same rows in and out of a
    query scope: the scope only records handles and queues the report."""
    from trino_iceberg_spark.operators.cachectl import CacheRegistry

    small = docs.limit(150)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    outside = sorted(
        D.ngram_jaccard_pairs(small, "text", "doc_id", k=3, max_df=5).collect(),
        key=key,
    )
    with CacheRegistry():
        inside = sorted(
            D.ngram_jaccard_pairs(small, "text", "doc_id", k=3, max_df=5).collect(),
            key=key,
        )
    assert [key(r) for r in outside] == [key(r) for r in inside]
    assert all(abs(x["jaccard"] - y["jaccard"]) < 1e-12 for x, y in zip(outside, inside))
    spark.catalog.clearCache()


def test_margin_mining_lsh_backed_large_by_large(spark, embeddings):
    """The documented two-LARGE-sides configuration (similarity.py): swap
    the broadcast cosine_topk for lsh_topk via the ``topk`` hook. Pins
    (a) the margin algebra is identical over the retrieved neighborhood —
    re-derived from the lsh top-k tables, (b) pair keys are unique even
    though the two directions score pairs independently (the groupBy-max
    dedupe — a row-level distinct() would rely on bitwise float
    equality), and (c) mined-pair recall vs the exact miner."""
    a = embeddings.filter(F.col("vec_id") % 10 == 0)
    b = embeddings.filter(F.col("vec_id") % 10 == 5)

    def lsh(cand, qry):
        return S.lsh_topk(
            cand, qry, "embedding", "vec_id", k=4, num_planes=2,
            exclude_self=False,
        )

    approx = S.margin_mining(
        a, b, "embedding", "vec_id", k=4, threshold=-1e9, topk=lsh
    )
    rows = approx.collect()
    assert rows
    # (b) unique pair keys
    keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(keys) == len(set(keys))
    # (a) margins re-derive from the lsh neighborhoods' k-NN averages
    import itertools

    fwd = lsh(b, a).collect()
    bwd = lsh(a, b).collect()

    def avgs(topk_rows):
        out = {}
        for q, g in itertools.groupby(
            sorted(topk_rows, key=lambda r: (r["query_id"], r["rank"])),
            key=lambda r: r["query_id"],
        ):
            g = list(g)
            out[q] = sum(x["cosine"] for x in g) / len(g)
        return out

    avg_a, avg_b = avgs(fwd), avgs(bwd)
    for r in rows:
        want = r["cosine"] / ((avg_a[r["id_a"]] + avg_b[r["id_b"]]) / 2)
        assert abs(r["margin"] - want) < 1e-9
    # (c) recall vs the exact miner's pair set (2 planes = 4 buckets →
    # a true mutual-best pair surfaces when the two vectors collide,
    # ≈(1-θ/π)² per edge on near-orthogonal random embeddings)
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.margin_mining(
            a, b, "embedding", "vec_id", k=4, threshold=-1e9
        ).collect()
    }
    assert len(set(keys) & exact) / len(exact) >= 0.2


# --- MMR re-ranking ---------------------------------------------------------


def test_mmr_rerank_diversifies_redundant_candidates(spark):
    """A query whose top candidates contain a near-duplicate pair: plain
    top-k keeps both duplicates adjacent; MMR must select the diverse
    third vector BEFORE the second copy of the duplicate."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # the query
        (1, [0.99, 0.14, 0.0, 0.0]),        # best neighbor
        (2, [0.99, 0.14, 0.0, 0.0]),        # EXACT duplicate of 1
        (3, [0.5, 0.0, 0.866, 0.0]),        # half-relevant, orthogonal-ish
        (4, [0.5, 0.0, 0.0, 0.866]),        # same relevance, diverse from 3
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") == 0)
    plain = S.cosine_topk(df, q, "embedding", "vec_id", k=3)
    plain_ids = [r["neighbor_id"] for r in plain.orderBy("rank").collect()]
    assert plain_ids == [1, 2, 3]  # duplicates crowd the top
    mmr = S.mmr_rerank(df, q, "embedding", "vec_id", k=3, pool=4, lam=0.5)
    got = [r["neighbor_id"] for r in mmr.orderBy("mmr_rank").collect()]
    assert got[0] == 1  # relevance still wins step 1
    assert got[1] == 3  # diversity displaces the near-duplicate
    assert set(got) == {1, 3, 4}  # the duplicate never makes the cut


def test_mmr_rerank_lam_one_is_plain_relevance_ranking(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") % 100 == 0)
    plain = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.cosine_topk(embeddings, q, "embedding", "vec_id", k=5).collect()
    }
    mmr = {
        (r["query_id"], r["mmr_rank"]): r["neighbor_id"]
        for r in S.mmr_rerank(
            embeddings, q, "embedding", "vec_id", k=5, pool=8, lam=1.0
        ).collect()
    }
    assert mmr == plain  # lam=1 => penalty term vanishes => pure top-k


def test_mmr_rerank_validates_lam(spark, embeddings):
    with pytest.raises(ValueError, match="lam"):
        S.mmr_rerank(embeddings, embeddings, "embedding", "vec_id", lam=1.5)


# --- curriculum ordering -----------------------------------------------------


def test_curriculum_order_schedule_properties(spark):
    from trino_iceberg_spark.operators.splits import curriculum_order

    df = spark.createDataFrame(
        [(i, (i * 37) % 100) for i in range(300)], "id long, diff long"
    )
    out = curriculum_order(df, "id", "diff", thresholds=[30, 60]).collect()
    n = len(out)
    assert n == 300
    # global_step is an exact permutation of 0..n-1
    assert sorted(r["global_step"] for r in out) == list(range(n))
    # phase banding matches the thresholds
    for r in out:
        want = (1 if r["diff"] >= 30 else 0) + (1 if r["diff"] >= 60 else 0)
        assert r["phase"] == want
    # phase-major: every phase-p step precedes every phase-(p+1) step
    max_step = {p: max(r["global_step"] for r in out if r["phase"] == p) for p in (0, 1, 2)}
    min_step = {p: min(r["global_step"] for r in out if r["phase"] == p) for p in (0, 1, 2)}
    assert max_step[0] < min_step[1] < max_step[1] < min_step[2]
    # hard_first inverts the phase order, keeps the semantic phase column
    inv = curriculum_order(df, "id", "diff", thresholds=[30, 60], easy_first=False).collect()
    inv_max = {p: max(r["global_step"] for r in inv if r["phase"] == p) for p in (0, 1, 2)}
    inv_min = {p: min(r["global_step"] for r in inv if r["phase"] == p) for p in (0, 1, 2)}
    assert inv_max[2] < inv_min[1] < inv_max[1] < inv_min[0]


def test_curriculum_order_validation(spark):
    from trino_iceberg_spark.operators.splits import curriculum_order

    df = spark.createDataFrame([(1, 1)], "id long, diff long")
    with pytest.raises(ValueError, match="non-empty"):
        curriculum_order(df, "id", "diff", thresholds=[])
    with pytest.raises(ValueError, match="ascending"):
        curriculum_order(df, "id", "diff", thresholds=[5, 3])
    with pytest.raises(ValueError, match="unreachable"):
        curriculum_order(df, "id", "diff", thresholds=[5, 5])
    with pytest.raises(ValueError, match="16 phases"):
        curriculum_order(df, "id", "diff", thresholds=list(range(20)))


# --- n-gram novelty ----------------------------------------------------------


def test_ngram_novelty_attribution(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: 'a b c', 'b c d' — both novel
            (2, "a b c d"),        # exact dup of 1 — zero novel
            (3, "a b c x y z"),    # 'a b c' old; 'b c x','c x y','x y z' novel
            (4, "hi"),             # short-doc contract: ONE whole-text gram
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TX.ngram_novelty(df, "text", "doc_id").collect()}
    assert (got[1]["n_grams"], got[1]["n_novel"]) == (2, 2)
    assert (got[2]["n_grams"], got[2]["n_novel"]) == (2, 0)
    assert (got[3]["n_grams"], got[3]["n_novel"]) == (4, 3)
    assert (got[4]["n_grams"], got[4]["n_novel"]) == (1, 1)
    assert got[2]["novelty"] == 0.0 and got[1]["novelty"] == 1.0
    assert abs(got[3]["novelty"] - 0.75) < 1e-15


def test_hash_embedding_contract(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta")],
        "id long, t string",
    )
    out = {r["id"]: r["v"] for r in df.select("id", S.hash_embedding("t", dim=8).alias("v")).collect()}
    assert len(out[1]) == 8
    assert out[1] == out[2]          # identical text => identical vector
    assert out[1] != out[3]          # different text => different vector
    assert all(-1.0 <= x <= 1.0 for v in out.values() for x in v)
    # engine-portable: replay coordinate 0 of doc 1 with hashlib
    import hashlib
    h = int(hashlib.md5(b"alpha beta#0").hexdigest()[:15], 16)
    assert abs(out[1][0] - ((h % 2001) - 1000) / 1000.0) < 1e-15


def test_mmr_rerank_lsh_hook_selects_within_pool(spark, embeddings):
    """The two-stage configuration (ss13): candidates from lsh_topk, MMR
    greedy unchanged. Selection must be a subset of the retrieved pool
    with contiguous 1..k ranks per query, and the lam=1 degeneracy must
    reproduce the pool's own relevance ranking."""
    q = embeddings.filter(F.col("vec_id") % 100 == 0)

    def lshq(cand, qry):
        return S.lsh_topk(cand, qry, "embedding", "vec_id", k=8, num_planes=3,
                          exclude_self=True)

    pool = {
        (r["query_id"], r["neighbor_id"]) for r in lshq(embeddings, q).collect()
    }
    out = S.mmr_rerank(
        embeddings, q, "embedding", "vec_id", k=4, lam=0.6, topk=lshq
    ).collect()
    assert all((r["query_id"], r["neighbor_id"]) in pool for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["mmr_rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # lam=1 over the same pool = the pool's own (cosine, id) ranking
    top = {}
    for r in lshq(embeddings, q).collect():
        if r["rank"] <= 4:
            top[(r["query_id"], r["rank"])] = r["neighbor_id"]
    deg = {
        (r["query_id"], r["mmr_rank"]): r["neighbor_id"]
        for r in S.mmr_rerank(
            embeddings, q, "embedding", "vec_id", k=4, lam=1.0, topk=lshq
        ).collect()
    }
    assert deg == top


def test_calibration_bins_contract(spark):
    from trino_iceberg_spark.operators.profiling import calibration_bins

    df = spark.createDataFrame(
        [(0.05, True), (0.05, False), (0.55, True), (0.55, True),
         (1.7, True), (-0.3, False), (None, True), (0.05, None),
         (float("nan"), True)],
        "score double, y boolean",
    )
    got = {r["bin"]: r for r in calibration_bins(df, "score", "y", bins=10).collect()}
    assert (got[0]["n"], got[0]["n_positive"]) == (3, 1)   # -0.3 clamps into bin 0
    assert (got[5]["n"], got[5]["n_positive"]) == (2, 2)
    assert (got[9]["n"], got[9]["n_positive"]) == (1, 1)   # 1.7 clamps into bin 9
    # NULL score, NULL outcome, and NaN score rows all dropped;
    # empty bins absent
    assert set(got) == {0, 5, 9}
    assert abs(got[0]["positive_rate"] - 1 / 3) < 1e-15
    assert abs(got[5]["bin_lo"] - 0.5) < 1e-12 and abs(got[5]["bin_hi"] - 0.6) < 1e-12
    import pytest as _pt
    with _pt.raises(ValueError, match="bins"):
        calibration_bins(df, "score", "y", bins=0)
    with _pt.raises(ValueError, match="hi > lo"):
        calibration_bins(df, "score", "y", lo=1.0, hi=1.0)


def test_curriculum_order_null_difficulty_goes_to_phase_zero(spark):
    from trino_iceberg_spark.operators.splits import curriculum_order

    df = spark.createDataFrame(
        [(1, None), (2, 10), (3, 80)], "id long, diff long"
    )
    out = {r["id"]: r for r in curriculum_order(df, "id", "diff", thresholds=[50]).collect()}
    assert out[1]["phase"] == 0 and out[2]["phase"] == 0 and out[3]["phase"] == 1
    assert sorted(r["global_step"] for r in out.values()) == [0, 1, 2]
    assert out[3]["global_step"] == 2  # the hard row schedules last


def test_mmr_rerank_string_ids(spark):
    """The output schema must follow the id column's type — string keys
    are as legitimate as longs (review r8: a hardcoded long schema
    crashed the Arrow conversion for any other id type)."""
    rows = [("q", [1.0, 0.0]), ("a", [0.9, 0.1]), ("b", [0.1, 0.9]), ("c", [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    q = df.filter(F.col("vec_id") == "q")
    out = S.mmr_rerank(df, q, "embedding", "vec_id", k=2, pool=3, lam=0.5).collect()
    assert {r["neighbor_id"] for r in out} <= {"a", "b", "c"}
    assert all(isinstance(r["query_id"], str) for r in out)
    assert sorted(r["mmr_rank"] for r in out) == [1, 2]


def test_cache_registry_covers_all_caller_owned_operators(spark, docs, embeddings):
    """Every operator in the caller-owns-the-cache set must record its
    pins and checkpoints in an open scope (several persist sites once
    bypassed pin(), leaving clearCache() as the only release lever, and
    checkpoint blocks bypass clearCache entirely)."""
    from trino_iceberg_spark.operators.cachectl import CacheRegistry

    small_docs = docs.limit(60)
    small_emb = embeddings.limit(80)
    cases = [
        lambda: D.incremental_minhash_pairs(
            small_docs.filter(F.col("doc_id") % 2 == 0),
            small_docs.filter(F.col("doc_id") % 2 == 1),
            "text", "doc_id", num_hashes=8, bands=4,
        ),
        lambda: D.embedding_dedup_pairs(small_emb, "embedding", "vec_id"),
        lambda: TX.ngram_novelty(small_docs, "text", "doc_id"),
        lambda: D.minhash_dedup_pairs(
            small_docs, "text", "doc_id", num_hashes=8, bands=4
        ),
        lambda: S.semantic_dedup_pairs(
            small_emb, "embedding", "vec_id", num_cells=4
        ),
        lambda: TX.tfidf(small_docs, "text", "doc_id"),
    ]
    for build in cases:
        with CacheRegistry() as reg:
            out = build()
            assert len(reg) >= 1, build
            out.count()  # materialize through the pinned lineage
        assert len(reg) == 0


def test_mmr_rerank_mixed_id_types_follow_each_frame(spark):
    """query_id's output type must come from `queries`, neighbor_id's
    from `candidates` (ADVICE r8): an int-keyed query frame against a
    long-keyed candidate frame must not mis-declare the Arrow schema."""
    cand = spark.createDataFrame(
        [(int(i), [1.0 if j == i % 4 else 0.1 for j in range(4)]) for i in range(1, 9)],
        "vec_id long, embedding array<double>",
    )
    qry = spark.createDataFrame(
        [(101, [1.0, 0.0, 0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    out = S.mmr_rerank(cand, qry, "embedding", "vec_id", k=3, pool=6, lam=0.7)
    assert dict(out.dtypes)["query_id"] == "int"
    assert dict(out.dtypes)["neighbor_id"] == "bigint"
    rows = out.collect()
    assert len(rows) == 3 and all(r["query_id"] == 101 for r in rows)


# --- product quantization (IVF-PQ / ADC) ------------------------------------


def test_pq_codebooks_shape_and_determinism(spark, embeddings):
    b1 = S.pq_codebooks(embeddings, "embedding", "vec_id", m=8, ksub=16, seed=7)
    b2 = S.pq_codebooks(embeddings, "embedding", "vec_id", m=8, ksub=16, seed=7)
    assert b1 == b2  # seeded sample => bit-identical across calls
    assert len(b1) == 8 and len(b1[0]) == 16 and len(b1[0][0]) == 8
    # lloyd refinement is deterministic too (fixed-point integer means)
    l1 = S.pq_codebooks(embeddings, "embedding", "vec_id", m=8, ksub=16, seed=7, lloyd_iters=1)
    l2 = S.pq_codebooks(embeddings, "embedding", "vec_id", m=8, ksub=16, seed=7, lloyd_iters=1)
    assert l1 == l2 and l1 != b1


def test_pq_codebooks_rejects_indivisible_dim(spark, embeddings):
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_codebooks(embeddings, "embedding", "vec_id", m=7)


def test_pq_encode_codes_are_compact_and_deterministic(spark, embeddings):
    books = S.pq_codebooks(embeddings, "embedding", "vec_id", m=8, ksub=16)
    enc = S.pq_encode(embeddings, "embedding", "vec_id", books)
    assert dict(enc.dtypes)["pq_code"] == "array<tinyint>"  # m bytes/vector (~32x vs f32)
    rows = {r["vec_id"]: list(r["pq_code"]) for r in enc.collect()}
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in rows.values())
    again = {r["vec_id"]: list(r["pq_code"]) for r in enc.collect()}
    assert rows == again


def test_pq_adc_score_equals_reconstruction_dot(spark, embeddings):
    """ADC must be EXACTLY q_unit . (concatenated codewords) — the
    asymmetric-distance identity, checked bit-tight against a
    driver-side reconstruction."""
    import numpy as np

    books = S.pq_codebooks(embeddings, "embedding", "vec_id", m=8, ksub=16)
    q = embeddings.filter(F.col("vec_id") % 100 == 0)
    out = S.pq_adc_topk(
        embeddings, q, "embedding", "vec_id", k=3, num_cells=1, nprobe=1, codebooks=books
    ).collect()
    codes = {
        r["vec_id"]: list(r["pq_code"])
        for r in S.pq_encode(embeddings, "embedding", "vec_id", books).collect()
    }
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in q.collect()}
    for r in out[:10]:
        qv = vecs[r["query_id"]]
        qu = qv / np.linalg.norm(qv)
        recon = np.concatenate([np.asarray(books[j][codes[r["neighbor_id"]][j]]) for j in range(8)])
        assert abs(r["adc_score"] - float(qu @ recon)) < 1e-9


def test_pq_adc_recall_and_lloyd_gain(spark, embeddings):
    """Recall floor vs the exact ranking (ss05 policy) and the training
    property: Lloyd-refined codebooks must not lose to the raw sample
    fit (measured 0.23 -> 0.32 top-5 recall at m=16 on the fixture —
    random vectors are PQ's worst case, no cluster structure)."""
    q = embeddings.filter(F.col("vec_id") % 20 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(embeddings, q, "embedding", "vec_id", k=5).collect()
    }

    def recall(books):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in S.pq_adc_topk(
                embeddings, q, "embedding", "vec_id", k=5,
                num_cells=1, nprobe=1, codebooks=books,
            ).collect()
        }
        return len(approx & exact) / len(exact)

    sample = recall(S.pq_codebooks(embeddings, "embedding", "vec_id", m=16, ksub=16))
    lloyd = recall(
        S.pq_codebooks(embeddings, "embedding", "vec_id", m=16, ksub=16, lloyd_iters=2)
    )
    assert lloyd >= 0.25
    assert lloyd >= sample


def test_pq_adc_ivf_probes_subset_of_flat(spark, embeddings):
    """IVF-PQ results are always drawn from the flat-ADC candidate pool:
    every (query, neighbor) the celled search returns must carry the
    same ADC score the flat search assigns it."""
    books = S.pq_codebooks(embeddings, "embedding", "vec_id", m=8, ksub=16)
    q = embeddings.filter(F.col("vec_id") % 100 == 0)
    flat = {
        (r["query_id"], r["neighbor_id"]): r["adc_score"]
        for r in S.pq_adc_topk(
            embeddings, q, "embedding", "vec_id", k=50,
            num_cells=1, nprobe=1, codebooks=books,
        ).collect()
    }
    ivf = S.pq_adc_topk(
        embeddings, q, "embedding", "vec_id", k=5,
        num_cells=8, nprobe=3, codebooks=books,
    ).collect()
    assert len(ivf) > 0
    hits = [p for p in ivf if (p["query_id"], p["neighbor_id"]) in flat]
    assert all(flat[(p["query_id"], p["neighbor_id"])] == p["adc_score"] for p in hits)


def test_pq_codebooks_rejects_ksub_beyond_int8(spark, embeddings):
    """ksub > 127 would silently wrap the persisted int8 codes and
    corrupt ADC scoring — it must fail loudly (code-review r9)."""
    with pytest.raises(ValueError, match="ksub"):
        S.pq_codebooks(embeddings, "embedding", "vec_id", m=8, ksub=256)
    import numpy as np

    with pytest.raises(ValueError, match="127"):
        S._pq_codes_for(np.zeros((2, 64)), [np.zeros((200, 8))])


def test_pq_index_incremental_equals_from_scratch(spark, embeddings, tmp_path):
    """The persisted IVF-PQ index (ss09 pattern): base ingest freezes
    centroids + codebooks and commits its rows; the delta routes+encodes
    with the SAME frozen quantizers and appends. The two-commit table
    must be row-identical to a from-scratch build of the full corpus —
    the property that makes PQ index maintenance cost ∝ delta."""
    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    base = embeddings.filter(F.col("vec_id") % 2 == 0)
    delta = embeddings.filter(F.col("vec_id") % 2 == 1)
    cents = S._seeded_centroids(base, "embedding", "vec_id", 8, seed=42)
    books = S.pq_codebooks(base, "embedding", "vec_id", m=8, ksub=16)

    table = SnapshotTable(spark, str(tmp_path / "pq_index"))
    table.append(S.pq_index_rows(base, "embedding", "vec_id", cents, books))
    table.append(S.pq_index_rows(delta, "embedding", "vec_id", cents, books))
    assert len(table.snapshots()) == 2  # genuinely incremental

    def rows(df):
        return {
            r["vec_id"]: (r["cell"], tuple(r["pq_code"])) for r in df.collect()
        }

    # count first: the dict keying below would silently collapse
    # duplicated ids, so row-identity needs both checks
    assert table.read().count() == embeddings.count()
    scratch = rows(S.pq_index_rows(embeddings, "embedding", "vec_id", cents, books))
    assert rows(table.read()) == scratch


def test_mmr_rerank_composes_with_pq_candidate_stage(spark, embeddings):
    """Two-stage retrieve-then-rerank with IVF-PQ as the candidate
    stage: pq_adc_topk slots into mmr_rerank's `topk` hook (the ss13
    pattern with a ~32x-compressed first stage). The reranker only
    needs (query_id, neighbor_id, cosine) — ADC scores serve as the
    relevance, and the output contract is unchanged."""
    books = S.pq_codebooks(embeddings, "embedding", "vec_id", m=16, ksub=16)

    def pq_topk(cand, qry):
        return S.pq_adc_topk(
            cand, qry, "embedding", "vec_id", k=8,
            num_cells=8, nprobe=3, codebooks=books,
        ).withColumnRenamed("adc_score", "cosine")

    q = embeddings.filter(F.col("vec_id") % 100 == 0)
    out = S.mmr_rerank(embeddings, q, "embedding", "vec_id", k=3, pool=8, topk=pq_topk)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["mmr_rank"])
    assert by_q and all(sorted(v) == [1, 2, 3] for v in by_q.values())
