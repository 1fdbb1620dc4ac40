"""Similarity search over embedding columns (array<float>).

Two paths, per SURVEY.md §2.D:
- :func:`cosine_topk` — brute-force exact top-k: broadcast the query set,
  score every (query, candidate) pair with a codegen'd dot product, take
  top-k per query with a rank-limited window. Exact; cost n_queries × n.
- :func:`lsh_topk` — the scale path: random-hyperplane buckets shrink the
  candidate set per query; same exact scoring within buckets
  (recall < 1, tunable with num_planes/probes).
- :func:`ivf_topk` — IVF-style: k-means-lite centroids (deterministic
  seeded sample), route each vector to nearest centroid, search only the
  query's nprobe nearest cells.

Vector math comes in two deliberately different implementations:
``zip_with``+``aggregate`` JVM expressions (no Python anywhere), and
:func:`numpy_cosine_topk` — Arrow-batched float64 GEMM via mapInPandas,
measured ~2.5× faster than the JVM expression path on 64-dim vectors
(dense linear algebra is the one workload where a vectorized Python
batch beats codegen'd per-element expressions; both produce identical
rankings, pinned by the shared DuckDB oracle). At 100 TB the embedding
table is the big side and is never shuffled by these operators: queries
broadcast (or ship in the UDF closure), buckets/cells are computed
map-side, and per-batch partial top-k bounds what reaches the final
window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "dot_col",
    "norm_col",
    "cosine_sim_col",
    "hyperplane_bucket",
    "cosine_topk",
    "numpy_cosine_topk",
    "lsh_topk",
    "ivf_topk",
    "ivf_assignments",
    "quantize_embeddings",
    "quantized_cosine_topk",
    "pq_codebooks",
    "pq_encode",
    "pq_index_rows",
    "pq_adc_topk",
    "centroid_fixed_point",
    "semantic_dedup_pairs",
    "hard_negatives",
    "margin_mining",
    "mmr_rerank",
    "hash_embedding",
]


def dot_col(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product of two array<double> columns.

    Default (dim=None): zip_with + left-fold — deterministic sequential
    summation, and measured FASTER than an unrolled form in real similarity
    joins (unrolled per-element getItem loses to the HOF's single array
    traversal once the expression sits inside a join+filter stage).
    ``dim`` keeps the unrolled balanced-tree variant available for narrow
    vectors / standalone projections where it measures ahead."""
    if dim is not None:
        terms = [a[i] * b[i] for i in range(dim)]
        while len(terms) > 1:
            terms = [
                terms[j] + terms[j + 1] if j + 1 < len(terms) else terms[j]
                for j in range(0, len(terms), 2)
            ]
        return terms[0]
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def unit_vec(col: Column) -> Column:
    """L2-normalized copy of an array<double> column (zero vectors pass
    through unchanged). Normalizing each side ONCE turns per-pair cosine
    into a bare dot product — at n_pairs ≫ n_vectors this is the dominant
    cost of any similarity join, so all operators here score unit vectors."""
    n = norm_col(col)
    return F.when(n == 0, col).otherwise(F.transform(col, lambda x: x / n))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _plane_literals(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes — generated driver-side with a
    seeded numpy generator and inlined as literals (no RNG state reaches
    executors). Gaussian components make the planes uniformly distributed
    on the sphere, the correct construction for angular LSH."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def hyperplane_bucket(vec: Column, num_planes: int = 8, seed: int = 42, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id: one bit per plane = sign(v·p)."""
    # HOF dot (zip_with+aggregate), NOT unrolled: buckets are computed once
    # per vector (cheap side), and unrolling num_planes × dim terms into a
    # single projection overflows JVM codegen's method-size limit, forcing
    # interpreted evaluation — measured 2× slower end-to-end.
    planes = _plane_literals(dim, num_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot_col(vec, plane_col) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit * (1 << i)
    return bucket


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    embedding_col: str,
    id_col: str,
    query_id_col: str | None = None,
    k: int = 10,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    queries is expected to be small (it is broadcast); candidates can be
    arbitrarily large — scoring is map-side only, and the per-query top-k
    window runs after a shuffle on query id (bounded by n_queries·k with
    WindowGroupLimit pushdown)."""
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), unit_vec(_as_double(F.col(embedding_col))).alias("_qvec")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), unit_vec(_as_double(F.col(embedding_col))).alias("_cvec")
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", dot_col(F.col("_qvec"), F.col("_cvec"), dim)
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    embedding_col: str,
    id_col: str,
    k: int = 10,
    num_planes: int = 6,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane-bucket both sides, score only bucket
    collisions. One equi-join shuffle on bucket id instead of a full cross
    product — the 1000-executor path for large query sets."""
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), unit_vec(_as_double(F.col(embedding_col))).alias("_cvec")
    ).withColumn("_bucket", hyperplane_bucket(F.col("_cvec"), num_planes, seed))
    q = queries.select(
        F.col(id_col).alias("query_id"), unit_vec(_as_double(F.col(embedding_col))).alias("_qvec")
    ).withColumn("_bucket", hyperplane_bucket(F.col("_qvec"), num_planes, seed))
    scored = c.join(q, "_bucket").withColumn(
        "cosine", dot_col(F.col("_qvec"), F.col("_cvec"), dim)
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def numpy_cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    embedding_col: str,
    id_col: str,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact brute-force top-k via Arrow-batched numpy matmul
    (``mapInPandas``) — the "UDF as fast path done right" variant of
    :func:`cosine_topk` for wide vectors.

    The query matrix is collected once (queries are small by contract) and
    ships inside the serialized closure; each candidate Arrow batch scores
    against it with one float64 GEMM and emits only its per-batch top-k
    rows per query, so the shuffle into the final global top-k window is
    bounded by batches × queries × k — never batch_rows × queries."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(F.col(id_col), F.col(embedding_col)).collect()
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(q_mat, axis=1)
    q_norms[q_norms == 0] = 1.0
    q_unit = (q_mat / q_norms[:, None]).T  # dim × nq

    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(embedding_col).alias("_vec")
    )
    out_schema = "query_id long, neighbor_id long, cosine double"

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            mat = np.array(list(pdf["_vec"]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            scores = (mat / norms[:, None]) @ q_unit  # n_batch × nq
            # k+1 per batch when excluding self: the query's own vector may
            # hold one of the k slots in its home batch.
            top = min(k + (1 if exclude_self else 0), len(ids))
            part = np.argpartition(-scores, top - 1, axis=0)[:top]  # top × nq
            out = {
                "query_id": np.repeat(q_ids, top),
                "neighbor_id": ids[part].T.ravel(),
                "cosine": np.take_along_axis(scores, part, axis=0).T.ravel(),
            }
            yield pd.DataFrame(out)

    scored = c.mapInPandas(score, out_schema)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _seeded_centroids(
    df: DataFrame, embedding_col: str, id_col: str, num_cells: int, seed: int
) -> list[list[float]]:
    """Deterministic "k-means-lite" centroids: ``num_cells`` unit vectors
    taken in seeded-hash order (collected once — tiny by construction).
    Shared by :func:`ivf_topk` (search) and :func:`semantic_dedup_pairs`
    (dedup) so both see identical cells.

    Only the ``num_cells`` raw vectors are collected; they are normalized
    here by :func:`_spark_unit`, bit-identical to ``unit_vec(_as_double())``
    but without running that per-element lambda on every row before the
    top-k.

    A null vector, or one with a null (or NaN) element, never seeds: it
    has no direction, and :func:`_route_cells` routes it to no cell."""
    seeds = df.select(F.col(id_col).alias("cid"), F.col(embedding_col).alias("cv"))

    def top(d: DataFrame) -> list:
        return d.orderBy(F.xxhash64(F.col("cid") + seed)).limit(num_cells).collect()

    cents = top(seeds)
    if any(r["cv"] is None or any(x is None or x != x for x in r["cv"]) for r in cents):
        # Only then pay for the filter: its per-element lambda runs on
        # every row (measured +23 % on dd11's centroid collect at sf0.01).
        cents = top(seeds.filter(F.forall("cv", lambda x: x.isNotNull() & ~F.isnan(x))))
    return [list(_spark_unit(row["cv"])) for row in cents]


def _spark_unit(vec: list) -> list:
    """Driver-side twin of ``unit_vec(_as_double(col))`` for one collected
    array without nulls, with Spark's exact arithmetic: elements widen to
    double (exact for float), the norm is the sequential fold
    ``acc + x*x`` from 0.0 then ``sqrt`` (not ``np.linalg.norm``, not a
    compensated ``sum``), and each element is divided by it. A zero-norm
    vector passes through."""
    import math

    xs = [float(x) for x in vec]
    acc = 0.0
    for x in xs:
        acc = acc + x * x
    n = math.sqrt(acc)
    if n == 0:
        return xs
    return [x / n for x in xs]


def _derived_num_cells(n_rows: int, target_cell_size: int) -> int:
    """Scale-honest default cell count: enough cells that an evenly-spread
    corpus puts ~``target_cell_size`` rows in each (floor 16 so tiny/test
    corpora keep the old behavior). A FIXED cell count is the footgun this
    replaces: at 16 cells, pair work in :func:`semantic_dedup_pairs` is
    ~n²/16 and the ``max_cell_size`` skew guard silently drops most cells
    at corpus scale — near-zero recall that looks like success."""
    import math

    return max(16, math.ceil(n_rows / max(1, target_cell_size)))


def _unit_centroids(cent_rows: list[list[float]]):
    """``(dim, cells)`` transposed unit-row centroid matrix — the one
    renormalized router every cell-routing path shares (zero-norm
    centroids pass through unnormalized, matching the expression
    semantics this numpy path replaced)."""
    import numpy as np

    C = np.asarray(cent_rows, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    return (C / cn[:, None]).T


def _whole_vectors(pdf):
    """``(rows, V)`` for an Arrow batch with a ``_v`` vector column: the
    rows whose vector is non-null with no null element, and their stacked
    float64 matrix. A null element reaches pandas as NaN, so a NaN
    element drops its row too. Every numpy batch path goes through here,
    so such a vector routes to no cell and gets no code."""
    import numpy as np

    present = pdf["_v"].notna().to_numpy()
    if not present.all():
        pdf = pdf[present]
    if not len(pdf):
        return pdf, None
    V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
    whole = ~np.isnan(V).any(axis=1)
    if whole.all():
        return pdf, V
    return pdf[whole], V[whole]


def _route_cells(src: DataFrame, cent_rows: list[list[float]], nprobe: int = 1) -> DataFrame:
    """Route ``(_id, _v array<double>)`` rows to their ``nprobe`` nearest
    centroid cells via one numpy GEMM per Arrow batch, emitting
    ``(_id, _v unit-normalized, _cell)`` — one row per probed cell.

    Map-side only (no shuffle); the centroid matrix ships in the task
    closure. This is the scale path for routing: a Catalyst-expression
    router inlines O(num_cells × dim) literals into the plan, which at
    IVF-realistic cell counts (2^10+) explodes analysis/codegen time —
    measured 12s vs <1s on the dd11 bench entry at just 16×64. Ties route
    to the lowest cell id (stable argsort), and zero vectors pass through
    unnormalized and land in cell 0 — both matching the expression
    semantics this replaced. A null vector, or one with a null element,
    emits no row (:func:`_whole_vectors`)."""
    import numpy as np
    import pandas as pd

    CT = _unit_centroids(cent_rows)  # (dim, cells)

    id_field = src.schema["_id"]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("_v", T.ArrayType(T.DoubleType())),
            T.StructField("_cell", T.IntegerType()),
        ]
    )

    def route(batches):
        for pdf in batches:
            pdf, V = _whole_vectors(pdf)
            if not len(pdf):
                continue
            n = np.linalg.norm(V, axis=1)
            n[n == 0] = 1.0
            U = V / n[:, None]
            D = U @ CT
            if nprobe == 1:
                # argmax returns the first max → lowest cell id on ties
                yield pd.DataFrame(
                    {
                        "_id": pdf["_id"].to_numpy(),
                        "_v": [u.tolist() for u in U],
                        "_cell": D.argmax(axis=1).astype("int32"),
                    }
                )
            else:
                order = np.argsort(-D, axis=1, kind="stable")[:, :nprobe]
                rows = np.repeat(np.arange(len(pdf)), order.shape[1])
                yield pd.DataFrame(
                    {
                        "_id": pdf["_id"].to_numpy()[rows],
                        "_v": [U[i].tolist() for i in rows],
                        "_cell": order.reshape(-1).astype("int32"),
                    }
                )

    return src.mapInPandas(route, out_schema)


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    embedding_col: str,
    id_col: str,
    k: int = 10,
    num_cells: int | None = None,
    nprobe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
    target_cell_size: int = 10_000,
) -> DataFrame:
    """IVF-flat approximate top-k: partition vectors into Voronoi cells
    around deterministic sampled centroids; probe the query's ``nprobe``
    nearest cells.

    Centroids are a seeded deterministic sample (id-hash order) collected
    once — centroid count is tiny and ships in the router's task closure;
    the big table is routed map-side by one GEMM per Arrow batch
    (:func:`_route_cells`), then shuffled once on cell id.

    ``num_cells=None`` (default) derives the cell count from a one-time
    corpus count targeting ~``target_cell_size`` vectors per cell
    (:func:`_derived_num_cells`) — per-query scan work then stays
    ``nprobe × target_cell_size`` regardless of corpus size, instead of
    a fixed 16-way split that degenerates to near-full scans at scale."""
    if num_cells is None:
        num_cells = _derived_num_cells(candidates.count(), target_cell_size)
    cents = _seeded_centroids(candidates, embedding_col, id_col, num_cells, seed)
    vcol = _as_double(F.col(embedding_col))
    c = _route_cells(
        candidates.select(F.col(id_col).alias("_id"), vcol.alias("_v")), cents, 1
    ).select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("_cvec"), "_cell")
    q = _route_cells(
        queries.select(F.col(id_col).alias("_id"), vcol.alias("_v")), cents, nprobe
    ).select(F.col("_id").alias("query_id"), F.col("_v").alias("_qvec"), "_cell")
    scored = c.join(q, "_cell").withColumn(
        "cosine", dot_col(F.col("_qvec"), F.col("_cvec"), dim)
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    # No .distinct() needed: each candidate lives in exactly one cell and a
    # query's probed cells are distinct, so (query_id, neighbor_id) joins at
    # most once — a distinct here would just add a full result-set shuffle.
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_assignments(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    cents: list[list[float]],
) -> DataFrame:
    """``(id_col, cell)`` nearest-centroid assignments — the PERSISTED IVF
    index rows. Splitting this out of :func:`ivf_topk` is what makes the
    index incrementally maintainable: build centroids once from the base
    ingest, commit assignments as a table, and on every append route ONLY
    the new vectors with the SAME frozen centroids — maintenance cost is
    proportional to the delta, never the corpus (re-deriving centroids
    from the grown corpus would silently reassign history and invalidate
    every stored cell). Map-side GEMM routing, no shuffle."""
    vcol = _as_double(F.col(embedding_col))
    return _route_cells(
        df.select(F.col(id_col).alias("_id"), vcol.alias("_v")), cents, 1
    ).select(F.col("_id").alias(id_col), F.col("_cell").alias("cell"))


def quantize_embeddings(
    df: DataFrame, embedding_col: str, *, out_col: str = "qvec", scale_col: str = "qscale"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = round(v / scale)``
    with ``scale = max|v| / 127``, emitted as ``array<tinyint>`` + one
    double scale per row.

    The 100 TB storage/shuffle lever for vector workloads: 4× smaller than
    float32 on disk and on the wire, and integer dot products in place of
    float ones. Dequantization is ``q * scale``; cosine between quantized
    unit vectors needs no dequantization at all (see
    :func:`quantized_cosine_topk`)."""
    v = _as_double(F.col(embedding_col))
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0), F.lit(1e-30)
    )
    qvec = F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
    return df.withColumn(scale_col, scale).withColumn(out_col, qvec)


def _int_dot(a: Column, b: Column) -> Column:
    # tinyint*tinyint would overflow tinyint under ANSI; widen per element,
    # accumulate in long.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    embedding_col: str,
    id_col: str,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k cosine over int8-quantized unit vectors.

    Both sides are unit-normalized then quantized, so
    ``cos ≈ (qa·qb) · sa · sb`` — an integer dot product plus one float
    multiply; error is O(1/127) per coordinate. Same broadcast/window
    shape as :func:`cosine_topk`; recall vs the exact ranking is pinned in
    tests/test_operators.py. Returns (query_id, neighbor_id, qcosine, rank).
    """
    q = quantize_embeddings(
        queries.select(
            F.col(id_col).alias("query_id"),
            unit_vec(_as_double(F.col(embedding_col))).alias("_u"),
        ),
        "_u",
        out_col="_qq",
        scale_col="_qs",
    ).drop("_u")
    c = quantize_embeddings(
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            unit_vec(_as_double(F.col(embedding_col))).alias("_u"),
        ),
        "_u",
        out_col="_cq",
        scale_col="_cs",
    ).drop("_u")
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "qcosine",
        (_int_dot(F.col("_cq"), F.col("_qq")) * F.col("_cs") * F.col("_qs")),
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.col("qcosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qcosine", "rank")
    )


def pq_codebooks(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    m: int = 8,
    ksub: int = 16,
    seed: int = 7,
    lloyd_iters: int = 0,
    fixed_point_scale: int = 1_000_000,
) -> list[list[list[float]]]:
    """Sample-fit product-quantization codebooks (Jégou, Douze & Schmid
    2011, "Product quantization for nearest neighbor search"): split the
    ``dim`` space into ``m`` contiguous subspaces of ``dim/m`` and give
    each subspace a ``ksub``-entry codebook. Real PQ trains per-subspace
    k-means; here the SEED codewords are the matching subvectors of the
    first ``ksub`` unit vectors in seeded-hash order — the same
    deterministic sample-fit construction :func:`ivf_topk` uses for its
    coarse centroids, which is what keeps the whole index SQL-replayable
    (the DuckDB oracle rebuilds the identical codebooks from the corpus).

    ``lloyd_iters > 0`` refines each codebook with that many Lloyd
    (k-means) steps: deterministic argmin assignment (ties → lowest
    code) followed by a FIXED-POINT centroid mean — each element floored
    to ``1/fixed_point_scale`` units and summed as exact integers
    (:func:`centroid_fixed_point`'s trick), so the refined books are
    bit-identical under any partitioning, unlike a float mean whose
    distributed summation order is nondeterministic. Each step is one
    map-side encode plus one ``m·ksub·dsub``-key aggregation
    (cardinality independent of corpus size); empty cells keep their
    previous codeword. Measured on the random-embedding fixture: 1–2
    steps at m=16 raise top-5 recall ~0.36 → ~0.64 (random vectors are
    PQ's worst case — no cluster structure to exploit; real corpora do
    better). At 100 TB, fit books on a deterministic sample
    (:func:`~.splits.sample_deterministic`) rather than the full
    corpus — the books are frozen index metadata, not per-row state.

    Returns ``[m][ksub][dim/m]`` nested lists (collected once — tiny by
    construction, ships in task closures)."""
    if not 1 <= ksub <= 127:
        # codes persist as signed int8 (array<tinyint>); 128+ would wrap
        # silently and corrupt the index. The canonical 256-entry setting
        # needs a wider code dtype — widen ByteType before raising this.
        raise ValueError(f"ksub must be in [1, 127] for int8 codes (got {ksub})")
    samples = _seeded_centroids(df, embedding_col, id_col, ksub, seed)
    if not samples:
        raise ValueError("pq_codebooks: empty corpus")
    dim = len(samples[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = [[list(s[j * dsub : (j + 1) * dsub]) for s in samples] for j in range(m)]
    for _ in range(lloyd_iters):
        books = _pq_lloyd_step(df, embedding_col, books, fixed_point_scale)
    return books


def _pq_lloyd_step(
    df: DataFrame,
    embedding_col: str,
    codebooks: list[list[list[float]]],
    scale: int,
) -> list[list[list[float]]]:
    """One deterministic Lloyd refinement: encode map-side (numpy per
    Arrow batch), emit per-batch partial integer sums keyed by
    (subspace, code, element) — ``m·ksub·dsub`` rows per batch, never
    the corpus — aggregate the exact fixed-point sums in one small
    shuffle, divide driver-side. int64 headroom: per-element
    |floor(x·scale)| ≤ scale for unit vectors, so overflow needs
    ~2^63/scale ≈ 9e12 rows per cell at the default scale — lower
    ``fixed_point_scale`` beyond that."""
    import numpy as np
    import pandas as pd

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m_real = len(books)
    ksub_real = books[0].shape[0]
    dsub = books[0].shape[1]
    src = df.select(_as_double(F.col(embedding_col)).alias("_v"))

    def partials(batches):
        for pdf in batches:
            pdf, V = _whole_vectors(pdf)
            if not len(pdf):
                continue
            U = _seq_unit_rows(V)
            codes = _pq_codes_for(U, books)
            out = []
            for j in range(m_real):
                X = np.floor(U[:, j * dsub : (j + 1) * dsub] * scale).astype("int64")
                for c in range(ksub_real):
                    sel = X[codes[:, j] == c]
                    if not len(sel):
                        continue
                    s = sel.sum(axis=0)
                    for t in range(dsub):
                        out.append((j, c, t, int(s[t]), len(sel)))
            yield pd.DataFrame(out, columns=["j", "code", "t", "s", "cnt"])

    rows = (
        src.mapInPandas(partials, "j int, code int, t int, s long, cnt long")
        .groupBy("j", "code", "t")
        .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
        .collect()
    )
    new_books = [b.copy() for b in books]
    for r in rows:
        new_books[r["j"]][r["code"], r["t"]] = r["s"] / (scale * r["cnt"])
    return [b.tolist() for b in new_books]


def _seq_unit_rows(V):
    """Unit-normalize a (n, dim) float64 matrix with a SEQUENTIAL
    left-fold norm accumulation — bit-identical to :func:`unit_vec` /
    the oracle's ``sqrt(list_sum(...))`` (numpy's pairwise-tree ``sum``
    is NOT; zero vectors pass through unchanged, same contract)."""
    import numpy as np

    acc = np.zeros(len(V))
    for t in range(V.shape[1]):
        acc = acc + V[:, t] * V[:, t]
    n = np.sqrt(acc)
    n[n == 0] = 1.0
    return V / n[:, None]


def _pq_codes_for(U, books):
    """(n, m) int8 PQ codes for unit rows ``U``: per subspace, argmin of
    the squared distance to each codeword, accumulated sequentially per
    element so the d² values — and therefore tie-breaks (first min =
    lowest code) — replay bit-for-bit in the SQL oracle."""
    import numpy as np

    if any(C.shape[0] > 127 for C in books):
        # guard externally-built books too, not just pq_codebooks' own
        raise ValueError("PQ codebooks exceed 127 entries — int8 codes would wrap")
    codes = np.empty((len(U), len(books)), dtype=np.int8)
    for j, C in enumerate(books):
        dsub = C.shape[1]
        acc = np.zeros((len(U), C.shape[0]))
        for t in range(dsub):
            diff = U[:, j * dsub + t][:, None] - C[None, :, t]
            acc = acc + diff * diff
        codes[:, j] = np.argmin(acc, axis=1)
    return codes


def _pq_luts_for(U, books):
    """(n, m*ksub) asymmetric-distance lookup tables for unit query rows:
    entry ``j*ksub + c`` is ``q_subvec_j · codeword_{j,c}``, accumulated
    sequentially per element (bit-matches the oracle's per-term
    ``list_sum`` fold)."""
    import numpy as np

    outs = []
    for j, C in enumerate(books):
        dsub = C.shape[1]
        acc = np.zeros((len(U), C.shape[0]))
        for t in range(dsub):
            acc = acc + U[:, j * dsub + t][:, None] * C[None, :, t]
        outs.append(acc)
    return np.concatenate(outs, axis=1)


def pq_encode(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    codebooks: list[list[list[float]]],
    out_col: str = "pq_code",
) -> DataFrame:
    """``(id_col, pq_code array<tinyint>)`` — the PERSISTED compressed
    vector index. At m=8 over 64-dim float32 that is 8 bytes per vector
    vs 256 — ~32× smaller, the order-of-magnitude memory lever real
    100 TB vector stores run (int8 :func:`quantize_embeddings` stops at
    4×). Vectors are unit-normalized then coded map-side (one bounded
    numpy pass per Arrow batch, frozen codebooks in the closure — no
    shuffle, same incremental-maintenance contract as
    :func:`ivf_assignments`: appends route with the SAME books, cost ∝
    delta)."""
    import numpy as np
    import pandas as pd

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    src = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(embedding_col)).alias("_v")
    )
    id_field = src.schema["_id"]
    out_schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType),
            T.StructField(out_col, T.ArrayType(T.ByteType())),
        ]
    )

    def encode(batches):
        for pdf in batches:
            pdf, V = _whole_vectors(pdf)
            if not len(pdf):
                continue
            codes = _pq_codes_for(_seq_unit_rows(V), books)
            yield pd.DataFrame({"_id": pdf["_id"].to_numpy(), out_col: list(codes)})

    return src.mapInPandas(encode, out_schema).withColumnRenamed("_id", id_col)


def pq_index_rows(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    cents: list[list[float]],
    codebooks: list[list[list[float]]],
    out_code_col: str = "pq_code",
) -> DataFrame:
    """``(id_col, cell, pq_code)`` — the PERSISTED IVF-PQ index rows,
    the PQ analog of :func:`ivf_assignments`: freeze centroids + books
    from the base ingest, commit these rows as a catalog table, and on
    every append route+encode ONLY the delta with the SAME frozen
    coarse/fine quantizers — maintenance cost ∝ delta, and the stored
    index is ~dim·4/m× smaller than the vectors it stands for. One
    map-side numpy pass per Arrow batch (no shuffle); incremental ==
    from-scratch equality is pinned in tests. :func:`pq_adc_topk` uses
    this same routine for its candidate side, so a search served from
    the persisted table is identical to an in-flight encode."""
    import numpy as np
    import pandas as pd

    if id_col in ("cell", out_code_col):
        raise ValueError(
            f"id_col {id_col!r} collides with an index output column "
            f"('cell', {out_code_col!r}) — rename the id or the code column"
        )
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    CT = _unit_centroids(cents)  # same renormalized router as _route_cells

    src = df.select(
        F.col(id_col).alias("_id"), _as_double(F.col(embedding_col)).alias("_v")
    )
    id_field = src.schema["_id"]
    out_schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField(out_code_col, T.ArrayType(T.ByteType())),
        ]
    )

    def route_encode(batches):
        for pdf in batches:
            pdf, V = _whole_vectors(pdf)
            if not len(pdf):
                continue
            U = _seq_unit_rows(V)
            cells = (U @ CT).argmax(axis=1).astype("int32")  # first max = lowest cell
            codes = _pq_codes_for(U, books)
            yield pd.DataFrame(
                {"_id": pdf["_id"].to_numpy(), "cell": cells, out_code_col: list(codes)}
            )

    return src.mapInPandas(route_encode, out_schema).withColumnRenamed("_id", id_col)


def pq_adc_topk(
    candidates: DataFrame,
    queries: DataFrame,
    embedding_col: str,
    id_col: str,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    codebook_seed: int = 7,
    num_cells: int | None = None,
    nprobe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    target_cell_size: int = 10_000,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k with asymmetric-distance scoring (ADC,
    Jégou et al. 2011): candidates are coarse-routed to IVF cells and
    stored ONLY as ``m``-byte PQ codes; each query keeps its exact unit
    vector, precomputes an ``m × ksub`` lookup table of
    ``q_subvec · codeword`` dots, and scores a candidate as the sum of
    ``m`` table lookups — ``O(m)`` per pair instead of ``O(dim)``,
    against vectors ~32× smaller than float32.

    Scale shape (the 100 TB ANN path): codebooks and centroids are tiny
    seeded samples collected once; the corpus side is routed AND encoded
    in one map-side numpy pass per Arrow batch (never shuffled on
    vectors — only ``(id, cell, m-byte code)`` rows move); queries carry
    their LUT as one ``m·ksub``-double array; the only shuffle keys on
    cell id, and scoring is a JVM-side fold of ``element_at`` lookups —
    no Python in the per-pair hot path. Per-query scan work is
    ``nprobe × target_cell_size`` codes regardless of corpus size.

    Determinism contract: every float the RANKING depends on (unit
    norms, d² code assignment, LUT entries, the ADC fold) is computed
    with sequential left-fold accumulation so the DuckDB oracle replays
    scores bit-for-bit; identical vectors get identical codes, and score
    ties break to the smallest neighbor_id in both engines. Recall vs
    the exact ranking is pinned in tests/test_operators.py (same policy
    as ss05); ``rank``/ids are the gated output, scores are carried as
    ``adc_score`` for inspection."""
    if codebooks is None:
        codebooks = pq_codebooks(
            candidates, embedding_col, id_col, m, ksub, codebook_seed
        )
    import numpy as np
    import pandas as pd

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m_real = len(books)
    ksub_real = books[0].shape[0]
    if num_cells is None:
        num_cells = _derived_num_cells(candidates.count(), target_cell_size)
    cents = _seeded_centroids(candidates, embedding_col, id_col, num_cells, seed)
    CT = _unit_centroids(cents)  # same renormalized router as _route_cells

    vcol = _as_double(F.col(embedding_col))

    def _src(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col).alias("_id"), vcol.alias("_v"))

    # route through a collision-proof internal id so id_col may be
    # anything (incl. "cell"/"pq_code", which pq_index_rows' own output
    # contract reserves)
    c = pq_index_rows(
        candidates.select(F.col(id_col).alias("_pq_id"), vcol.alias("_pq_v")),
        "_pq_v",
        "_pq_id",
        cents,
        codebooks,
    ).select(
        F.col("_pq_id").alias("neighbor_id"),
        F.col("cell").alias("_cell"),
        F.col("pq_code").alias("_code"),
    )

    qry_src = _src(queries)
    qid_field = qry_src.schema["_id"]
    qry_schema = T.StructType(
        [
            T.StructField(qid_field.name, qid_field.dataType),
            T.StructField("_cell", T.IntegerType()),
            T.StructField("_lut", T.ArrayType(T.DoubleType())),
        ]
    )

    def route_luts(batches):
        for pdf in batches:
            pdf, V = _whole_vectors(pdf)
            if not len(pdf):
                continue
            U = _seq_unit_rows(V)
            order = np.argsort(-(U @ CT), axis=1, kind="stable")[:, :nprobe]
            luts = _pq_luts_for(U, books)
            rows = np.repeat(np.arange(len(pdf)), order.shape[1])
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy()[rows],
                    "_cell": order.reshape(-1).astype("int32"),
                    "_lut": [luts[i] for i in rows],
                }
            )

    q = qry_src.mapInPandas(route_luts, qry_schema).select(
        F.col("_id").alias("query_id"), "_cell", "_lut"
    )

    # ADC: sequential fold over the m code lookups — all JVM expression
    # work (element_at into the query's LUT array), no Python per pair.
    lut = F.col("_lut")
    adc = F.aggregate(
        F.zip_with(
            F.col("_code"),
            F.sequence(F.lit(0), F.lit(m_real - 1)),
            lambda cc, j: F.element_at(
                lut, (j * F.lit(ksub_real) + cc.cast("int") + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = c.join(q, "_cell").withColumn("adc_score", adc)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.col("adc_score").desc(), F.col("neighbor_id"))
    # No distinct: a candidate lives in exactly one cell and a query's
    # probed cells are distinct (same argument as ivf_topk).
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_score", "rank")
    )


def centroid_fixed_point(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group centroid accumulation in fixed point: each component is
    floored to ``1/scale`` units and summed as exact integers, yielding
    ``(group, dim, comp_sum, n)``.

    Why fixed point: float summation is order-dependent, so a distributed
    centroid differs run to run (and engine to engine) in the last bits —
    poison for cached/checkpointed pipelines that compare stage outputs.
    Integer sums are associative-exact under any partitioning; the caller
    divides ``comp_sum / (scale * n)`` for the real-valued centroid with a
    bounded, deterministic quantization error (≤ 1/scale per element).

    Shape: posexplode → map-side partial sums → one shuffle keyed by
    (group, dim) — cardinality #groups × dim, independent of corpus size.
    """
    return (
        df.select(F.col(group_col).alias("grp"), F.posexplode(vec_col).alias("dim", "_x"))
        .groupBy("grp", "dim")
        .agg(
            F.sum(F.floor(F.col("_x").cast("double") * scale).cast("long")).alias("comp_sum"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def semantic_dedup_pairs(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    threshold: float = 0.9,
    num_cells: int | None = None,
    seed: int = 42,
    max_cell_size: int = 100_000,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dedup over an embedding column
    (cluster-then-compare, after Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    route every unit vector to its nearest deterministic centroid (the
    same seeded cells as :func:`ivf_topk`), self-join *within cells only*,
    and emit pairs with cosine ≥ ``threshold``.

    Scale shape: centroid routing is map-side (one GEMM per Arrow batch,
    :func:`_route_cells`); the only shuffle keys on cell id; pair work is
    Σ|cell|² instead of n² — the paper's reason for clustering first.  Cells larger
    than ``max_cell_size`` are dropped (skew guard, same contract as the
    LSH banding guard); identical embeddings always land in the same cell,
    so exact semantic duplicates are never missed by the partitioning.
    Cross-cell near-duplicates are the documented recall loss (raise
    ``num_cells`` resolution or re-run with a different seed to tighten).

    ``num_cells=None`` (default) derives the cell count from a one-time
    corpus count targeting ``max_cell_size / 10`` rows per cell
    (:func:`_derived_num_cells`), so pair work stays ~``n ×
    max_cell_size/10`` instead of n²/16, and the skew guard below stops
    being the de-facto (silent) recall ceiling. Cells it still drops are
    logged loudly — recall loss should be visible, never inferred — when
    the open query scope exits after the caller ran the plan
    (:func:`.cachectl.skew_guard_report`; the same contract as
    :func:`~..operators.dedup._capped_inverted_index`). Outside a scope
    the guard filters but reports nothing.

    Vectors that are null or hold a null element never seed a centroid
    and route to no cell (:func:`_route_cells`), so they pair with
    nothing.

    ``centroid_source`` (round 17, guide §2.4): an alternative DataFrame
    holding the SAME rows as ``df``, used only for the seeded-centroid
    top-k collect. Centroid selection is deterministic over row VALUES
    (global order by seeded hash), so partitioning never changes it —
    passing the raw scan when ``df`` has been repartitioned for routing
    parallelism spares the tiny collect job a pointless full exchange
    (measured ~0.5 s/pass on dd11's spread input at sf0.1).
    """
    cdf = centroid_source if centroid_source is not None else df
    if num_cells is None:
        num_cells = _derived_num_cells(cdf.count(), max(1, max_cell_size // 10))
    cents = _seeded_centroids(cdf, embedding_col, id_col, num_cells, seed)
    routed = _route_cells(
        df.select(F.col(id_col).alias("_id"), _as_double(F.col(embedding_col)).alias("_v")),
        cents,
        1,
    )
    # consumed three times (cell sizing + both self-join sides); a lazy
    # localCheckpoint computes the Python routing pass ONCE and shares the
    # RDD by identity across all three (round 16 — was a persist(), whose
    # plan-matching re-derived the Arrow routing stage per reference in
    # composed/AQE plans; same rationale as dd03's shingle table). Routed
    # through checkpoint_lazy (round 17) so an open query scope frees the
    # blocks and can watch them for the skew report.
    from .cachectl import checkpoint_lazy, skew_guard_report

    routed = checkpoint_lazy(routed)
    sizes = routed.groupBy("_cell").agg(F.count(F.lit(1)).alias("_csz"))
    skew_guard_report(
        routed,
        sizes.filter(F.col("_csz") > max_cell_size),
        "_csz",
        "semantic_dedup_pairs",
        "skew guard dropped %d cell(s) / %d row(s) over "
        f"max_cell_size={max_cell_size} — raise num_cells "
        f"(have {num_cells}) to recover recall",
    )
    routed = routed.join(
        F.broadcast(sizes.filter(F.col("_csz").between(2, max_cell_size))), "_cell"
    )
    a = routed.select("_cell", F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    b = routed.select("_cell", F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        a.join(b, "_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot_col(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hard_negatives(
    candidates: DataFrame,
    queries: DataFrame,
    embedding_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR, Karpukhin et
    al. 2020; Contriever): for each query vector, the ``k`` most
    cosine-similar candidates with a DIFFERENT label — the negatives an
    embedding model most confuses, which random in-batch negatives never
    surface. Returns ``(query_id, neighbor_id, cosine, rank)`` ranked
    among negatives only.

    Same scale shape as :func:`cosine_topk` — small query set broadcast,
    map-side scoring over arbitrarily many candidates, per-query top-k
    window with WindowGroupLimit pushdown — with the label inequality
    applied BEFORE the window so positives never occupy top-k slots. For
    corpus-scale query sets, mine per shard through :func:`ivf_topk`-style
    routing instead."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_qlabel"),
        unit_vec(_as_double(F.col(embedding_col))).alias("_qvec"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_clabel"),
        unit_vec(_as_double(F.col(embedding_col))).alias("_cvec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("_clabel") != F.col("_qlabel"))
        .withColumn("cosine", dot_col(F.col("_qvec"), F.col("_cvec"), dim))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def margin_mining(
    side_a: DataFrame,
    side_b: DataFrame,
    embedding_col: str,
    id_col: str,
    k: int = 4,
    threshold: float = 1.05,
    dim: int | None = None,
    topk=None,
) -> DataFrame:
    """Margin-based parallel-corpus mining (Artetxe & Schwenk 2019,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings" — the LASER/CCMatrix method): mine aligned pairs between
    two embedding sets by scoring each candidate pair with the RATIO
    margin ``cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)`` instead of
    raw cosine — absolute cosine is miscalibrated across regions of
    embedding space (hubs score high against everything), while the
    margin asks "how much better than x's and y's OTHER neighbors is
    this pair?". Candidates are the union of forward and backward
    nearest neighbors ("max" strategy); pairs clearing ``threshold``
    are returned.

    Determinism: the k-NN average is a rank-ordered sequential fold
    (sort_array over (rank, cosine) structs), never a float SUM in
    partition order, so the same input always yields bit-identical
    margins and the DuckDB oracle can replay them.

    Scale shape: two top-k passes (default :func:`cosine_topk`,
    broadcast query side), two bounded per-id aggregate tables (n_a·k
    and n_b·k rows), and id-keyed joins to assemble margins — the pair
    set never exceeds n_a + n_b candidate rows before the threshold
    filter. **Two LARGE sides** (the CCMatrix regime, where neither side
    broadcasts): pass ``topk`` — a callable ``(candidates, queries) ->
    (query_id, neighbor_id, cosine, rank)`` — backed by
    :func:`lsh_topk` or :func:`ivf_topk`; the margin algebra is
    identical over approximate neighbor sets (the k-NN average is then
    taken over the RETRIEVED neighborhood, the standard FAISS-backed
    CCMatrix construction), and candidate generation becomes one
    bucket/cell equi-join shuffle per direction instead of a broadcast
    cross product. Exercised by the ss11 registry entry; recall vs the
    exact miner is pinned in tests/test_operators.py. Pair dedupe
    groups on (id_a, id_b) and keeps MAX(cosine), so a pair surfacing
    in both directions collapses even when the two scoring paths don't
    produce bit-identical floats (they do for the default exact path;
    an approximate ``topk`` makes no such promise).

    Each top-k table feeds BOTH the k-NN average and the rank-1
    candidate branch, so both are persisted (bounded at n·k rows) —
    without the cache the dominant scoring join would run twice per
    direction. Caller owns the caches: the returned pair lineage pins
    them, and an open query scope (:class:`.cachectl.CacheRegistry`)
    releases exactly these two pins when it exits."""
    from .cachectl import pin

    if topk is None:
        def topk(cand: DataFrame, qry: DataFrame) -> DataFrame:
            return cosine_topk(
                cand, qry, embedding_col, id_col, k=k, exclude_self=False, dim=dim
            )

    fwd = pin(topk(side_b, side_a))
    bwd = pin(topk(side_a, side_b))

    def _avg(topk: DataFrame, out: str) -> DataFrame:
        return (
            topk.groupBy("query_id")
            .agg(F.sort_array(F.collect_list(F.struct("rank", "cosine"))).alias("_rc"))
            .select(
                "query_id",
                (
                    F.aggregate(
                        F.col("_rc"), F.lit(0.0), lambda acc, x: acc + x["cosine"]
                    )
                    / F.size("_rc")
                ).alias(out),
            )
        )

    avg_a = _avg(fwd, "_avg_a").withColumnRenamed("query_id", "id_a")
    avg_b = _avg(bwd, "_avg_b").withColumnRenamed("query_id", "id_b")
    cand = (
        fwd.filter(F.col("rank") == 1)
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cosine",
        )
        .unionByName(
            bwd.filter(F.col("rank") == 1).select(
                F.col("neighbor_id").alias("id_a"),
                F.col("query_id").alias("id_b"),
                "cosine",
            )
        )
        # mutual-best dedupe on the PAIR KEY, not the full row: with an
        # approximate `topk` the two directions may score the same pair
        # along different float paths, and a row-level distinct() would
        # keep both copies (ADVICE r7). MAX is direction-symmetric and a
        # no-op when the cosines are bit-identical (the exact path).
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )
    margin = F.col("cosine") / ((F.col("_avg_a") + F.col("_avg_b")) / 2)
    return (
        cand.join(avg_a, "id_a")
        .join(avg_b, "id_b")
        .withColumn("margin", margin)
        .filter(F.col("margin") >= threshold)
        .select("id_a", "id_b", "cosine", "margin")
    )


def mmr_rerank(
    candidates: DataFrame,
    queries: DataFrame,
    embedding_col: str,
    id_col: str,
    k: int = 5,
    pool: int = 12,
    lam: float = 0.7,
    dim: int | None = None,
    topk=None,
    broadcast_pool: bool = True,
) -> DataFrame:
    """Maximal Marginal Relevance diversity re-ranking (Carbonell &
    Goldstein 1998): for each query, greedily select ``k`` results from
    its top-``pool`` candidates, at every step taking the candidate that
    maximizes ``lam * cos(q, c) - (1 - lam) * max_{s in selected}
    cos(c, s)`` — relevant results that are NOT redundant with what is
    already selected. The standard diversity pass over retrieved
    training/RAG context (near-identical passages crowd out coverage;
    plain top-k returns them all).

    Two-stage scale shape: candidate generation is a normal top-k pass
    (default exact :func:`cosine_topk`; pass ``topk`` backed by
    :func:`lsh_topk` / :func:`ivf_topk` for the large-query-set regime,
    same contract as :func:`margin_mining`). The greedy stage is
    inherently sequential PER QUERY but embarrassingly parallel across
    queries, so it runs as ``applyInPandas`` over query groups of at
    most ``pool`` rows — bounded O(pool * k) numpy work per group, no
    global state. Candidate vectors are attached by joining the pool
    table (n_queries * pool rows) back to the candidate table: with
    ``broadcast_pool=True`` (default) the pool is broadcast and the big
    side streams map-side — right whenever n_queries * pool fits a
    broadcast. For CCMatrix-scale query sets (millions of queries, pool
    table itself shuffle-sized) pass ``broadcast_pool=False`` — the
    attach becomes an ordinary equi-join shuffle on id (AQE still
    converts it back to a broadcast at runtime if the pool turns out
    small), which is the honest cost at that scale.

    Determinism: candidates are processed in ascending ``neighbor_id``
    order and ``np.argmax`` keeps the FIRST maximum, so ties break to
    the smallest neighbor_id — the same tie-break the oracle's
    ``ORDER BY score DESC, neighbor_id`` expresses. Returned
    ``mmr_rank`` is the 1-based selection step; ``relevance`` is the
    query-candidate cosine (gate rankings, not floats, same policy as
    ss01)."""
    import numpy as np
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1] (got {lam})")
    if topk is None:

        def topk(cand: DataFrame, qry: DataFrame) -> DataFrame:
            return cosine_topk(
                cand, qry, embedding_col, id_col, k=pool, exclude_self=True, dim=dim
            )

    pool_df = topk(candidates, queries).select("query_id", "neighbor_id", "cosine")
    vecs = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        unit_vec(_as_double(F.col(embedding_col))).alias("_nvec"),
    )
    # big side streams against the broadcast pool; output is pool-sized
    attach = F.broadcast(pool_df) if broadcast_pool else pool_df
    with_vecs = vecs.join(attach, "neighbor_id")

    one_minus = 1.0 - lam
    # id types follow the inputs (string keys are as legitimate as
    # longs) — a hardcoded `long` here would crash the Arrow conversion
    # for any other id type the signature accepts. query_id values come
    # from `queries` and neighbor_id values from `candidates`, so each
    # declares ITS OWN frame's dtype (ADVICE r8: deriving both from
    # `candidates` mis-cast query ids whenever the two frames carry
    # different id types, which the signature allows).
    cand_id_type = dict(candidates.dtypes)[id_col]
    query_id_type = dict(queries.dtypes)[id_col]
    out_schema = (
        f"query_id {query_id_type}, neighbor_id {cand_id_type}, "
        "mmr_rank int, relevance double"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        mat = np.array(list(pdf["_nvec"]), dtype=np.float64)
        rel = pdf["cosine"].to_numpy(dtype=np.float64)
        sims = mat @ mat.T
        n = len(pdf)
        remaining = np.ones(n, dtype=bool)
        selected: list[int] = []
        picks: list[tuple[int, int]] = []  # (row_idx, step)
        for step in range(1, min(k, n) + 1):
            if selected:
                penalty = sims[:, selected].max(axis=1)
            else:
                penalty = np.zeros(n)
            score = lam * rel - one_minus * penalty
            score[~remaining] = -np.inf
            best = int(np.argmax(score))  # first max -> smallest neighbor_id
            selected.append(best)
            remaining[best] = False
            picks.append((best, step))
        idx = [p[0] for p in picks]
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[idx].to_numpy(),
                "neighbor_id": pdf["neighbor_id"].iloc[idx].to_numpy(),
                "mmr_rank": np.array([p[1] for p in picks], dtype=np.int32),
                "relevance": rel[idx],
            }
        )

    return with_vecs.groupBy("query_id").applyInPandas(greedy, out_schema)


def hash_embedding(text_col: Column | str, dim: int = 8, buckets: int = 2001) -> Column:
    """Deterministic feature-hashed text embedding (the hashing trick,
    Weinberger et al. 2009 — here as a coordinate-wise md5 fold): an
    array<double> whose j-th coordinate is
    ``(portable_hash64(text ∥ '#' ∥ j) % buckets - buckets//2) /
    (buckets//2)`` — pseudo-random in [-1, 1], identical text ⇒
    identical vector, different text ⇒ decorrelated vectors.

    This is the ENCODER STAND-IN of the retrieval pipeline: real
    embedding models are external (same boundary the multimodal stubs
    mark), but every downstream stage — ANN indexing, re-ranking,
    evaluation — is exercised for real, and because the construction is
    md5-only, a SQL oracle can replay the exact vectors (DuckDB twin:
    ``(('0x' || substr(md5(t || '#' || j), 1, 15))::BIGINT % buckets -
    half) / half``). NULL text yields an all-NULL vector (concat
    propagates NULL) — filter before encoding, as with any encoder.
    Swap in a mapInPandas model encoder for production; everything
    downstream is encoder-agnostic."""
    from .dedup import portable_hash64

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    half = buckets // 2
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            (portable_hash64(F.concat(c, F.lit("#"), j.cast("string"))) % buckets)
            - half
        )
        / F.lit(float(half)),
    )
