"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k. The query set is broadcast;
  the corpus is scanned once with a JVM-side dot product
  (F.zip_with + F.aggregate) — embarrassingly parallel, zero corpus
  shuffle; a per-partition partial top-k, then one small per-query
  merge (_topk_merge, shared with quantized_topk and pq_topk).
- cosine_lsh_topk: random-hyperplane LSH buckets prune the corpus
  before exact scoring (the IVF-ish scale path).
- embedding_dedup_pairs: near-duplicate vectors by cosine ≥ threshold
  within LSH buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    broadcast(queries) × corpus — the corpus side never shuffles for
    the scoring; only (n_partitions × k) rows per query reach the
    merge."""
    j = corpus.crossJoin(broadcast(queries))
    scored = j.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("score"),
    )
    return _topk_merge(scored, k, q_id_col, id_col)


def _topk_merge(
    scored: DataFrame, k: int, q_id_col: str, id_col: str
) -> DataFrame:
    """Two-phase top-k over ``scored(q_id_col, id_col, score)``: a
    per-input-partition partial top-k, so the shuffle carries only
    (n_partitions × k) rows per query, not the corpus×queries scores;
    then a per-query merge and rank. Sorting by (-score, id) is the
    deterministic (score desc, id asc) tiebreak."""
    entry = F.struct(
        (-F.col("score")).alias("ns"),
        F.col(id_col).alias("id"),
        F.col("score").alias("score"),
    )
    partial = (
        scored.groupBy(q_id_col, F.spark_partition_id().alias("_p"))
        .agg(F.slice(F.sort_array(F.collect_list(entry)), 1, k).alias("top"))
        .drop("_p")
    )
    merged = (
        partial.select(q_id_col, F.explode("top").alias("t"))
        .groupBy(q_id_col)
        .agg(F.slice(F.sort_array(F.collect_list("t")), 1, k).alias("top"))
    )
    return merged.select(
        q_id_col, F.posexplode("top").alias("_pos", "t")
    ).select(
        q_id_col,
        F.col("t.id").alias(id_col),
        F.col("t.score").alias("score"),
        (F.col("_pos") + 1).alias("rank"),
    )


def _rank_probed(
    scored: DataFrame, k: int, q_id_col: str, id_col: str
) -> DataFrame:
    """Top-k of multi-probe candidates: a vector reached by several
    probes is deduplicated, then ranked (score desc, id asc)."""
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.dropDuplicates([q_id_col, id_col])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG — keeps the
    whole pipeline seed-stable without numpy RNG state)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            v.append(((state >> 33) / float(1 << 31)) - 1.0)
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(v·p_i). Returns long."""
    out = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(x) for x in p]), lambda a, b: a * b),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        out = out + F.when(d >= 0, F.lit(2**i)).otherwise(F.lit(0)).cast("long")
    return out


def cosine_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's
    LSH bucket (plus Hamming-1 neighbor buckets for recall)."""
    planes = _hyperplanes(dim, n_planes)
    c = corpus.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    q = queries.withColumn("q_bucket", lsh_bucket(F.col(q_vec_col), planes))
    # probe buckets: exact + Hamming-1 ring (multi-probe LSH)
    probes = F.array(
        F.col("q_bucket"),
        *[F.col("q_bucket").bitwiseXOR(F.lit(2**i)) for i in range(n_planes)],
    )
    q = q.withColumn("probe", F.explode(probes))
    j = c.join(broadcast(q), c["bucket"] == q["probe"])
    scored = j.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("score"),
    )
    return _rank_probed(scored, k, q_id_col, id_col)


def embedding_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 512,
) -> DataFrame:
    """Near-duplicate vectors: bucket-join on LSH signature, verify
    exact cosine ≥ threshold. Returns (id_a, id_b, cos).

    ``bucket_cap`` drops over-full LSH buckets before the self-join
    (same guard as minhash_lsh_pairs/simhash_pairs): a mass-duplicate
    embedding cluster — or degenerate all-equal vectors — would put m
    rows in one bucket and make m²/2 candidates at 100 TB. Capped, each
    kept bucket yields at most cap² rows; a dropped bucket is an
    exact-dup cluster that exact_dedup handles for free. ``None``
    disables the cap (exhaustive small-corpus verification)."""
    planes = _hyperplanes(dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    if bucket_cap is not None:
        ok = (
            c.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= bucket_cap)
            .select("bucket")
        )
        c = c.join(ok, "bucket")
    a, b = c.alias("a"), c.alias("b")
    cand = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
    )
    cos = cosine(F.col("a.v"), F.col("b.v")).alias("cos")
    # barrier before the threshold filter: predicate pushdown would
    # otherwise re-inline the 3-aggregate cosine into the filter and
    # every candidate would pay it twice (dedup._project_barrier;
    # measured 3.7 s → ~2 s exec at sf0.1)
    from rsyslog_spark.datapipe.dedup import _project_barrier

    return _project_barrier(
        cand.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos
        )
    ).filter(F.col("cos") >= threshold)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "codes",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard
    memory/bandwidth lever for a 100 TB vector table (4× smaller than
    float32, integer SIMD scoring; the Q8 scheme of faiss
    ScalarQuantizer / every int8 ANN index).

    Per vector: ``m = max(|x_i|)``; ``code_i = floor(x_i/m*127 + 0.5)``
    (round-half-up, codes in [-127, 127]; an all-zero vector gets all-
    zero codes). ``q_scale = m/127`` is the dequantization step
    (``x ≈ code * q_scale``). Every step is deterministic IEEE double
    arithmetic on exactly-widened float32 inputs, so the codes are
    bit-reproducible in any SQL engine — the oracle compares them
    integer-exactly.

    Pure Column transform: map-only, no shuffle, whole-stage codegen;
    quantize once at ingest, scan codes forever after."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    m = F.array_max(F.transform(x, F.abs))
    codes = F.when(m == 0.0, F.transform(x, lambda v: F.lit(0))).otherwise(
        F.transform(
            x, lambda v: F.floor(v / m * 127 + F.lit(0.5)).cast("int")
        )
    )
    return df.withColumn(out_col, codes).withColumn(
        scale_col, m / F.lit(127.0)
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Top-k by INTEGER dot product over int8-quantized vectors — the
    scan that actually runs at 100 TB (4× less I/O than float32,
    integer SIMD scoring).

    The CORPUS is quantized with one GLOBAL scale (the trained-bounds
    scheme of faiss ScalarQuantizer): with a shared scale, the int
    dot ranking mirrors the true dot ranking up to quantization
    error. Per-VECTOR scaling would be wrong here — it divides each
    vector's contribution by its own max, so a far vector pointing
    the same way ties a near one (caught by the recall unit). Each
    QUERY still quantizes per-vector: its scale is constant across
    all candidates of that query, so ranking is unaffected. Computing
    the global scale is one max() aggregate (at deploy scale: train
    once, reuse — same lifecycle as the IVF codebook).

    The integer scores (≤ dim·127² per pair) are EXACT in both long
    and double arithmetic, so unlike every float ANN variant this
    one's full top-k is oracle-checkable bit-for-bit. Same two-phase
    partial top-k shape as brute_force_topk: broadcast queries, zero
    corpus shuffle, only (partitions × k) rows per query reach the
    merge."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    gm_row = corpus.select(
        F.max(F.array_max(F.transform(x, F.abs))).alias("m")
    ).first()
    gm = float(gm_row["m"] or 0.0)
    if gm == 0.0:
        codes = F.transform(x, lambda v: F.lit(0))
    else:
        codes = F.transform(
            x,
            lambda v: F.floor(v / F.lit(gm) * 127 + F.lit(0.5)).cast("int"),
        )
    c = corpus.select(F.col(id_col), codes.alias("c_codes"))
    q = quantize_embeddings(
        queries.select(q_id_col, q_vec_col), q_vec_col, "q_codes"
    ).select(q_id_col, "q_codes")
    j = c.crossJoin(broadcast(q))
    idot = F.aggregate(
        F.zip_with(
            F.col("c_codes"),
            F.col("q_codes"),
            lambda a, b: a.cast("long") * b.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = j.select(
        F.col(q_id_col), F.col(id_col), idot.alias("score")
    )
    return _topk_merge(scored, k, q_id_col, id_col)


def semdedup(
    corpus: DataFrame,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_cap: int = 8192,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + within-cluster pairwise
    cosine — the embedding-space pruning step of a pretraining
    pipeline (complements embedding_dedup_pairs' LSH pair mining:
    this one makes per-item KEEP decisions).

    Per cluster, items are ordered by (cosine-to-centroid ASC, id
    ASC) and an item is a duplicate iff its cosine to ANY earlier
    item exceeds ``threshold`` (the paper's triangular-max rule, not
    transitive chaining) — so each duplicate group's survivor is its
    member FARTHEST from the centroid, the paper's keep choice, with
    a deterministic id tie-break a SQL mirror can reproduce.

    Returns (id, cluster, keep, capped).

    Scale shape: one shuffle on the cluster id, then per-cluster
    numpy pairwise matmul via applyInPandas — exactly the paper's
    per-cluster computation; size n_centroids so N/k fits memory
    (they use k=50k for LAION). ``cluster_cap`` guards the m² blowup
    on degenerate clustering: an over-full cluster is returned
    keep=true/capped=true (flagged, never silently pruned) — raise
    n_centroids or pre-split with exact_dedup when you see capped
    rows."""
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_centroids, iters, id_col, vec_col
        )
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    best = F.element_at(_nearest_centroids(F.col("v"), centroids), -1)
    c = c.withColumn(
        "cluster", best.getField("i").cast("long")
    ).withColumn("cent_cos", best.getField("s"))

    id_type = dict(c.dtypes)["id"]
    out_schema = (
        f"id {id_type}, cluster long, keep boolean, capped boolean"
    )
    thr, cap = float(threshold), int(cluster_cap)
    if thr <= 0:
        # np.tril zero-fill makes prev_max >= 0 for non-first rows,
        # so only positive thresholds decide correctly (SemDeDup's
        # eps is ~0.01-0.05, i.e. thr ~0.95-0.99)
        raise ValueError("semdedup threshold must be > 0")

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m > cap:
            return pd.DataFrame({
                "id": pdf["id"], "cluster": pdf["cluster"],
                "keep": True, "capped": True,
            })
        pdf = pdf.sort_values(["cent_cos", "id"], kind="mergesort")
        vecs = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        vecs = vecs / norms[:, None]
        sims = vecs @ vecs.T
        # row i's max similarity to any EARLIER item (strict lower
        # triangle); initial=-1 keeps the first row (and any
        # negative-only rows) below every sane threshold
        prev_max = np.tril(sims, -1).max(axis=1, initial=-1.0)
        return pd.DataFrame({
            "id": pdf["id"].to_numpy(),
            "cluster": pdf["cluster"].to_numpy(),
            "keep": prev_max <= thr,
            "capped": False,
        })

    return c.groupBy("cluster").applyInPandas(prune, out_schema)


# --- PQ (product quantization) ------------------------------------------------

def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 between two double arrays (left-to-right fold — the
    same summation order any SQL list_sum uses, so distances are
    bit-reproducible cross-engine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _subvector(vec: Column, s: int, d_sub: int) -> Column:
    return F.transform(
        F.slice(vec, s * d_sub + 1, d_sub), lambda v: v.cast("double")
    )


def pq_train_codebooks(
    corpus: DataFrame,
    n_subvectors: int = 8,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``n_subvectors`` contiguous subvectors and k-means each subspace
    independently (squared-L2 Lloyd, deterministic lowest-xxhash
    init — the same bounded-sample lifecycle as ivf_train_centroids:
    train once on a sample, reuse per batch).

    Returns codebooks[s][c] = centroid c of subspace s. Memory story
    at 100 TB: 8 subvectors × 256 centroids compresses a 64-dim
    float32 vector (256 B) to 8 code bytes — 32×; the codebook itself
    is config-sized and bakes into the plan as literals."""
    sample = _training_sample(corpus, id_col, vec_col, sample_rows).persist()
    try:
        dim = len(sample.first()["v"])
        if dim % n_subvectors:
            raise ValueError(
                f"dim {dim} not divisible by n_subvectors {n_subvectors}"
            )
        d_sub = dim // n_subvectors
        seeds = (
            sample.orderBy(F.xxhash64("id"))
            .limit(n_centroids)
            .select("v")
            .collect()
        )
        books: list[list[list[float]]] = []
        for s in range(n_subvectors):
            books.append([
                [float(x) for x in r.v[s * d_sub:(s + 1) * d_sub]]
                for r in seeds
            ])
        for _ in range(iters):
            # ONE scan assigns every subspace; one groupBy per
            # subspace over the bounded sample updates its means
            assigned = sample.select(
                "v",
                *[
                    _pq_code(F.col("v"), books[s], s, d_sub).alias(f"c{s}")
                    for s in range(n_subvectors)
                ],
            ).persist()
            for s in range(n_subvectors):
                means = assigned.groupBy(f"c{s}").agg(
                    *[
                        F.avg(
                            F.element_at(F.col("v"), s * d_sub + d + 1)
                        ).alias(f"d{d}")
                        for d in range(d_sub)
                    ]
                ).collect()
                for r in means:
                    books[s][r[f"c{s}"]] = [
                        float(r[f"d{d}"]) for d in range(d_sub)
                    ]
            assigned.unpersist()
        return books
    finally:
        sample.unpersist()


def _pq_code(vec: Column, book: list[list[float]], s: int, d_sub: int) -> Column:
    """argmin_c ||v_s − book[c]||² with smallest-index tie-break, as a
    pure Column (sort_array over (dist, idx) structs)."""
    vs = _subvector(vec, s, d_sub)
    entries = [
        F.struct(
            _sq_dist(vs, F.array(*[F.lit(float(x)) for x in c])).alias("d"),
            F.lit(i).alias("i"),
        )
        for i, c in enumerate(book)
    ]
    return F.element_at(F.sort_array(F.array(*entries)), 1).getField("i")


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """One scan: each vector → array of per-subspace centroid indexes
    (the 8-byte representation the 100 TB vector table actually
    stores). Pure Column, map-only, codebooks baked as literals."""
    n_sub = len(codebooks)
    d_sub = len(codebooks[0][0])
    return df.withColumn(
        out_col,
        F.array(*[
            _pq_code(F.col(vec_col), codebooks[s], s, d_sub)
            for s in range(n_sub)
        ]),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes: the
    query stays un-quantized; score(x) ≈ Σ_s dot(q_s, codebook[s][
    code_s(x)]) via per-query lookup tables — the corpus scan touches
    ONLY the code arrays (8 bytes/vector), never the embeddings.

    Table construction is n_sub×n_centroids dots per query (driver-
    free: a Column expression over the broadcast query row). Same
    broadcast + two-phase partial top-k shape as brute_force_topk."""
    n_sub = len(codebooks)
    d_sub = len(codebooks[0][0])
    coded = pq_encode(corpus.select(id_col, vec_col), codebooks)
    # per-query ADC tables: table[s][c] = dot(q_s, book[s][c])
    tables = F.array(*[
        F.array(*[
            dot(
                _subvector(F.col(q_vec_col), s, d_sub),
                F.array(*[F.lit(float(x)) for x in c]),
            )
            for c in codebooks[s]
        ])
        for s in range(n_sub)
    ])
    q = queries.select(F.col(q_id_col), tables.alias("_t"))
    j = coded.crossJoin(broadcast(q))
    score = None
    for s in range(n_sub):
        term = F.element_at(
            F.element_at(F.col("_t"), s + 1),
            F.element_at(F.col("pq_codes"), s + 1) + 1,
        )
        score = term if score is None else score + term
    scored = j.select(
        F.col(q_id_col), F.col(id_col), score.alias("score")
    )
    return _topk_merge(scored, k, q_id_col, id_col)


# --- IVF (inverted-file) ANN --------------------------------------------------

def _centroid_lits(centroids: list[list[float]]) -> list[Column]:
    return [F.array(*[F.lit(float(x)) for x in c]) for c in centroids]


def _nearest_centroids(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of (cosine, centroid_idx) structs sorted by the struct's
    natural order — last = best. Centroids are literal arrays baked
    into the plan (a coarse codebook is config-sized)."""
    entries = [
        F.struct(
            cosine(vec, lit_c).alias("s"), F.lit(i).alias("i")
        )
        for i, lit_c in enumerate(_centroid_lits(centroids))
    ]
    return F.sort_array(F.array(*entries))


def _training_sample(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    sample_rows: int,
) -> DataFrame:
    """Bounded, PARALLEL training sample. ``sample(fraction)`` is
    partition-local (no shuffle, no single-partition funnel — a
    ``limit(n)`` would put the whole sample behind one GlobalLimit
    task, serializing every Lloyd iteration); the one bounded
    repartition spreads it across the default parallelism so each
    iteration's assignment scan runs as many tasks."""
    src = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n = src.count()
    frac = min(1.0, (sample_rows * 1.05) / max(n, 1))
    if frac < 1.0:
        src = src.sample(fraction=frac, seed=42)
    npart = corpus.sparkSession.sparkContext.defaultParallelism
    return src.repartition(npart)


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
) -> list[list[float]]:
    """Coarse k-means codebook (Lloyd iterations, cosine assignment).

    Scale shape: initialization picks the n_centroids lowest-xxhash ids
    (deterministic spread, one TakeOrdered); each iteration is one
    broadcast-assignment scan + one groupBy(cluster) per-dimension mean
    over a bounded PARALLEL sample of the corpus (training a coarse
    quantizer needs a sample, not the corpus — the full 100 TB is only
    ever touched by the single assignment pass in ivf_assign). The
    sample is persisted across iterations: sampled once, scanned
    iters+1 times, each scan as defaultParallelism tasks."""
    sample = _training_sample(corpus, id_col, vec_col, sample_rows).persist()
    try:
        dim = len(sample.first()["v"])
        seeds = (
            sample.orderBy(F.xxhash64("id"))
            .limit(n_centroids)
            .select("v")
            .collect()
        )
        centroids = [[float(x) for x in r.v] for r in seeds]
        for _ in range(iters):
            best = _nearest_centroids(F.col("v"), centroids)
            assigned = sample.withColumn(
                "cluster", F.element_at(best, -1).getField("i")
            )
            means = assigned.groupBy("cluster").agg(
                *[
                    F.avg(F.element_at(F.col("v"), d + 1)).alias(f"d{d}")
                    for d in range(dim)
                ]
            ).collect()
            for r in means:
                centroids[r.cluster] = [float(r[f"d{d}"]) for d in range(dim)]
        return centroids
    finally:
        sample.unpersist()


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """One scan: tag each vector with its nearest-centroid id. At scale
    this column is what you PARTITION/bucket the vector table by, so a
    probe touches only n_probe/n_centroids of the data files."""
    best = _nearest_centroids(F.col(vec_col), centroids)
    return corpus.withColumn(
        out_col, F.element_at(best, -1).getField("i")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    n_centroids inverted lists, probe the n_probe lists nearest each
    query, exact-score only those (the classic IVF-Flat recipe; the
    other scale path next to cosine_lsh_topk).

    Pass a pre-trained ``centroids`` codebook to skip training (the
    production shape: train once, reuse per batch)."""
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_centroids, iters, id_col, vec_col
        )
    c = ivf_assign(corpus, centroids, vec_col)
    qbest = _nearest_centroids(F.col(q_vec_col), centroids)
    q = queries.withColumn(
        "probe",
        F.explode(
            F.transform(
                F.slice(F.reverse(qbest), 1, n_probe), lambda e: e.getField("i")
            )
        ),
    )
    j = c.join(broadcast(q), c["cluster"] == q["probe"])
    scored = j.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("score"),
    )
    return _rank_probed(scored, k, q_id_col, id_col)
