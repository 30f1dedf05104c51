"""Deduplication operators over a documents table (doc_id, text).

Scale notes: every variant generates candidate pairs via an equi-join
on a bucket key (shuffle on bucket hash — uniform by construction),
then verifies candidates. No cross joins; the pair count is bounded by
bucket collision rates, not n².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm_text(col: Column) -> Column:
    """Canonicalize: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _project_barrier(df: DataFrame) -> DataFrame:
    """Materialization barrier WITHOUT an exchange (r6): explode a
    one-element struct array. A Generate keeps its child projection
    (CollapseProject does not merge into a generator) and a filter on
    a generated column cannot be pushed below the Generate — so a
    downstream ``filter`` on an expensive computed column (cosine,
    est_jaccard, array_intersect counts…) reads the value instead of
    re-inlining the whole expression below the projection (predicate
    pushdown otherwise evaluates it TWICE per row: once in the pushed
    filter, once in the surviving projection — and interpreted
    higher-order functions make that doubling expensive). Cost: one
    struct+array wrap per row."""
    cols = df.columns
    r = F.explode(
        F.array(F.struct(*[F.col(c) for c in cols]))
    ).alias("_r")
    return df.select(r).select(
        *[F.col(f"_r.{c}").alias(c) for c in cols]
    )


def _parallelism(df: DataFrame) -> int:
    """Cluster-wide task parallelism for explicit repartition counts
    (kept out of AQE's byte-based coalescing, which under-parallelizes
    compute-heavy stages over small-byte inputs)."""
    sess = df.sparkSession
    try:
        sp = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        sp = 32
    return max(sess.sparkContext.defaultParallelism, sp)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicates by normalized-text hash. Returns one row per
    duplicate *group* (n_dups>1): (fingerprint, n_dups, keep_id, dup_ids).
    keep_id = min id (deterministic survivor)."""
    fp = F.md5(_norm_text(F.col(text_col))).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def _words(col: Column) -> Column:
    """Normalized word array (the shingle base)."""
    return F.split(_norm_text(col), " ")


def _shingles_of_words(words: Column, k: int) -> Column:
    """Word k-shingles (distinct) from an ALREADY-MATERIALIZED word
    array column.

    PERF (r6): the slice lambda references ``words`` once per element,
    and higher-order functions are interpreted (CodegenFallback) — so
    whatever expression tree ``words`` is gets RE-EVALUATED per
    shingle. Pass a plain column attribute (behind a projection the
    optimizer cannot collapse, e.g. an Exchange): re-reading a row
    field per element is free, while an inlined
    split(regexp_replace(lower(text))) ran once per shingle (measured
    3.7 s → 0.3 s for the minhash shingle stage at sf0.1)."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.array_join(F.slice(words, i + 1, k), " ")
    )
    return F.array_distinct(sh)


_M31 = (1 << 31) - 1


def _mix_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic odd-multiplier/addend pairs in [1, 2^31) for the
    affine family (golden-ratio sequence). With 31-bit folded inputs
    the product stays < 2^62, so the arithmetic never overflows a
    long under ANSI mode."""
    out = []
    for i in range(num_hashes):
        a = ((0x9E3779B9 * (2 * i + 1)) | 1) & _M31
        b = (0xC2B2AE3D * (i + 1)) & _M31
        out.append((a or 1, b))
    return out


def fold31(h: Column) -> Column:
    """xor-fold a 64-bit hash to 31 bits (keeps upper-bit entropy)."""
    return (
        h.bitwiseXOR(F.shiftrightunsigned(h, 31))
        .bitwiseXOR(F.shiftrightunsigned(h, 53))
        .bitwiseAND(F.lit(_M31))
    )


def minhash_signature(
    hashes_col: Column, num_hashes: int = 64
) -> Column:
    """MinHash signature from a *materialized* array of per-shingle
    folded hash values (see :func:`fold31`): sig[i] = min over
    shingles of (h*A_i + B_i).

    Each shingle string is hashed ONCE (xxhash64 → fold31); the
    num_hashes family members are cheap affine mixes of that value
    (the standard `(a*h+b)` universal family) — ~64× less string
    hashing than re-seeding xxhash64 per member, same collision
    behavior for LSH purposes, and overflow-free under ANSI mode.
    IMPORTANT: pass a real column reference, not the hash-building
    expression — Catalyst's projection collapse would otherwise inline
    and recompute it num_hashes times (measured 140× slowdown at sf0.1
    before this was restructured)."""
    consts = _mix_consts(num_hashes)

    # classic universal family: (a*h + b) mod p, p = 2^31-1 (Mersenne).
    # The mod is ESSENTIAL: without it a*h+b is monotone in h and every
    # family member would select the same (min-hash) shingle.
    def mixer(a: int, b: int):
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_M31))

    return F.array(
        *[
            F.array_min(F.transform(hashes_col, mixer(a, b)))
            for a, b in consts
        ]
    )


def _mix64_np(h, t):
    """One vectorized murmur-style mix step (numpy uint64): absorb
    token ``t`` into running hash ``h``. Full avalanche per step."""
    import numpy as np

    k = t * np.uint64(0xFF51AFD7ED558CCD)
    k ^= k >> np.uint64(33)
    k *= np.uint64(0xC4CEB9FE1A85EC53)
    h = (h ^ k) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(0x165667B1)
    return h


def _token_sig_impl_factory(gram_k: int, num_hashes: int):
    """Fused token-gram hashing + minhash signatures in one numpy pass
    (guide §4.2): gram hashes via a vectorized murmur-style mix chain
    over the batch's FLAT token buffer (k shifted reads, no per-gram
    slice objects), folded to 31 bits, then the affine family of
    :func:`minhash_signature` as one segmented min per member
    (``np.minimum.reduceat``) over the flat hash buffer. The gram hash
    value itself is not contract-pinned (it only buckets candidates;
    the oracle-checked output is the planted-duplicate pair set, which
    any deterministic hash reproduces) — swapping the interpreted
    xxhash64-per-slice for this chain removed the last ~6 s of the
    token_minhash query at sf0.1. Docs shorter than ``gram_k`` tokens
    get one gram over their whole token array (the slice semantics of
    the Column form)."""
    consts = _mix_consts(num_hashes)

    def impl(lst):
        import numpy as np
        import pyarrow as pa

        if isinstance(lst, pa.ChunkedArray):
            lst = lst.combine_chunks()
        n = len(lst)
        out_type = pa.list_(pa.int64())
        if n == 0:
            return pa.array([], type=out_type)

        def gram_hashes_of(toks):
            # python fallback for one doc (short docs, exotic layouts)
            m = len(toks)
            starts = range(max(m - (gram_k - 1), 1) if m else 0)
            out = []
            for s in starts:
                h = np.uint64(42)
                for t in toks[s:s + gram_k]:
                    h = _mix64_np(h, np.uint64(t & 0xFFFFFFFFFFFFFFFF))
                out.append(int(h) & ((1 << 63) - 1))
            return [
                (v ^ (v >> 31) ^ (v >> 53)) & _M31 for v in out
            ]

        def sig_of(gh):
            if not gh:
                return None
            return [min((g * a + b) % _M31 for g in gh) for a, b in consts]

        if lst.offset != 0 or lst.null_count or (
            lst.values.null_count if len(lst.values) else 0
        ):
            return pa.array(
                [
                    None if r is None else sig_of(gram_hashes_of(r))
                    for r in lst.to_pylist()
                ],
                type=out_type,
            )

        offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        v = lst.values.to_numpy(zero_copy_only=False).astype(np.uint64)
        lens = offs[1:] - offs[:-1]
        short = lens < gram_k  # includes empty docs
        total = len(v)
        # vectorized gram hash at every flat start position p with a
        # full k-token window (positions crossing doc ends masked out)
        if total >= gram_k:
            m = total - (gram_k - 1)
            h = np.full(m, 42, dtype=np.uint64)
            for j in range(gram_k):
                h = _mix64_np(h, v[j:j + m])
            h &= np.uint64((1 << 63) - 1)
            h = (h ^ (h >> np.uint64(31)) ^ (h >> np.uint64(53))) & np.uint64(
                _M31
            )
        else:
            m = 0
            h = np.empty(0, dtype=np.uint64)
        doc_end = np.repeat(offs[1:], lens)[:m] if m else np.empty(
            0, dtype=np.int64
        )
        valid = (np.arange(m) + gram_k) <= doc_end
        gh = h[valid].astype(np.int64)
        counts = np.where(short, 0, np.maximum(lens - (gram_k - 1), 0))
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:]) if n > 1 else None
        sigs = np.empty((n, len(consts)), dtype=np.int64)
        if len(gh):
            for j, (a, b) in enumerate(consts):
                mm = (gh * a + b) % _M31
                sigs[:, j] = np.minimum.reduceat(
                    mm, np.minimum(starts, len(mm) - 1)
                )
        rows = [
            sig_of(gram_hashes_of(lst[i].as_py())) if short[i]
            else sigs[i].tolist()
            for i in range(n)
        ] if short.any() else None
        if rows is not None:
            return pa.array(rows, type=out_type)
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * len(consts)),
            pa.array(sigs.ravel()),
        )

    return impl


def token_minhash_signature_arrow(
    tokens_col: Column, gram_k: int = 4, num_hashes: int = 64
) -> Column:
    """tokens array<int> → minhash signature, gram hashing and the
    affine family fused in one vectorized numpy pass."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, LongType

    fn = arrow_udf(
        _token_sig_impl_factory(gram_k, num_hashes), ArrayType(LongType())
    )
    return fn(tokens_col)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    bucket_cap: int | None = 512,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    shingle → minhash(num_hashes) → band rows of r=num_hashes/bands →
    bucket-join on (band_idx, band_hash) → estimate Jaccard from full
    signatures → keep est ≥ threshold. Returns (id_a, id_b, est_jaccard)
    with id_a < id_b.

    ``bucket_cap`` bounds the quadratic term: a bucket holding m docs
    yields m(m-1)/2 candidates, and a cluster of mass exact-duplicates
    (every band identical) makes m huge. Buckets larger than the cap
    are dropped from candidate generation — by construction those are
    near-identical clusters, which `exact_dedup` already catches, so
    run exact dedup first and treat LSH as the near-dup pass. Pass
    ``bucket_cap=None`` to disable (exhaustive, unbounded).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # Stage shape: (1) spread the RAW docs by id-hash FIRST — a corpus
    # often arrives as few large files, and computing shingles in the
    # scan stage would serialize on the file count, not the cores;
    # (2) shingle+hash each string ONCE post-shuffle (full parallelism);
    # (3) barrier, then the num_hashes affine mixes; (4) barrier, then
    # the 16-band explode. The barriers move only small hash-array
    # columns; without them Catalyst's projection collapse re-inlines
    # the upstream array expression once per consumer (measured 140×).
    # explicit partition counts: AQE's coalescer sizes partitions by
    # BYTES, and a few thousand short docs coalesce to one partition —
    # serializing the compute-heavy shingle/hash stages on one core. A
    # user-specified numPartitions is exempt from AQE coalescing.
    npart = _parallelism(df)
    # the spread shuffle carries the SPLIT word array, not raw text:
    # post-exchange `_w` is a plain attribute, so the interpreted
    # shingle lambda re-reads a row field per element instead of
    # re-running split(regexp_replace(lower(text))) per shingle
    # (see _shingles_of_words; measured 3.7 s → 0.3 s at sf0.1)
    # the old `filter(size(_sh) > 0)` ABOVE the shingle projection was
    # a silent disaster: predicate pushdown inlined the whole shingle
    # expression below the exchange into the scan stage, re-running the
    # interpreted per-element lambda once per row per site (measured
    # +3.3 s at sf0.1). It only ever dropped null-text docs — split()
    # of any non-null text yields ≥1 word, hence ≥1 shingle — so the
    # equivalent pushable predicate is a null check on the raw text.
    spread = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        _words(F.col(text_col)).alias("_w"),
    ).repartition(npart, "id")
    hashed = (
        spread.withColumn(
            "_sh", _shingles_of_words(F.col("_w"), shingle_k)
        )
        .select(
            "id",
            F.transform("_sh", lambda s: fold31(F.xxhash64(s))).alias(
                "sh_hashes"
            ),
        )
        .repartition(npart, "id")
    )
    return _pairs_from_shingle_hashes(
        hashed, num_hashes, bands, threshold, bucket_cap, npart
    )


def token_minhash_pairs(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    gram_k: int = 4,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    bucket_cap: int | None = 512,
) -> DataFrame:
    """MinHash+LSH near-dup pairs NATIVELY over the ``tokens``
    array<int> column — no decode, no string shingling: each k-gram of
    token ids hashes with one xxhash64(slice), then rides the same
    affine-family → banding → capped-bucket-join pipeline as the text
    variant. The natural dedup for this engine's input table (doc_id,
    tokens, n_tok, source): byte-identical content means token-
    identical content, and near-dup token streams are near-dup logs."""
    npart = _parallelism(df)
    n = F.size(F.col("_tk"))
    # r6 (guide §4.2): gram hashing + the affine family fused in ONE
    # vectorized numpy arrow_udf — the interpreted per-slice xxhash64
    # (8.7M grams at sf0.1) plus the per-gram×64-member affine mixes
    # (~560M interpreted lambda evals) were ~17 s of the 20 s query;
    # the fused pass reads the flat Arrow token buffer with k shifted
    # vector ops + segmented mins (measured 20 s → ~3 s end to end).
    sig_src = (
        df.select(F.col(id_col).alias("id"), F.col(tokens_col).alias("_tk"))
        .repartition(npart, "id")
        .filter(n > 0)
        .select(
            "id",
            token_minhash_signature_arrow(
                F.col("_tk"), gram_k, num_hashes
            ).alias("sig"),
        )
    )
    return _pairs_from_signatures(
        sig_src, num_hashes, bands, threshold, bucket_cap, npart
    )


def _pairs_from_shingle_hashes(
    hashed: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    bucket_cap: int | None,
    npart: int,
) -> DataFrame:
    """Shared tail of the MinHash pipelines: (id, sh_hashes) →
    signatures → band buckets → capped bucket join → Jaccard estimate.
    See minhash_lsh_pairs for the stage/barrier rationale."""
    sig_src = hashed.select(
        "id", minhash_signature(F.col("sh_hashes"), num_hashes).alias("sig")
    )
    return _pairs_from_signatures(
        sig_src, num_hashes, bands, threshold, bucket_cap, npart
    )


def _pairs_from_signatures(
    sig_src: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    bucket_cap: int | None,
    npart: int,
) -> DataFrame:
    """(id, sig) → band buckets → capped bucket join → estimate."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = sig_src.repartition(npart, "id")

    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice("sig", b * r + 1, r),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    # band rows carry ONLY (id, band, bucket): signatures rejoin AFTER
    # candidate dedup. A pair sharing many bands would otherwise drag
    # its two num_hashes-long arrays through the join and the distinct
    # up to `bands` times — on self-similar corpora (token streams,
    # mass templates) that payload dominates the tail (measured ~3×
    # end-to-end on the tokens corpus at sf0.1).
    banded = sig.select("id", F.explode(band_entries).alias("be")).select(
        "id", F.col("be.band").alias("band"), F.col("be.bucket").alias("bucket")
    )
    if bucket_cap is not None:
        # drop over-full buckets before the self-join: bounded candidate
        # count even under mass-duplicate skew (each kept bucket yields
        # at most cap² rows; dropped buckets are exact-dup clusters).
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= bucket_cap)
            .select("band", "bucket")
        )
        banded = banded.join(ok, ["band", "bucket"])
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    cand = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(num_hashes)
    ).alias("est_jaccard")
    # barrier before the threshold filter: without it, predicate
    # pushdown re-inlines the signature-compare HOF into the filter
    # and every candidate pays for it twice (see _project_barrier)
    return _project_barrier(
        cand.select("id_a", "id_b", est)
    ).filter(F.col("est_jaccard") >= threshold)


def _free_local_checkpoint(df: DataFrame) -> None:
    """Explicitly drop a localCheckpoint's pinned blocks (ADVICE r4:
    dedup_clusters otherwise pins O(iterations) label-frame copies in
    executor storage). ``DataFrame.unpersist()`` is a no-op for
    checkpoint storage — the checkpointed frame's plan is a LogicalRDD,
    not a CacheManager entry — so reach the checkpointed RDD through
    the analyzed plan. Best-effort: on any internals change the
    ContextCleaner still frees the blocks once the frame is GC'd."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - internals moved; GC handles it
        pass


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Close the near-dup loop: the PAIR sets the sketches emit
    (minhash_lsh_pairs / simhash_pairs / ngram_jaccard_pairs) are
    edges, but dedup needs transitive CLUSTERS — a~b and b~c must
    surrender to one survivor even when a~c was never scored. Returns
    (id, cluster_id) with cluster_id = the component's minimum id (the
    deterministic survivor, exact_dedup's keep_id convention).

    Method: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels; a
    fixpoint check (any label changed?) stops early. Labels move one
    hop per round, so rounds ≈ component diameter; near-dup components
    are shallow (dup clusters are dense), and ``max_iters`` bounds the
    pathological chain. Every round is ONE edge-sized shuffle keyed on
    node id — never corpus-sized — and the label frame is
    ``localCheckpoint``-ed each round: iterative self-joins grow the
    LOGICAL plan exponentially even under persist() (Catalyst
    re-analyzes the whole tree per round — measured driver OOM at a
    100-node chain without truncation), so lineage must be cut, not
    just cached. (For adversarial million-node chains, the alternating
    large-star/small-star variant halves diameters per round; not
    needed at near-dup shapes.)

    Nodes that appear in no pair are absent (they keep themselves —
    join the output back with a left join + coalesce)."""
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nb_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("b"), F.col("comp").alias("cb")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("cb").alias("nb"))
            .withColumnRenamed("a", "id")
        )
        new_labels = (
            labels.join(nb_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nb", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
        changed = (
            new_labels.join(
                labels.select("id", F.col("comp").alias("old")), "id"
            )
            .filter(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        # the superseded round's blocks are dead the moment new_labels
        # is materialized (eager) and the convergence check above has
        # run — free them instead of pinning O(iterations) copies
        _free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    else:
        # loop exhausted with labels still moving: a component wider
        # than max_iters hops would be silently SPLIT (two survivors
        # for one dup cluster) — refuse rather than under-dedup
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds; "
            "a component's diameter exceeds the budget — raise "
            "max_iters (labels move one hop per round)"
        )
    _free_local_checkpoint(edges)  # result depends on labels only
    return labels.select("id", F.col("comp").alias("cluster_id"))


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 13,
    hashed: bool = True,
) -> DataFrame:
    """Benchmark decontamination — the standard training-data step:
    flag every corpus document sharing ANY word ``shingle_k``-gram
    (13 by convention) with a benchmark/eval document, so eval
    contamination can be dropped before training.

    Scale shape: the benchmark side is SMALL (eval suites are
    thousands of docs) — its distinct shingle set broadcasts, and the
    corpus side streams through one explode + broadcast semi-join +
    distinct, no corpus shuffle against the benchmark. ``hashed=True``
    (default) joins on xxhash64 of the shingle so the broadcast and
    probe rows carry 8 bytes instead of ~80-char strings — the 100 TB
    setting; ``hashed=False`` joins raw shingle strings (exact, SQL-
    mirrorable — the oracle mode). Returns (id_col, contaminated)."""

    def grams(df: DataFrame) -> DataFrame:
        # materialize the word array in a child projection first: a
        # Generate keeps its child Project (CollapseProject does not
        # merge into a generator), so the interpreted shingle lambda
        # reads a row field per element instead of re-running
        # split(normalize(text)) per 13-gram (measured 3.0 s → 0.55 s
        # for the corpus explode at sf0.1 — see _shingles_of_words)
        g = F.explode(
            _shingles_of_words(F.col("_w"), shingle_k)
        ).alias("sh")
        out = df.select(
            F.col(id_col).alias("id"), _words(F.col(text_col)).alias("_w")
        ).select("id", g)
        if hashed:
            out = out.select("id", F.xxhash64("sh").alias("sh"))
        return out

    bench = grams(benchmark).select("sh").distinct()
    hits = (
        grams(docs)
        .join(F.broadcast(bench), "sh")
        .select("id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


def duplicate_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    hashed: bool = True,
) -> DataFrame:
    """Exact-substring duplicate-span removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — the
    suffix-array ExactSubstr dedup, mapped to Spark at word-k-gram
    granularity): every word position covered by a ``k``-gram whose
    (doc, position) is NOT the corpus-wide first occurrence of that
    k-gram is removed; the first occurrence survives.

    Scale shape (the suffix-array equivalent for a shuffle engine):
    one explode to (id, pos, gram) — the same O(total_tokens) row
    count a suffix array indexes — then ONE groupBy(gram) keeping only
    ``min(struct(id, pos))`` and a count (map-side combinable; a
    mass-duplicated gram aggregates to a single row, so there is no
    quadratic bucket problem), one join back to mark non-first
    occurrences, one per-doc collect of duplicate span starts, and a
    pure-Column mask rebuild. ``hashed=True`` carries 8-byte xxhash64
    grams through the shuffle instead of ~80-char strings (the 100 TB
    mode); ``hashed=False`` keeps raw grams (SQL-mirrorable oracle
    mode).

    Returns (id_col, n_words, n_removed, cleaned_fp) — cleaned_fp is
    md5 of the surviving words joined by single spaces.
    """
    words = F.split(_norm_text(F.col(text_col)), " ")
    base = docs.select(
        F.col(id_col).cast("long").alias("id"), words.alias("w")
    )
    ex = base.select(
        "id",
        F.posexplode(
            F.transform(
                F.col("w"),
                lambda _w, i: F.when(
                    i <= F.greatest(F.size("w") - k, F.lit(0)),
                    F.array_join(F.slice("w", i + 1, k), " "),
                ),
            )
        ).alias("pos", "sh"),
    ).where(F.col("sh").isNotNull())
    if hashed:
        ex = ex.select("id", "pos", F.xxhash64("sh").alias("sh"))
    joined, cleaned = _first_occurrence_mask(base, ex, "w", k)
    return joined.select(
        F.col("id").alias(id_col),
        F.size("w").cast("long").alias("n_words"),
        (F.size("w") - F.size(cleaned)).cast("long").alias("n_removed"),
        F.md5(F.array_join(cleaned, " ")).alias("cleaned_fp"),
    )


def _first_occurrence_mask(
    base: DataFrame, ex: DataFrame, arr: str, k: int
) -> tuple[DataFrame, Column]:
    """The first-occurrence span mask of :func:`duplicate_span_stats`
    (see its scale shape) over ``base`` (id, ``arr``) and one ``ex``
    (id, pos, sh) row per k-gram start. Returns ``base`` joined with
    each doc's sorted duplicate ``starts``, and the ``arr`` elements
    no such span covers."""
    firsts = (
        ex.groupBy("sh")
        .agg(
            F.min(F.struct("id", "pos")).alias("first"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .where(F.col("cnt") > 1)
        .select("sh", "first")
    )
    dup_starts = (
        ex.join(firsts, "sh")
        .where(
            (F.col("id") != F.col("first.id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    joined = base.join(dup_starts, "id", "left").select(
        "id", arr,
        F.coalesce("starts", F.array().cast("array<int>")).alias("starts"),
    )
    cleaned = F.filter(
        F.col(arr),
        lambda _e, i: ~F.exists(
            F.col("starts"), lambda s: (s <= i) & (i < s + k)
        ),
    )
    return joined, cleaned


def word_hashes(col: Column) -> Column:
    """xxhash64 of each word of normalized text."""
    return F.transform(
        F.split(_norm_text(col), " "), lambda w: F.xxhash64(w)
    )


def simhash(hashes_col: Column, bits: int = 32) -> Column:
    """SimHash from a *materialized* word-hash array column: bit i of
    the output is set iff a majority of word hashes have bit i set.

    Pass a column reference (see minhash_signature note on projection
    collapse); each bit test is one pass over the in-memory array."""
    n = F.size(hashes_col)
    out = F.lit(0).cast("long")
    for i in range(bits):
        mask = 1 << i if i < 63 else -(2**63)
        cnt = F.size(
            F.filter(hashes_col, lambda h: h.bitwiseAND(F.lit(mask)) != 0)
        )
        out = out + F.when(cnt * 2 > n, F.lit(mask)).otherwise(F.lit(0)).cast(
            "long"
        )
    return out


def _block_bounds(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """Split [0, bits) into n_blocks nearly-equal (start, width) ranges."""
    base, extra = divmod(bits, n_blocks)
    bounds, start = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    bucket_cap: int | None = 512,
) -> DataFrame:
    """SimHash near-dup pairs with multi-table block blocking
    (Manku/Jain/Sarma, WWW'07 §3): split the `bits`-bit simhash into
    max_hamming+1 blocks; by pigeonhole any pair within Hamming
    distance max_hamming agrees EXACTLY on at least one block, so
    bucketing each doc (max_hamming+1 times) on (table_idx, block
    value) has FULL recall — then verify exact Hamming ≤ max_hamming
    with bit_count(xor).

    Returns (id_a, id_b, hamming). Scale shape: the self-join key is
    (table, block value) — 64/(d+1) bits of entropy per table, so
    buckets stay small on diverse corpora; ``bucket_cap`` drops
    pathological buckets (mass near-identical clusters — run
    exact_dedup first) to bound the quadratic term."""
    n_blocks = max_hamming + 1
    # spread raw docs first (few-files corpus would serialize the
    # word hashing), then one barrier so simhash's 64 bit-counts read a
    # materialized array; explicit count exempts it from AQE coalescing
    # (r6 note: an explode + 64-conditional-sum aggregate variant was
    # measured SLOWER — 1.32 s vs 1.15 s for the sh stage at sf0.1 —
    # the 65-buffer HashAggregate costs more than the interpreted
    # per-bit array passes; kept the array form)
    npart = _parallelism(df)
    hashed = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .repartition(npart, "id")
        .select("id", word_hashes(F.col("_t")).alias("hashes"))
        .repartition(npart, "id")
    )
    sh = hashed.select("id", simhash(F.col("hashes"), bits).alias("sh"))
    # one row per (doc, table): block t = bits [start, start+width)
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.shiftrightunsigned("sh", start)
                .bitwiseAND(F.lit((1 << width) - 1) if width < 64 else F.lit(-1))
                .alias("block"),
            )
            for t, (start, width) in enumerate(_block_bounds(bits, n_blocks))
        ]
    )
    banded = sh.select("id", "sh", F.explode(tables).alias("tb")).select(
        "id", "sh", F.col("tb.t").alias("t"), F.col("tb.block").alias("block")
    )
    if bucket_cap is not None:
        ok = (
            banded.groupBy("t", "block")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= bucket_cap)
            .select("t", "block")
        )
        banded = banded.join(ok, ["t", "block"])
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias(
                "hamming"
            ),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    df_max: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 *rare*
    shingle (document frequency in [2, df_max]).

    Two-stage shape (the standard document-frequency / prefix-filter
    trick): (1) candidate generation self-joins ONLY shingles whose
    document frequency is ≤ df_max — a shingle in k docs contributes
    k² join rows, so capping k bounds the quadratic term that a
    stop-word shingle would otherwise explode (df=1 shingles are also
    dropped: they cannot form a pair); (2) verification joins the full
    shingle ARRAYS back by id and computes |A∩B| exactly with
    array_intersect — so jaccard is EXACT for every surviving pair,
    over the full (uncapped) shingle sets.

    Recall note: a pair whose every shared shingle is hotter than
    df_max is missed — such pairs share only near-ubiquitous n-grams
    and sit far below any useful threshold; route true near-dup
    discovery through minhash_lsh_pairs and use this as the exact
    verifier.

    Returns (id_a, id_b, n_inter, na, nb, jaccard): the shared and
    per-document shingle counts next to the exact jaccard."""
    npart = _parallelism(df)
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            _words(F.col(text_col)).alias("_w"),
        )
        # spread + materialize the word array: the shingle lambda then
        # reads a plain attribute per element (_shingles_of_words)
        .repartition(npart, "id")
        .select(
            "id",
            _shingles_of_words(F.col("_w"), shingle_k).alias("shingles"),
        )
        .repartition(npart, "id")  # barrier: build shingles once
        .withColumn("n_sh", F.size("shingles"))
    )
    ex = sh.select("id", F.explode("shingles").alias("s"))
    rare = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= df_max))
        .select("s")
    )
    rare_ex = ex.join(rare, "s")
    a, b = rare_ex.alias("a"), rare_ex.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(
            sh.select(
                F.col("id").alias("id_a"),
                F.col("shingles").alias("_sh_a"),
                F.col("n_sh").alias("na"),
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("id").alias("id_b"),
                F.col("shingles").alias("_sh_b"),
                F.col("n_sh").alias("nb"),
            ),
            "id_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
    )
    # barrier BEFORE deriving jaccard: n_inter's array_intersect would
    # otherwise be inlined twice into the jac expression (it references
    # n_inter twice) and a third time into the pushed threshold filter
    # (see _project_barrier); past the barrier it is an attribute and
    # the arithmetic is free to duplicate
    pairs = _project_barrier(
        pairs.select("id_a", "id_b", "n_inter", "na", "nb")
    )
    jac = (
        F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    ).alias("jaccard")
    return pairs.select("id_a", "id_b", "n_inter", "na", "nb", jac).filter(
        F.col("jaccard") >= threshold
    )


def token_dup_spans(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 13,
) -> DataFrame:
    """Token-NATIVE exact-substring duplicate-span removal — the Lee
    et al. 2021 ExactSubstr pass over the raw ``tokens array<int>``
    itself (the input table's payload), no decode anywhere: every
    token position covered by a ``k``-gram whose (doc, pos) is not
    the corpus-wide first occurrence is removed.

    Scale shape = :func:`duplicate_span_stats` (one explode to
    (id, pos, gram-hash) — 8-byte xxhash64 of the k token ints — one
    map-side-combinable min/count groupBy that collapses mass-dup
    grams to a single row, one join back, one per-doc span mask);
    token grams hash the ints directly, so the shuffled gram is
    always 8 bytes regardless of k.

    Returns (id_col, n_toks, n_removed, cleaned_fp) — cleaned_fp =
    md5 of the surviving token ints joined by single spaces (an
    arithmetic oracle rebuilds it from the construction)."""
    base = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(tokens_col).alias("t"),
    )
    ex = base.select(
        "id",
        F.posexplode(
            F.transform(
                F.col("t"),
                lambda _x, i: F.when(
                    i <= F.size("t") - k,
                    F.xxhash64(F.array_join(
                        F.transform(
                            F.slice("t", i + 1, k),
                            lambda x: x.cast("string"),
                        ), ",",
                    )),
                ),
            )
        ).alias("pos", "sh"),
    ).where(F.col("sh").isNotNull())
    joined, cleaned = _first_occurrence_mask(base, ex, "t", k)
    return joined.select(
        F.col("id").alias(id_col),
        F.size("t").cast("long").alias("n_toks"),
        (F.size("t") - F.size(cleaned)).cast("long").alias("n_removed"),
        F.md5(F.array_join(
            F.transform(cleaned, lambda x: x.cast("string")), " "
        )).alias("cleaned_fp"),
    )
