"""Similarity search over embedding columns (extension surface,
BASELINE.json north star).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are broadcast; candidates stream through a map-side cross
  join; per-query top-k via a window. At 100 TB the candidate side
  stays partition-parallel with no shuffle until the (tiny) per-query
  k-row aggregation.
- ``lsh_topk``: the scale path — MLlib BucketedRandomProjectionLSH
  buckets candidates so each query only scores its bucket's collisions
  (probabilistic recall, tunable via bucketLength/numHashTables).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot_product, l2_norm
from .util import ensure_parallelism


def _md5_prefix24(col):
    """24-bit integer from the md5 hex prefix of a column's string form.

    The ONE id-hash used for anchor selection and quantizer-training
    sampling — md5 (not xxhash64) so SQL oracles reproduce it
    bit-for-bit. Keep a single definition: three call sites must stay
    identical or oracle parity silently diverges."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 6), 16, 10
    ).cast("long")


def audit_sample(
    df: DataFrame, id_col: str, audit_mod: int | None
) -> DataFrame:
    """Deterministic id-hash subsample for exact-baseline audits.

    ``audit_mod=None`` keeps everything; ``m`` keeps the ~1/m of rows
    whose md5-hashed id ≡ 0 (mod m) — a pure function of identity, so
    the sample is stable across partitioning/re-runs and REPRODUCIBLE
    IN SQL (the oracle applies the same predicate). This is the scale
    valve for the exact quadratic baselines (embedding_neardup,
    cosine_topk): pair work shrinks by ~m² while the sampled subset
    remains an unbiased ground-truth panel to measure blocker/ANN
    recall against (capped and uncapped agree exactly on the sampled
    ids — pinned in tests). Same ≤-bounded-collect philosophy as
    ``_train_sample``; same md5 hash as ``_md5_prefix24`` so one
    id-hash convention serves anchors, training samples, and audits.
    """
    if audit_mod is None:
        return df
    if audit_mod < 1:
        raise ValueError(f"audit_mod must be >= 1, got {audit_mod}")
    return df.filter(_md5_prefix24(F.col(id_col)) % audit_mod == 0)


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    audit_mod: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k per query.

    ``queries``: (query_id, embedding). Output:
    (query_id, vec_id, sim, rank) with rank 1..k ordered by rounded sim
    desc then vec_id (the rounded value is the ranking key so ordering
    is reproducible across engines). ``audit_mod`` (see
    :func:`audit_sample`) restricts the CANDIDATE side to a
    deterministic 1/m id-hash panel — the bound that keeps this
    ground-truth path runnable at any corpus size.
    """
    return _cosine_rank(
        audit_sample(candidates, id_col, audit_mod),
        queries, k, id_col, vec_col, query_id_col,
        filter_col=None,
    )


def _rank_topk(
    sims: DataFrame, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """Shared ranking tail of every ANN entry point: (sim DESC, id ASC),
    rank 1..k per query. One definition so the tie-break contract cannot
    drift between cosine/lsh/ivf/pq paths (they are cross-checked
    against each other by the in-plan recall gates)."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def _cosine_rank(
    candidates: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    filter_col: str | None,
) -> DataFrame:
    """Shared scoring/tie-break core for cosine_topk (cross join) and
    cosine_topk_filtered (equi-join on ``filter_col``) — ONE copy of
    the rounded-sim ranking contract so oracle parity cannot drift
    between the two entry points."""
    # Precompute each side's norm ONCE per row (not per pair): the pair
    # scoring then does a single dot-product fold instead of three.
    q_cols = [
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
    ]
    c_cols = [
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cnorm"),
    ]
    if filter_col is not None:
        q_cols.insert(1, F.col(filter_col).alias("_qf"))
        c_cols.insert(1, F.col(filter_col))
    q = queries.select(*q_cols)
    c = ensure_parallelism(candidates).select(*c_cols)
    if filter_col is None:
        pairs = c.crossJoin(F.broadcast(q))
    else:
        pairs = c.join(F.broadcast(q), F.col(filter_col) == F.col("_qf"))
    # zero-norm guard: cosine is undefined for a zero vector — without
    # this, Spark's null-on-div-by-zero would rank NULL sims by id and
    # present k arbitrary candidates as the top-k (and DuckDB, which
    # yields inf/nan instead of NULL, would silently diverge).
    pairs = pairs.filter((F.col("_qnorm") > 0) & (F.col("_cnorm") > 0))
    sims = pairs.select(
        query_id_col,
        id_col,
        F.round(
            dot_product(F.col("_qvec"), F.col("_cvec"))
            / (F.col("_qnorm") * F.col("_cnorm")),
            6,
        ).alias("sim"),
    )
    return _rank_topk(sims, k, query_id_col, id_col)


def cosine_topk_filtered(
    candidates: DataFrame,
    queries: DataFrame,
    filter_col: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Metadata-filtered exact cosine top-k: each query only searches
    candidates whose ``filter_col`` equals the query's own — the
    partition-restricted vector search every production vector store
    exposes (tenant / language / shard constraints). The filter is an
    EQUI-JOIN key, so the plan is a broadcast hash join on the
    attribute instead of a cross join — candidates outside the
    query's partition are never scored, which is both the semantics
    AND the scale win (scored pairs shrink from |Q|·|C| to
    Σ |Q_p|·|C_p|)."""
    return _cosine_rank(
        candidates, queries, k, id_col, vec_col, query_id_col,
        filter_col=filter_col,
    )


def embedding_neardup(
    embeddings: DataFrame,
    threshold: float = 0.8,
    bucket_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    audit_mod: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine within a blocking bucket.

    ``bucket_col=None`` drops the blocking entirely and scores EVERY
    pair via a broadcast nested-loop (never a constant-key shuffle,
    which would collapse to one task): the GLOBAL exact baseline.
    Only sane on a bounded input — pass ``audit_mod`` (or pre-sample)
    so the broadcast side stays small; this is the recall-audit
    ground-truth path (q282), not a production plan.

    The bucket join (e.g. on a cluster/label/LSH-band column) keeps the
    pairwise comparison O(Σ bucket²) instead of O(N²). That is only
    sub-quadratic while bucket sizes stay BOUNDED: with a fixed bucket
    vocabulary the buckets grow with the corpus and this is the exact
    quadratic baseline (measured 70× at 10× rows) — the ground truth
    for the scale paths (`embedding_neardup_lsh` bands,
    `anchored_neardup` n^1.5), not their replacement.

    ``audit_mod`` (see :func:`audit_sample`) restricts BOTH sides to a
    deterministic 1/m id-hash panel before pairing — pair work drops
    ~m², so the exact ground truth stays runnable at any corpus size
    (set m ~ n/10⁵); on the sampled ids the output is IDENTICAL to the
    uncapped run (pure filter — pinned in tests), so recall measured
    on the panel is exact recall on those ids.
    Output: (id_a, id_b, sim) with id_a < id_b and sim ≥ threshold.
    """
    embeddings = audit_sample(embeddings, id_col, audit_mod)
    # Norms once per row; pair scoring is then a single fold (see cosine_topk).
    bucket_cols = [] if bucket_col is None else [
        F.col(bucket_col).alias("_bk")
    ]
    normed = ensure_parallelism(embeddings).select(
        *bucket_cols,
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    a = normed.select(
        *([F.col("_bk")] if bucket_col is not None else []),
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = normed.select(
        *([F.col("_bk")] if bucket_col is not None else []),
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    if bucket_col is None:
        paired = a.crossJoin(F.broadcast(b))
    else:
        paired = a.join(b, on="_bk")
    return (
        paired
        .filter(F.col("id_a") < F.col("id_b"))
        # zero-norm guard: cosine undefined; ANSI would raise DIVIDE_BY_ZERO
        .filter((F.col("_na") > 0) & (F.col("_nb") > 0))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_product(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def anchored_neardup(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_probe: int = 6,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-safe near-dup pairs via deterministic IVF-style anchor
    blocking — the sub-quadratic replacement for ``embedding_neardup``
    when buckets grow with the corpus (SemDeDup-style curation).

    Blocking: anchors are the vectors whose md5-hashed id falls on the
    ``ceil(sqrt(n))`` residue grid (a random-sample codebook of
    k ≈ √n centroids for ANY id distribution — data-derived and
    SQL-expressible, so the DuckDB oracle reproduces the EXACT same
    blocking; no k-means fit, no driver-side action: the stride is a
    broadcast scalar subquery). Each vector is multi-assigned to its
    ``n_probe`` nearest anchors by cosine; a candidate pair must share
    ``bucket_col`` AND at least one probed anchor. Exact cosine then
    filters candidates at ``threshold``.

    Cost: assignment n·k = n^1.5 dot products; candidate scoring
    Σ (bucket ∩ anchor)² ≈ n^1.5/n_probe — sub-quadratic end-to-end vs
    the O(Σ bucket²) of plain bucket blocking (measured 7.9× pair-work
    growth for 4× rows at test SFs vs 16× quadratic; PLANS.md §2).

    Recall (vs exhaustive in-bucket scoring) is probabilistic, not 1:
    a pair is found iff it shares a probed anchor. Measured at
    threshold 0.35: 26/26 pairs at sf0.01, 350/391 at sf0.1 with
    n_probe=6 — the standard approximate-curation contract; raise
    ``n_probe`` to trade work for recall. Both engines compute the
    identical candidate set, so oracle parity is exact BY CONSTRUCTION
    at every scale, independent of recall.

    Routing determinism: anchors are ranked by ``round(sim+1e-9, 4)``
    desc then anchor id — the coarse grid absorbs last-ulp float
    divergence between engines' fold orders, and the id tie-break makes
    equal-grid ranks total.

    Output: (id_a, id_b, sim) with id_a < id_b and sim ≥ threshold.
    """
    base = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("_id"),
        F.col(bucket_col).alias("_bk"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    # The fallback anchor is the min id among VALID (positive-norm)
    # rows: the assignment stage drops zero-norm anchors, so a bare
    # min(_id) landing on a null/zero vector would erase the fallback
    # and an unlucky tiny input (residue sample empty, min-id row
    # invalid) would silently return zero pairs — the exact failure
    # the fallback exists to prevent.
    stride = base.agg(
        F.ceil(F.sqrt(F.count("*"))).cast("long").alias("_stride"),
        F.min(F.when(F.col("_n") > 0, F.col("_id"))).alias("_mid"),
    )
    # Anchor selection hashes the id (md5 prefix — reproducible in the
    # SQL oracle) before the modulus: a raw `id % stride` sample would
    # silently collapse to ZERO anchors for id spaces that never hit
    # the residue (all-odd ids with an even stride, hash-derived ids),
    # where the hash keeps the expected k ≈ n/stride ≈ √n codebook for
    # ANY id distribution. The min-id row is ALWAYS an anchor: for tiny
    # inputs the residue sample is empty with probability (1-1/s)^n,
    # and an empty codebook would silently return zero pairs.
    id_hash = _md5_prefix24(F.col("_id"))
    anchors = (
        base.crossJoin(F.broadcast(stride))
        .filter(
            (id_hash % F.col("_stride") == 0)
            | (F.col("_id") == F.col("_mid"))
        )
        .select(
            F.col("_id").alias("_aid"),
            F.col("_v").alias("_av"),
            F.col("_n").alias("_an"),
        )
    )
    probe_w = Window.partitionBy("_id").orderBy(
        F.desc("_rsim"), F.asc("_aid")
    )
    # Rank on scalars only — the n×k assignment rows shuffle through the
    # top-n_probe window WITHOUT the vectors (k× smaller exchange);
    # vectors re-attach via one id-key join after the filter.
    assignments = (
        base.filter(F.col("_n") > 0)
        .crossJoin(F.broadcast(anchors.filter(F.col("_an") > 0)))
        .select(
            "_id",
            "_bk",
            "_aid",
            F.round(
                dot_product(F.col("_v"), F.col("_av"))
                / (F.col("_n") * F.col("_an"))
                + F.lit(1e-9),
                4,
            ).alias("_rsim"),
        )
        .withColumn("_p", F.row_number().over(probe_w))
        .filter(F.col("_p") <= n_probe)
        .select("_id", "_bk", "_aid")
    )
    probes = assignments.join(base.select("_id", "_v", "_n"), on="_id")
    a = probes.select(
        F.col("_bk"), F.col("_aid"),
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = probes.select(
        F.col("_bk"), F.col("_aid"),
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, on=["_bk", "_aid"])
        .filter(F.col("id_a") < F.col("id_b"))
        # zero-norm guard: cosine undefined; ANSI would raise DIVIDE_BY_ZERO
        .filter((F.col("_na") > 0) & (F.col("_nb") > 0))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_product(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        # a pair sharing several probed anchors scores identically each
        # time — distinct on the scored row dedupes without comparing
        # arrays
        .distinct()
    )


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
    min_cosine: float | None = None,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH (MLlib).

    Unit-norm embeddings ⇒ euclidean distance is monotone in cosine
    (d² = 2 − 2·cos), so ranking by LSH euclidean distance matches the
    cosine ranking. Not SQL-expressible → rows-only correctness check.

    ``min_cosine`` (optional) bounds the candidate join: the
    approxSimilarityJoin threshold becomes the equivalent euclidean
    distance √(2 − 2·min_cosine) (+1 ulp-ish: Spark's join is strict
    ``<``, so pairs AT the bound stay included) instead of the vacuous
    2.0 maximum, dropping bucket-collision pairs below the bound
    map-side before the per-query top-k shuffle. The default None
    keeps the operator's unrestricted contract (full top-k even for
    queries with only anti-correlated neighbors). At scale pass a
    bound — 0.0 prunes every anti-correlated pair and is safe whenever
    ≥ k non-negative neighbors exist per query (any label-clustered
    corpus); tighter, derive it from a sampled k-th-neighbor distance
    (or prefer ``ivf_topk``/``pq_topk``, the designed scale paths;
    this operator is the MLlib-compat surface).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # Same null/zero-norm tolerance as every sibling ANN path: a null
    # (or null-element, or all-zero) embedding has no defined cosine
    # and would crash MLlib's non-null-safe Scala UDFs — drop it at
    # the scan, don't die. A plain .filter is NOT enough here: the
    # similarity join infers hash-UDF constraints (isnotnull/size over
    # UDF(UDF(embedding))) that Catalyst pushes down and merges into
    # the same Filter node, where codegen's subexpression elimination
    # evaluates the UDF EAGERLY — before any AND short-circuit — and
    # NPEs on the null row. The lazy localCheckpoint cuts the lineage
    # so those constraints cannot cross below the validity filter; it
    # also caches the (id, vector) projection that fit + transform +
    # join would otherwise recompute. This is the MLlib-compat path —
    # ivf_topk/pq_topk are the designed scale paths (see docstring).
    def _valid(col):
        return (
            col.isNotNull()
            & ~F.exists(col, lambda x: x.isNull())
            & (l2_norm(col) > 0)
        )

    cand = (
        ensure_parallelism(candidates)
        .filter(_valid(F.col(vec_col)))
        .select(
            id_col,
            array_to_vector(F.col(vec_col).cast("array<double>")).alias(
                "_features"
            ),
        )
        .localCheckpoint(eager=False)
    )
    qs = (
        queries.filter(_valid(F.col(vec_col)))
        .select(
            F.col(query_id_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias(
                "_features"
            ),
        )
        .localCheckpoint(eager=False)
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="_hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(cand)
    if min_cosine is None:
        # + epsilon: approxSimilarityJoin filters STRICTLY below the
        # bound, so a bare 2.0 would drop exactly anti-parallel pairs
        # (distance 2.0) and break the "every bucket collision
        # survives" contract; mirrors the min_cosine branch's pad.
        dist_bound = 2.0 + 1e-9  # no pruning
    else:
        dist_bound = float(
            math.sqrt(max(2.0 - 2.0 * min_cosine, 0.0)) + 1e-9
        )
    joined = model.approxSimilarityJoin(
        model.transform(qs), model.transform(cand), dist_bound, distCol="_dist"
    ).select(
        F.col(f"datasetA.{query_id_col}").alias(query_id_col),
        F.col(f"datasetB.{id_col}").alias(id_col),
        F.round(F.lit(1.0) - F.col("_dist") * F.col("_dist") / 2, 6).alias("sim"),
    )
    return _rank_topk(joined, k, query_id_col, id_col)


def _train_sample(
    cand: DataFrame, id_col: str, vec_alias: str, train_mod: int, train_cap: int
) -> "np.ndarray":
    """Deterministic id-hash training sample as a numpy matrix.

    Stable across partitioning (unlike .sample) and sorted by id so the
    collect order — and therefore the seeded init and every Lloyd
    step — is reproducible. The limit is the hard guard on driver
    memory: train_mod controls sample REPRESENTATIVENESS (set ~ n/100k
    for uniform coverage); the cap bounds the collect even when a
    caller leaves train_mod=1 on a large corpus (deterministic
    lowest-id prefix of the hash sample). Null vectors are excluded
    (np.asarray over a None row degrades to object dtype). ONE
    definition shared by ivf_topk and pq_topk — the md5 sampling
    expression must stay identical between them or oracle parity
    silently diverges (see _md5_prefix24).
    """
    sample_rows = (
        cand.filter(F.col(vec_alias).isNotNull())
        .filter(
            _md5_prefix24(F.col(id_col))
            % F.greatest(F.lit(1), F.lit(train_mod))
            == 0
        )
        .orderBy(id_col)
        .limit(train_cap)
        .select(vec_alias)
        .collect()
    )
    train = np.asarray([r[vec_alias] for r in sample_rows], dtype=np.float64)
    if train.shape[0] == 0:
        raise ValueError(
            "empty quantizer training sample - lower train_mod "
            "(or check that the vector column is non-null)"
        )
    return train


def _lloyd_kmeans(
    train: "np.ndarray", n_clusters: int, seed: int = 42, n_iter: int = 8
) -> "np.ndarray":
    """Seeded Lloyd's iterations on an in-memory sample → codebook.

    Deterministic given (sorted sample, seed): numpy only, no
    partitioning dependence. Empty clusters keep their previous
    centroid (FAISS behavior). n_clusters is capped at the sample size.
    """
    n = len(train)
    if n == 0:
        raise ValueError("empty quantizer training sample")
    k = min(n_clusters, n)
    rng = np.random.RandomState(seed)
    centroids = train[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(n_iter):
        # (n, k) squared distances via the expansion trick; argmin ties
        # resolve to the lowest centroid index (np.argmin guarantee).
        d2 = (
            (train * train).sum(axis=1, keepdims=True)
            - 2.0 * train @ centroids.T
            + (centroids * centroids).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = train[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def nearest_centroid(vec, centroids_lit, n_clusters: int):
    """Codegen'd argmin over a literal codebook: fold cluster indices,
    tracking (best_d2, best_idx); ties keep the lowest index (matches
    numpy argmin). Map-side only — no shuffle, no Python."""
    idxs = F.sequence(F.lit(0), F.lit(n_clusters - 1))

    def step(acc, i):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.element_at(centroids_lit, i + 1),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        better = d < acc["d"]
        return F.struct(
            F.when(better, i).otherwise(acc["i"]).alias("i"),
            F.when(better, d).otherwise(acc["d"]).alias("d"),
        )

    acc0 = F.struct(
        F.lit(-1).alias("i"), F.lit(float("inf")).alias("d")
    )
    return F.aggregate(idxs, acc0, step, lambda acc: acc["i"]).cast("int")


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    train_mod: int = 1,
    train_cap: int = 100_000,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer + probed-cluster search.

    ``train_mod``: keep every id whose md5-hash ≡ 0 (mod train_mod) as
    quantizer training data — 1 trains on everything (small corpora);
    at scale pick corpus_size/100k so the fit sees a flat ~100k sample.

    The scale path for similarity search when LSH recall is too blunt:
    train a k-means codebook on a BOUNDED sample (the one driver-side
    step — FAISS trains IVF quantizers the same way; training cost is
    flat in corpus size by construction), broadcast the tiny
    (n_clusters × dim) centroid table, assign every candidate to its
    nearest centroid via a codegen'd argmin over the broadcast
    (the "inverted file"), route each query to its ``n_probe`` nearest
    centroids, and score exact cosine only inside the probed clusters —
    an equi-join on cluster id instead of a cross join, cutting scored
    pairs by ~n_clusters/n_probe. At 100 TB the assignment is a
    write-once partitioned materialization; queries broadcast. The
    Lloyd iterations run in numpy on the sorted sample with a fixed
    seed, so the codebook is bit-deterministic regardless of cluster
    partitioning (MLlib's distributed fit pays ~10 scheduler barriers
    to compute the same ≤100k-point codebook — measured 6.5 s vs 40 ms
    here). Not SQL-expressible (k-means) → recall-gated check (q27).
    Output: (query_id, vec_id, sim, rank) — rank 1..k per query.
    """
    cand = ensure_parallelism(candidates).select(
        id_col,
        F.col(vec_col).cast("array<double>").alias("_cvec"),
    )
    train = _train_sample(cand, id_col, "_cvec", train_mod, train_cap)
    codebook = _lloyd_kmeans(train, n_clusters, seed=seed, n_iter=8)

    spark = candidates.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(codebook)],
        "_cluster int, _centroid array<double>",
    )
    # Inverted file: nearest-centroid assignment is a MAP-SIDE fold over
    # the codebook embedded as a literal array<array<double>> — no
    # shuffle, no ML UDF, stays in whole-stage codegen. Fine for
    # codebooks up to a few thousand centroids; a 65k×768 codebook
    # would switch to a broadcast-numpy pandas_udf instead.
    # Server-parsed literal codebook: the k×d nested F.lit build cost
    # ~0.3 s of Py4J chatter per call (guide §1.2, the simhash/JL
    # treatment). CAST('repr' AS DOUBLE) round-trips each float
    # exactly; constant folding collapses it to the same Literal.
    cent_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in c)
            + ")"
            for c in codebook
        )
        + ")"
    )
    inverted = cand.withColumn(
        "_cluster", nearest_centroid(F.col("_cvec"), cent_lit, len(codebook))
    ).select(id_col, "_cvec", "_cluster", l2_norm(F.col("_cvec")).alias("_cnorm"))
    q = queries.select(
        query_id_col,
        F.col(vec_col).cast("array<double>").alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("_qvec"), F.col("_centroid"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(F.asc("_d2"), F.asc("_cluster"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", d2)
        .withColumn("_probe", F.row_number().over(probe_w))
        .filter(F.col("_probe") <= n_probe)
        .select(query_id_col, "_cluster", "_qvec", "_qnorm")
    )

    sims = (
        inverted.join(F.broadcast(probes), on="_cluster")
        # zero-norm guard: cosine undefined; ANSI would raise DIVIDE_BY_ZERO
        .filter((F.col("_qnorm") > 0) & (F.col("_cnorm") > 0))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot_product(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qnorm") * F.col("_cnorm")),
                6,
            ).alias("sim"),
        )
    )
    return _rank_topk(sims, k, query_id_col, id_col)


def embedding_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 48,
    n_bands: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup at scale: random-hyperplane LSH blocking +
    exact cosine verification.

    Answers the quadratic-within-block cost of ``embedding_neardup``
    (PLANS.md §2): each vector gets an ``n_planes``-bit sign signature
    (bit i = sign⟨v, rᵢ⟩, rᵢ from a seeded Gaussian — plan-literal, so
    the operator is deterministic); signatures band into ``n_bands``
    groups and only band-colliding vectors are cosine-scored. Cosine-
    similar vectors agree on most sign bits, so recall per band is
    high while candidate pairs drop ~2^(bits/band)-fold.

    Recall math (sets the threshold regime): two vectors at cosine θ
    agree on a sign bit with p = 1 − arccos(cos θ)/π, so a 12-bit band
    collides with p¹², OR-amplified over 4 bands. At sim 0.95 that is
    ~73 % recall, at sim 1.0 it is 100 %, at sim 0.35 it is ~1 % — this
    operator is for NEAR-DUPLICATES (threshold ≥ 0.9), not broad
    similarity search (use ivf_topk/lsh_topk there). Narrow bands would
    raise recall but collapse the bucket space: measured 16 buckets/band
    (n_planes=16) made the candidate join quadratic again, while 12-bit
    bands hold runtime FLAT from 2k to 20k vectors (PLANS.md §2).
    Output: (id_a, id_b, sim) with id_a < id_b and sim ≥ threshold.

    Shuffle-volume knob, documented for the 100 TB regime: the banded
    self-join here carries the full vector on BOTH sides (2·n_bands
    copies through the exchange) because with n_bands=4 and typical
    embedding dims the simplicity wins locally. When vectors are wide
    or n_bands grows, switch to ``anchored_neardup``'s shape — band on
    (id, band, key) scalars only and re-attach vectors via one id-key
    join against the persisted ``signed`` frame after the collision
    filter; that trades one extra join for an n_bands·dim-fold smaller
    band exchange.
    """
    if n_planes % n_bands != 0 or n_planes > 63:
        raise ValueError(
            f"need n_planes % n_bands == 0 and n_planes <= 63, "
            f"got n_planes={n_planes}, n_bands={n_bands}"
        )
    width = n_planes // n_bands

    # Signature = packed sign bits of 48 hyperplane dot products. Spark
    # does NOT codegen higher-order functions — a per-plane
    # F.aggregate(F.zip_with(...)) chain is interpreted per element
    # (n_planes × dim interpreted ops/row; measured ~2× slower at
    # sf0.1). One Arrow batch → BLAS matmul computes every plane at
    # once and returns the packed long. Sign choice (d >= 0 → 1)
    # matches the former expression path bit-for-bit up to float
    # summation order; pairs at sim→1 are unaffected (identical rows
    # produce identical dots either way).
    #
    # The seeded plane matrix is generated INSIDE the UDF from the
    # batch's own vector width (``dim`` accepted for API compatibility;
    # when None no job runs at plan-construction time): RandomState(seed)
    # is reproducible, so every executor derives the identical planes.
    plane_cache: dict[int, np.ndarray] = {}

    def _planes_t(d: int) -> np.ndarray:
        if d not in plane_cache:
            plane_cache[d] = np.random.RandomState(seed).randn(n_planes, d).T.copy()
        return plane_cache[d]

    @F.pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        # NULL-tolerant (twin contract with cosine_similarity_pandas):
        # a null/missing embedding gets a NULL signature — its banded
        # keys are null and equi-joins drop it, so it simply cannot be
        # a near-dup candidate. A raw np.stack would crash the whole
        # Arrow batch on one such row.
        mask = v.notna().to_numpy()
        values: list = [None] * len(v)
        if mask.any():
            mat = np.stack(v.to_numpy()[mask]).astype(np.float64)
            bits = (mat @ _planes_t(mat.shape[1])) >= 0.0
            sig = np.zeros(len(mat), dtype=np.uint64)
            for i in range(bits.shape[1]):
                sig |= bits[:, i].astype(np.uint64) << np.uint64(i)
            signed = sig.astype(np.int64)
            for out_i, src_i in enumerate(np.flatnonzero(mask)):
                values[src_i] = int(signed[out_i])
        return pd.Series(values, dtype="object")

    v = F.col(vec_col).cast("array<double>")
    signed = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
        _sig(v).alias("_sig"),
        # persist (lazy): signatures compute once at first action and
        # both self-join sides reuse the cache; localCheckpoint would
        # convert to RDD and — under AQE — materialize the upstream
        # shuffle DURING plan construction (a job before any action).
        # Lifecycle: the cache entry lives until spark.catalog
        # .clearCache() or app end — fine for the one-call-per-job
        # production shape; loops over many corpora should clear the
        # cache between calls (bench.py does).
    ).persist()
    banded = signed.select(
        "_id", "_v", "_n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("_sig"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("key"),
                )
                for b in range(n_bands)
            ])
        ).alias("_b"),
    ).select("_id", "_v", "_n", "_b.band", "_b.key")
    a = banded.select(
        "band", "key", F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = banded.select(
        "band", "key", F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        # zero-norm guard: cosine undefined; ANSI would raise DIVIDE_BY_ZERO
        .filter((F.col("_na") > 0) & (F.col("_nb") > 0))
        .select(
            "id_a", "id_b",
            F.round(
                dot_product(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


def pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    train_mod: int = 1,
    rerank_factor: int = 5,
    train_cap: int = 100_000,
) -> DataFrame:
    """Product-quantization ANN (FAISS-style PQ with ADC scoring).

    The memory-bound scale path: each vector compresses to ``m`` small
    codes (its nearest centroid per dimension-subspace), so a 64-dim
    float corpus stores as m bytes/vector — the index fits in RAM at
    corpus sizes where raw vectors cannot. Scoring is Asymmetric
    Distance Computation: per query, precompute the partial distance
    from each query SUBVECTOR to every subspace centroid (an m×k' LUT,
    tiny), then a candidate's approximate distance is the SUM of m LUT
    lookups — never a full d-dim computation per pair.

    Spark shape: codebooks train driver-side on the bounded md5 sample
    (same contract as ``ivf_topk``); encoding is ONE Arrow-batched
    pandas_udf computing all m argmins per batch with numpy broadcast
    against the closure codebook — map-side, no shuffle. (The
    literal-array ``nearest_centroid`` fold used by ``ivf_topk`` is
    right for a handful of centroids; PQ's m×k'×sub literals made plan
    compilation, not execution, the dominant cost — measured 4.2 s →
    2.4 s warm at sf0.01 for the switch, and a full m=8×k'=256
    codebook would not codegen at all.) The LUT is a query×codebook
    broadcast cross join; ADC is one explode of the m codes, a
    broadcast join on (subspace, code), and a (query, vec) hash agg —
    all linear in corpus size. Ranking uses the grid-rounded
    approximate distance with id tie-break, so order is reproducible.

    ADC alone has limited recall on near-isotropic vectors (the worst
    case for quantization — no cluster structure to exploit), so the
    operator follows production practice (FAISS search_and_reconstruct
    / IndexRefine): ADC selects a ``rerank_factor``·k shortlist, the
    shortlist's RAW vectors are re-scored with exact cosine, and the
    exact top-k of the shortlist is returned. Exact work per query is
    O(rerank_factor·k·d) — independent of corpus size; the corpus-sized
    path touches only codes.

    Not SQL-expressible (trained codebooks) → recall-gated driver check
    (q115), mirroring q27.
    Output: (query_id, vec_id, sim, rank), rank 1..k per query —
    same contract as ``cosine_topk``, exact values on shortlist hits.
    """
    spark = candidates.sparkSession
    cand = ensure_parallelism(candidates).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    train = _train_sample(cand, id_col, "_v", train_mod, train_cap)
    d = train.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    codebooks = [
        _lloyd_kmeans(train[:, s * sub : (s + 1) * sub], n_clusters, seed=seed + s)
        for s in range(m)
    ]

    cb_arr = np.stack(codebooks)  # (m, k', sub)

    @F.pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        # NULL-tolerant: null embeddings get null code arrays (the
        # downstream posexplode then emits no rows for them) instead of
        # a batch-wide np.stack crash.
        mask = vs.notna().to_numpy()
        values: list = [None] * len(vs)
        if mask.any():
            X = np.stack(vs.to_numpy()[mask])
            out = np.empty((X.shape[0], m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                d2 = ((Xs[:, None, :] - cb_arr[s][None, :, :]) ** 2).sum(axis=2)
                # np.argmin ties → lowest index, matching nearest_centroid
                out[:, s] = d2.argmin(axis=1)
            for out_i, src_i in enumerate(np.flatnonzero(mask)):
                values[src_i] = out[out_i]
        return pd.Series(values, dtype="object")

    codes = (
        cand.select(id_col, F.posexplode(_encode(F.col("_v"))))
        .withColumnRenamed("pos", "_s")
        .withColumnRenamed("col", "_code")
    )

    cb_rows = [
        (s, c, [float(x) for x in codebooks[s][c]])
        for s in range(m)
        for c in range(len(codebooks[s]))
    ]
    cb = spark.createDataFrame(
        cb_rows, "_s int, _code int, _centroid array<double>"
    )
    q = queries.select(
        query_id_col, F.col(vec_col).cast("array<double>").alias("_qv")
    )
    pd2 = F.aggregate(
        F.zip_with(
            F.expr(f"slice(_qv, _s * {sub} + 1, {sub})"),
            F.col("_centroid"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = (
        q.crossJoin(F.broadcast(cb))
        .select(query_id_col, "_s", "_code", pd2.alias("_pd2"))
    )
    scored = (
        codes.join(F.broadcast(lut), on=["_s", "_code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("_pd2"), 6).alias("_approx_d2"))
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.asc("_approx_d2"), F.asc(id_col)
    )
    shortlist = (
        scored.withColumn("_adc_rank", F.row_number().over(w_adc))
        .filter(F.col("_adc_rank") <= rerank_factor * k)
        .select(query_id_col, id_col)
    )
    # Exact rerank: re-attach raw vectors for shortlist rows only.
    # Unit-norm inputs are NOT assumed — norms are recomputed.
    exact = (
        shortlist.join(cand, on=id_col)
        .join(
            F.broadcast(
                q.select(
                    query_id_col,
                    F.col("_qv").alias("_qv2"),
                    l2_norm(F.col("_qv")).alias("_qn"),
                )
            ),
            on=query_id_col,
        )
        # zero-norm guard: cosine undefined; ANSI would raise DIVIDE_BY_ZERO
        .filter((F.col("_qn") > 0) & (l2_norm(F.col("_v")) > 0))
        .select(
            query_id_col,
            id_col,
            F.round(
                dot_product(F.col("_qv2"), F.col("_v"))
                / (F.col("_qn") * l2_norm(F.col("_v"))),
                6,
            ).alias("sim"),
        )
    )
    return _rank_topk(exact, k, query_id_col, id_col)


def centroid_assign(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid assignment + confusion matrix over an embedding
    corpus (the evaluation half of every clustering / weak-labeling
    pipeline: "how separable are the provided labels in embedding
    space?").

    Centroids are the per-label component-wise MEAN, computed in-plan
    (no driver-side training, unlike ``ivf_topk``'s sampled codebook):
    one (label, dim) hash aggregation with map-side partials over the
    exploded components, reassembled into a k×d array table that is
    broadcast to the assignment join. Each vector is then scored
    against all k centroids (k is the label cardinality — tiny) and
    assigned via a partial-aggregatable ``max(struct(sim, -label))``
    argmax — no window, no per-vector shuffle beyond the one
    (id, label) agg. Output is the k×k confusion matrix
    (label, assigned_label, n).

    Scale shape: explode is map-side; the (label, dim) agg carries
    k·d groups regardless of corpus size; the centroid table is k·d
    doubles (always broadcastable); assignment + confusion are one
    hash agg each with partial aggregation. At 100 TB nothing in the
    plan grows beyond the corpus scan itself.

    Determinism: centroid components and cosine scores are rounded to
    6 dp (the repo-wide oracle discipline — see functions/vectors.py);
    ties break to the smaller label id. Zero-norm and NULL vectors are
    excluded (cosine undefined).
    """
    v = (
        ensure_parallelism(vectors)
        .select(
            F.col(id_col),
            F.col(label_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .filter(l2_norm(F.col("_v")) > 0)
        .localCheckpoint(eager=True)  # consumed twice: centroids + assignment
    )
    comp = v.select(
        label_col, F.posexplode("_v").alias("_pos", "_val")
    )
    cent = (
        comp.groupBy(label_col, "_pos")
        .agg(F.round(F.avg("_val"), 6).alias("_cv"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_cv"))),
                lambda s: s._cv,
            ).alias("_cvec")
        )
        .select(
            F.col(label_col).alias("_cl"),
            "_cvec",
            l2_norm(F.col("_cvec")).alias("_cnorm"),
        )
    )
    scored = v.crossJoin(F.broadcast(cent)).select(
        id_col,
        label_col,
        F.col("_cl"),
        F.round(
            dot_product(F.col("_v"), F.col("_cvec"))
            / (l2_norm(F.col("_v")) * F.col("_cnorm")),
            6,
        ).alias("_sim"),
    )
    assigned = scored.groupBy(id_col, label_col).agg(
        (-F.max(F.struct(F.col("_sim"), (-F.col("_cl")).alias("_negcl")))
         ["_negcl"]).alias("assigned_label")
    )
    return (
        assigned.groupBy(label_col, "assigned_label")
        .agg(F.count("*").alias("n"))
        .select(
            label_col,
            F.col("assigned_label").cast("int").alias("assigned_label"),
            "n",
        )
    )


def int8_quant_error(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: quantize each
    embedding with scale = max|v|/127, reconstruct, and report per
    label the reconstruction quality — the go/no-go measurement before
    switching a 100 TB vector corpus to int8 storage (4× smaller,
    4× faster ANN probes).

    Everything is a per-row codegen'd array expression (transform /
    zip_with / array_max — no UDF, no shuffle before the final
    k-group agg): q = round(v/scale), recon = q·scale, per-vector
    max-abs-error and self-cosine. array_max and max() are
    order-insensitive, so the only float aggregation is the 6
    dp-rounded mean cosine (repo rounding discipline). Zero-norm and
    NULL vectors are excluded (scale undefined).

    Output: (label, n_vectors, max_abs_err, mean_cos,
    n_high_fidelity) — high fidelity = self-cosine ≥ 0.999.
    """
    v = (
        ensure_parallelism(vectors)
        .select(
            F.col(id_col),
            F.col(label_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .withColumn(
            "_scale",
            F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x)))
            / F.lit(127.0),
        )
        .filter(F.col("_scale") > 0)
    )
    recon = v.withColumn(
        "_r",
        F.transform(
            F.col("_v"), lambda x: F.round(x / F.col("_scale")) * F.col("_scale")
        ),
    )
    per_vec = recon.select(
        label_col,
        F.round(
            F.array_max(
                F.zip_with(F.col("_v"), F.col("_r"), lambda a, b: F.abs(a - b))
            ),
            6,
        ).alias("_err"),
        F.round(
            dot_product(F.col("_v"), F.col("_r"))
            / (l2_norm(F.col("_v")) * l2_norm(F.col("_r"))),
            6,
        ).alias("_cos"),
    )
    # mean over 6 dp-rounded cosines sits EXACTLY on the rounding grid
    # half the time (each addend is a multiple of 1e-6), where a 1-ulp
    # fp-sum difference flips the 6th decimal between engines — so the
    # mean is accumulated as EXACT integer micro-units and divided
    # once, the same boundary-proof trick as the OLS +1e-9 nudge.
    micro = F.round(F.col("_cos") * 1_000_000).cast("long")
    return per_vec.groupBy(label_col).agg(
        F.count("*").alias("n_vectors"),
        F.max("_err").alias("max_abs_err"),
        F.round(
            F.sum(micro) / (F.count("*") * F.lit(1_000_000.0)), 6
        ).alias("mean_cos"),
        F.sum(F.when(F.col("_cos") >= 0.999, 1).otherwise(0)).alias(
            "n_high_fidelity"
        ),
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-nearest-neighbor graph (exact within a blocking bucket) with
    mutuality annotation — the substrate for graph-based corpus ops
    (semantic clustering, label propagation, UMAP-style layouts, hub
    detection).

    Exact all-pairs kNN at corpus scale is O(N²); the production shape
    is block-then-exact: restrict candidates to a coarse bucket (here
    the `label` column; at 100 TB the bucket is the IVF cluster id from
    `centroid_assign`, giving O(Σ bucket²) with bucket sizes bounded by
    the codebook) and compute the exact graph inside each bucket. The
    bucket join is an equi-join — co-located after one exchange on the
    bucket key, never a cross join.

    Mutuality: edge (a→b) is mutual iff (b→a) is also a kNN edge —
    computed by one self-semi-join of the k-bounded edge list (N·k
    rows, NOT the candidate pairs), the standard input to mutual-kNN
    clustering. Ties broken by neighbor id so ranks are total.

    Output: (src, dst, sim, rank, mutual), rank ≤ k, sim 6 dp.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    normed = ensure_parallelism(embeddings).select(
        F.col(bucket_col).alias("_bk"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    ).filter(F.col("_n") > 0)
    a = normed.select(
        "_bk", F.col("_id").alias("src"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = normed.select(
        "_bk", F.col("_id").alias("dst"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    scored = (
        a.join(b, on="_bk")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(
                dot_product(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("sim"), F.asc("dst")
    )
    # edges feeds both the result AND its own reversal (the mutuality
    # self-join) — lazily checkpoint so the bucket self-join + ranking
    # window runs once, not once per side (and once per downstream
    # consumer in composing operators like triangle_stats/adamic_adar).
    edges = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .localCheckpoint(eager=False)
    )
    back = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(True).alias("_rev"),
    )
    return (
        edges.join(back, on=["src", "dst"], how="left")
        .select(
            "src",
            "dst",
            "sim",
            F.col("rank").cast("int").alias("rank"),
            F.coalesce(F.col("_rev"), F.lit(False)).alias("mutual"),
        )
    )


def mrl_truncation_audit(
    embeddings: DataFrame,
    prefix_dims: tuple[int, ...] = (16, 32),
    n_queries: int = 10,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka/truncation audit: does cutting vectors to their
    first d dimensions preserve NEIGHBOR ORDER? For each query, the
    exact top-k under full dims is compared to the top-k under each
    prefix length — overlap size and top-1 agreement are the go/no-go
    numbers before switching an ANN index to truncated storage (a
    4× memory/IO cut at 100 TB if top-1 survives).

    Exactness: the metric is SET overlap of two deterministic rank
    lists (ties broken by id), so the output is pure integers; no
    mean-of-floats crosses an engine boundary.

    Plan shape: one candidates×queries equi-free join per prefix
    (bounded by n_queries — the query side is tiny and broadcast);
    ranking windows partition by (dims, query). Corpus vectors are
    sliced map-side (`slice`), never re-shuffled per d.

    Output: (dims, n_queries, sum_topk_overlap, n_top1_match) — one
    row per audited prefix length, dims=0 rows excluded by
    construction.
    """
    if not prefix_dims:
        raise ValueError("prefix_dims must be non-empty")
    if any(d <= 0 for d in prefix_dims):
        raise ValueError(f"prefix_dims must be positive, got {prefix_dims}")
    full_dim = 1 << 30  # slice() clamps to array length
    base = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    q = base.filter(F.col("_id") < n_queries).select(
        F.col("_id").alias("_qid"), F.col("_v").alias("_qv")
    )
    ranked = None
    for d in (full_dim,) + tuple(prefix_dims):
        qd = q.select(
            "_qid", F.slice("_qv", 1, d).alias("_qs")
        ).select(
            "_qid", "_qs", l2_norm(F.col("_qs")).alias("_qn")
        )
        cd = base.select(
            "_id", F.slice("_v", 1, d).alias("_cs")
        ).select(
            "_id", "_cs", l2_norm(F.col("_cs")).alias("_cn")
        )
        scored = (
            F.broadcast(qd).crossJoin(cd)
            .filter(
                (F.col("_qid") != F.col("_id"))
                & (F.col("_qn") > 0)
                & (F.col("_cn") > 0)
            )
            .select(
                F.lit(0 if d == full_dim else d).alias("dims"),
                "_qid",
                "_id",
                F.round(
                    dot_product(F.col("_qs"), F.col("_cs"))
                    / (F.col("_qn") * F.col("_cn")),
                    6,
                ).alias("_sim"),
            )
        )
        w = Window.partitionBy("dims", "_qid").orderBy(
            F.desc("_sim"), F.asc("_id")
        )
        top = scored.withColumn("_rk", F.row_number().over(w)).filter(
            F.col("_rk") <= k
        )
        ranked = top if ranked is None else ranked.unionByName(top)
    full = ranked.filter(F.col("dims") == 0).select(
        "_qid", F.col("_id").alias("_fid"), F.col("_rk").alias("_frk")
    )
    trunc = ranked.filter(F.col("dims") != 0)
    overlap = (
        trunc.join(full, on="_qid")
        .filter(F.col("_id") == F.col("_fid"))
        .groupBy("dims", "_qid")
        .agg(
            F.count("*").alias("_ov"),
            F.sum(
                F.when((F.col("_rk") == 1) & (F.col("_frk") == 1), 1).otherwise(0)
            ).alias("_t1"),
        )
    )
    return overlap.groupBy("dims").agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("_ov").cast("long").alias("sum_topk_overlap"),
        F.sum("_t1").cast("long").alias("n_top1_match"),
    )


def centroid_drift(
    embeddings: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid drift between two corpus halves (even / odd
    ids — in production: yesterday's batch vs today's): cosine between
    the two halves' per-label centroids. The embedding-drift monitor
    that catches encoder changes / corpus shift before they poison an
    ANN index built on stale centroids.

    Engine-exactness: per-(label, dim, half) means are rounded to 4 dp
    (the q69 idiom) and then converted to EXACT INTEGER ten-thousandths;
    the cross-dim dot product and norms are integer sums (≤ 64 dims ×
    (10⁴)² ≈ 6e9 < 2⁶³), so the only float ops are two sqrt's and one
    division — identical in any IEEE engine. A float mean-of-floats
    dot would depend on dim summation order and break parity.

    Plan shape: posexplode → one (label, dim, half) hash agg (partials
    collapse each partition to ≤ labels·dims·2 rows before the
    exchange — the q69 centroid plan), then a 64-row-per-label integer
    fold. Output: (label, n_a, n_b, drift_cos).
    """
    e = ensure_parallelism(embeddings).select(
        F.col(label_col).alias("_l"),
        (F.col(id_col) % 2 == 0).alias("_ha"),
        F.posexplode(vec_col).alias("_dim", "_x"),
    )
    cent = e.groupBy("_l", "_dim", "_ha").agg(
        F.round(F.avg("_x") + 1e-9, 4).alias("_m"),
        F.count("*").alias("_cnt"),
    ).withColumn(
        "_mi", F.round(F.col("_m") * 10_000).cast("long")
    )
    a = cent.filter(F.col("_ha")).select(
        "_l", "_dim", F.col("_mi").alias("_ma"), F.col("_cnt").alias("_ca")
    )
    b = cent.filter(~F.col("_ha")).select(
        "_l", "_dim", F.col("_mi").alias("_mb"), F.col("_cnt").alias("_cb")
    )
    folded = (
        a.join(b, on=["_l", "_dim"])
        .groupBy("_l")
        .agg(
            # _ca repeats the half's vector count once per dim; max = count
            F.max("_ca").alias("_vca"),
            F.max("_cb").alias("_vcb"),
            F.sum(F.col("_ma") * F.col("_mb")).alias("_dot"),
            F.sum(F.col("_ma") * F.col("_ma")).alias("_nna"),
            F.sum(F.col("_mb") * F.col("_mb")).alias("_nnb"),
        )
    )
    return folded.select(
        F.col("_l").alias("label"),
        F.col("_vca").cast("long").alias("n_a"),
        F.col("_vcb").cast("long").alias("n_b"),
        F.when(
            (F.col("_nna") > 0) & (F.col("_nnb") > 0),
            F.round(
                F.col("_dot")
                / (
                    F.sqrt(F.col("_nna").cast("double"))
                    * F.sqrt(F.col("_nnb").cast("double"))
                ),
                6,
            ),
        ).alias("drift_cos"),
    )


def hard_negatives(
    embeddings: DataFrame,
    n_anchors: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the k most-similar vectors with a DIFFERENT label — the
    negatives that sit closest to the decision boundary and therefore
    carry the most gradient signal. (Random negatives are trivially
    separable; hard negatives are what make embedding fine-tunes work.)

    Tie-break contract matches every other ANN path here: rank by
    ROUNDED sim (6 dp) desc, then neighbor id asc — reproducible across
    engines. The label inequality also excludes self-pairs for free.

    Plan shape: the anchor side (n_anchors rows) is broadcast against
    the candidate scan, so the pair generation is map-side —
    |C|·n_anchors scored pairs streamed through one row_number window
    partitioned by anchor. At 100 TB, mine per label-shard
    (cosine_topk_filtered's equi-join shape) or pre-bucket with LSH;
    this exact path is the oracle the approximate miners are recalled
    against.

    Output: (anchor_id, neighbor_id, neighbor_label, sim, rank).
    """
    base = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    anchors = base.filter(F.col("_id") < n_anchors).select(
        F.col("_id").alias("anchor_id"),
        F.col("_lbl").alias("_albl"),
        F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
    )
    pairs = base.crossJoin(F.broadcast(anchors)).filter(
        (F.col("_lbl") != F.col("_albl"))
        & (F.col("_n") > 0)
        & (F.col("_an") > 0)
    )
    sims = pairs.select(
        "anchor_id",
        F.col("_id").alias("neighbor_id"),
        F.col("_lbl").alias("neighbor_label"),
        F.round(
            dot_product(F.col("_av"), F.col("_v"))
            / (F.col("_an") * F.col("_n")),
            6,
        ).alias("sim"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id", "neighbor_id", "neighbor_label", "sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def knn_label_agreement(
    embeddings: DataFrame,
    n_anchors: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN-classifier agreement audit: for each anchor, the majority
    label among its k nearest neighbors (self excluded), compared to
    the anchor's own label, rolled up per true label — the standard
    embedding-quality probe (if neighbors don't vote the right label,
    the space won't retrieve or cluster well either).

    Determinism: neighbor rank ties break by rounded sim then id (the
    shared ANN contract); the majority vote ties break by (count desc,
    label asc). All outputs are integers.

    Plan shape: broadcast anchors × candidate scan (one window for the
    k-cut), then a (anchor, label) count and a second tiny window over
    ≤ n_anchors·k rows for the vote. Output:
    (label, n_anchors, n_agree) sorted by label.
    """
    base = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lbl"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    anchors = base.filter(F.col("_id") < n_anchors).select(
        F.col("_id").alias("_aid"),
        F.col("_lbl").alias("_albl"),
        F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
    )
    pairs = base.crossJoin(F.broadcast(anchors)).filter(
        (F.col("_id") != F.col("_aid"))
        & (F.col("_n") > 0)
        & (F.col("_an") > 0)
    )
    sims = pairs.select(
        "_aid",
        "_albl",
        F.col("_id").alias("_nid"),
        F.col("_lbl").alias("_nlbl"),
        F.round(
            dot_product(F.col("_av"), F.col("_v"))
            / (F.col("_an") * F.col("_n")),
            6,
        ).alias("_sim"),
    )
    wk = Window.partitionBy("_aid").orderBy(F.desc("_sim"), F.asc("_nid"))
    nbrs = sims.withColumn("_rk", F.row_number().over(wk)).filter(
        F.col("_rk") <= k
    )
    votes = nbrs.groupBy("_aid", "_albl", "_nlbl").agg(
        F.count("*").alias("_votes")
    )
    wv = Window.partitionBy("_aid").orderBy(
        F.desc("_votes"), F.asc("_nlbl")
    )
    pred = (
        votes.withColumn("_vr", F.row_number().over(wv))
        .filter(F.col("_vr") == 1)
        .select(
            "_aid",
            "_albl",
            (F.col("_nlbl") == F.col("_albl")).alias("_agree"),
        )
    )
    return (
        pred.groupBy(F.col("_albl").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_anchors"),
            F.sum(F.when(F.col("_agree"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree"),
        )
    )


def dim_variance_ranking(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension variance ranking — the feature-selection table
    read before PQ subspace splits or MRL truncation (a dimension with
    ~zero variance carries no retrieval signal and is the first to cut;
    cf. q182's truncation audit, which tests a PREFIX — this table says
    whether a prefix is even the right cut).

    Engine-exact variance: values snap to the integer 1/10⁴ grid, and
    var = (n·Σx² − (Σx)²) / (n²·10⁸) keeps the numerator in EXACT long
    arithmetic (Σx² ≤ n·10⁸, squares ≤ (n·10⁴)² — safe to ~30 M
    vectors per long; shard the grid sums wider before that) with ONE
    terminal division. Ranking ties break by dimension index.

    Plan shape: posexplode → one (dim) hash agg (map-side partials
    collapse each partition to ≤ dims rows) → one row_number window
    over the ≤ dims aggregate. Output: (dim, n, variance, rank).
    """
    e = ensure_parallelism(embeddings).select(
        F.posexplode(vec_col).alias("_dim", "_x")
    ).select(
        "_dim",
        F.round(F.col("_x") * 10_000).cast("long").alias("_g"),
    )
    agg = e.groupBy("_dim").agg(
        F.count("*").alias("_n"),
        F.sum("_g").alias("_s"),
        F.sum(F.col("_g") * F.col("_g")).alias("_ss"),
    )
    var = F.round(
        (F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s"))
        / (F.col("_n") * F.col("_n") * F.lit(1e8)),
        6,
    )
    w = Window.orderBy(F.desc("variance"), F.asc("dim"))
    return (
        agg.select(
            F.col("_dim").cast("int").alias("dim"),
            F.col("_n").cast("long").alias("n"),
            var.alias("variance"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


def embedding_norm_audit(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mad_k: int = 5,
) -> DataFrame:
    """Embedding-norm health audit: the norm distribution's robust
    summary plus the outlier ids — zero-norm, near-zero, and exploding
    vectors are the classic symptoms of an encoder bug or a bad batch,
    and they poison cosine indexes silently (a zero norm is undefined;
    a 100× norm dominates any dot-product ranking it touches).

    Norms snap to the integer 1/10⁴ grid; median and MAD are exact
    percentiles OVER THE GRID (integer values, so both engines'
    discrete medians agree — no interpolation float); a vector is an
    outlier when |norm − median| > ``mad_k``·MAD, all in integer
    arithmetic. Output rows: one '_summary' row (kind, n, median and
    MAD in grid units) and one row per outlier
    (kind='outlier', vec_id, norm_e4).

    Plan shape: one projection computes each norm (map-side fold);
    the exact grid median/MAD are two percentile aggs over the norm
    table (one long per vector — at billions of vectors swap in
    ``approx_percentile`` with a grid-sized accuracy, which is exact
    ON the grid once its error is below one grid step; the exact agg
    here is the oracle for that swap); outlier selection broadcasts
    the two scalars back over the norm table. Output columns:
    (kind, vec_id, norm_e4, n, median_e4, mad_e4).
    """
    norms = ensure_parallelism(embeddings).select(
        F.col(id_col).alias("_id"),
        F.round(l2_norm(F.col(vec_col)) * 10_000).cast("long").alias("_ne4"),
    )
    med = norms.agg(
        F.expr("percentile(_ne4, 0.5)").alias("_med")
    ).select(F.round(F.col("_med")).cast("long").alias("_med"))
    dev = norms.crossJoin(F.broadcast(med)).select(
        "_id", "_ne4", "_med", F.abs(F.col("_ne4") - F.col("_med")).alias("_ad")
    )
    mad = dev.agg(F.expr("percentile(_ad, 0.5)").alias("_mad")).select(
        F.round(F.col("_mad")).cast("long").alias("_mad")
    )
    flagged = dev.crossJoin(F.broadcast(mad))
    outliers = flagged.filter(
        F.col("_ad") > F.lit(int(mad_k)) * F.col("_mad")
    ).select(
        F.lit("outlier").alias("kind"),
        F.col("_id").cast("long").alias("vec_id"),
        F.col("_ne4").alias("norm_e4"),
        F.lit(None).cast("long").alias("n"),
        F.col("_med").alias("median_e4"),
        F.col("_mad").alias("mad_e4"),
    )
    summary = flagged.agg(
        F.lit("_summary").alias("kind"),
        F.lit(None).cast("long").alias("vec_id"),
        F.lit(None).cast("long").alias("norm_e4"),
        F.count("*").cast("long").alias("n"),
        F.max("_med").alias("median_e4"),
        F.max("_mad").alias("mad_e4"),
    )
    return summary.unionByName(outliers)


def jl_signs(d: int, k: int) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix
    (k rows × d cols), Achlioptas' database-friendly construction with
    md5-derived signs: ``sign[j][i] = +1 iff md5("jl_{j}_{i}")`` has an
    even first-32-bit prefix. md5 (not xxhash64) so the DuckDB oracle
    regenerates the SAME matrix from the same Python helper — the
    matrix is a pure function of (d, k), no RNG state anywhere."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl_{j}_{i}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1
            for i in range(d)
        ]
        for j in range(k)
    ]


def jl_distortion_audit(
    emb: DataFrame,
    dim: int,
    k: int = 16,
    panel_mod: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Random-projection DIMENSIONALITY-REDUCTION audit: project the
    embedding column to ``k`` dims with the deterministic ±1 JL matrix
    (:func:`jl_signs`) and measure, on a deterministic id-panel of
    within-label pairs, how well scaled projected L2 distance
    ``sqrt(d/k) · ||Pa − Pb||`` preserves the original ``||a − b||``
    (the JL lemma's (1±ε) guarantee, made measurable per corpus before
    committing an ANN index to the reduced space).

    Scale shape: ONE narrow pass computes the k projections + the
    self-dot per panel vector (64·k multiply-adds per row, pure
    codegen higher-order functions — no UDF, no shuffle); pairs come
    from a label-equi self-join of the panel (never a cartesian);
    ``panel_mod`` is the audit valve (panel ~ n/panel_mod rows, pairs
    quadratic in the PANEL, not the corpus — same contract as q231's
    audit_mod). Output: per-label pair count + mean/min/max distortion
    ratio (pairs at ratio 1.0 are perfectly preserved)."""
    signs = jl_signs(dim, k)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # Server-parsed SQL text instead of k×d nested Column objects: the
    # d=64, k=16 literal sign matrix cost ~1.2 s of pure Py4J
    # construction per call (guide §1.2 — the r12 simhash treatment).
    # The parsed tree is identical: same aggregate/zip_with fold, same
    # double literals, same fold order.
    proj = [
        F.expr(
            f"aggregate(zip_with(transform({vec_col},"
            " x -> cast(x as double)),"
            f" array({', '.join('1.0D' if s > 0 else '-1.0D' for s in row)}),"
            " (x, s) -> x * s), 0D, (acc, x) -> acc + x)"
        ).alias(f"p{j}")
        for j, row in enumerate(signs)
    ]
    self_dot = F.aggregate(
        F.zip_with(v, v, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    ).alias("aa")
    panel = (
        emb.filter(F.pmod(F.col(id_col), F.lit(panel_mod)) == 0)
        .select(
            F.col(id_col).alias("id"),
            F.col(label_col).alias("label"),
            v.alias("e"),
            self_dot,
            *proj,
        )
    )
    a, b = panel.alias("a"), panel.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label")) & (F.col("a.id") < F.col("b.id")),
    )
    ab = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist2_orig = F.col("a.aa") - 2 * ab + F.col("b.aa")
    dist2_proj = sum(
        (F.col(f"a.p{j}") - F.col(f"b.p{j}")) ** 2 for j in range(k)
    )
    ratio = F.round(
        F.sqrt(dist2_proj * F.lit(dim / k) / dist2_orig), 6
    ).alias("ratio")
    scored = pairs.filter(dist2_orig > 1e-12).select(
        F.col("a.label").alias("label"), ratio
    )
    return scored.groupBy("label").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("ratio"), 4).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
    )


def gram_matrix(
    emb: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Gram matrix Xᵀ X over an embedding column — the d×d
    summary every spectral step downstream of a corpus embedding needs
    (PCA / whitening / ridge normal equations start from exactly this
    matrix; q238's JL audit is the randomized cousin that skips it).

    Plan shape is the canonical outer-product aggregation: each
    partition streams its Arrow batches through numpy (one dgemm per
    batch, float64 accumulator) and emits its d(d+1)/2 upper-triangle
    PARTIALS; one hash agg sums partials by (i, j). Nothing shuffles
    except #partitions × d(d+1)/2 tiny rows — the n×d data never
    moves, so the plan is scan-bound at any corpus size (the same
    partial-then-combine contract as the moment sketch). This is the
    genuinely-can't-express-it case for built-in operators: the
    per-batch dgemm is the point (a posexplode self-join would shuffle
    n·d(d+1)/2 rows — quadratic in d on the wire).

    Determinism: float32 inputs widen exactly to float64, so per-pair
    products are bit-identical across engines; only summation order
    differs (BLAS blocked vs oracle sequential), absorbed by the 4-dp
    round (+1e-9 nudge). Rows with NULL vectors are dropped; a row
    whose vector length ≠ ``dim`` raises (bad input, not a convention).

    Output: (i, j, g) for 1 ≤ i ≤ j ≤ dim, 1-based to match SQL array
    indexing.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    def partial_gram(batches):
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if X.shape[1] != dim:
                raise ValueError(
                    f"vector length {X.shape[1]} != declared dim {dim}"
                )
            g = X.T @ X
            acc = g if acc is None else acc + g
        if acc is None:
            return
        iu, ju = np.triu_indices(dim)
        yield pd.DataFrame(
            {
                "i": (iu + 1).astype("int32"),
                "j": (ju + 1).astype("int32"),
                "pg": acc[iu, ju],
            }
        )

    rows = emb.filter(F.col(vec_col).isNotNull()).select(vec_col)
    parts = rows.mapInPandas(partial_gram, "i int, j int, pg double")
    return (
        parts.groupBy("i", "j")
        .agg(F.round(F.sum("pg") + 1e-9, 4).alias("g"))
        .select("i", "j", "g")
    )
