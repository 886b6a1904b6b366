"""Semantic tests for the LLM-pipeline operators: planted duplicates
must be found; exact variants must agree with approximate ones on
clear-cut cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_neardup,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup,
    lsh_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the yard"
)
OTHER = (
    "completely different content about spark query engines processing "
    "petabytes of shuffled columnar data with adaptive execution"
)


def test_exact_dedup_counts(spark):
    docs = _docs(spark, [(1, BASE), (2, BASE), (3, OTHER)])
    out = {r["doc_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_ngram_jaccard_finds_planted_near_dup(spark):
    docs = _docs(spark, [(1, BASE), (2, NEAR), (3, OTHER)])
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.7
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_finds_planted_near_dup(spark):
    docs = _docs(spark, [(1, BASE), (2, NEAR), (3, OTHER)])
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_dedup(docs, 0.5).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_simhash_identical_and_near(spark):
    docs = _docs(spark, [(1, BASE), (2, BASE), (3, OTHER)])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup(docs, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text → identical signature
    assert (1, 3) not in pairs


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_self_is_rank1(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], i % 2) for i in range(50)
    ]
    emb = _emb(spark, rows)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=5).collect()
    rank1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert rank1 == {0: 0, 1: 1, 2: 2}  # self-similarity 1.0 wins
    assert all(r["sim"] <= 1.0 + 1e-9 for r in out)


def test_lsh_topk_recovers_exact_top1(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)], 0) for i in range(50)]
    emb = _emb(spark, rows)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, k=5).collect()
    rank1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    # self vector always collides with itself in every hash table
    assert rank1 == {0: 0, 1: 1, 2: 2}


def test_lsh_topk_min_cosine_contract(spark):
    """min_cosine semantics: None imposes no distance filter on the
    bucket-colliding candidates (the original MLlib contract); a bound
    is INCLUSIVE at exactly cos == min_cosine (Spark's
    approxSimilarityJoin filters strictly '<', so distance √2 would be
    dropped at min_cosine=0.0 without the +1e-9 pad — the ortho vector
    here sits at exactly that boundary); a tighter bound prunes. Fixed
    seed + oversized bucket_length make the candidate set
    deterministic."""
    dim = 8
    q = [1.0] + [0.0] * (dim - 1)
    ortho = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)  # cos == 0.0 exactly
    rows = [(0, q, 0), (99, ortho, 0)]
    emb = _emb(spark, rows)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def ids(**kw):
        return {
            r["vec_id"]
            for r in lsh_topk(
                emb, queries, k=5, bucket_length=100.0, **kw
            ).collect()
        }

    assert ids() == {0, 99}  # default: no distance filter
    # inclusive boundary: cos exactly 0.0 survives min_cosine=0.0
    assert ids(min_cosine=0.0) == {0, 99}
    # tighter bound prunes the ortho vector, keeps the exact self-match
    assert ids(min_cosine=0.5) == {0}


def test_embedding_neardup_planted(spark):
    v = [1.0] + [0.0] * 15
    near = [0.999] + [0.04] + [0.0] * 14
    far = [0.0] * 15 + [1.0]
    emb = _emb(spark, [(1, v, 0), (2, near, 0), (3, far, 0), (4, v, 1)])
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_neardup(emb, 0.95).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs
    assert (1, 4) not in pairs  # different label bucket → never compared
    # bucket_col=None: the GLOBAL exact baseline (broadcast nested
    # loop) must find the cross-label pairs the blocked path by
    # design cannot — (1,4) the exact duplicate and (2,4) its near
    # twin — and nothing else new
    gpairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup(emb, 0.95, bucket_col=None).collect()
    }
    assert gpairs == pairs | {(1, 4), (2, 4)}


def test_pandas_udf_cosine_matches_jvm_fold(spark):
    """The Arrow-batched cosine must agree with the JVM aggregate-fold
    expression to float64 precision."""
    from pyspark.sql import functions as F

    from public_projet_data_engineering_tarification_electrique_spark.functions.vectors import (
        cosine_similarity,
        cosine_similarity_pandas,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ida") < F.col("idb")).limit(500)
    cos_pd = cosine_similarity_pandas()
    diff = pairs.select(
        F.abs(
            cosine_similarity(F.col("va"), F.col("vb"))
            - cos_pd(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>"))
        ).alias("d")
    ).agg(F.max("d")).collect()[0][0]
    assert diff < 1e-9


def test_embedding_lsh_neardup_finds_exact_pairs(spark):
    """Hyperplane-LSH blocking must recover every pair the exact
    label-blocked scorer finds ABOVE a high threshold (identical or
    near-identical vectors agree on all sign bits, so recall at
    sim→1 is certain), and report identical sim values on shared pairs."""
    from pyspark.sql import functions as F

    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        embedding_neardup,
        embedding_neardup_lsh,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # plant an exact duplicate pair
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    full = emb.unionByName(dup)
    lsh_pairs = embedding_neardup_lsh(full, threshold=0.9)
    got = {(r.id_a, r.id_b): r.sim for r in lsh_pairs.collect()}
    assert (0, 1_000_000) in got
    assert got[(0, 1_000_000)] == 1.0
    # agreement with the exact scorer on any shared pair
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in embedding_neardup(full, threshold=0.9).collect()
    }
    for pair, sim in got.items():
        if pair in exact:
            assert exact[pair] == sim


def test_connected_components_chain_and_islands(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter > 1 forces iteration), pair {10,11},
    # and 20-21-22 joined through a hub
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    # BOTH paths must agree: the driver-side union-find fast path
    # (default gate) and the distributed min-label loop (gate off)
    for threshold in (100_000, 0):
        got = {
            (r.node, r.component)
            for r in connected_components(
                edges, local_threshold=threshold
            ).collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
        }, f"local_threshold={threshold}"


def test_dedup_clusters_transitive(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        dedup_clusters,
    )

    # A≈B and B≈C but A,C still share most shingles → one cluster of 3;
    # OTHER stays out entirely (no near-dup ⇒ not emitted)
    far = NEAR.replace("birds", "crows")
    docs = _docs(spark, [(1, BASE), (2, NEAR), (3, far), (9, OTHER)])
    rows = dedup_clusters(docs, threshold=0.2).collect()
    assert {(r.doc_id, r.cluster_id, r.cluster_size) for r in rows} == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3)
    }


def test_hash_split_deterministic_and_partition_invariant(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
        hash_split,
    )

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(13), "doc_id").collect()
    }
    assert a == b  # pure function of id, not of layout
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.75 < frac < 0.85  # ~80% within hash noise
    # different salt ⇒ a different (uncorrelated) assignment
    c = {r.doc_id: r.split for r in hash_split(docs, "doc_id", salt="v2").collect()}
    assert a != c


def test_stratified_sample_rates_and_nesting(spark):
    from pyspark.sql import functions as F
    from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
        stratified_sample,
    )

    docs = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 3 == 0, "en")
            .when(F.col("doc_id") % 3 == 1, "fr")
            .otherwise("xx"),
        )
    )
    got = stratified_sample(
        docs, "doc_id", "lang", {"en": 1000, "fr": 5000}
    ).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert "xx" not in by_lang  # unlisted stratum → default rate 0
    assert 60 < len(by_lang["en"]) < 140  # ~10% of 1000
    assert 400 < len(by_lang["fr"]) < 600  # ~50% of 1000
    # nested: raising en's rate to fr's keeps every previously-kept row
    wider = {
        r.doc_id
        for r in stratified_sample(
            docs, "doc_id", "lang", {"en": 5000}
        ).collect()
    }
    assert by_lang["en"] <= wider


def test_tfidf_top_terms_known_values(spark):
    import math

    from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
        tfidf_top_terms,
    )

    docs = _docs(
        spark, [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")]
    )
    rows = {
        (r.doc_id, r.rank): (r.token, r.tf, r.tfidf)
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    def score(tf, df, n=3):
        return round(tf * (math.log((n + 1) / (df + 1)) + 1), 4)

    assert rows[(1, 1)] == ("apple", 2, score(2, 1))
    assert rows[(1, 2)] == ("banana", 1, score(1, 2))
    assert rows[(2, 1)] == ("cherry", 1, score(1, 1))
    assert rows[(2, 2)] == ("banana", 1, score(1, 2))  # rarer term outranks
    assert rows[(3, 1)] == ("durian", 1, score(1, 1))


def test_pack_chunks_invariants(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.packing import (
        pack_chunks,
    )

    # shard A: 3+4+5 = 12 tokens at capacity 8 → chunk0 full (8),
    # chunk1 has 4; doc 3 (5 tokens) straddles the boundary so it
    # appears in BOTH chunks. shard B: one 20-token doc spans 3 chunks.
    docs = spark.createDataFrame(
        [
            (1, "a b c", "A"),
            (2, "d e f g", "A"),
            (3, "h i j k l", "A"),
            (4, " ".join(f"t{i}" for i in range(20)), "B"),
            (5, "   ", "B"),  # blank → 0 tokens, dropped
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r.source, r.chunk_id): (r.n_docs, r.n_tokens)
        for r in pack_chunks(docs, capacity=8).collect()
    }
    assert rows == {
        ("A", 0): (3, 8),  # docs 1, 2 and the head of doc 3
        ("A", 1): (1, 4),  # tail of doc 3
        ("B", 0): (1, 8),
        ("B", 1): (1, 8),
        ("B", 2): (1, 4),
    }
    # token conservation: chunk fills sum to the corpus token count
    assert sum(v[1] for v in rows.values()) == 12 + 20


def test_constraint_report_counts_violations(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.audit import (
        constraint_report,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (3, 2.0)], "k long, v double"
    )
    report = {
        r.rule: r.n_violations
        for r in constraint_report(
            {
                "negative_v": df.filter(F.col("v") < 0),
                "null_v": df.filter(F.col("v").isNull()),
                "duplicate_k": df.groupBy("k")
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") > 1),
                "clean_rule": df.filter(F.col("k") < 0),
            }
        ).collect()
    }
    assert report == {
        "negative_v": 1,
        "null_v": 1,
        "duplicate_k": 1,
        "clean_rule": 0,  # checked-and-clean still reports a row
    }


def test_contamination_detects_planted_leak(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.decontam import (
        contamination_report,
    )
    from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
        hash_split,
    )

    # find ids that hash into each split, then plant a leaked 5-gram
    base = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    splits = {r.doc_id: r.split for r in hash_split(base, "doc_id").collect()}
    train_id = next(i for i, s in splits.items() if s == "train")
    test_id = next(i for i, s in splits.items() if s == "test")
    val_id = next(i for i, s in splits.items() if s == "val")
    leak = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (train_id, f"preamble text {leak} trailing words here"),
            (test_id, f"totally different framing yet {leak} appears"),
            (val_id, "no overlap with anything else in this corpus"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.split: (r.n_docs, r.n_contaminated)
        for r in contamination_report(docs, k=5).collect()
    }
    assert got["test"] == (1, 1)  # shares the leaked 5-gram
    assert got["val"] == (1, 0)


def test_repetition_stats_known_values(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
        repetition_stats,
    )

    docs = _docs(
        spark,
        [
            (1, "spam spam spam spam"),     # all dup tokens AND bigrams
            (2, "alpha beta gamma delta"),  # no repetition
            (3, "hi"),                      # single token → no bigrams
        ],
    )
    rows = {
        r.doc_id: (
            r.n_tokens,
            r.frac_dup_tokens,
            r.frac_dup_bigrams,
            r.mean_word_len,
            r.keep,
        )
        for r in repetition_stats(docs).collect()
    }
    assert rows[1] == (4, 0.75, round(1 - 1 / 3, 4), 4.0, False)
    assert rows[2] == (4, 0.0, 0.0, 4.75, True)
    assert rows[3] == (1, 0.0, 0.0, 2.0, False)  # mean_word_len < 3


def test_mixture_plan_exact_quotas(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
        mixture_plan,
    )

    # availability: a=100, b=10; target 1:1 → b is the bottleneck:
    # T = min(100*2/1, 10*2/1) = 20, each takes 10
    rows = [("a", i) for i in range(100)] + [("b", i) for i in range(10)]
    docs = spark.createDataFrame(rows, "src string, doc_id long")
    plan = {
        r.src: (r.n_docs, r.target_share, r.take_n, r.rate)
        for r in mixture_plan(docs, "src", lambda s: F.lit(1)).collect()
    }
    assert plan["a"] == (100, 0.5, 10, 0.1)
    assert plan["b"] == (10, 0.5, 10, 1.0)  # bottleneck used in full


def test_keep_top_fraction_exact_threshold_with_ties(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
        keep_top_fraction,
    )

    # scores: 9,8,8,7,6,5,4,3,2,1 — top 3/10 → target 3; score 8 ties
    # already inside, threshold = 8, kept = {9,8,8}
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate([9.0, 8.0, 8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0])],
        "id long, score double",
    )
    kept = keep_top_fraction(df, "score", 3, 10).collect()
    assert sorted(r.score for r in kept) == [8.0, 8.0, 9.0]
    assert all(r.threshold == 8.0 for r in kept)
    # ties CROSSING the target are kept: top 2/10 → {9, 8, 8} too
    kept2 = keep_top_fraction(df, "score", 2, 10).collect()
    assert sorted(r.score for r in kept2) == [8.0, 8.0, 9.0]


def test_task_retry_conf_pinned(spark):
    # T4 (SURVEY §2.9): retry-on-failure delegated to Spark task retries.
    # The local scheduler ignores spark.task.maxFailures and only honors
    # a retry count embedded in the master string — assert BOTH: the
    # conf (cluster path) and the local[N,4] master (where we run).
    assert spark.conf.get("spark.task.maxFailures") == "4"
    master = spark.conf.get("spark.master")
    assert master.startswith("local[") and master.rstrip("]").endswith(",4")


def test_lsh_plan_construction_launches_no_job(spark):
    # Building the near-dup plan must not run a Spark job (the dim probe
    # used to .first() the embeddings); jobs may only start at action time.
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        embedding_neardup_lsh,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    emb.count()  # materialize the source outside the measured window
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None) or []
    df = embedding_neardup_lsh(emb, threshold=0.9)
    after = tracker.getJobIdsForGroup(None) or []
    assert len(after) == len(before), "plan construction launched a job"
    assert df.columns == ["id_a", "id_b", "sim"]


def test_anchored_neardup_subset_and_planted_pair(spark):
    # Anchored blocking returns a SUBSET of in-bucket exhaustive pairs
    # (same exact-cosine filter, candidate set restricted to shared
    # probed anchors), and a planted identical pair is always recovered
    # (identical vectors share every probed anchor).
    import pyspark.sql.functions as F

    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        anchored_neardup,
        embedding_neardup,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    clone = emb.filter(F.col("vec_id") == 1).withColumn(
        "vec_id", F.lit(100001).cast("long")
    )
    planted = emb.unionByName(clone)
    anchored = {
        (r.id_a, r.id_b)
        for r in anchored_neardup(planted, threshold=0.35).collect()
    }
    exhaustive = {
        (r.id_a, r.id_b)
        for r in embedding_neardup(planted, threshold=0.35).collect()
    }
    assert anchored <= exhaustive
    assert (1, 100001) in anchored


def test_star_cc_equals_min_label_on_random_graphs(spark):
    """large-star/small-star (Kiveris et al.) must produce exactly the
    min-label components on random graphs and on a 60-node chain, and
    none of the three paths may depend on the session's shuffle
    partition count."""
    import random

    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )
    from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
        scoped_conf,
    )

    rng = random.Random(7)
    graphs = [
        [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
        for _ in range(3)
    ]
    graphs.append([(i, i + 1) for i in range(59)])
    for trial, edges in enumerate(graphs):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for parts in (1, 7):
            with scoped_conf(spark, "spark.sql.shuffle.partitions", parts):
                a = {
                    (r.node, r.component)
                    for r in connected_components(
                        df, local_threshold=0
                    ).collect()
                }
                b = {
                    (r.node, r.component)
                    for r in connected_components_star(df).collect()
                }
                c = {
                    (r.node, r.component)
                    for r in connected_components(df).collect()  # union-find
                }
            assert a == b == c, (
                f"graph {trial}, {parts} partitions: "
                "star/min-label/union-find differ"
            )


def test_cc_long_chain_falls_back_to_star(spark):
    """A path graph with diameter >> max_iter: min-label alone cannot
    converge, the star fallback must — components still exact."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        connected_components,
    )

    n = 60
    chain = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    # local_threshold=0 forces the distributed loop (the union-find
    # fast path would otherwise absorb any small graph)
    out = connected_components(df, max_iter=3, local_threshold=0).collect()
    assert len(out) == n
    assert all(r.component == 0 for r in out)


def test_anchored_neardup_survives_sparse_id_space(spark):
    """Anchor selection hashes the id first: an all-odd id space (which
    a raw `id % stride == 0` rule can never sample when the stride is
    even) must still produce a ~sqrt(n) codebook and recover a planted
    identical pair."""
    import pyspark.sql.functions as F

    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        anchored_neardup,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").withColumn(
        "vec_id", (F.col("vec_id") * 2 + 1).cast("long")
    )
    clone = emb.filter(F.col("vec_id") == 3).withColumn(
        "vec_id", F.lit(200_001).cast("long")
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in anchored_neardup(
            emb.unionByName(clone), threshold=0.35
        ).collect()
    }
    assert (3, 200_001) in pairs


def test_anchored_neardup_tiny_input_never_empty_codebook(spark):
    """n=4 identical-direction vectors with ids chosen freely: the
    min-id row is always an anchor, so the planted duplicate pair is
    found even when the hash-residue sample would be empty."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        anchored_neardup,
    )

    rows = [
        (7, [1.0, 0.0, 0.0], 0),
        (11, [1.0, 0.0, 0.0], 0),
        (13, [0.0, 1.0, 0.0], 0),
        (17, [0.0, 0.0, 1.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    pairs = {(r.id_a, r.id_b) for r in anchored_neardup(df, threshold=0.9).collect()}
    assert (7, 11) in pairs


def test_bloom_prefilter_superset_and_selective(spark):
    """The Bloom prefilter passes every true match (no false negatives
    — the correctness contract) while pruning most non-matching rows
    (the reason it exists); partitioning never changes membership."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    keys = spark.range(0, 200).selectExpr("id * 7 as k")  # 0,7,...,1393
    fact = spark.range(0, 5000).selectExpr("id as k")
    bitmap = bloom_build(keys, "k", m_bits=4096, k=4)
    passed = {r["k"] for r in bloom_prefilter(fact, "k", bitmap, m_bits=4096, k=4).collect()}
    true_keys = {i * 7 for i in range(200)}
    assert true_keys <= passed, "bloom must never drop a true match"
    fp = passed - true_keys
    # 4096 bits / 200 keys / k=4 → theoretical FP ~0.1%; allow 10x slack
    assert len(fp) < 0.01 * 5000
    repart = {
        r["k"]
        for r in bloom_prefilter(
            fact.repartition(13), "k", bitmap, m_bits=4096, k=4
        ).collect()
    }
    assert repart == passed


def test_bloom_small_k_no_overflow(spark):
    """k ≤ 2 slices are capped at 15 hex chars (60 bits): an uncapped
    32/k-char slice exceeds Long.MAX for ~half of all digests and the
    BIGINT cast crashes under ANSI (or NULLs out positions with ANSI
    off — silently dropping TRUE matches). Regression for the
    digest-slicing rewrite."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    keys = spark.range(0, 100).selectExpr("id * 3 as k")
    fact = spark.range(0, 1000).selectExpr("id as k")
    for kk in (1, 2, 3):
        bitmap = bloom_build(keys, "k", m_bits=4096, k=kk)
        passed = {
            r["k"]
            for r in bloom_prefilter(
                fact, "k", bitmap, m_bits=4096, k=kk
            ).collect()
        }
        assert {i * 3 for i in range(100)} <= passed, (
            f"k={kk}: bloom dropped a true match"
        )


def test_epoch_upsample_realized_epochs(spark):
    """Realized copies per stratum ≈ target epochs; copy multiplicity
    is a pure function of id (repartition-invariant); copy_idx is
    dense 1..n per doc."""
    from collections import Counter

    from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
        epoch_upsample,
    )
    from pyspark.sql import functions as F

    docs = spark.range(0, 1000).selectExpr(
        "id as doc_id", "case when id % 2 = 0 then 'a' else 'b' end as s"
    )
    weights = lambda s: F.when(s == "a", 2.5).otherwise(0.4)  # noqa: E731
    out = epoch_upsample(docs, "s", weights, id_col="doc_id").collect()
    per_doc = Counter((r["doc_id"]) for r in out)
    for doc_id, n in per_doc.items():
        idxs = sorted(r["copy_idx"] for r in out if r["doc_id"] == doc_id)
        assert idxs == list(range(1, n + 1))
    n_a = sum(n for d, n in per_doc.items() if d % 2 == 0)
    n_b = sum(n for d, n in per_doc.items() if d % 2 == 1)
    assert abs(n_a / 500 - 2.5) < 0.15
    assert abs(n_b / 500 - 0.4) < 0.15
    again = Counter(
        r["doc_id"]
        for r in epoch_upsample(
            docs.repartition(17), "s", weights, id_col="doc_id"
        ).collect()
    )
    assert again == per_doc


def test_nearest_centroid_matches_numpy_argmin(spark):
    """The codegen'd fold assignment must agree with np.argmin on the
    same codebook, including the lowest-index tie-break."""
    import numpy as np
    from pyspark.sql import functions as F

    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        nearest_centroid,
    )

    rng = np.random.RandomState(7)
    codebook = rng.randn(6, 8)
    codebook[3] = codebook[1]  # duplicate centroid → exercises ties
    vecs = rng.randn(50, 8)
    vecs[10] = codebook[1]  # exactly on the duplicated centroid
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vid int, v array<double>",
    )
    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in codebook]
    )
    got = {
        r["vid"]: r["c"]
        for r in df.select(
            "vid", nearest_centroid(F.col("v"), cent_lit, 6).alias("c")
        ).collect()
    }
    d2 = ((vecs[:, None, :] - codebook[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1)
    assert got == {i: int(want[i]) for i in range(50)}
    assert got[10] == 1  # tie between centroid 1 and 3 → lowest index


def test_bloom_guards(spark):
    """Parameter mismatch raises (never silently drops true matches);
    null build keys are dropped instead of aborting the build."""
    import pytest
    from pyspark.sql import functions as F

    from public_projet_data_engineering_tarification_electrique_spark.operators.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    keys = spark.createDataFrame([(7,), (None,), (21,)], "k long")
    bitmap = bloom_build(keys, "k", m_bits=4096, k=4)
    fact = spark.range(0, 50).selectExpr("id as k")
    passed = {
        r["k"]
        for r in bloom_prefilter(fact, "k", bitmap, m_bits=4096, k=4).collect()
    }
    assert {7, 21} <= passed  # null key ignored, real keys present
    with pytest.raises(Exception, match="does not match"):
        bloom_prefilter(fact, "k", bitmap, m_bits=8192, k=4).collect()


def test_epoch_upsample_null_weight_raises(spark):
    import pytest
    from pyspark.sql import functions as F

    from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
        epoch_upsample,
    )

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, s string"
    )
    incomplete = lambda s: F.when(s == "a", 2.0)  # noqa: E731  missing otherwise
    with pytest.raises(Exception, match="epochs_of returned NULL"):
        epoch_upsample(docs, "s", incomplete, id_col="doc_id").collect()


def test_unigram_lm_empty_train_split_raises(spark):
    import pytest

    from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
        unigram_lm_scores,
    )

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with pytest.raises(Exception, match="train split is empty"):
        unigram_lm_scores(docs, train_pct=0).collect()


def test_containment_finds_subset_doc(spark):
    """A short doc fully contained in a longer one: containment ≈ 1 in
    the A→B direction even though symmetric Jaccard is low."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog"
    long = (
        short
        + " while the cat watches from the warm windowsill and the birds"
        " sing in the garden as rain falls on the quiet rooftops beyond"
        " the hedge and the kettle hums in the kitchen downstairs"
    )
    docs = _docs(spark, [(1, short), (2, long), (3, OTHER)])
    pairs = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in containment_pairs(docs, k=3, threshold=0.9).collect()
    }
    assert (1, 2) in pairs
    c_ab, c_ba = pairs[(1, 2)]
    assert c_ab == 1.0  # every shingle of the short doc is in the long one
    assert c_ba < 0.5  # asymmetry: the long doc is NOT contained in the short
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # symmetric Jaccard under-scores the same pair — the reason this
    # operator exists
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.0).collect()
    }
    assert jac[(1, 2)] < 0.5


def test_containment_blank_and_identical_docs(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        containment_pairs,
    )

    docs = _docs(spark, [(1, BASE), (2, BASE), (3, "")])
    pairs = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in containment_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert pairs == {(1, 2): (1.0, 1.0)}


def test_similarity_null_and_zero_norm_tolerance(spark):
    """One null embedding (or a zero-norm vector) must not crash the
    Arrow-batched paths or surface NULL-sim rows as top-k."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        embedding_neardup_lsh,
        pq_topk,
    )

    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1), 1.0, 2.0]) for i in range(40)]
    rows.append((97, None))          # null embedding
    rows.append((98, [0.0, 0.0, 0.0, 0.0]))  # zero-norm vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # cosine: zero-norm/null candidates are excluded, never ranked
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, q0, k=5, vec_col="embedding").collect()
    ids = {r["vec_id"] for r in out}
    assert 97 not in ids and 98 not in ids
    assert all(r["sim"] is not None for r in out)

    # hyperplane-LSH near-dup: the null row signs to NULL and drops out
    pairs = embedding_neardup_lsh(emb, threshold=0.99, vec_col="embedding",
                                  id_col="vec_id").collect()
    assert all(97 not in (r["id_a"], r["id_b"]) for r in pairs)

    # PQ: null candidate encodes to null codes (posexplode drops it)
    pq = pq_topk(
        emb, q0, k=3, vec_col="embedding", m=2, n_clusters=4,
    ).collect()
    assert {r["vec_id"] for r in pq}.isdisjoint({97})

    # MLlib LSH: array_to_vector / the hash UDF are not null-safe —
    # the operator must pre-filter the invalid rows, not crash
    lsh = lsh_topk(emb, q0, k=5, vec_col="embedding").collect()
    lsh_ids = {r["vec_id"] for r in lsh}
    assert 97 not in lsh_ids and 98 not in lsh_ids
    assert len(lsh) > 0


def test_anchored_neardup_min_id_row_invalid(spark):
    """The guaranteed fallback anchor must be the min VALID id: when the
    min-id row itself is a null embedding, the codebook must not empty
    out (which would silently return zero pairs)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        anchored_neardup,
    )

    # id 0 (the min id) is null; ids 1/2 are an exact duplicate pair.
    # ids are chosen so the md5-residue anchor sample is likely empty
    # at n=4 (stride 2) — the fallback anchor is all that remains.
    rows = [
        (0, "a", None),
        (1, "a", [1.0, 2.0, 3.0]),
        (2, "a", [1.0, 2.0, 3.0]),
        (3, "a", [-5.0, 0.5, 0.1]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in anchored_neardup(emb, threshold=0.99).collect()
    }
    assert (1, 2) in pairs


def test_lsh_topk_none_bound_equals_full_range(spark):
    """min_cosine=None must behave exactly like min_cosine=-1.0 (the
    full cosine range): both bounds are 2.0 + epsilon because
    approxSimilarityJoin filters STRICTLY below the bound — a bare 2.0
    would make None the MORE restrictive of the two at the boundary.
    (Exactly anti-parallel pairs can never share a random-projection
    bucket, so the contract is observable only through this
    equivalence, not through a collision at distance 2.0.)"""
    rows = [
        (i, [float((i * 7) % 5 - 2), float((i * 3) % 4 - 1), 1.0])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=10, vec_col="embedding", num_hash_tables=6, bucket_length=1.0)
    a = lsh_topk(emb, q0, min_cosine=None, **kw).collect()
    b = lsh_topk(emb, q0, min_cosine=-1.0, **kw).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) > 0


def test_simhash64_survives_long_documents_under_ansi(spark):
    """A ~40k-occurrence token must not overflow the packed vote sums
    (Spark 4 ANSI mode raises ARITHMETIC_OVERFLOW instead of wrapping;
    the 2×32-bit packing is safe to ~2^31 tokens/doc)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        simhash64,
    )

    df = spark.createDataFrame(
        [(1, "hello " * 40_000), (2, "hello"), (3, "world")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    assert len(sigs) == 3
    # a doc that is one token repeated must sign identically to the
    # single-occurrence doc (majority vote per bit is scale-invariant)
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_simhash_neardup_rejects_nondivisor_bands(spark):
    import pytest

    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        simhash_neardup,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (5, 65, 3):
        with pytest.raises(ValueError, match="divide 64"):
            simhash_neardup(df, n_bands=bad, max_hamming=1)


def test_dup_span_stats_planted(spark):
    """Planted repeated 4-gram across two docs: every span of the pure
    repeat docs is duplicated; the unique doc has zero."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        dup_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # 2 spans, both shared w/ doc 2
            (2, "the quick brown fox jumps"),      # identical
            (3, "entirely different words here now"),  # 2 spans, unique
            (4, "tiny"),                            # < k tokens: 1 whole-text span
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_stats(docs, k=4).collect()}
    assert out[1]["n_spans"] == 2 and out[1]["n_dup_spans"] == 2
    assert out[1]["dup_ratio"] == 1.0
    assert out[2]["n_dup_spans"] == 2
    assert out[3]["n_spans"] == 2 and out[3]["n_dup_spans"] == 0
    assert out[3]["dup_ratio"] == 0.0
    assert out[4]["n_spans"] == 1 and out[4]["n_dup_spans"] == 0


def test_dup_span_stats_param_guards(spark):
    import pytest

    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        dup_span_stats,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dup_span_stats(docs, k=0)
    with pytest.raises(ValueError):
        dup_span_stats(docs, min_df=1)


def test_importance_weights_direction_and_exclusions(spark):
    """Docs made of target-heavy tokens must outscore docs of
    source-only tokens; token-less docs are absent."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
        importance_weights,
    )

    rows = []
    # target slice: 10 docs of token 'aaa'
    rows += [(i, "en", "aaa aaa aaa") for i in range(10)]
    # source-only bulk: 10 docs of token 'zzz'
    rows += [(100 + i, "de", "zzz zzz zzz") for i in range(10)]
    rows.append((200, "de", "aaa aaa"))   # non-target doc of target-ish text
    rows.append((201, "de", "   "))       # token-less: absent
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r["doc_id"]: r
        for r in importance_weights(docs, F.col("lang") == "en").collect()
    }
    assert 201 not in out
    assert out[200]["n_tokens"] == 2
    # 'zzz' never occurs in the target -> strongly negative weight,
    # well below the target-typical 'aaa' docs (add-one smoothing over
    # 512 buckets keeps tiny-count absolute scores near zero, so the
    # contract is the ORDERING, not the sign)
    assert out[0]["imp"] > out[100]["imp"]
    assert out[100]["imp"] < -1.0
    # same text => same score regardless of the doc's own label
    assert out[200]["imp"] == out[0]["imp"]


def test_centroid_assign_separable_labels(spark):
    """Two well-separated label clusters → perfectly diagonal confusion
    matrix; zero-norm and NULL vectors are excluded from both centroid
    estimation and assignment."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        centroid_assign,
    )

    rows = [
        # label 0: near e_x
        (0, [1.0, 0.0, 0.05], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [1.1, -0.1, 0.0], 0),
        # label 1: near e_y
        (3, [0.0, 1.0, 0.05], 1),
        (4, [0.1, 0.9, 0.0], 1),
        (5, [-0.1, 1.1, 0.0], 1),
        # excluded rows
        (6, [0.0, 0.0, 0.0], 0),
        (7, None, 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r["label"], r["assigned_label"]): r["n"]
        for r in centroid_assign(df).collect()
    }
    assert got == {(0, 0): 3, (1, 1): 3}


def test_centroid_assign_tie_breaks_to_smaller_label(spark):
    """Identical centroids (duplicate clusters) → every vector assigns
    to the SMALLER label id, deterministically."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        centroid_assign,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {
        (r["label"], r["assigned_label"]): r["n"]
        for r in centroid_assign(df).collect()
    }
    assert got == {(0, 0): 1, (1, 0): 1}


def test_dedup_eval_counts_are_consistent(spark):
    """The audit row's counts equal the operator pair-sets it claims to
    compare, and the ratios are the exact integer ratios."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        dedup_candidate_eval,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    row = dedup_candidate_eval(docs).collect()[0]
    cand = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup(docs, max_hamming=3, n_bands=4).collect()
    }
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, k=3, threshold=0.2, max_df=100
        ).collect()
    }
    assert row["n_candidates"] == len(cand)
    assert row["n_truth"] == len(truth)
    assert row["n_tp"] == len(cand & truth)
    if row["n_candidates"]:
        assert row["precision"] == round(row["n_tp"] / row["n_candidates"], 4)
    if row["n_truth"]:
        assert row["recall"] == round(row["n_tp"] / row["n_truth"], 4)


def test_incremental_dedup_statuses(spark):
    """Planted batch: an exact copy of a corpus doc → exact_dup, a
    near-copy → near_dup, a novel doc → keep; corpus docs never appear
    in the output."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.dedup import (
        incremental_dedup,
    )

    corpus = _docs(spark, [(1, BASE), (2, "completely different corpus text here")])
    new = _docs(
        spark,
        [
            (10, BASE),            # exact (same normalized text)
            (11, NEAR),            # near-dup of BASE
            (12, "unrelated fresh content nobody has seen with many novel words"),
        ],
    )
    got = {r["doc_id"]: r["status"] for r in incremental_dedup(new, corpus).collect()}
    assert got == {10: "exact_dup", 11: "near_dup", 12: "keep"}


def test_int8_quant_error_bounds(spark):
    """Quantization error is bounded by scale/2 per component and the
    self-cosine stays near 1 for well-conditioned vectors; zero and
    NULL vectors are excluded."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        int8_quant_error,
    )

    rows = [
        (0, [1.0, 0.5, -0.25, 0.125], 0),
        (1, [127.0, -64.0, 32.0, 1.0], 0),
        (2, [0.0, 0.0, 0.0, 0.0], 1),   # excluded: zero scale
        (3, None, 1),                    # excluded: null
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in int8_quant_error(df).collect()}
    assert set(out) == {0}
    r0 = out[0]
    assert r0["n_vectors"] == 2
    # max error <= scale/2 = max|v|/254 for each vector; the larger
    # vector has scale 1.0 so the bound is 0.5
    assert r0["max_abs_err"] <= 0.5
    assert r0["mean_cos"] > 0.999
    assert r0["n_high_fidelity"] == 2


def test_audit_panel_capped_equals_uncapped_on_sampled_ids(spark):
    """audit_mod is a pure id filter: the capped exact baseline must
    emit EXACTLY the uncapped pairs whose both endpoints fall in the
    panel (and the capped top-k must equal the uncapped ranking
    recomputed over panel candidates) — the bound that keeps the
    ground-truth recall paths runnable at any corpus size."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        _md5_prefix24,
        audit_sample,
        cosine_topk,
        embedding_neardup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mod = 2
    panel_ids = {
        r["vec_id"]
        for r in emb.select("vec_id")
        .filter(_md5_prefix24(F.col("vec_id")) % mod == 0)
        .collect()
    }
    n_all = emb.count()
    assert 0 < len(panel_ids) < n_all  # non-trivial panel

    # near-dup pairs: capped == uncapped restricted to panel×panel
    uncapped = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in embedding_neardup(
            emb, threshold=0.2, bucket_col="label"
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in embedding_neardup(
            emb, threshold=0.2, bucket_col="label", audit_mod=mod
        ).collect()
    }
    want = {
        (a, b, s)
        for (a, b, s) in uncapped
        if a in panel_ids and b in panel_ids
    }
    assert capped == want and len(capped) > 0

    # top-k: capped == exact ranking over the panel candidate set
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    capped_topk = sorted(
        tuple(r) for r in cosine_topk(
            emb, queries, k=5, audit_mod=mod
        ).collect()
    )
    panel_exact = sorted(
        tuple(r) for r in cosine_topk(
            audit_sample(emb, "vec_id", mod), queries, k=5
        ).collect()
    )
    assert capped_topk == panel_exact and len(capped_topk) > 0

    # guard: audit_mod < 1 is a caller bug
    import pytest as _pytest
    with _pytest.raises(ValueError):
        audit_sample(emb, "vec_id", 0)
