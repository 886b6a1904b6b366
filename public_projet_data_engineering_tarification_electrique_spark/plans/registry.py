"""Query registry — every implemented operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair over the driver testdata tables.

Determinism rules that make the DuckDB comparison exact:
- every float produced by an aggregation is ``round(x, 2..6)`` in BOTH
  engines at the same step, so downstream arithmetic sees identical
  doubles (rounding at k decimal places never hits a tie: m.5·10^-k is
  not representable in binary for k ≥ 1, so the engines' tie-break
  rules never fire; integer rounding ties are half-away-from-zero in
  both Spark and DuckDB for positive values);
- no raw timestamp columns in outputs (the testdata's ns precision
  differs between readers); dates/years only;
- all computed columns aliased identically in both dialects;
- integer-typed derived columns are cast to INT on the DuckDB side
  (DuckDB's year()/len() return BIGINT where Spark returns INT).

Fixed literals (deterministic, chosen from the testdata's ranges —
events span 2024-01-01..2024-01-30, orders/lineitem span 1995..2001):
run_date 2024-01-30, trailing window 30 d, α years 1999→2000.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints (PEP 563)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as X
from .constants import ALPHA_YEAR, RUN_DATE
from .oracles import ORACLE_SQL
from ..operators.forecast import ols_forecast
from ..operators.ingest import bootstrap_annual_pipeline, daily_downsample
from ..operators.pricing import score_requests
from ..operators.util import scratch_dir
from ..sources.tables import load_table, register_views



# --------------------------------------------------------------------------
# Stand-in domain tables derived deterministically from the testdata
# (FIXTURES.md §B mapping). Each has an exact SQL twin in the oracles.
# --------------------------------------------------------------------------


def _requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-request stand-in: customer ⋈ nation ⋈ region (A5)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("libelle_region"),
            F.col("c_name").alias("nom_commune"),
            F.col("c_custkey").cast("string").alias("code_commune"),
            (F.lit(1) + F.col("c_custkey") % 5).cast("int").alias("nb_personne"),
            (F.lit(50) + (F.col("c_custkey") % 10) * 15).cast("int").alias("nb_m2"),
        )
    )


def _daily_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conso_jour_region stand-in: events downsampled per (region, day)."""
    events = load_table(spark, sf_dir, "events")
    region = load_table(spark, sf_dir, "region")
    return (
        events.join(
            F.broadcast(region),
            (F.col("user_id") % 5).cast("int") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("libelle_region"),
            F.to_date("ts").alias("date"),
        )
        .agg(F.round(F.avg("value") * 100, 4).alias("conso_mwh"))
    )


def _annual_city(
    spark: SparkSession, sf_dir: str, year_range: tuple[int, int] | None = None
) -> DataFrame:
    """conso_an_ville stand-in: orders per (customer, year).

    Aggregate-below-join: the fact table collapses to (custkey, year)
    grain BEFORE the dimension join (c_name is functionally dependent on
    c_custkey), so the shuffle carries the aggregate, not 100× raw rows,
    and the dimension join broadcasts. Same result as joining first —
    the oracle keeps the join-first formulation as the semantic spec.

    ``year_range=(lo, hi)`` (inclusive) prunes the scan with a raw
    o_orderdate range predicate — unlike ``year(o_orderdate) IN (…)``
    this reaches the parquet reader as a PushedFilter (row-group /
    partition pruning at 100 TB). Per-(customer, year) groups are
    independent, so dropping whole years never changes surviving rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    if year_range is not None:
        lo, hi = year_range
        orders = orders.filter(
            (F.col("o_orderdate") >= f"{lo}-01-01")
            & (F.col("o_orderdate") < f"{hi + 1}-01-01")
        )
    customer = load_table(spark, sf_dir, "customer")
    yearly = orders.groupBy(
        F.col("o_custkey"), F.year("o_orderdate").alias("annee")
    ).agg(F.round(F.avg("o_totalprice") / 1000 + 1e-9, 4).alias("conso_moyenne_mwh"))
    return yearly.join(
        F.broadcast(customer), yearly.o_custkey == customer.c_custkey
    ).select(
        F.col("c_name").alias("nom_commune"),
        F.col("o_custkey").cast("string").alias("code_commune"),
        "annee",
        "conso_moyenne_mwh",
    )




# --------------------------------------------------------------------------
# Queries. q<nn>_<name>; each has an ORACLE_SQL twin keyed identically.
# --------------------------------------------------------------------------


def q01_trailing_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5+A3 (V2 shape): trailing-window filter + equality + ungrouped
    mean, folded into the scan (anti-pattern fix of reference:api.py:47-61)."""
    events = load_table(spark, sf_dir, "events")
    run = F.lit(RUN_DATE).cast("date")
    return (
        events.filter(
            (F.to_date("ts") >= F.date_sub(run, 10))
            & (F.to_date("ts") <= run)
            & (F.col("event_type") == "click")
        )
        .agg(F.round(F.avg("value"), 4).alias("avg_value"))
    )


def q02_groupby_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: multi-key group-by mean (reference:0_insert_conso_an_ville_in_bq.py:50-52)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        "l_suppkey", F.year("l_shipdate").alias("annee")
    ).agg(F.round(F.avg("l_extendedprice") + 1e-9, 4).alias("avg_price"))


def q03_daily_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+F1+F2: sub-daily → daily mean, rounded (the DAG transform,
    reference:airflow/dags/insert_conso_jour_region_in_bq.py:80-89)."""
    events = load_table(spark, sf_dir, "events")
    raw = events.select(
        F.col("user_id"),
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("date"),
        F.col("value").alias("consommation"),
    )
    return daily_downsample(
        raw, region_cols=("user_id",), date_col="date", value_col="consommation"
    )


def q04_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P6/S3/S4: projection + range/IN/comparison predicates, all pushed
    into the parquet scan by Catalyst."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate").between("1996-01-01", "1997-12-31")
            & F.col("l_returnflag").isin("A", "R")
            & (F.col("l_quantity") > 10)
        )
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


def q05_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: union-all of two disjoint filters
    (reference:0_insert_conso_an_ville_in_bq.py:101)."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ("o_orderkey", "o_custkey", "o_totalprice")
    old_f = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.year("o_orderdate") < 1997)
    ).select(*cols)
    new_o = orders.filter(
        (F.col("o_orderstatus") == "O") & (F.year("o_orderdate") >= 1999)
    ).select(*cols)
    return old_f.unionByName(new_o)


def q06_orderby_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + top-k: global sort (TakeOrderedAndProject — no full shuffle
    sort for a bounded k)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(100)
    )


def q07_alpha_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3/§2.5: deterministic lead-over-year ratio with two-sided clamp
    (fixes the order-dependent α of reference:api.py:86-90)."""
    from ..operators.pricing import city_alpha

    yearly = (
        load_table(spark, sf_dir, "orders")
        # raw-date range (not year(…) IN) so the predicate reaches the
        # parquet scan; result-identical — per-year groups are disjoint
        .filter(
            (F.col("o_orderdate") >= f"{ALPHA_YEAR}-01-01")
            & (F.col("o_orderdate") < f"{ALPHA_YEAR + 2}-01-01")
        )
        .groupBy(
            F.col("o_custkey"), F.year("o_orderdate").alias("annee")
        )
        .agg(F.round(F.avg("o_totalprice") + 1e-9, 4).alias("conso"))
    )
    return city_alpha(
        yearly,
        ALPHA_YEAR,
        key_cols=("o_custkey",),
        year_col="annee",
        value_col="conso",
    ).select(F.col("o_custkey"), F.col("alpha"))


def q08_ols_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: per-group closed-form OLS forecast (pure aggregates — the 100 TB
    path for reference:0_insert_conso_an_ville_in_bq.py:57-89)."""
    yearly = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey", F.year("l_shipdate").alias("annee"))
        .agg(F.round(F.avg("l_quantity"), 4).alias("conso"))
    )
    return ols_forecast(
        yearly,
        group_cols=("l_suppkey",),
        x_col="annee",
        y_col="conso",
        target_xs=(2002, 2003, 2004),
        pred_col="prediction",
        round_digits=2,
    )


def q09_price_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 flagship: the whole /price serving path as one batch plan
    (reference:api.py:95-132 → SURVEY.md §3.1 Spark target)."""
    return score_requests(
        _requests(spark, sf_dir),
        _daily_region(spark, sf_dir),
        # α consumes only years (n, n+1): prune the orders scan to them
        _annual_city(spark, sf_dir, year_range=(ALPHA_YEAR, ALPHA_YEAR + 1)),
        run_date=RUN_DATE,
        year_n=ALPHA_YEAR,
    )


def q10_bootstrap_annual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 composed bootstrap ETL: filter → group-mean → OLS forecast →
    union (reference:0_insert_conso_an_ville_in_bq.py end-to-end)."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.col("l_suppkey").cast("string").alias("nom_commune"),
        F.col("l_suppkey").cast("string").alias("code_commune"),
        F.col("l_quantity").alias("conso_moyenne_mwh"),
        F.year("l_shipdate").alias("annee"),
        F.when(F.col("l_returnflag") == "N", "RESIDENTIEL")
        .otherwise("PRO")
        .alias("code_grand_secteur"),
    )
    return bootstrap_annual_pipeline(
        raw, years=(1995, 1996, 1997), target_years=(1998, 1999)
    )


def q11_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep min id + dup count.
    (Extension surface — LLM-pipeline operator on `documents`.)"""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups")
    ).select("doc_id", "n_dups")


def q12_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token count, char length, stopword ratio, md5
    fingerprint — all JVM-side expressions (extension surface)."""
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.token_count(t).alias("n_tokens"),
        F.length(t).alias("len_chars"),
        F.round(X.stopword_ratio(t), 4).alias("stop_ratio"),
        X.fingerprint_md5(t).alias("fingerprint"),
    )


def q13_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: exact brute-force cosine top-10 for 5 query
    vectors (the correctness baseline; q15's LSH variant is the scale
    path)."""
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=10)


def q14_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label — the
    EXACT-pair baseline of the embedding-dedup family (the ground
    truth q43's LSH and q151's anchored blocking are measured
    against, the same role q13 plays for ANN recall). Cost is
    O(Σ bucket²): with a FIXED label set, bucket sizes grow with the
    corpus and the pair work is quadratic — measured 70× at 10× rows
    in the sf1 stress sweep, by construction. Production corpora run
    the sub-quadratic paths (q43 LSH bands: ~8.5× at 10×; q151
    anchored n^1.5) and reserve this operator for bounded buckets and
    blocker-quality audits (q164's pattern)."""
    from ..operators.similarity import embedding_neardup

    emb = load_table(spark, sf_dir, "embeddings")
    # 0.35: the synthetic embeddings top out at ~0.47 within-label
    # cosine, so 0.35 yields a non-vacuous (non-empty) result set
    return embedding_neardup(emb, threshold=0.35, bucket_col="label")


def q15_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: BucketedRandomProjectionLSH top-k, gated at VALUE
    level — recall@10 against the exact top-k (q13's operator) is
    computed IN-PLAN and emitted as one hashable row the oracle pins.
    MLlib hashing itself is not SQL-expressible, but the recall
    assertion is engine-checkable: if the LSH path breaks, recall drops
    under the bound and the hash mismatches. Bound 0.8 vs measured
    0.98-1.0 at both test SFs."""
    from ..operators.similarity import cosine_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    # min_cosine=0.0: the scale-path candidate bound (measured top-10
    # neighbor cosines in the testdata are >= 0.24 at every SF — wide
    # margin under the 0.8 recall gate); the operator default (None)
    # keeps the unrestricted MLlib contract for generic callers.
    approx = lsh_topk(emb, queries, k=10, min_cosine=0.0).select(
        "query_id", "vec_id"
    )
    hits = approx.join(exact, on=["query_id", "vec_id"], how="inner")
    return (
        exact.agg(F.count("*").alias("_n_exact"))
        .crossJoin(hits.agg(F.count("*").alias("_n_hit")))
        .select(
            F.lit(5).alias("n_queries"),
            F.lit(10).alias("k"),
            (F.col("_n_hit") >= F.col("_n_exact") * 0.8).alias(
                "recall_ge_80pct"
            ),
        )
    )


def q16_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup scale path: MinHashLSH banded candidates re-verified
    IN-PLAN with the exact word-3-shingle Jaccard — value-level gate
    (the oracle recomputes exhaustive exact pairs ≥ 0.5).
    num_hash_tables=16 so the miss probability holds at the gate's OWN
    threshold, not just the planted near-dup regime: a borderline pair
    at exactly j = 0.5 is missed with (1-j)^16 ≈ 1.5e-5 (vs 0.39 % at
    8 tables — a real flake risk when testdata regenerates)."""
    from ..operators.dedup import minhash_dedup_verified

    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_verified(docs, min_jaccard=0.5, num_hash_tables=16)


def q17_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs via shared-shingle blocking."""
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, k=3, threshold=0.2, max_df=100)


def q18_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID + quality scoring per document."""
    from ..operators.textstats import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    return quality_scores(docs)


def q19_streaming_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming availableNow run of the daily downsample —
    same result as the batch plan, so the batch SQL is its oracle."""
    from ..streaming.daily import stream_daily_event_avg

    return stream_daily_event_avg(spark, f"{sf_dir}/events.parquet")


def q20_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column → Arrow-batched
    mapInPandas metadata extraction (deterministic fake decode, so the
    formula is oracle-checkable)."""
    from ..operators.multimodal import attach_binary_payload, extract_media_meta

    docs = load_table(spark, sf_dir, "documents")
    return extract_media_meta(attach_binary_payload(docs))


def q21_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (banded). Token hash is md5-derived, so
    the oracle recomputes identical signatures/bands/hamming from SQL —
    a full value-level gate, not rows-only."""
    from ..operators.dedup import simhash_neardup

    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup(docs, max_hamming=3, n_bands=4)


def q22_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) per user — batch twin of a
    stateful streaming session window (extension surface)."""
    from ..operators.sessions import sessionize

    events = load_table(spark, sf_dir, "events", raw=True).select(
        "event_id",
        "user_id",
        "value",
        F.expr("ts DIV 1000000000").alias("ts_s"),
    )
    return sessionize(events, gap_seconds=1800)


def q23_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy aggregate: ROLLUP(event_type, date) with grand total —
    grouping-sets coverage the reference lacks (SURVEY.md §2.4 absent)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type", F.to_date("ts").alias("date"), "value"
        )
        .rollup("event_type", "date")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q24_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the user's most recent
    error event at-or-before it (union+window formulation, no join)."""
    from ..operators.asof import asof_join

    # µs, not ns: DuckDB TIMESTAMP is µs-precision, so the oracle can
    # only see µs — and no two same-user events collide at µs grain.
    e = load_table(spark, sf_dir, "events", raw=True).select(
        "event_id", "user_id", "event_type", "value",
        F.expr("ts DIV 1000").alias("ts_us"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_us", "value"
    )
    return asof_join(
        clicks,
        errors,
        on=("user_id",),
        left_ts="ts_us",
        right_ts="ts_us",
        right_cols=("event_id", "value"),
    )


def q25_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: Rabin-Karp rolling hash (order-sensitive,
    chunk-extensible) alongside the md5 content digest."""
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.rolling_fingerprint(t).alias("rk_fingerprint"),
        X.fingerprint_md5(t).alias("md5_fingerprint"),
    )


def q26_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: BPE-ish regex pre-tokenizer vs whitespace split."""
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.size(X.bpe_ish_tokens(t)).alias("n_bpe_tokens"),
        X.token_count(t).alias("n_ws_tokens"),
    )


def q28_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState +
    event-time timeout), value-checked against a closed-form oracle:
    the stream emits exactly (a) every non-final session (closed by a
    later same-user event) and (b) each user's final session iff the
    end-of-input watermark — max event time, ms-truncated — passed its
    end + gap. Both sets are SQL-expressible over the batch session
    table (q22) + one scalar watermark subquery, so the incremental
    operator gets a full value-hash gate, not a rows-only count.
    Per-session float sums are audited on-grid at 4 dp (values carry
    ≤4 decimals), so incremental vs aggregate summation agree."""
    from ..streaming.sessions import stream_sessionize

    return stream_sessionize(spark, f"{sf_dir}/events.parquet", gap_seconds=1800)


def q27_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means coarse quantizer + probed-cluster exact cosine,
    gated at VALUE level like q15 — in-plan recall@10 vs the exact
    top-k, emitted as one hashable row (k-means is not SQL-expressible;
    the recall assertion is). n_probe=4 of 8 clusters; bound 0.6 vs
    measured 0.82-0.88 at both test SFs."""
    from ..operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = ivf_topk(emb, queries, k=10, n_probe=4).select(
        "query_id", "vec_id"
    )
    hits = approx.join(exact, on=["query_id", "vec_id"], how="inner")
    return (
        exact.agg(F.count("*").alias("_n_exact"))
        .crossJoin(hits.agg(F.count("*").alias("_n_hit")))
        .select(
            F.lit(5).alias("n_queries"),
            F.lit(10).alias("k"),
            (F.col("_n_hit") >= F.col("_n_exact") * 0.6).alias(
                "recall_ge_60pct"
            ),
        )
    )


def q29_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HLL++ distinct users + quantile sketch of
    value per event_type — the sketch path for 100 TB cardinality work.
    Sketch internals differ across engines by design, so the gate is an
    IN-PLAN ε-assertion: exact aggregates ride in the same pass, and the
    sketches must land within 5 % of them (booleans the oracle pins,
    plus the exact values it recomputes)."""
    from ..operators.util import ensure_parallelism

    # sketch building (HLL registers, KLL buffers) happens in the
    # partial-agg stage — spread it instead of one parquet split's task
    events = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("_au"),
            F.count_distinct("user_id").alias("n_users"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("_am"),
            F.percentile("value", F.lit(0.5)).alias("_em"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            "n_events",
            "n_users",
            (
                F.abs(F.col("_au") - F.col("n_users"))
                <= F.greatest(F.col("n_users") * 0.05, F.lit(2.0))
            ).alias("users_within_5pct"),
            (
                F.abs(F.col("_am") - F.col("_em"))
                <= F.greatest(F.abs(F.col("_em")) * 0.05, F.lit(0.05))
            ).alias("median_within_5pct"),
        )
    )


def q30_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event_type columns × day rows (wide daily activity matrix).
    Fixed pivot values keep the plan single-pass (no distinct-scan)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(F.to_date("ts").alias("date"), "event_type", "value")
        .groupBy("date")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.round(F.avg("value") + 1e-9, 4))
    )


def q31_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (median / p90) per event_type —
    sort-based aggregate the reference cannot express at all."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
    )


def q32_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: extract props.k from the JSON column and
    aggregate — JSON-path evaluation inside the scan projection."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count_distinct(F.col("k")).alias("n_distinct_k"),
        )
    )


def q33_sql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 — SQL-text entry point: the same Catalyst plans drive
    ``spark.sql`` over registered views (the reference's
    ``client.query(sql)``, reference:api.py:57, without the network
    hop or the f-string injection risk — views, not interpolation)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT event_type, round(avg(value), 4) AS avg_value, count(*) AS n
        FROM events_v GROUP BY event_type
        """
    )


def q34_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti joins (absent from the reference, SURVEY.md §2.3):
    customers WITH an order in 1999 but WITHOUT one in 2000 — existence
    tests that never materialize the matching rows."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    o99 = orders.filter(
        (F.col("o_orderdate") >= "1999-01-01") & (F.col("o_orderdate") < "2000-01-01")
    ).select("o_custkey")
    o00 = orders.filter(
        (F.col("o_orderdate") >= "2000-01-01") & (F.col("o_orderdate") < "2001-01-01")
    ).select("o_custkey")
    return (
        customer.join(o99, customer.c_custkey == o99.o_custkey, "left_semi")
        .join(o00, F.col("c_custkey") == o00.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q35_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed moving average with an explicit frame: per event_type,
    7-day trailing mean over the daily series (frame specs are absent
    from the reference, SURVEY.md §2.5)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("date"))
        .agg(F.round(F.avg("value") + 1e-9, 4).alias("day_avg"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("date")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "date",
        "day_avg",
        F.round(F.avg("day_avg").over(w), 4).alias("ma7"),
    )


def q36_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (stddev/variance/correlation/
    covariance) per group — the moments the OLS forecast (U1) builds
    on, exposed as first-class aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_pop("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.count("*").alias("n"),
    )


def q37_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family (absent from the reference, SURVEY.md
    §2.8): case/substr/trim/replace/concat/conditional — all inside
    one codegen'd projection."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.upper(F.substring(t, 1, 12)).alias("head_upper"),
        F.length(F.regexp_replace(F.lower(t), r"[aeiou]", "")).alias("len_novowels"),
        F.concat_ws("|", F.col("lang"), F.col("source")).alias("lang_source"),
        F.when(F.length(t) > 200, "long").otherwise("short").alias("size_class"),
        F.trim(F.substring(t, 1, 5)).alias("head_trim"),
    )


def q38_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary via explode (lateral view): token → document
    frequency, HAVING floor, global top-20. The partial-agg runs on the
    exploded stream before the shuffle, so the exchange carries the
    vocabulary, not the token stream."""
    from ..operators.util import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(X.tokens(F.lower(F.col("text")))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 10)
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


def q39_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations beyond union (SURVEY.md §2.7 absent): customers
    ordering in BOTH 1999 and 2000 (INTERSECT) vs 1999-only (EXCEPT),
    tagged in one result."""
    orders = load_table(spark, sf_dir, "orders")

    def keys(year: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= f"{year}-01-01")
            & (F.col("o_orderdate") < f"{year + 1}-01-01")
        ).select("o_custkey")

    both = keys(1999).intersect(keys(2000)).select(
        F.lit("both").alias("tag"), "o_custkey"
    )
    only99 = keys(1999).subtract(keys(2000)).select(
        F.lit("only_1999").alias("tag"), "o_custkey"
    )
    return both.unionByName(only99)


def q40_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / arg-max aggregate: each user's most recent event —
    the point-lookup shape a serving layer asks of an event store."""
    events = load_table(spark, sf_dir, "events", raw=True)
    return events.groupBy("user_id").agg(
        F.max_by("event_id", "ts").alias("last_event_id"),
        F.max_by("event_type", "ts").alias("last_event_type"),
        F.count("*").alias("n_events"),
    )


def q41_cube_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations of (event_type, date) in one
    pass — completes the grouping-sets family next to q23's ROLLUP."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_type", F.to_date("ts").alias("date"), "value")
        .cube("event_type", "date")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
        )
    )


def q42_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: click→error pairs of the same user within
    ±1 h, via bucket blocking (O(n·k) equi-join, not the quadratic
    inequality join the oracle runs). The window is 3600 s because the
    testdata's per-user event stream is sparse — ±60 s matches zero
    pairs at every SF, which would make the oracle check vacuous;
    ±1 h yields ~71 pairs at sf0.01."""
    from ..operators.asof import banded_range_join

    e = load_table(spark, sf_dir, "events", raw=True).select(
        "event_id", "user_id", "event_type",
        F.expr("ts DIV 1000000000").alias("ts_s"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts_s"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_s"
    )
    return banded_range_join(
        clicks,
        errors,
        on=("user_id",),
        left_ts="ts_s",
        right_ts="ts_s",
        max_delta=3600,
        right_cols=("event_id",),
        right_prefix="error_",
    ).select("click_id", "user_id", "error_event_id")


def q43_embedding_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup scale path: hyperplane-LSH banding + exact
    cosine verify. The testdata has no natural near-dups (max pairwise
    cosine ≈ 0.48), so the query PLANTS exact duplicates — every 10th
    vector re-enters with vec_id + 1e10 (vec_id is BIGINT; 1e10 is far
    above any plausible corpus cardinality, so planted ids never
    collide with real ones at any SF) — and the detector must
    recover exactly those pairs. Exact copies share all sign bits, so
    every band collides and LSH recall on them is 100 % deterministic;
    that makes the brute-force cosine join a true DuckDB oracle."""
    from ..operators.similarity import embedding_neardup_lsh

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000_000)
    )
    return embedding_neardup_lsh(emb.unionByName(planted), threshold=0.9).select(
        "id_a", "id_b", F.round("sim", 3).alias("sim")
    )


def q44_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state
    (dropDuplicatesWithinWatermark). On the single-delivery testdata
    every event_id is unique, so the oracle is the plain projection —
    the stream must pass each row through exactly once."""
    from ..streaming.dedup import stream_dedup_events

    return stream_dedup_events(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )


def q45_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session window (F.session_window) next to the
    hand-rolled q22: same 30-min gap rule (verified: delta == gap
    merges on both), streaming-capable out of the box."""
    e = load_table(spark, sf_dir, "events", raw=True).select(
        "user_id", "value", F.expr("ts DIV 1000000000").alias("ts_s")
    )
    return (
        e.withColumn("_ts", F.timestamp_seconds("ts_s"))
        .groupBy("user_id", F.session_window("_ts", "1800 seconds").alias("_w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("_w.start").alias("start_s"),
            "n_events",
            "sum_value",
        )
    )


def q46_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): split each document into
    sentence rows with a word count — the 1→N row-generating UDF shape
    (SURVEY.md §2.10 lists no UDTF in the reference; this completes the
    UDF/UDAF/UDTF surface). Applied via LATERAL join so the doc_id
    rides along."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence string, n_words int")
    class SplitSentences:
        def eval(self, text: str):
            for raw in (text or "").split("."):
                s = raw.strip()
                if s:
                    yield s, len(s.split())

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_v")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence, s.n_words
        FROM docs_v d, LATERAL split_sentences(d.text) s
        """
    )


def q47_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clustering: ngram-Jaccard near-dup pairs →
    connected components (iterative min-label propagation) → one
    canonical survivor (min doc_id) per cluster. The pipeline tail that
    pairwise dedup alone cannot provide (A≈B≈C must collapse to ONE
    kept doc, not two). Oracle: the same pair SQL + a recursive CTE."""
    from ..operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(docs, k=3, threshold=0.2, max_df=100)


def q48_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split via portable content hash
    (md5 → 32-bit bucket mod 100), the standard stable-split
    construction for training corpora: membership is a pure function
    of doc identity — survives re-runs, repartitioning, late shards.
    Output: per (split, lang) doc counts + mean length."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def q49_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: top-3 users by total event value within each
    event_type, via row_number over a partitioned window — the ranked
    retrieval shape (rank/row_number) absent from q06's global top-k.
    One shuffle on the group key; the window runs per-partition."""
    events = load_table(spark, sf_dir, "events")
    totals = events.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 4).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("total_value"), F.asc("user_id")
    )
    return (
        totals.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("event_type", "user_id", "total_value", "rank")
    )


def q50_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: deterministic per-language sampling (keep 10 %
    of dominant 'en', 50 % of every other language) via the id's md5
    bucket — stable across re-runs/repartitioning, nested across rates,
    exact integer thresholds (no float casts). One codegen'd filter."""
    from ..operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 1000, "zh": 5000, "es": 5000, "de": 5000, "fr": 5000}
    return stratified_sample(docs, "doc_id", "lang", rates).select(
        "doc_id", "lang", "source"
    )


def q51_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by smoothed TF-IDF (tf·(ln((N+1)/(df+1))+1)),
    ranked on the rounded score with lexicographic tie-break. The
    classic corpus-weighting operator: (doc,term) counts → vocabulary
    document-frequency (exchange reused) → broadcast N → windowed
    top-k per doc."""
    from ..operators.textstats import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


def q52_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: concatenate each shard's documents in
    id order and cut 512-token context windows (docs may straddle
    boundaries — GPT-style concatenate-and-chunk). Per-shard windowed
    prefix sums + explode over covered chunks; integer-exact. Every
    chunk but each shard's last is exactly full."""
    from ..operators.packing import pack_chunks

    docs = load_table(spark, sf_dir, "documents")
    return pack_chunks(docs, capacity=512)


def q53_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-promotion data-quality gate: six named constraint rules
    (null keys, non-positive measures, duplicate primary keys,
    referential orphans across three tables) evaluated as one report —
    each rule a column-pruned count over its own pushed-down scan."""
    from ..operators.audit import constraint_report

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    return constraint_report(
        {
            "orders_null_custkey": orders.filter(F.col("o_custkey").isNull()),
            "orders_nonpositive_total": orders.filter(
                F.col("o_totalprice") <= 0
            ),
            "orders_duplicate_orderkey": orders.groupBy("o_orderkey")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1),
            "lineitem_orphan_orderkey": lineitem.join(
                orders,
                lineitem["l_orderkey"] == orders["o_orderkey"],
                "left_anti",
            ),
            "orders_orphan_custkey": orders.join(
                customer,
                orders["o_custkey"] == customer["c_custkey"],
                "left_anti",
            ),
            "lineitem_discount_range": lineitem.filter(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)
            ),
            # a rule that FIRES on this data (TPC-H allows negative
            # balances) — proves the report distinguishes dirty rules
            "customer_negative_acctbal": customer.filter(
                F.col("c_acctbal") < 0
            ),
        }
    )


def q54_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag val/test documents sharing any
    5-word shingle with the train split (hash-split q48 buckets). The
    n-gram-overlap check run before training; train side reduces to
    distinct shingles, detection is one semi-join on the shingle."""
    from ..operators.decontam import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    return contamination_report(docs, k=5)


def q55_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality filters: per-doc duplicate
    token/bigram fractions + mean word length + keep decision, as one
    codegen'd array-function projection over the scan (no shuffle)."""
    from ..operators.textstats import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


def q56_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture planning: per-source sampling quotas realizing a
    3:1 odd:even target mixture at the largest achievable corpus size.
    Integer quota arithmetic (exact across engines); the global window
    runs over the per-source aggregate, not documents."""
    from ..operators.sampling import mixture_plan

    docs = load_table(spark, sf_dir, "documents")
    return mixture_plan(
        docs,
        "source",
        lambda s: F.when(
            F.regexp_extract(s, r"src(\d+)", 1).cast("int") % 2 == 1, 3
        ).otherwise(1),
    )


def q57_top_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation cut: keep the top 30 % of documents by quality score
    using an EXACT histogram threshold (no global sort — the rounded
    score's histogram is tiny at any corpus size; ties kept). The
    scale-correct form of "keep top X% by score"."""
    from ..operators.sampling import keep_top_fraction
    from ..operators.textstats import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    return keep_top_fraction(quality_scores(docs), "quality", 3, 10)


def q58_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: repetition-filter the corpus (q55 keep
    flag), assign deterministic train/val/test splits (q48), and report
    each split's doc count and token budget — the numbers a training
    run is provisioned from. Composes three operators in ONE lazy plan:
    ``repetition_stats`` already emits the nonempty token count, so the
    keep decision, token budget, and split label all ride one scan's
    token array. The keep decision is folded into the aggregate as
    conditional sums rather than a ``.filter``: a filter on the computed
    column would be pushed below the parallelism repartition, forcing
    the tokenizer to run ~10x per row at the scan's (possibly single-
    file) parallelism — conditional aggregation keeps ONE projection
    computing each stat once, post-exchange, fully parallel. Only
    exchange beyond the parallelism fix: the final 3-group aggregate."""
    from ..operators.sampling import hash_split
    from ..operators.textstats import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    stats = hash_split(repetition_stats(docs), "doc_id")
    kept_tokens = F.when(F.col("keep"), F.col("n_tokens")).otherwise(F.lit(0))
    return (
        stats.groupBy("split")
        .agg(
            F.sum(F.col("keep").cast("int")).cast("int").alias("n_docs"),
            F.sum(kept_tokens).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_docs") > 0)
    )


def q59_tpch_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join — lineitem ⋈ orders ⋈ customer ⋈
    supplier ⋈ nation ⋈ region — revenue per nation for one region-year,
    with the local-supplier constraint (supplier and customer share a
    nation). The reference has no table-to-table joins (SURVEY §2.3);
    this is the canonical multi-way shape its warehouse would need.

    Scale posture: region⋈nation is fixed-cardinality (5×25 rows) —
    explicitly broadcast; the lineitem⋈orders shuffle is the one
    unavoidable exchange and carries only 4 pruned columns; the
    o_orderdate year filter is pushed to the orders scan (PushedFilters)
    so the fact shuffle is ~1/7th of the table before it starts. AQE
    picks broadcast for customer/supplier when they fit (they scale
    with SF, so no hard-coded hint)."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    nations = F.broadcast(
        nation.join(
            region, F.col("n_regionkey") == F.col("r_regionkey")
        ).select("n_nationkey", "n_name")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q60_tpch_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: shipping-priority top-10 — customer ⋈ orders ⋈
    lineitem with segment + date predicates, revenue per order, global
    top-k. Extends SURVEY §2.6 (the reference has no LIMIT/top-k at
    all) to the join-then-rank pattern.

    The global top-10 is a TakeOrderedAndProject — per-partition heaps
    then a 10-row merge at the driver, never a full sort. Ties at the
    k-boundary are broken by (rounded revenue, l_orderkey) so the
    result is deterministic across engines and partitionings."""
    customer = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < "1997-06-30")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > "1997-06-30")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q61_change_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report-by-exception compaction: keep a reading only when the
    quantized (floored) signal changes per user — the standard meter-
    feed compression. One window shuffle on the series key, lag +
    filter, no other exchange. ts stays LONG nanos end-to-end
    (precision-safe) and is emitted as epoch micros for the oracle."""
    from ..operators.timeseries import change_compaction

    events = load_table(spark, sf_dir, "events", raw=True)
    return change_compaction(events).select(
        "user_id", F.expr("ts div 1000").alias("ts_us"), "v"
    )


def q62_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize the sparse per-user 'error' series onto a daily grid
    and forward-fill missing days (2351 of 3963 user-days are gaps at
    sf0.01). Grid is generated from each key's own span — sequence()
    per key, no global calendar cross-join; fill is last(ignorenulls)
    over a running frame, not a self-join."""
    from ..operators.timeseries import gap_fill_daily

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    return gap_fill_daily(events)


def q63_reaggregatable_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level re-aggregation: daily (sum, count) partials per user —
    the state an incremental pipeline materializes — merged into exact
    monthly means without rescanning raw events. The algebraic-state
    pattern behind every incremental rollup: store SUM and COUNT
    (re-aggregatable), never AVG (not). Extends the reference's daily
    mean (reference:airflow/dags/insert_conso_jour_region_in_bq.py:80-82)
    to the monthly tier its dashboard would need. Both levels are
    partial+final hash aggregates; the second level reads the ~150×30-row
    partial table, not the fact. The mean gets the repo's standard +1e-9
    nudge before rounding: one monthly quotient lands exactly on the
    4 dp half-way boundary, where summation order would otherwise flip
    the rounded value run to run."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum("value").alias("psum"), F.count("*").alias("pcnt")
    )
    return daily.groupBy(
        "user_id", F.date_format("day", "yyyy-MM").alias("month")
    ).agg(
        F.round(F.sum("psum") / F.sum("pcnt") + 1e-9, 4).alias("mean_value"),
        F.sum("pcnt").cast("long").alias("n_events"),
    )


def q64_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase funnel: of users who ever signed up, how many
    made a purchase strictly after their first signup. One conditional
    aggregate per user (min-when per stage), then a single summary row
    — no self-join of the event stream, no per-stage scans. Timestamps
    compared at epoch-µs (the cross-engine-safe precision for the
    NANOS-physical events table)."""
    events = load_table(spark, sf_dir, "events", raw=True)
    us = F.expr("ts div 1000")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p"),
    )
    signed = F.col("s").isNotNull()
    converted = signed & (F.col("p") > F.col("s"))
    return per_user.agg(
        F.count("*").cast("int").alias("n_users"),
        F.sum(signed.cast("int")).cast("int").alias("n_signup"),
        F.sum(converted.cast("int")).cast("int").alias("n_converted"),
        F.round(
            100.0 * F.sum(converted.cast("int")) / F.sum(signed.cast("int")), 2
        ).alias("conv_pct"),
    )


def q65_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix: users bucketed by first-seen day (cohort),
    counted as active at each day offset since. The cohort day is a
    min-over-user window — no self-join back onto the stream — and the
    window's user-key shuffle is the only exchange before the final
    (cohort, offset) aggregate."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = events.select("user_id", F.to_date("ts").alias("day")).withColumn(
        "cday", F.min("day").over(w)
    )
    return e.groupBy(
        F.date_format("cday", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff("day", "cday").cast("int").alias("day_offset"),
    ).agg(F.countDistinct("user_id").cast("int").alias("n_users"))


def q66_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day windows hopping by 1 day per event type — the
    `F.window(ts, '7 days', '1 day')` operator Structured Streaming
    shares with batch. Each event replicates into 7 windows at the
    aggregate's map side (explode-free, built-in), so the exchange
    carries partial aggregates, never 7× the events. Window starts are
    epoch-aligned day boundaries; emitted as date strings."""
    events = load_table(spark, sf_dir, "events")
    win = F.window("ts", "7 days", "1 day")
    return (
        events.groupBy(win, "event_type")
        .agg(
            F.count("*").cast("int").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd").alias(
                "win_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q67_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week deltas: daily totals per event type, each compared
    to the same weekday one week earlier via lag(7) — the standard
    dashboard comparison. The daily total is rounded BEFORE the delta in
    both engines so the percentage is computed on identical inputs. One
    agg exchange + one window shuffle on the (25-row-per-key) daily
    series."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("v"))
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("v", 7).over(w)
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "v",
        F.round(100.0 * (F.col("v") - prev) / prev, 2).alias("wow_pct"),
    )


def q68_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly flags: each user-day mean scored against
    the user's previous 7 observed days (frame excludes the current
    row — no self-leak), emitting days with |z| > 2. Everything rides
    one user-key window shuffle; the daily means are nudged (+1e-9,
    four user-days sit exactly on the 4 dp half-way boundary at sf0.01)
    and rounded before scoring so both engines score identical inputs
    regardless of summation order."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.round(F.avg("value") + 1e-9, 4).alias("m"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    mu = F.avg("m").over(w)
    sd = F.stddev_samp("m").over(w)
    z = F.round((F.col("m") - mu) / sd, 2)
    return (
        daily.withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.0)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "m",
            "z",
        )
    )


def q69_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids: posexplode the vector column to
    (label, dim, x) and hash-aggregate the mean per (label, dim) —
    partial aggregation collapses each scan partition to ≤ labels×dims
    rows before the exchange, so the shuffle carries centroids-in-
    progress, never vectors. (At 100 TB the same plan holds; the
    Pandas-UDF alternative — numpy sum per partition — only wins when
    dims are huge and labels few.) Float32 inputs promote exactly to
    double; the mean gets the standard +1e-9 half-way nudge."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return e.groupBy("label", F.col("dim").cast("int").alias("dim")).agg(
        F.round(F.avg("x") + 1e-9, 4).alias("c"),
        F.count("*").cast("int").alias("n_vecs"),
    )


def q70_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day: distinct daily actives vs distinct
    7-day-window actives, joined on day. The WAU side replicates each
    (user, day) fact into the 7 windows it serves *after* the stream is
    reduced to distinct user-days — the explode multiplies a ~users×days
    table, never raw events. Counts are exact distincts; the ratio is
    int/int (identical doubles both engines) with the standard nudge."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = ud.groupBy("day").agg(
        F.countDistinct("user_id").cast("int").alias("dau")
    )
    wau = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
            "day",
        )
        .select("user_id", F.date_add("day", F.col("off")).alias("day"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("int").alias("wau"))
    )
    return dau.join(wau, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau") + 1e-9, 4).alias("stickiness"),
    )


def q71_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts (the Markov matrix behind funnel and
    next-action models): lag the type over each user's time-ordered
    stream, then count (from, to) pairs. One user-key window shuffle +
    one 25-row aggregate; ordering ties are impossible (event_id is the
    unique tiebreak) so counts are exact integers."""
    events = load_table(spark, sf_dir, "events", raw=True)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = events.select(
        "event_type", F.lag("event_type").over(w).alias("from_type")
    )
    return (
        s.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").cast("int").alias("n"))
    )


def q72_value_quartile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-value quartiles: exact NTILE(4) over per-user lifetime
    value, then per-band stats — the segmentation every monetization
    dashboard starts from. Tiles come from the DISTRIBUTED exact ntile
    (shards.global_ntile: range-partitioned two-phase rank + the
    closed-form tile expression, bit-identical to the window) — the
    per-user table is corpus-reduced but still |users|-sized, so the
    former unpartitioned ntile window was the q181 single-task wall at
    billions of users (caught by tools/plan_audit.py this round).
    Ties are broken by user_id so band assignment is deterministic."""
    from ..operators.shards import global_ntile

    events = load_table(spark, sf_dir, "events")
    totals = events.groupBy("user_id").agg(
        F.round(F.sum("value") + 1e-9, 2).alias("total")
    )
    banded = global_ntile(
        totals, [F.desc("total"), F.asc("user_id")], 4, tile_col="band"
    )
    return banded.groupBy("band").agg(
        F.count("*").cast("int").alias("n_users"),
        F.round(F.avg("total") + 1e-9, 4).alias("avg_total"),
        F.min("total").alias("min_total"),
        F.max("total").alias("max_total"),
    )


def q73_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert histogram: hours between first signup and first
    subsequent purchase, capped at 24+ — the funnel's (q64) latency
    distribution. Pure integer µs arithmetic on the min-when aggregates
    (one user-key exchange, then a ≤25-row histogram agg); no floats
    anywhere, so cross-engine parity is exact by construction."""
    events = load_table(spark, sf_dir, "events", raw=True)
    us = F.expr("ts div 1000")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p"),
    )
    converted = per_user.filter(
        F.col("s").isNotNull() & (F.col("p") > F.col("s"))
    )
    hours = F.expr("(p - s) div 3600000000")
    return (
        converted.select(
            F.least(hours, F.lit(24)).cast("int").alias("hours_to_convert")
        )
        .groupBy("hours_to_convert")
        .agg(F.count("*").cast("int").alias("n_users"))
    )


def q74_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical full-scan pricing summary report —
    4 sums, 3 means, a count over ~99% of lineitem, grouped by the
    2×2 (returnflag, linestatus) key. Extends SURVEY §2.4 (the
    reference's aggregates are all single-measure means) to the
    multi-measure report every warehouse runs.

    Scale posture: the scan reads exactly 7 columns (ReadSchema) with
    the shipdate predicate pushed to parquet row groups; the hash
    aggregate is partial→final over ≤6 groups, so the exchange carries
    one row per (partition, group) — the plan is scan-bound and
    embarrassingly parallel at any SF. Means are derived sum/count at
    the end, keeping the shuffled state algebraic (PLANS.md 2e rule)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2000-09-02"
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias(
                "sum_charge"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            # +1e-9 nudge mirrored in the oracle (PLANS.md §2h): the
            # 4-dp avg straddles a half-way boundary at some SFs
            F.round(F.avg("l_extendedprice") + F.lit(1e-9), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q75_tpch_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the forecast-revenue-change scalar — one
    SUM(extendedprice * discount) under three tight range predicates
    (ship year, discount band, quantity cap). The pure
    filter-and-reduce pattern: no join, no group key, no window.

    Scale posture: all three predicates reach the parquet scan
    (PushedFilters min/max row-group pruning); the aggregate is a
    partial-per-partition → single final row, so the exchange carries
    one double per partition. At 100 TB this is the shape where
    column pruning + predicate pushdown do ~all the work."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


def q76_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase (salted) aggregation: per-event_type count /
    sum / mean, computed as groupBy(key, salt) partials then a merge
    aggregate — the standard defense when a handful of hot keys would
    otherwise hammer single reducers (event_type has ~5 values, the
    worst-case skew shape at 100 TB: 20 TB per reducer un-salted).

    The salt is pmod(hash(event_id), 16) — deterministic, uniform, and
    dropped before the final merge, so semantics are identical to the
    plain GROUP BY the oracle runs. State stays algebraic ((sum, count)
    partials, mean derived at the end), which is what makes the
    two-phase split lossless. Phase-1 fan-out is 16× the key count —
    still tiny — while phase-2 input is ≤ keys×16 rows total.
    Complementary to AQE skew-join splitting (session.py), which only
    covers joins, not aggregations."""
    events = load_table(spark, sf_dir, "events", raw=True).select(
        "event_type", "event_id", "value"
    )
    partial = events.groupBy(
        "event_type", F.pmod(F.hash("event_id"), F.lit(16)).alias("_salt")
    ).agg(
        F.count("*").alias("_n"),
        F.sum("value").alias("_sum"),
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum("_n").alias("n_events"), F.sum("_sum").alias("_sum"))
        .select(
            "event_type",
            "n_events",
            F.round(F.col("_sum"), 2).alias("sum_value"),
            F.round(F.col("_sum") / F.col("n_events"), 4).alias("avg_value"),
        )
    )


def q77_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension build: turn each user's compacted change
    stream (q61) into validity intervals — valid_from/valid_to epoch µs
    with NULL valid_to marking the current row. The standard
    warehouse-history shape the reference's WRITE_APPEND tables would
    need for point-in-time pricing lookups.

    One window shuffle on the series key does both the compaction lag
    and the interval lead (same partitioning, same sort — Catalyst
    reuses the exchange and the sort). Integer µs end-to-end, so
    cross-engine parity is exact by construction."""
    from ..operators.timeseries import change_compaction

    events = load_table(spark, sf_dir, "events", raw=True)
    changes = change_compaction(events)
    # (ts, event_id) — total order: two compacted changes at the same
    # ts would otherwise make interval assignment nondeterministic
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.withColumn("_next", F.lead("ts").over(w)).select(
        "user_id",
        F.expr("ts div 1000").alias("valid_from_us"),
        F.expr("_next div 1000").alias("valid_to_us"),
        "v",
        F.col("_next").isNull().alias("is_current"),
    )


def q78_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation: align the daily click series with the
    daily purchase series, keeping days present on either side —
    the audit/backfill join (§2.9 late-data note: which days did one
    feed deliver and the other miss?). Completes the join surface
    (inner/left/semi/anti/asof/range exist; this is the FULL OUTER).

    Both sides are aggregated to ~date cardinality BEFORE the join, so
    the full-outer shuffle moves two day-grain tables, never events;
    AQE coalesces the three exchanges' partitions at runtime."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.to_date("ts").alias("date"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    clicks = daily.filter(F.col("event_type") == "click").select(
        "date", F.col("n").alias("n_clicks"), F.col("v").alias("click_value")
    )
    purchases = daily.filter(F.col("event_type") == "purchase").select(
        "date", F.col("n").alias("n_purchases"), F.col("v").alias("purchase_value")
    )
    joined = clicks.join(purchases, on="date", how="full_outer")
    return joined.select(
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.when(F.col("n_clicks").isNull(), "purchases_only")
        .when(F.col("n_purchases").isNull(), "clicks_only")
        .otherwise("both")
        .alias("status"),
    )


def q79_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((type, day), (type), (day)) — the
    à-la-carte multi-grain aggregate between ROLLUP (q23) and CUBE
    (q41), with grouping() flags disambiguating NULL-as-total from a
    NULL key. One Expand node replicates each row 3× map-side INSIDE
    the partial aggregate, so the exchange carries per-grain partials,
    never 3× events."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type,
               date_format(to_date(ts), 'yyyy-MM-dd') AS day,
               cast(grouping(event_type) AS INT) * 2
                 + cast(grouping(to_date(ts)) AS INT) AS gid,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type, to_date(ts)), (event_type),
                                (to_date(ts)))
        """
    )


def q80_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 symmetric quantization — the storage-side
    compression step a 100 TB embedding corpus runs before ANN
    indexing (4× smaller than float32, dot products in integer SIMD).
    scale = max|x| / 127; emitted as the per-vector scale plus integer
    checksums (L1 mass, signed sum) of the quantized codes, which pin
    every element's value cross-engine without shipping the codes.

    Pure array-expression projection over the scan — zero shuffle,
    zero Python; both engines promote float32→float64 exactly, and the
    guarded all-zero path avoids inf/NaN casts under ANSI."""
    emb = load_table(spark, sf_dir, "embeddings")
    m = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    s = F.lit(127.0) / F.col("_m")
    q = F.transform("embedding", lambda x: F.round(x * s, 0))
    staged = emb.select(
        "vec_id", "embedding", F.explode(F.array(m)).alias("_m")
    )
    quantized = staged.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.when(F.col("_m") > 0, F.round(s, 6)).otherwise(0.0).alias("scale_inv"),
        F.when(F.col("_m") > 0, q)
        .otherwise(F.transform("embedding", lambda x: x * 0.0))
        .alias("_q"),
    )
    return quantized.select(
        "vec_id",
        "n_dims",
        "scale_inv",
        F.aggregate(
            "_q",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.abs(x.cast("long")),
        ).alias("q_l1"),
        F.aggregate(
            "_q", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("q_sum"),
    )


def q81_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (64-token windows every 48
    tokens) — the RAG/long-context chunker, complementing q52's
    cross-document packing. Chunk boundaries are pure arithmetic and
    each chunk carries an md5 content fingerprint, so the oracle pins
    content, not just counts. Zero shuffle."""
    from ..operators.packing import chunk_with_overlap

    docs = load_table(spark, sf_dir, "documents")
    return chunk_with_overlap(docs, size=64, stride=48)


def q82_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization: replace user_id with a salted
    md5 token at the aggregation boundary — the PII-safe handoff shape
    for sharing engagement aggregates with downstream training
    pipelines (raw ids never leave the trusted zone; the same salt
    reproduces the same token for joinability).

    md5 (not xxhash64) so any engine derives the identical token; the
    token projection happens AFTER the user-key aggregate, so the
    exchange hashes compact longs, not 32-byte strings."""
    events = load_table(spark, sf_dir, "events", raw=True)
    return (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.md5(
                F.concat(F.lit("pepper1:"), F.col("user_id").cast("string"))
            ).alias("user_token"),
            "n_events",
            "sum_value",
        )
    )


def q83_semantic_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation tail: anchored near-dup pairs → transitive
    clusters (q47's connected components) → keep the HIGHEST-QUALITY
    document (q18's score) per cluster, not the min id — semantic dedup
    the way a training pipeline actually applies it (drop
    near-duplicates, keep the best-written copy).

    Pair generation uses ``anchored_neardup`` (√n deterministic IVF
    anchors, multi-probe) instead of within-label all-pairs: candidate
    work grows n^1.5, not n², and the oracle reproduces the identical
    blocking in SQL so parity is exact by construction at every SF
    (recall vs exhaustive measured in the operator docstring).

    Joins the embeddings-derived cluster table back to the documents
    table on the shared id — the multimodal-columns contract (one id,
    many representations). The tiny cluster table joins INTO the docs
    scan, so the quality projection (tokenize + stopword + punct
    scans, the expensive string work) runs only on cluster members —
    never the corpus (same member-only discipline as q195); the
    per-cluster argmax + size is ONE max(struct)/count hash agg
    (partial-combined map-side), deterministic via the
    (quality DESC, doc_id ASC) tie-break encoded as (quality, -id)
    tuple order."""
    from ..functions.text import punct_ratio, token_count
    from ..operators.dedup import connected_components
    from ..operators.similarity import anchored_neardup

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    pairs = anchored_neardup(emb, threshold=0.35, bucket_col="label")
    comp = connected_components(pairs, src="id_a", dst="id_b")
    # same formula as textstats.quality_scores (q18), computed inline
    # over cluster members only — keep the two in sync
    t = F.col("text")
    quality = F.round(
        F.least(F.lit(1.0), token_count(t) / F.lit(120.0))
        * (F.lit(1.0) - punct_ratio(t)),
        4,
    )
    scored = docs.join(
        comp.withColumnRenamed("node", "doc_id"), on="doc_id"
    ).select("component", "doc_id", quality.alias("quality"))
    picked = scored.groupBy("component").agg(
        F.max(
            F.struct("quality", (-F.col("doc_id")).alias("_nid"))
        ).alias("_m"),
        F.count("*").cast("int").alias("cluster_size"),
    )
    return picked.select(
        F.col("component").alias("cluster_id"),
        (-F.col("_m._nid")).alias("kept_doc_id"),
        F.col("_m.quality").alias("kept_quality"),
        "cluster_size",
    )


def q84_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → sorted posting list + document
    frequency, for tokens appearing in ≥ 20 documents — the
    search-side materialization of the corpus (q38 counts the
    vocabulary; this emits the postings a retrieval system serves).

    One explode → distinct (doc, token) → one token-key exchange where
    collect_set runs as a partial aggregate; postings are sorted
    post-agg so the array is deterministic cross-engine. At 100 TB the
    df floor (stopword-scale tokens) is the skew guard: the hottest
    token's posting list is the biggest single aggregate state, so
    production shards postings by (token, bucket) — same plan with a
    salt column (q76's pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
        .groupBy("token")
        .agg(F.collect_set("doc_id").alias("_postings"))
        .select(
            "token",
            # joined string, not array: engines render array cells
            # differently in the driver's pandas-level compare
            F.array_join(
                F.transform(
                    F.array_sort("_postings"), lambda x: x.cast("string")
                ),
                ",",
            ).alias("postings"),
            F.size("_postings").alias("df"),
        )
        .filter(F.col("df") >= 20)
    )
    return postings


def q85_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization: clip event values at their
    event-type's [p05, p99] and report per-type clipped-tail counts
    and the before/after means — the standard outlier treatment before
    a numeric column feeds a model.

    Two passes over the fact: one to the per-type percentile table
    (exact percentile_cont — tiny output), which then BROADCASTS back
    onto the scan for the clip (no second fact shuffle; the final
    per-type aggregate reuses the partial-agg shape). At 100 TB the
    exact percentile swaps for approx_percentile with the same
    contract."""
    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("_lo"),
        F.percentile("value", F.lit(0.99)).alias("_hi"),
    )
    clipped = events.join(F.broadcast(bounds), on="event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi")).alias(
            "_w"
        ),
        (F.col("value") < F.col("_lo")).alias("_lo_clip"),
        (F.col("value") > F.col("_hi")).alias("_hi_clip"),
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("_lo_clip").cast("int")).alias("n_clipped_low"),
        F.sum(F.col("_hi_clip").cast("int")).alias("n_clipped_high"),
        F.round(F.avg("value"), 4).alias("mean_raw"),
        F.round(F.avg("_w"), 4).alias("mean_winsorized"),
    )


def q86_cdc_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert apply — MERGE INTO semantics as a pure batch plan:
    apply a change batch (UPDATE / DELETE / INSERT ops) onto the orders
    snapshot. The engine-level primitive behind the reference's
    WRITE_APPEND-with-backfill wish (SURVEY §2.9: appends should be
    keyed and idempotent, not blind).

    The change batch is derived deterministically from the snapshot
    (keys ≡ 0 mod 10 → +10% reprice, ≡ 1 mod 10 → delete, and a
    shifted key range → inserts), so both engines construct the
    identical batch. Apply = ONE left anti-ish outer join keyed on
    o_orderkey: rows with no change pass through, updates override,
    deletes drop, inserts arrive from the change side. One key
    exchange; at 100 TB the snapshot is bucketed by key so the merge
    is shuffle-free on the snapshot side (Delta/Iceberg MERGE runs
    this exact plan)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    # +1e-9 nudge: 2-dp prices × 1.1 land exactly on .005 boundaries,
    # where Spark and DuckDB half-rules diverge (PLANS.md 2e rule).
    changes = orders.filter(F.col("o_orderkey") % 10 < 2).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("U"))
        .otherwise(F.lit("D"))
        .alias("_op"),
        F.round(F.col("o_totalprice") * 1.1 + 1e-9, 2).alias("_new_price"),
    )
    # Insert keys offset by 1e10 — far above any real o_orderkey at any
    # plausible SF (TPC-H keys pass 1M near SF 0.17; 1e10 would need
    # SF ~1,700), so synthetic inserts never collide with snapshot keys.
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 2).select(
        (F.col("o_orderkey") + 10_000_000_000).alias("o_orderkey"),
        F.lit("I").alias("_op"),
        F.round(F.col("o_totalprice"), 2).alias("_new_price"),
    )
    all_changes = changes.unionByName(inserts)
    merged = orders.join(all_changes, on="o_orderkey", how="full_outer")
    return (
        merged.filter(F.coalesce(F.col("_op"), F.lit("keep")) != "D")
        .select(
            "o_orderkey",
            F.when(F.col("_op").isin("U", "I"), F.col("_new_price"))
            .otherwise(F.round(F.col("o_totalprice"), 2))
            .alias("o_totalprice"),
            F.coalesce(F.col("o_orderstatus"), F.lit("N")).alias(
                "o_orderstatus"
            ),
        )
    )


def q87_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution functions — percent_rank and cume_dist of
    each nation's mean customer account balance, plus dense_rank —
    the analytic-ranking family q49 (row_number) and q72 (ntile)
    don't cover. The window runs over the 25-row nation aggregate,
    never customers: aggregate first, rank the aggregate."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per_nation = (
        customer.groupBy("c_nationkey")
        .agg(F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    w = Window.orderBy(F.desc("avg_acctbal"))
    return per_nation.select(
        "n_name",
        "avg_acctbal",
        F.dense_rank().over(w).alias("rk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q88_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing as a registered query: explode each
    binary payload into ≤8 fixed 64-byte windows via Arrow-batched
    mapInPandas (the video-keyframe fan-out shape; a real decoder
    swaps window slicing for codec frame boundaries). Frames are
    emitted as md5 digests — the payloads are ASCII text bytes, so
    DuckDB reproduces the digest from substr, making the 1→N binary
    fan-out value-checkable, not rows-only."""
    from ..operators.multimodal import attach_binary_payload, frame_sample

    docs = load_table(spark, sf_dir, "documents")
    frames = frame_sample(attach_binary_payload(docs))
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5("frame_bytes").alias("frame_md5"),
        F.length("frame_bytes").cast("int").alias("frame_len"),
    )


def q89_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature extraction (the real, non-stub multimodal
    feature path): 64-bin byte-value histogram per payload via numpy
    bincount inside mapInPandas, posexploded to sparse (doc, bin, n)
    rows for the oracle. The Arrow batch→bincount shape is exactly how
    a learned extractor would run; only fixed-width features leave the
    scan partitions."""
    from ..operators.multimodal import attach_binary_payload, byte_histogram_features

    docs = load_table(spark, sf_dir, "documents")
    feats = byte_histogram_features(attach_binary_payload(docs), n_bins=64)
    return (
        feats.select("doc_id", F.posexplode("features").alias("bin", "n"))
        .filter(F.col("n") > 0)
        .select("doc_id", F.col("bin").cast("int").alias("bin"), "n")
    )


def q90_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar Pandas UDF — the remaining UDF flavor (q46
    UDTF, U1 applyInPandas, q28 applyInPandasWithState, q20/q88/q89
    mapInPandas): a numpy kernel over Arrow batches computing
    sqrt(|value|), aggregated per event_type.

    sqrt is IEEE-754 correctly rounded, so numpy and DuckDB produce
    bit-identical doubles — the UDF boundary adds no float drift and
    the oracle check is exact (ln/exp kernels would differ in the last
    ulp between libm implementations). In production this slot holds
    the model-scoring / feature-transform kernel; the plan shape —
    Arrow batch in, partial agg after, one key exchange — is what
    matters at 100 TB, and the partial aggregation runs AFTER the UDF
    on the scan partitions, so the exchange carries per-type partials
    only."""
    import numpy as np

    @F.pandas_udf("double")
    def _sqrt_abs(v: pd.Series) -> pd.Series:
        return np.sqrt(v.abs())

    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.avg(_sqrt_abs("value")), 4).alias("mean_sqrt_value"),
        F.count("*").alias("n"),
    )


def q91_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (the remaining Structured
    Streaming shape: q19 windowed agg, q28 custom state, q44 dedup):
    the event stream broadcast-joins a static funnel-stage dimension
    before its 1-day windowed aggregate. Stateless join — only the
    window aggregate holds state — and the batch equivalent SQL is the
    oracle, so streamed == batch is value-checked."""
    from ..streaming.daily import stream_enriched_daily

    return stream_enriched_daily(spark, f"{sf_dir}/events.parquet")


def q92_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join: clicks ⋈ same-user
    errors within [click, click+1h], both sides watermarked — state is
    bounded by the range predicate (a buffered click drops once the
    error watermark passes click+1h). Completes the streaming surface:
    windowed agg (q19), custom state (q28), dedup (q44), stream-static
    (q91), and now stream-stream. Over a finite availableNow input
    every true pair is emitted (watermarks bound state, not inner-join
    completeness), so the batch interval-join SQL is an exact oracle;
    delta is integer µs — parity exact by construction."""
    from ..streaming.daily import stream_stream_click_error_join

    return stream_stream_click_error_join(spark, f"{sf_dir}/events.parquet")


def q93_tpch_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share — lineitem ⋈ part over
    one ship-month, conditional revenue ratio. Exercises the
    fact-to-mid-size-dimension join (part scales with SF — join
    strategy left to AQE, which broadcasts while it fits) with the
    month predicate pushed to the lineitem scan, and the
    conditional-aggregate-ratio pattern (one pass, no self-join).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-09-01")
            & (F.col("l_shipdate") < "1997-10-01")
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct"),
            F.count("*").alias("n_lineitems"),
        )
    )


def _salted_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q94/q98 shared fixture: requests salted with deterministic invalid
    rows — custkey % 41 ∈ {0,1,2} → {missing_field, unknown_region,
    unknown_city}."""
    req = _requests(spark, sf_dir)
    k = F.col("code_commune").cast("long") % 41
    return (
        req.withColumn(
            "nb_m2",
            F.when(k == 0, F.lit(None).cast("int")).otherwise(F.col("nb_m2")),
        )
        .withColumn(
            "libelle_region",
            F.when(k == 1, F.lit("ATLANTIS")).otherwise(
                F.col("libelle_region")
            ),
        )
        .withColumn(
            "nom_commune",
            F.when(
                k == 2, F.concat(F.lit("UNKNOWN-"), F.col("nom_commune"))
            ).otherwise(F.col("nom_commune")),
        )
    )


def q94_price_batch_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-path error envelope: the requests table salted with
    deterministic invalid rows — a NULL required field (the
    reference's 400, api.py:24-33,107), an unknown region and an
    unknown city (the two 500 lookup failures, api.py:131-132) — scored
    through ``score_requests_with_status``, which emits an explicit
    per-request status instead of dropping/NULLing. Salting key:
    ``custkey % 41`` ∈ {0,1,2} → {missing_field, unknown_region,
    unknown_city}; cities naturally lacking an (n, n+1) α pair also
    surface as unknown_city, as in serving."""
    from ..operators.pricing import score_requests_with_status

    salted = _salted_requests(spark, sf_dir)
    return score_requests_with_status(
        salted,
        _daily_region(spark, sf_dir),
        _annual_city(spark, sf_dir, year_range=(ALPHA_YEAR, ALPHA_YEAR + 1)),
        run_date=RUN_DATE,
        year_n=ALPHA_YEAR,
    ).select("code_commune", "status", "price")


def q95_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 CSV sink + S7 schema-declared CSV source, driver-verified:
    write the nation dimension through the CSV sink, read it back with
    the declared schema (inference banned), join region and aggregate.
    The oracle computes the same aggregate from the parquet directly —
    value parity proves the CSV roundtrip is lossless."""

    from ..sources.readers import read_csv
    from ..sources.writers import write_csv

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = scratch_dir("csv_rt_")
    write_csv(nation, out)
    back = read_csv(
        spark,
        out,
        T.StructType(
            [
                T.StructField("n_nationkey", T.LongType()),
                T.StructField("n_name", T.StringType()),
                T.StructField("n_regionkey", T.LongType()),
            ]
        ),
    )
    region = load_table(spark, sf_dir, "region")
    return (
        back.join(
            F.broadcast(region),
            back.n_regionkey == region.r_regionkey,
        )
        .groupBy(F.col("r_name"))
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


def q96_json_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 JSON→relational conversion (reference:
    0_insert_conso_an_ville_in_bq.py:34-37) in its distributed form:
    ``from_json`` with a DECLARED schema over the events.props payload
    column (schema inference banned), then a relational aggregate over
    the extracted field — the parse itself is what the oracle checks
    (DuckDB extracts the same field with its own JSON reader)."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_type",
        F.from_json(
            F.col("props"), T.StructType([T.StructField("k", T.IntegerType())])
        )["k"].alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("k").alias("n_parsed"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


def q97_materialize_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 write-once materialization cache, driver-verified: materialize
    a daily aggregate to a parquet artifact (first call computes+writes,
    second call must hit the _SUCCESS-guarded artifact), then aggregate
    the REREAD frame. Oracle recomputes from source parquet — parity
    proves the cached artifact equals the computation it replaced."""

    from ..sources.writers import materialize_once

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").alias("date"), "event_type"
    ).agg(F.count("*").alias("n"))
    path = scratch_dir("mat_once_") + "/daily"
    materialize_once(daily, path)  # first call: computes and writes
    cached = materialize_once(daily, path)  # second call: reads artifact
    return cached.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.count("*").alias("n_days"),
    )


def q98_stream_price_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming serving path: the q94 salted-requests table lands as
    parquet, streams through the SAME error-envelope scorer
    (stream-static broadcast joins, stateless — no watermark, no state
    store), and emits (code_commune, status, price) continuously. With
    availableNow over the finite landing dir the emission equals the
    batch scorer row-for-row, so q94's oracle is exact."""

    from ..streaming.serving import stream_score_requests

    salted = _salted_requests(spark, sf_dir)
    landing = scratch_dir("req_landing_")
    salted.write.mode("overwrite").parquet(landing)
    return stream_score_requests(
        spark,
        landing,
        _daily_region(spark, sf_dir),
        _annual_city(spark, sf_dir, year_range=(ALPHA_YEAR, ALPHA_YEAR + 1)),
        run_date=RUN_DATE,
        year_n=ALPHA_YEAR,
    )


def q99_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketing, driver-verified: orders and
    customer are written ONCE as bucketed tables on the join key (8
    buckets — the one shuffle, paid at write time), then the fact-dim
    join runs exchange-free (tests/test_sources.py pins `Exchange not
    in plan` for this shape). The oracle computes the identical
    join+aggregate straight from parquet — value parity proves the
    bucketed layout preserves the data; the plan shape is the 100 TB
    lever for repeated joins on a stable key."""
    from ..sources.writers import write_bucketed

    sfx = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    # unqualified names land in the per-process scratch database
    # (writers._ensure_scratch_db) — concurrent driver/judge/builder
    # sessions write disjoint locations instead of racing each
    # other's cleanup in the shared spark-warehouse/ (VERDICT r9).
    orders_b = spark.table(
        write_bucketed(
            load_table(spark, sf_dir, "orders"),
            f"orders_b_{sfx}",
            ("o_custkey",),
            num_buckets=8,
            sort_cols=("o_custkey",),
        )
    )
    cust_b = spark.table(
        write_bucketed(
            load_table(spark, sf_dir, "customer"),
            f"customer_b_{sfx}",
            ("c_custkey",),
            num_buckets=8,
            sort_cols=("c_custkey",),
        )
    )
    # exact cent-grid sum (q22's discipline): order/engine-independent
    cents = F.round(F.col("o_totalprice") * F.lit(100.0), 0).cast("long")
    return (
        orders_b.join(cust_b, orders_b.o_custkey == cust_b.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(cents) / F.lit(100.0)).alias("sum_price"),
        )
    )


def q100_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join, driver-verified result-identity: the
    events fact (user_id is the skew axis in clickstream data) joins a
    per-user dimension through ``salted_join`` — the big side salts,
    the small side replicates across salts, the join key becomes
    (key, salt). The oracle computes the PLAIN join: value parity
    proves salting is result-identical, which is the whole point of
    the rewrite (AQE skew-split handles sort-merge skew; salting is
    for the cases AQE cannot see, e.g. post-UDF skew)."""
    from ..operators.util import salted_join

    events = load_table(spark, sf_dir, "events")
    user_dim = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n_total"))
        .withColumn(
            "tier",
            F.when(F.col("n_total") >= 100, "heavy").otherwise("light"),
        )
        .select("user_id", "tier")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "value"
    )
    joined = salted_join(clicks, user_dim, on=["user_id"], n_salts=8)
    # exact-grid sum (q22's discipline): engine- and order-independent
    grid = F.round(F.col("value") * F.lit(1e4), 0).cast("long")
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_clicks"),
        (F.sum(grid) / F.lit(1e4)).alias("sum_value"),
    )


def q101_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal — the C4/CCNet pretraining step
    the document-level dedups cannot express: a LINE (here: sentence-
    ish segment split on '.') occurring in many documents is
    boilerplate (headers, navigation, legal footers) and is dropped
    from every document; documents are then rebuilt from their
    surviving lines in original order.

    Plan: explode → distinct (doc, line) → line-df agg → broadcast
    semi-join of frequent lines back onto the exploded view →
    order-preserving reassembly via sort-within-group collect. One
    exchange on line for the df count, one on doc_id for reassembly;
    line strings shuffle once each. Output: per-doc kept/dropped line
    counts + md5 of the rebuilt text (pins CONTENT, not just counts).
    """
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\.")).alias("pos", "line"),
    ).withColumn("line", F.trim(F.col("line"))).filter(F.col("line") != "")
    # document frequency per distinct line
    boilerplate = (
        lines.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= 10)
        .select("line")
    )
    kept = lines.join(F.broadcast(boilerplate), on="line", how="left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
                ". ",
            ).alias("_text"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.md5(F.col("_text")).alias("text_md5"),
        )
    )
    totals = lines.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    return totals.join(rebuilt, on="doc_id", how="left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        "text_md5",
    )


def q102_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export manifest — the pipeline's last mile: every document is
    deterministically assigned to one of 16 content-addressed shards
    (md5 of the id, so assignment is reproducible anywhere and stable
    under repartition), and each shard row carries its doc count, total
    chars, and a content fingerprint (md5 over the shard's sorted
    per-doc md5s). A consumer can verify a delivered shard against this
    manifest without re-reading the corpus. Every value is
    deterministic — no float, no ordering dependence (the fingerprint
    sorts doc digests lexicographically)."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 16
    ).cast("int")
    per_doc = docs.select(
        shard.alias("shard"),
        F.length("text").alias("n_chars"),
        F.md5("text").alias("_doc_md5"),
    )
    return per_doc.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list("_doc_md5")), "")
        ).alias("content_md5"),
    )


def q103_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card — the one-row corpus summary a data release ships:
    document/char/token totals, language histogram (as a canonical
    sorted string so two engines agree on representation), exact-dup
    rate on the 1e-4 integer grid, and source cardinality. One
    aggregation pass plus a tiny lang rollup; every output is integer
    or canonical-string, so parity is exact by construction."""
    docs = load_table(spark, sf_dir, "documents")
    lang_hist = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .select(
            F.concat(F.col("lang"), F.lit(":"), F.col("n").cast("string")).alias(
                "_e"
            )
        )
        .agg(F.array_join(F.array_sort(F.collect_list("_e")), ",").alias("langs"))
    )
    dup = docs.groupBy("text").agg(F.count("*").alias("_n"))
    summary = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(X.token_count(F.col("text"))).alias("total_tokens"),
        F.count_distinct(F.col("source")).alias("n_sources"),
    )
    dup_rate = (
        dup.agg(F.sum("_n").alias("_s"), F.count("*").alias("_c"))
        # integer division end-to-end (permyriad of non-first dup rows):
        # float-cast would diverge (DuckDB casts round, Spark truncates)
        .select(F.expr("((_s - _c) * 10000) div _s").alias("dup_permyriad"))
    )
    return summary.crossJoin(dup_rate).crossJoin(lang_hist)


def q104_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per event_type: median/MAD z-score (the
    quality-filter shape that survives heavy tails where mean/stddev
    break). Two exact percentile passes (median, then median of
    absolute deviations — q31 pinned percentile_cont parity), then a
    broadcast of the ≤5-row stats table back onto the scan for the
    flag count. Outputs integer counts plus 4-dp-rounded med/mad; the
    z threshold (0.6745·|x−med|/mad > 3.5) compares identical doubles
    in both engines."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("_med")
    )
    mad = (
        events.join(F.broadcast(med), on="event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(
                F.abs(F.col("value") - F.col("_med")), F.lit(0.5)
            ).alias("_mad"),
            F.first("_med").alias("_med"),
        )
    )
    flagged = (
        events.join(F.broadcast(mad), on="event_type")
        .withColumn(
            "_is_out",
            (
                F.lit(0.6745)
                * F.abs(F.col("value") - F.col("_med"))
                / F.col("_mad")
                > 3.5
            ).cast("int"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("_is_out").alias("n_outliers"),
            F.round(F.first("_med"), 4).alias("median"),
            F.round(F.first("_mad"), 4).alias("mad"),
        )
    )
    return flagged


def q105_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized funnel conversion: within each gap-session (the same
    ``assign_sessions`` step q22's rollup uses), did a click lead to a
    purchase LATER in the same session? One extra per-(user, session)
    aggregate over the sessionized events — the composition product
    analytics actually runs (sessionize → funnel), integer outputs."""
    from ..operators.sessions import assign_sessions

    events = load_table(spark, sf_dir, "events", raw=True).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("ts div 1000000000").alias("ts_s"),
    )
    sess = assign_sessions(events, gap_seconds=1800)
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts_s"))
        ).alias("_first_click"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts_s"))
        ).alias("_last_purchase"),
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.sum(
            F.when(F.col("_first_click").isNotNull(), 1).otherwise(0)
        ).alias("n_with_click"),
        F.sum(
            F.when(
                F.col("_first_click").isNotNull()
                & F.col("_last_purchase").isNotNull()
                & (F.col("_last_purchase") >= F.col("_first_click")),
                1,
            ).otherwise(0)
        ).alias("n_converted"),
    )


#: PII email pattern — explicit classes only (no shorthand that could
#: differ between Java regex and RE2); used by q106 in both dialects.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"


def q106_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — a core curation step: detect and mask email
    addresses before release. The synthetic corpus carries no PII, so
    (as with q94's invalid rows) documents with ``doc_id % 13 == 0``
    are salted with a deterministic address both engines construct
    identically; the query counts detections and emits the md5 of the
    MASKED text, so the oracle verifies the scrubbed content itself,
    not just the counts. One projection pass — no shuffle until the
    (tiny) summary the caller might add."""
    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.col("text")),
    )
    return salted.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)
        ).alias("n_emails"),
        F.md5(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>")
        ).alias("masked_md5"),
    )


def q107_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth value histogram per event_type — the distribution
    summary a dataset card ships: deciles from the exact percentile
    aggregate (q31 pinned its cross-engine parity), then per-bin counts
    by comparing against the SAME broadcast edge doubles in both
    engines. Counts are integers; edges are rounded for display only.
    Two passes: one percentile agg (≤5 rows, broadcast), one scan with
    a codegen'd CASE ladder — no wide shuffle."""
    events = load_table(spark, sf_dir, "events")
    edges = events.groupBy("event_type").agg(
        *[
            F.percentile("value", F.lit(q / 10.0)).alias(f"_p{q}")
            for q in (2, 4, 6, 8)
        ]
    )
    bin_expr = (
        F.when(F.col("value") < F.col("_p2"), 0)
        .when(F.col("value") < F.col("_p4"), 1)
        .when(F.col("value") < F.col("_p6"), 2)
        .when(F.col("value") < F.col("_p8"), 3)
        .otherwise(4)
    )
    return (
        events.join(F.broadcast(edges), on="event_type")
        .withColumn("bin", bin_expr.cast("int"))
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min(F.col("_p2")), 4).alias("p20"),
            F.round(F.min(F.col("_p8")), 4).alias("p80"),
        )
    )


def q108_rest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/S5 driver-verified hermetically: the opendatasoft-style
    REST reader runs its FULL path — pushdown URL construction
    (select/where params on the wire), fetch via the injectable client
    (here serving the nation dimension as the API payload — no
    network), JSON→schema-declared relational — and the oracle
    aggregates the same table directly, so value parity proves the
    reader is lossless end-to-end. The fetch is driver-side by design
    (a bounded dimension-scale call, the reference's own shape,
    reference:0_insert_conso_an_ville_in_bq.py:20-34); the distributed
    plan starts at the returned DataFrame."""
    import duckdb

    from ..sources.rest import build_export_url, read_rest_json

    url = build_export_url(
        "https://api.example.test",
        "nations",
        select="n_nationkey,n_name,n_regionkey",
        where="n_nationkey >= 0",
    )

    def fetcher(u: str) -> list[dict]:
        # hermetic HTTP stand-in; the pushdown params must reach the wire
        if "select=" not in u or "where=" not in u:
            raise ValueError(f"pushdown params missing from wire URL: {u!r}")
        con = duckdb.connect()
        rows = con.execute(
            "SELECT n_nationkey, n_name, n_regionkey FROM "
            f"read_parquet('{sf_dir}/nation.parquet') ORDER BY n_nationkey"
        ).fetchall()
        return [
            {"n_nationkey": k, "n_name": n, "n_regionkey": r}
            for k, n, r in rows
        ]

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    df = read_rest_json(spark, url, schema, fetcher=fetcher)
    return df.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
    )


def q109_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (CCNet/KenLM-style perplexity filter,
    SQL-expressible core): train an add-one-smoothed unigram LM on the
    hash-split train partition, score every document's mean token NLL
    with smoothed OOV mass for unseen tokens. Per-token NLLs snap to a
    1e-6 integer grid so per-doc sums are order-independent; only the
    final mean divides (identical double both engines)."""
    from ..operators.textstats import unigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs)


def q110_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents must
    land in the SAME split or eval contaminates — so the split key is
    the n-gram-Jaccard dedup CLUSTER (connected component min-id), not
    the document id; singletons key on themselves. Same md5-bucket
    assignment as q48, applied to the group key: by construction zero
    near-dup pairs straddle splits. Threshold 0.5 (the near-dup regime)
    keeps pair generation df-cap-blocked and the component graph
    shallow."""
    from ..operators.dedup import connected_components, ngram_jaccard_pairs
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_df=100)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    keyed = (
        docs.select("doc_id")
        .join(
            comp.select(
                F.col("node").alias("doc_id"),
                F.col("component").alias("cluster_id"),
            ),
            on="doc_id",
            how="left",
        )
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("group_key"),
        )
    )
    bucket = hash_bucket(F.col("group_key"))
    return keyed.select(
        "doc_id",
        "group_key",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def q111_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join: urgent high-value orders select their
    lineitems. The order-key set (too large to broadcast exactly at
    100 TB) is collapsed to a 32k-bit md5 Bloom bitmap; lineitem rows
    are pre-filtered MAP-SIDE against the broadcast bitmap before the
    exact semi-join removes false positives — the explicit, portable
    form of Spark's runtime bloomFilter rewrite. Results are exact
    regardless of FP rate, so the oracle is the plain semi-join."""
    from ..operators.bloom import bloom_build, bloom_prefilter

    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 200000)
    ).select("o_orderkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    bitmap = bloom_build(keys, "o_orderkey")
    pruned = bloom_prefilter(lineitem, "l_orderkey", bitmap)
    exact = pruned.join(
        keys.withColumnRenamed("o_orderkey", "l_orderkey"),
        on="l_orderkey",
        how="leftsemi",
    )
    # cent-grid integer sum (PLANS.md 2e): order-independent, exact
    return exact.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            / 100.0
        ).alias("sum_price"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


def q112_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch domain upsampling (Llama-style mixtures repeat
    scarce domains): en×1.0, fr×2.5, de×3.2, es×0.5, zh×1.0. Every doc
    of a stratum appears ⌊e⌋ times plus once more for the md5-bucket
    fraction (e−⌊e⌋) of ids — deterministic replication, no RNG. One
    explode, no shuffle; per-copy rows carry copy_idx."""
    from ..operators.sampling import epoch_upsample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = epoch_upsample(
        docs,
        "lang",
        lambda lang: F.when(lang == "fr", 2.5)
        .when(lang == "de", 3.2)
        .when(lang == "es", 0.5)
        .otherwise(1.0),
    )
    return out.select("doc_id", "lang", F.col("copy_idx").cast("int"))


def q113_tpch_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate the fact table
    FIRST (sum quantity per order, HAVING > 250 — ~1% of orders), then
    join the small surviving key set back to orders and customer. The
    agg-before-join order is the scale point: the having filter
    collapses the fact side to a broadcastable key list, so the
    orders/customer joins are broadcast-hash, never a fact-sized
    shuffle. Quantity sums are integer (l_quantity is integral in this
    data) — exact parity."""
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        F.broadcast(big)
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


def q114_tpch_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-accounting anti-join): customers whose
    balance exceeds the global average of positive balances AND who
    placed no order since 1998 — churned high-value accounts. Two
    classic decorrelations in one plan: the scalar subquery becomes a
    1-row broadcast cross join; NOT EXISTS becomes a left-anti join
    against the date-filtered orders scan (the date predicate pushes
    into parquet, so the anti-join's build side is the recent slice,
    not the full history). The avg threshold is compared UNROUNDED in
    both engines — a single identical double — and only reported
    rounded."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1998-01-01"
    ).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            recent,
            F.col("c_custkey") == F.col("o_custkey"),
            how="left_anti",
        )
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
    )


def q115_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (FAISS-style PQ codes + ADC shortlist +
    exact rerank), gated at VALUE level like q27: in-plan recall@10 vs
    the exact top-k, one hashable row. m=8 subspaces × 16 centroids on
    64-dim unit vectors; ADC shortlist 12·k reranked exactly. Bound 0.5
    vs measured 0.72–0.88 across the three test SFs — near-isotropic
    synthetic vectors are PQ's worst case (no cluster structure), real
    embedding corpora sit far above this bound."""
    from ..operators.similarity import cosine_topk, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = pq_topk(emb, queries, k=10, rerank_factor=12).select(
        "query_id", "vec_id"
    )
    hits = approx.join(exact, on=["query_id", "vec_id"], how="inner")
    return (
        exact.agg(F.count("*").alias("_n_exact"))
        .crossJoin(hits.agg(F.count("*").alias("_n_hit")))
        .select(
            F.lit(5).alias("n_queries"),
            F.lit(10).alias("k"),
            (F.col("_n_hit") >= F.col("_n_exact") * 0.5).alias(
                "recall_ge_50pct"
            ),
        )
    )


def q116_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed upsert (MERGE INTO for a stream): update-mode
    per-user argmax aggregation → foreachBatch keyed MERGE into a
    bucket-partitioned parquet state table through merge_write (one
    full-outer join per affected bucket set, dynamic partition
    overwrite — the Delta/Iceberg MERGE plan on plain parquet). With
    availableNow over the finite landing dir, final state ≡ the batch
    per-user latest — exact SQL oracle, NULL users one group as in its
    PARTITION BY. (ts, event_id) is a total order, so the pick is
    deterministic."""
    from ..streaming.upsert import stream_upsert_latest

    return stream_upsert_latest(spark, f"{sf_dir}/events.parquet")


def q117_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label, per-dimension embedding standardization (feature
    scaling before clustering/ANN): z = (x − μ)/σ with μ, σ computed
    per (label, dim). Plan: posexplode → (label, dim) hash agg (partial
    agg collapses each map task to labels×64 rows before the tiny
    exchange) → broadcast stats back onto the scan → renormalize inside
    an array zip. μ and σ are snapped to a 1e-6 grid BEFORE the
    normalize on both sides, so downstream arithmetic sees identical
    doubles in both engines; each z_d then snaps to a 1e-4 integer grid
    and the per-vector checksum is an INTEGER sum — order-independent,
    exact by construction at any scale (PLANS.md 2e family).
    Output: (vec_id, label, zsum) — Σ_d round(z_d·1e4)/1e4."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("_v")
    )
    dims = emb.select(
        "label", F.posexplode(F.col("_v")).alias("_pos", "_x")
    )
    grid = lambda c: (F.round(c * 1e6, 0) / 1e6)  # noqa: E731
    stats = (
        dims.groupBy("label", "_pos")
        .agg(
            grid(F.avg("_x")).alias("_mu"),
            grid(F.coalesce(F.stddev("_x"), F.lit(0.0))).alias("_sigma"),
        )
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_pos", "_mu", "_sigma"))
            ).alias("_stats")
        )
        .select(
            "label",
            F.transform(F.col("_stats"), lambda s: s["_mu"]).alias("_mus"),
            F.transform(F.col("_stats"), lambda s: s["_sigma"]).alias(
                "_sigmas"
            ),
        )
    )
    z = F.zip_with(
        F.zip_with(
            F.col("_v"), F.col("_mus"), lambda x, mu: x - mu
        ),
        F.col("_sigmas"),
        lambda d, s: F.when(s > 0, d / s).otherwise(F.lit(0.0)),
    )
    return (
        emb.join(F.broadcast(stats), on="label")
        .select(
            "vec_id",
            "label",
            (
                F.aggregate(
                    z,
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + F.round(v * 1e4, 0).cast("long"),
                )
                / 1e4
            ).alias("zsum"),
        )
    )


def q118_backfill_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 backfill, driver-verified (closes the last local-only SURVEY
    §2 row): load the daily table's first 60% of days, then backfill
    days 40%–80% as ONE dynamic-partition-overwrite job — run TWICE to
    prove idempotence (the reference's per-day DAG re-runs append
    duplicates; SURVEY §2.9). Final state ≡ days < split ∪ backfill
    range, with overlap days rewritten identically, out-of-range days
    untouched, and NO duplicate rows. Split dates derive from the data
    (ordinal picks over the sorted distinct days) so the fixture
    survives testdata regeneration; this is a pipeline query (it writes
    a warehouse dir), so the tiny date-pick collect is inherent, like
    q19/q97."""

    from ..operators.ingest import backfill_daily

    daily = _daily_region(spark, sf_dir)
    dates = [
        r["date"]
        for r in daily.select("date").distinct().orderBy("date").collect()
    ]
    n = len(dates)
    split = dates[n * 6 // 10]
    bf_start, bf_end = dates[n * 4 // 10], dates[min(n - 1, n * 8 // 10)]
    out = scratch_dir("backfill_q118_")
    daily.filter(F.col("date") < F.lit(split)).write.mode(
        "overwrite"
    ).partitionBy("date").parquet(out)
    backfill_daily(daily, out, str(bf_start), str(bf_end))
    backfill_daily(daily, out, str(bf_start), str(bf_end))  # idempotent
    return spark.read.parquet(out).select(
        "libelle_region",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        "conso_mwh",
    )


def q119_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a join view: V = orders ⋈
    customer. Deltas arrive on BOTH sides (a deterministic reprice on
    ~1/7 of orders, a segment change on ~1/11 of customers); the
    incremental path rewrites only AFFECTED view rows — anti-join the
    old view on the affected-key set, union the re-joined delta slice —
    instead of recomputing the join. The oracle recomputes the view
    from the post-delta inputs wholesale, so parity IS the IVM
    correctness contract: incremental ≡ full recompute. At 100 TB the
    anti-join+union touches O(Δ) rows (both sides' delta slices and
    their join partners), never O(V). Cent-grid integer sums keep the
    per-segment checksum order-independent."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # deterministic deltas (both engines construct the identical batch)
    new_orders = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 3,
            F.round(F.col("o_totalprice") * 1.05 + 1e-9, 2),
        ).otherwise(F.col("o_totalprice")),
    )
    new_customer = customer.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 11 == 2, F.lit("CHURNED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    old_view = orders.join(
        customer, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
    affected = (F.col("o_orderkey") % 7 == 3) | (F.col("o_custkey") % 11 == 2)
    delta_view = (
        new_orders.filter(affected)
        .join(new_customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
    )
    incremental = old_view.filter(~affected).unionByName(delta_view)
    return incremental.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            / 100.0
        ).alias("sum_price"),
    )


def q120_cogroup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map Pandas UDF — the last UDF flavor (scalar q90,
    grouped-map U1/q08, mapInPandas q20, UDTF q46,
    applyInPandasWithState q28): per-user cogroup of clicks and
    purchases, joined INSIDE the Arrow batch to compute
    first-click→first-purchase conversion. The cogroup machinery
    shuffles both sides once on the user key and hands each key's two
    pandas frames to Python together — the shape for algorithms that
    need both sides of a key in memory (sequence alignment, per-entity
    reconciliation) without a SQL join.

    All outputs are integers (counts and a µs delta — min/count over
    int64 ns inputs), so the Arrow crossing adds no float drift and
    parity is exact.

    r12: the cogroup key is a HASH BUCKET of users, not the user —
    Spark's cogroup machinery invokes Python once per key with
    per-key pandas frames (~3.6 ms/key measured: 1500 users = 5.4 s
    of pure per-call overhead at sf0.1), so the per-user shape pays
    the Python boundary N_users times for microseconds of work each.
    Bucketing amortizes the crossing over ~|users|/B users per call
    and does the per-user logic VECTORIZED inside the batch (guide
    §4.2 — hand whole batches to pandas, never loop per entity);
    results are identical for any B because every user's rows land in
    exactly one bucket on both sides. B scales with the session's
    parallelism; at corpus scale size B so one bucket's rows fit an
    Arrow frame."""
    n_buckets = 4 * spark.sparkContext.defaultParallelism
    events = load_table(spark, sf_dir, "events", raw=True).select(
        "user_id",
        "event_type",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.pmod(F.col("user_id"), F.lit(n_buckets)).alias("_bk"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "_bk", "user_id", "ts_us"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "_bk", "user_id", "ts_us"
    )

    def _conv(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # a bucket present on only one side arrives with the other
        # frame EMPTY — and an empty cogroup frame may carry no
        # columns at all, so normalize before any column access
        def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
            if "ts_us" not in pdf.columns:
                return pd.DataFrame(
                    {"user_id": pd.Series([], dtype="int64"),
                     "ts_us": pd.Series([], dtype="int64")}
                )
            return pdf

        left, right = _norm(left), _norm(right)
        la = (
            left.groupby("user_id", sort=False)["ts_us"]
            .agg(n_clicks="size", _fc="min")
            .reset_index()
        )
        ra = (
            right.groupby("user_id", sort=False)["ts_us"]
            .agg(n_purchases="size")
            .reset_index()
        )
        out = la.merge(ra, on="user_id", how="outer")
        # conversion: first purchase at/after the first click, per user
        pr = right.merge(la[["user_id", "_fc"]], on="user_id", how="inner")
        pr = pr[pr["ts_us"] >= pr["_fc"]]
        conv = (
            pr.groupby("user_id", sort=False)
            .agg(_pm=("ts_us", "min"), _fc2=("_fc", "first"))
            .reset_index()
        )
        conv["convert_us"] = conv["_pm"] - conv["_fc2"]
        out = out.merge(conv[["user_id", "convert_us"]], on="user_id", how="left")
        return pd.DataFrame(
            {
                "user_id": out["user_id"].astype("int64"),
                "n_clicks": out["n_clicks"].fillna(0).astype("int64"),
                "n_purchases": out["n_purchases"].fillna(0).astype("int64"),
                "convert_us": out["convert_us"].astype("Int64"),
            }
        )

    out_schema = (
        "user_id long, n_clicks long, n_purchases long, convert_us long"
    )
    return (
        clicks.groupBy("_bk")
        .cogroup(purchases.groupBy("_bk"))
        .applyInPandas(_conv, schema=out_schema)
    )


def q121_tpch_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → semi-join + priority count): orders in
    one quarter that have at least one returned line, counted by
    priority. The correlated EXISTS decorrelates to a LEFT SEMI join —
    the canonical plan: the lineitem side is pruned to (l_orderkey)
    only and pre-filtered on l_returnflag before the shuffle, so the
    semi-join probe side carries one bigint column. The quarter
    predicate pushes into the orders parquet scan. (The reference's
    data has no commitdate/receiptdate, so the EXISTS condition is
    returnflag='R' — the plan shape, not the constant, is the point.)
    Counts are integers — exact parity."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-07-01")
            & (F.col("o_orderdate") < "1996-10-01")
        )
        .select("o_orderkey", "o_orderpriority")
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(
            returned,
            F.col("o_orderkey") == F.col("l_orderkey"),
            how="left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q122_tpch_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (two-nation trade volume by year): revenue
    shipped between NATION_3 suppliers and NATION_7 customers (either
    direction) per ship-year. Two roles of the same 25-row nation dim →
    two broadcast joins with disjunctive pair predicate applied AFTER
    both (matches the spec's n1/n2 OR form). Volume sums ride the exact
    1e-4 integer grid (l_extendedprice·(1−l_discount) is a 4-dp value),
    so the per-(pair, year) sum is an exact long in both engines —
    immune to float summation order at any scale."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
    )
    n1 = F.broadcast(nation.select(
        F.col("n_nationkey").alias("_sn_key"),
        F.col("n_name").alias("supp_nation"),
    ))
    n2 = F.broadcast(nation.select(
        F.col("n_nationkey").alias("_cn_key"),
        F.col("n_name").alias("cust_nation"),
    ))
    vol_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4, 0
    ).cast("long")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("_sn_key"))
        .join(n2, F.col("c_nationkey") == F.col("_cn_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_3")
                & (F.col("cust_nation") == "NATION_7")
            )
            | (
                (F.col("supp_nation") == "NATION_7")
                & (F.col("cust_nation") == "NATION_3")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg((F.sum(vol_e4) / 1e4).alias("revenue"))
        .select(
            "supp_nation", "cust_nation", "l_year",
            F.round("revenue", 2).alias("revenue"),
        )
    )


def q123_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): NATION_5's share of ASIA-region
    order revenue per order-year for one part type. The share is a
    ratio of two conditional sums over the SAME joined row set —
    expressed as sum(CASE)/sum(all) inside one aggregate, not two
    plans. Both numerator and denominator ride the exact 1e-4 long
    grid, so the division sees identical integers in both engines and
    the rounded share is deterministic. Region/nation dims broadcast;
    the part filter prunes the fact join upstream."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    cust_nations = F.broadcast(
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("_cn_key"))
    )
    supp_nation = F.broadcast(nation.select(
        F.col("n_nationkey").alias("_sn_key"),
        F.col("n_name").alias("_supp_nation"),
    ))
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    vol_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4, 0
    ).cast("long")
    return (
        lineitem.join(
            F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(cust_nations, F.col("c_nationkey") == F.col("_cn_key"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(supp_nation, F.col("s_nationkey") == F.col("_sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("_supp_nation") == "NATION_5", vol_e4)
                .otherwise(F.lit(0))
            ).alias("_nat"),
            F.sum(vol_e4).alias("_all"),
        )
        .select(
            "o_year",
            F.round(F.col("_nat") / F.col("_all"), 6).alias("mkt_share"),
        )
    )


def q124_tpch_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). The
    reference data has no partsupp, so supply cost is modeled as
    10% of p_retailprice per unit — the plan keeps Q9's essentials:
    a fact-side expression combining columns from two joined dims,
    a LIKE-style part filter, and a (nation, year) rollup. Profit
    amounts ride the exact 1e-4 long grid (retailprice is 2-dp,
    quantity integral, so every term is a 4-dp value) — exact sums.
    Brand filter prunes part before the broadcast join."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    ).select("p_partkey", "p_retailprice")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    amount_e4 = (
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4, 0
        ).cast("long")
        - F.round(
            F.col("p_retailprice") * F.col("l_quantity") * 1e3, 0
        ).cast("long")
    )
    return (
        lineitem.join(
            F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(amount_e4) / 1e4).alias("profit"))
        .select(
            "nation", "o_year", F.round("profit", 2).alias("profit")
        )
    )


def q125_tpch_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (count-of-counts histogram over a LEFT OUTER
    join): orders per customer — including zero-order customers, the
    part an inner join silently drops — then the distribution of those
    counts. Two hash aggs; the left join preserves customer rows and
    count(o_orderkey) (not count(*)) yields 0 for the null-extended
    rows. The join-side filter (exclude URGENT) lives in the JOIN
    condition, not WHERE — semantically different for outer joins and
    the classic Q13 trap. Integers — exact parity."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), how="left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


def q126_tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (argmax against an aggregate-of-aggregate):
    supplier(s) whose one-quarter revenue equals the global maximum.
    Per-supplier revenue is summed on the exact 1e-4 long grid, so the
    max and the equality compare are integer-exact in both engines —
    the float-tie hazard in the spec's HAVING total = (SELECT max(...))
    decorrelation is gone by construction. The max is a 1-row broadcast
    cross join (the decorrelated scalar subquery)."""
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    vol_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4, 0
    ).cast("long")
    revenue = lineitem.groupBy("l_suppkey").agg(
        F.sum(vol_e4).alias("_rev_e4")
    )
    top = revenue.agg(F.max("_rev_e4").alias("_max_e4"))
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("_rev_e4") == F.col("_max_e4"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_rev_e4") / 1e4, 2).alias("total_revenue"),
        )
    )


def q127_tpch_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery per group): average
    yearly revenue lost if small-quantity lines (below 20% of the
    part's mean quantity) moved to bulk. The per-part correlated
    AVG decorrelates to a per-part aggregate re-joined to the fact —
    Spark broadcasts the (partkey, threshold) side. The 0.2·avg
    threshold is snapped to the 1e-6 grid on both sides so the strict
    < compare sees identical doubles (quantities are integral, so no
    boundary sits within 1e-6 of a snapped threshold). Revenue sums
    ride the exact 1e-2 long grid."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = lineitem.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    thresholds = branded.groupBy("l_partkey").agg(
        (F.round(F.avg("l_quantity") * 0.2 * 1e6, 0) / 1e6).alias("_thr")
    ).select(F.col("l_partkey").alias("_t_key"), "_thr")
    return (
        branded.join(
            F.broadcast(thresholds),
            F.col("l_partkey") == F.col("_t_key"),
        )
        .filter(F.col("l_quantity") < F.col("_thr"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 1e2, 0).cast("long")
            ).alias("_sum_e2")
        )
        .select(
            F.round(F.col("_sum_e2") / 1e2 / 7.0, 2).alias("avg_yearly")
        )
    )


def q128_tpch_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (OR-of-ANDs join predicate): revenue from three
    disjoint (brand, size-range, quantity-range) channels. The
    disjunction references both join sides, so it cannot fully push
    down — but each side's envelope CAN: Catalyst pushes the derived
    p_size ∈ [1,15] ∪ brand envelope to the part scan and quantity
    bounds to the lineitem scan, then applies the residual OR after
    the broadcast join. Revenue on the exact 1e-4 long grid."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    joined = lineitem.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    ch1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    ch2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    ch3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    vol_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4, 0
    ).cast("long")
    return (
        joined.filter(ch1 | ch2 | ch3)
        .agg(F.sum(vol_e4).alias("_rev_e4"))
        .select(
            F.round(
                F.coalesce(F.col("_rev_e4"), F.lit(0)) / 1e4, 2
            ).alias("revenue")
        )
    )


def q129_tpch_sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (semi + anti correlation on the same fact):
    suppliers who were the ONLY supplier with returned lines in a
    multi-supplier order, counted per supplier. The spec's
    EXISTS(other supplier) / NOT EXISTS(other late supplier) pair
    decorrelates to per-order distinct-supplier counts: n_supp > 1
    (the EXISTS) and n_returning = 1 (the NOT EXISTS), computed in one
    pass each and joined back to the distinct returning pairs. All
    counts integer — exact parity. (No receipt/commit dates in this
    data; returnflag='R' stands in for 'kept orders waiting'.)"""
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    n_supp = lineitem.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("_n_supp")
    )
    returning = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    n_ret = returning.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("_n_ret")
    ).select(F.col("l_orderkey").alias("_r_key"), "_n_ret")
    supplier = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        returning.join(n_supp, "l_orderkey")
        .join(n_ret, F.col("l_orderkey") == F.col("_r_key"))
        .filter((F.col("_n_supp") > 1) & (F.col("_n_ret") == 1))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


def q133_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the final Python-crossing flavor (scalar pandas_udf
    q90, grouped-map q08, mapInPandas q20, cogrouped-map q120, UDTF
    q46, applyInPandasWithState q28): the UDF receives raw
    ``pyarrow.RecordBatch``es and answers with RecordBatches, no pandas
    materialization at all — the lowest-overhead crossing for
    columnar-native libraries (tokenizers, compression scanners,
    Arrow-compute kernels). Computes per-doc byte length and space
    count with ``pyarrow.compute`` kernels (zero-copy on the batch).
    Integers only — exact parity; the oracle is the plain SQL
    equivalent (octet length + space count)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _stats(batches):
        for batch in batches:
            text = batch.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, " "), pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_spaces"],
            )

    return docs.mapInArrow(
        _stats, schema="doc_id long, n_bytes long, n_spaces long"
    )


#: Fixed-iteration PageRank constants: damping 0.85, 3 iterations,
#: ranks carried as 1e-9-grid longs so every per-node sum is an exact
#: integer in both engines (float summation order never matters).
_PR_DAMP = 0.85
_PR_ITERS = 3


def q134_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the customer↔supplier trade graph
    (distinct (c_custkey, s_suppkey) pairs from orders⋈lineitem, made
    symmetric, so there are no dangling nodes) — the iterative-graph
    representative of the engine, with a FULL value-level oracle:
    because ranks live on a 1e-9 integer grid (per-iteration snap),
    the neighbor-sum is a sum of longs — order-independent — and three
    unrolled iterations in DuckDB CTEs reproduce Spark's loop
    bit-for-bit. Spark side: the edge list and degrees materialize
    once (localCheckpoint — the loop must not re-derive the join each
    round), each iteration is one join + one hash agg on node id.

    At 100 TB the edge shuffle dominates; this plan partitions the
    loop's join and agg on the SAME node key so AQE reuses the
    exchange, and the rank table (|V| rows, 2 columns) stays orders
    smaller than the edges. Node ids are disambiguated as
    2·custkey / 2·suppkey+1 (both sides share a key space)."""
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # Checkpoint the edge list plain: AQE broadcast-converts the loop's
    # rank⋈edges joins at runtime (the rank table is |V| rows), so a
    # pre-partitioned/pre-sorted layout buys nothing here — measured
    # 1.9 s plain vs 3.5 s with an up-front repartition+sort at sf0.1.
    # On a graph whose rank vector outgrows broadcast, repartition both
    # sides on node id once and reuse (the Pregel layout) instead.
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    # degrees is consumed by every iteration (the teleport re-join) —
    # checkpoint it once instead of re-aggregating edges 4×, and fetch
    # |V| as ONE driver-side long (the same inherent-to-the-algorithm
    # driver action as the CC fixpoint's convergence count; it runs on
    # the materialized checkpoint, not the source scan). The 1e9/N
    # division stays IN the plan as a literal expression so both
    # engines round the identical double — no Python rounding.
    degrees = edges.groupBy("src").agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=True)
    n = degrees.count()
    r0 = F.round(F.lit(1e9) / F.lit(float(n)), 0).cast("long")
    teleport = F.round(
        F.lit((1 - _PR_DAMP) * 1e9) / F.lit(float(n)), 0
    ).cast("long")

    ranks = degrees.select(
        F.col("src").alias("node"), r0.alias("r_e9"), F.col("deg")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(edges, ranks.node == edges.src)
            .select(
                F.col("dst").alias("node"),
                # share = round(r / deg) — double divide of exact
                # integers, snapped back to the grid
                F.round(
                    F.col("r_e9").cast("double")
                    / F.col("deg").cast("double"),
                    0,
                ).cast("long").alias("_share"),
            )
            .groupBy("node")
            .agg(F.sum("_share").alias("_in"))
        )
        ranks = (
            degrees.join(
                contrib, degrees.src == contrib.node, how="left"
            )
            .select(
                F.col("src").alias("node"),
                (
                    teleport
                    + F.round(
                        F.lit(_PR_DAMP)
                        * F.coalesce(F.col("_in"), F.lit(0))
                        .cast("double"),
                        0,
                    ).cast("long")
                ).alias("r_e9"),
                F.col("deg"),
            )
        )
    return ranks.select(
        "node",
        F.round(F.col("r_e9") / 1e9, 9).alias("rank"),
    )


def q135_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the Observation API: `df.observe`
    attaches named aggregate metrics (row count, value sum, null
    count) to a TRANSFORMATION, collected as a side-effect of the one
    job that runs the real query — the Spark-native way to audit a
    production pipeline without a second scan (vs q53's
    audit-as-a-query). The observed metrics themselves are returned as
    the result (1 row), so the driver hash pins both the mechanism and
    the values. All integer-grid (counts + a 1e-2 value sum as long).

    At 100 TB observe is free: metrics ride the existing task
    completion events; no extra shuffle, no extra scan."""
    from pyspark.sql import Observation

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    obs = Observation("audit")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 1e2, 0).cast("long")).alias(
            "value_sum_e2"
        ),
        F.sum(
            F.when(F.col("value").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_null_value"),
    )
    # run the real query; the metrics are a side-effect of this job
    observed.filter(F.col("event_type") == "purchase").groupBy().agg(
        F.count("*")
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return spark.createDataFrame(
        [
            (
                int(got["n_rows"]),
                int(got["value_sum_e2"]),
                int(got["n_null_value"]),
            )
        ],
        "n_rows long, value_sum_e2 long, n_null_value long",
    )


def q136_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (mergeSchema): two parquet generations of
    the same table — v1 without a column, v2 with an added `score`
    column — unified by the reader; v1 rows surface NULL score, and an
    aggregate distinguishes the generations. This is the
    schema-on-read contract every long-lived warehouse table needs
    (columns appended over time, old files never rewritten). The
    oracle recomputes the same union semantics from the base table.

    At 100 TB mergeSchema costs one footer read per file on planning —
    the data path is unchanged; partition pruning still applies to the
    generation directories."""
    import os

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = scratch_dir("schema_evo_")
    v1 = docs.filter(F.col("doc_id") % 2 == 0)
    v2 = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "score", (F.col("n_chars") % 100).cast("long")
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "v1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    return merged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("score").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_v1_rows"),
        F.sum(F.coalesce(F.col("score"), F.lit(0))).alias("score_sum"),
    )


def q137_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring (dedup-aware curation signal): for each
    document, the fraction of its distinct 3-gram shingles whose FIRST
    appearance (minimum doc_id across the corpus) is this document —
    1.0 for fully novel docs, → 0 for docs assembled from seen text.
    The standard corpus-freshness metric behind 'novel tokens per
    document' curves in dataset curation.

    Two map-side-combined aggs over the (recomputed, map-only) explode
    — per-doc shingle count keyed by doc_id, and per-shingle
    min(doc_id) re-counted to doc grain — joined once at |docs| grain.
    Nothing full-corpus is ever materialized or checkpointed: each
    shuffle carries only partial-agg rows (≤|docs| resp. ≤|vocab| per
    map task), and the rejoin of the exploded shingle stream that a
    naive first-seen plan needs (and that an eager localCheckpoint
    would pin in block-manager memory at 100 TB) is gone entirely.
    Nothing is quadratic (no pair join at all — unlike Jaccard/
    containment this is a per-doc statistic). Exact integer counts;
    one division, rounded on the 1e-4 grid."""
    from ..functions.text import word_shingles
    from ..operators.util import ensure_parallelism

    # ensure_parallelism: a small documents file arrives as ONE parquet
    # split — without it the shingling stage and both agg consumers
    # would run on a single core (dedup.py:201 hazard)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), 3))
        ).alias("sh"),
    )
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    # a shingle's first appearance is min(doc_id); counting those mins
    # per doc gives n_novel at vocabulary grain — no rejoin to sh.
    novel = (
        sh.groupBy("sh")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("_n_novel"))
    )
    return (
        per_doc.join(novel, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("_n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
            F.round(
                F.coalesce(F.col("_n_novel"), F.lit(0).cast("long"))
                * 1.0
                / F.col("n_shingles"),
                4,
            ).alias("novelty"),
        )
    )


def q138_unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the native `DataFrame.unpivot` (melt):
    per-day conditional-sum counts for three event types (the wide
    form q30's pivot produces), melted back to (day, event_type, n)
    rows. Pivot (q30) and unpivot are the two halves of the reshaping
    surface; unpivot is a zero-shuffle projection (each input row
    emits V rows map-side — no exchange), so the only shuffle here is
    the daily aggregate itself."""
    events = load_table(spark, sf_dir, "events")
    wide = (
        events.groupBy(F.to_date("ts").alias("_day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long").alias("click"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long").alias("view"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("purchase"),
        )
    )
    return (
        wide.unpivot(
            "_day", ["click", "view", "purchase"], "event_type", "n"
        )
        .select(
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
        )
    )


def q139_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint for replica reconciliation
    (anti-entropy): per (returnflag, linestatus) stripe, a row count
    plus two commutative digests of md5 row-hashes — a modular sum and
    a bit_xor — over a canonical '|'-joined rendering of the integer
    and flag columns. Two replicas agree iff every stripe row matches;
    a mismatch localizes the divergent stripe without shipping data.
    Commutative aggregates ⇒ partition- and order-insensitive at any
    parallelism; md5 (not xxhash64) so the oracle reproduces digests
    exactly. The per-row mod-1e9+7 terms accumulate in a
    decimal(38,0) (int128 in DuckDB) and the FINAL sum is reduced mod
    p again — overflow-free to ~1e28 rows per stripe, and the
    reported digest stays a plain long."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    row_str = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    )
    d48 = F.conv(F.substring(F.md5(row_str), 1, 12), 16, 10).cast("long")
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum((d48 % F.lit(1000000007)).cast("decimal(38,0)"))
                % F.lit(1000000007)
            ).cast("long").alias("sum_mod"),
            F.bit_xor(d48).alias("xor48"),
        )
    )


def q140_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations — EXCEPT ALL / INTERSECT ALL (q39 covers
    the DISTINCT variants): per-(user, event_type) activity multisets
    of the first vs second half of the month, where duplicate
    occurrences MUST survive (a user with 3 clicks early and 1 late
    has 2 surviving early clicks — the bag difference). Spark compiles
    both to a counted-aggregate + generate plan (no distinct
    collapse); the counts are what the driver hash pins."""
    # project once and checkpoint: early/late are each consumed by BOTH
    # set operations — without this the events scan runs four times
    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.to_date("ts").alias("_d"))
        .localCheckpoint(eager=True)
    )
    early = events.filter(F.col("_d") < "2024-01-16").select(
        "user_id", "event_type"
    )
    late = events.filter(F.col("_d") >= "2024-01-16").select(
        "user_id", "event_type"
    )
    surviving = early.exceptAll(late)
    common = early.intersectAll(late)
    return (
        surviving.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n_survive"))
        .join(
            common.groupBy("user_id", "event_type").agg(
                F.count("*").alias("n_common")
            ),
            on=["user_id", "event_type"],
            how="outer",
        )
        .select(
            "user_id",
            "event_type",
            F.coalesce("n_survive", F.lit(0)).alias("n_survive"),
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
        )
    )


def q141_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL-text surface): each region's 3
    highest-balance customers via `, LATERAL (SELECT … WHERE correlated
    ORDER BY … LIMIT 3)` — the per-row-subquery formulation of top-k
    per group (q49 is the window formulation). Catalyst decorrelates
    the lateral into a ranked join, so both formulations share the
    same physical shape; ties broken by c_custkey for a total order."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_v"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_v"
    )
    return spark.sql(
        """
        SELECT n.n_name, top.c_custkey, top.c_name,
               round(top.c_acctbal, 2) AS c_acctbal
        FROM nation_v n,
        LATERAL (
          SELECT c_custkey, c_name, c_acctbal
          FROM customer_v c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 3
        ) AS top
        """
    )


def q142_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window over event time (q35's moving average is
    ROWS-framed): per user, the count and 1e-2-grid sum of events in
    the trailing 1-hour interval ENDING at each event — frame bounds
    defined by value distance (seconds), not row offsets, so ties and
    gaps behave correctly. Both sides frame over INTEGER epoch seconds
    (`rangeBetween(-3599, 0)`; oracle `RANGE BETWEEN 3599 PRECEDING
    AND CURRENT ROW` on epoch_ns//1e9) — 3599 s ≡ 59 m 59 s. Output
    keyed by (user, event) — integer counts and grid sums only."""
    events = load_table(spark, sf_dir, "events", raw=True).select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000000000").alias("_sec"),
        F.round(F.col("value") * 1e2, 0).cast("long").alias("_v_e2"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_trailing_1h"),
        F.sum("_v_e2").over(w).alias("sum_e2_trailing_1h"),
    )


def q143_window_funcs_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function completeness sweep in ONE pass (q07 lead, q35
    moving avg, q49 row_number, q72 ntile are the scattered uses):
    lag, lead, first_value, last_value, nth_value, percent_rank,
    cume_dist and rank over a per-user event timeline, all sharing one
    (user, ts, event_id) sort — one Exchange + one Sort feeds all
    eight functions. Rank functions are over the deterministic
    (ts, event_id) total order; percent_rank/cume_dist are exact
    rationals of integer ranks — grid-rounded identically."""
    events = load_table(spark, sf_dir, "events", raw=True).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("ts DIV 1000").alias("_ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("_ts_us", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return events.select(
        "event_id",
        "user_id",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.first("event_id").over(wf).alias("first_event"),
        F.last("event_id").over(wf).alias("last_event"),
        F.nth_value("event_id", 2).over(wf).alias("second_event"),
        F.rank().over(w).alias("rnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q144_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): two
    per-bucket aggregates joined on a NULLABLE bucket key where the
    NULL bucket ('unknown') must match the NULL bucket — the dimension
    join every warehouse needs for rows whose key is legitimately
    unknown (a plain `=` silently drops them; the classic silent-loss
    bug). The key is derived deterministically (user_id % 7, with
    bucket 0 mapped to NULL); the driver hash pins that exactly one
    NULL row survives the join with both sides' counts."""
    events = load_table(spark, sf_dir, "events")
    k = F.when(
        F.col("user_id") % 7 == 0, F.lit(None).cast("long")
    ).otherwise(F.col("user_id") % 7)
    all_ev = events.select(k.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("n_all")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(k.alias("_pb"))
        .groupBy("_pb")
        .agg(F.count("*").alias("n_purchase"))
    )
    return (
        all_ev.join(
            purchases, all_ev.bucket.eqNullSafe(purchases._pb)
        )
        .select("bucket", "n_all", "n_purchase")
    )


def q145_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training primitive — one round of BPE merge
    statistics: adjacent character-pair frequencies across the corpus
    vocabulary, weighted by token occurrence counts; the top pair is
    exactly the first BPE merge. Two-level aggregation keeps the
    scan's explode bounded by VOCABULARY (distinct tokens), not corpus
    token count — the same map-side-combining trick as SimHash's
    distinct-(doc,token) stage; at 100 TB the pair table is tiny
    (vocab × token length) regardless of corpus size. Top-20 via
    TakeOrdered on the exact integer count with a total-order
    tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(X.nonempty_tokens(F.lower(F.col("text")))).alias("_tok")
        )
        .groupBy("_tok")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.length("_tok") >= 2)
    )
    pairs = vocab.select(
        "_cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, length(_tok) - 1),"
                " i -> substring(_tok, i, 2))"
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(F.sum("_cnt").alias("n"))
    top = counted.orderBy(F.col("n").desc(), F.col("pair")).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return top.withColumn("merge_rank", F.row_number().over(w)).select(
        "merge_rank", "pair", "n"
    )


def q146_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over per-user behavior baskets:
    support, directional confidence, and lift for every unordered
    event-type pair — the A-priori statistics at the 2-itemset level.
    The basket is the per-user sorted distinct type set built by ONE
    shuffle (groupBy user_id + collect_set, map-side combined); the
    2-itemset enumeration is a map-side `transform`/`flatten` over the
    sorted array — no self-join, no second shuffle of the basket
    table, and no lineage checkpoint. 100 TB of events collapses to
    |users| rows before any pair is materialized, and the pair agg
    shuffles only |types|² keys. Lift is computed as (n_ab·N)/
    (n_a·n_b): integer products first, ONE double division last —
    deterministic cross-engine; support/confidence are single
    divisions of exact longs.

    The basket table is ``.persist()``-ed (|users| rows, three
    consumers in one lazy plan — an in-plan unpersist is impossible).
    Session-long harnesses are expected to ``spark.catalog.clearCache()``
    between queries (bench.py, tests/test_oracle_parity.py and
    tools/dtype_sweep.py all do)."""
    sets = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("_types"))
        .persist()
    )
    n_users = sets.agg(F.count("*").alias("_n"))
    type_counts = (
        sets.select(F.explode("_types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").alias("_n_t"))
    )
    # enumerate unordered pairs (a < b) of the sorted set, map-side:
    # for each element x at index i, pair it with every later element.
    pair_counts = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_types, (x, i) -> "
                    "transform(slice(_types, i + 2, size(_types)), "
                    "y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("_p")
        )
        .select("_p.type_a", "_p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("_n_ab"))
    )
    na = type_counts.select(
        F.col("event_type").alias("type_a"), F.col("_n_t").alias("_n_a")
    )
    nb = type_counts.select(
        F.col("event_type").alias("type_b"), F.col("_n_t").alias("_n_b")
    )
    return (
        pair_counts.join(F.broadcast(na), on="type_a")
        .join(F.broadcast(nb), on="type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            F.col("_n_ab").alias("n_both"),
            F.round(F.col("_n_ab") * 1.0 / F.col("_n"), 6).alias("support"),
            F.round(F.col("_n_ab") * 1.0 / F.col("_n_a"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("_n_ab") * 1.0 / F.col("_n_b"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                (F.col("_n_ab") * F.col("_n"))
                * 1.0
                / (F.col("_n_a") * F.col("_n_b")),
                6,
            ).alias("lift"),
        )
    )


def q147_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API — executor-side paginated ingest
    (sources/pyds.py): `partitions()` declares one input split per API
    page, each TASK pulls its own page (the distributed upgrade of the
    reference's driver-side REST fetch, reference:
    0_insert_conso_an_ville_in_bq.py:20-34). The page payload is the
    deterministic synthetic generator (hermetic — no network in the
    gate); amounts are exact quarters so the per-category aggregate is
    float-order-independent and the oracle regenerates it exactly
    from `range()`. 8 pages × 100 rows; the physical plan shows 8
    input partitions — fetch parallelism == pagination."""
    from ..sources.pyds import register_paged_api

    register_paged_api(spark)
    df = (
        spark.read.format("paged_api")
        .option("pages", "8")
        .option("page_size", "100")
        .load()
    )
    return df.groupBy("category").agg(
        F.count("*").alias("n"),
        F.count_distinct("page").alias("n_pages"),
        F.sum("amount").alias("total_amount"),
    )


def q148_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType semi-structured path: `parse_json` the
    events props payload ONCE into a Variant (binary, typed,
    predicate-friendly — the modern engine answer to string-JSON
    re-parsing, vs q32's per-access get_json_object), then
    `variant_get` typed fields out of it. Per event-type stats over
    the extracted int: exact integer min/max/sum and a 6-dp mean
    (sum/count of exact longs — deterministic division)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json(F.col("props")).alias("_v")
    )
    k = F.variant_get(F.col("_v"), "$.k", "int").cast("long")
    return (
        events.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("_k").alias("k_min"),
            F.max("_k").alias("k_max"),
            F.sum("_k").alias("k_sum"),
            F.round(
                F.sum("_k").cast("double") / F.count("*").cast("double"), 6
            ).alias("k_mean"),
        )
    )


def q150_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the operational pre-flight for every
    shuffle in this registry: the per-key row-count distribution of a
    fact-table join key, summarized as count-of-count buckets (how
    many keys occur 1×, 2×, …) plus the max and the share of rows
    owned by the single hottest key. Two cheap hash aggs (key → count,
    count → n_keys); the hot-key share is exactly the number q76's
    salted aggregate and q100's salted join exist to defuse — at
    100 TB you run THIS first, then pick the plain or salted plan.
    All integers + one exact division."""
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    per_key = lineitem.groupBy("l_orderkey").agg(
        F.count("*").alias("_n")
    ).localCheckpoint(eager=True)
    buckets = per_key.groupBy(F.col("_n").alias("rows_per_key")).agg(
        F.count("*").alias("n_keys")
    )
    tot = per_key.agg(
        F.sum("_n").alias("_total"),
        F.max("_n").alias("_max"),
    )
    return (
        buckets.crossJoin(F.broadcast(tot))
        .select(
            "rows_per_key",
            "n_keys",
            F.col("_max").alias("max_rows_per_key"),
            F.round(F.col("_max") * 1.0 / F.col("_total"), 6).alias(
                "hot_key_share"
            ),
        )
    )


def q151_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (tenant/label-restricted ANN):
    each of 5 query vectors searches ONLY candidates sharing its
    label — the filter is an equi-join key, so the plan is a broadcast
    hash join on label instead of q13's cross join; candidates outside
    the query's partition are never scored (semantics AND the scale
    win). See operators/similarity.cosine_topk_filtered."""
    from ..operators.similarity import cosine_topk_filtered

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return cosine_topk_filtered(emb, queries, filter_col="label", k=5)


def q152_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: fuse the BM25
    lexical top-20 (q130) with the cosine dense top-20 for the vec_id 0
    embedding (documents and embeddings share the id space) —
    score = Σ 1/(60 + rank) over the lists containing the doc, the
    parameter-free fusion modern search stacks default to. Both
    reciprocal terms are exact double divisions added in fixed order;
    missing-list docs contribute 0 via coalesce. Top-10 by rounded
    score with id tie-break."""
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    dense = cosine_topk(
        emb,
        emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=20,
    ).select(F.col("vec_id").alias("_d_id"), F.col("rank").alias("_d_rank"))
    lexical = q130_bm25_topk(spark, sf_dir).select(
        F.col("doc_id").alias("_l_id"), F.col("rank").alias("_l_rank")
    )
    fused = (
        lexical.join(
            dense, F.col("_l_id") == F.col("_d_id"), how="full_outer"
        )
        .select(
            F.coalesce("_l_id", "_d_id").alias("doc_id"),
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("_l_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(60) + F.col("_d_rank")), F.lit(0.0)
                )
            ).alias("_s"),
        )
        .select("doc_id", F.round(F.col("_s") * 1e6, 0).cast("long").alias("_s_e6"))
    )
    top = fused.orderBy(F.col("_s_e6").desc(), F.col("doc_id")).limit(10)
    w = Window.orderBy(F.col("_s_e6").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id",
        "rank",
        F.round(F.col("_s_e6") / 1e6, 6).alias("rrf_score"),
    )


def q153_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    declared FK edge, the referencing row count and the orphan count —
    the constraint-that-scales complement to q53's single-table audit
    (warehouses can't enforce FKs; they MEASURE them). ONE scan per
    edge: child left-joins the distinct parent key column and a
    conditional sum counts non-null FKs with no parent — standard
    MATCH SIMPLE semantics (a NULL FK is NOT an orphan), written
    null-explicitly on BOTH sides so the audit itself can't diverge
    on nullable keys (NOT IN's three-valued-logic trap). All
    integers — exact parity."""
    edges = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
         "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey",
         "region", "r_regionkey"),
    ]
    from functools import reduce

    reports = []
    for edge, child, ck, parent, pk in edges:
        c = load_table(spark, sf_dir, child).select(ck)
        p = load_table(spark, sf_dir, parent).select(pk).distinct()
        joined = c.join(F.broadcast(p), F.col(ck) == F.col(pk), how="left")
        reports.append(
            joined.agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.when(
                        F.col(ck).isNotNull() & F.col(pk).isNull(), 1
                    ).otherwise(0)
                ).cast("long").alias("n_orphans"),
            ).select(
                F.lit(edge).alias("fk_edge"),
                "n_rows",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("intact"),
            )
        )
    return reduce(DataFrame.unionByName, reports)


def q154_sorted_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally SORTED size-capped export shards (longest-first
    curriculum order, 100 docs per shard) — the complement of q102's
    unordered hash shards. The global row number comes from
    ``operators.shards.global_row_number``: range partition →
    partition-local rank → broadcast prefix offsets, i.e. P-way
    parallel with a driver collect bounded at P count rows — NEVER the
    single-partition ``row_number() OVER (ORDER BY ...)`` window that a
    literal SQL translation would produce (that plan collapses 100 TB
    into one task). Output per shard: size, char volume, and the
    rank-extremal doc ids (min_by/max_by on the global rank), all
    integers — exact parity."""
    from ..operators.shards import sorted_shards

    docs = load_table(spark, sf_dir, "documents")
    sharded = sorted_shards(
        docs.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        docs_per_shard=100,
    )
    return sharded.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min_by("doc_id", "global_rn").alias("first_doc_id"),
        F.max_by("doc_id", "global_rn").alias("last_doc_id"),
    )


def q155_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size sampling without replacement,
    20 docs per language weighted by length — the corpus-subsetting
    primitive mixture planning needs when "sample 20" should favor the
    documents carrying the most training tokens. Efraimidis–Spirakis
    A-ES keys (rank by ln(u)/w desc ⟺ u^(1/w) desc) with u derived
    from the id's md5, so the sample is a pure function of identity:
    stable across re-runs and repartitions, like every sampler in
    ``operators.sampling``. Zero-weight rows are excluded up front
    (ln(u)/0 diverges and its sort position is engine-specific).
    Output columns are integers + the lang key only — the float key is
    dropped, so parity can't hinge on libm ulps."""
    from ..operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_topk(
        docs.select("doc_id", "lang", "n_chars").filter(F.col("n_chars") > 0),
        id_col="doc_id",
        weight_col="n_chars",
        k=20,
        stratum_col="lang",
    ).select("lang", "doc_id", "n_chars", "sample_rank")


def q157_byte_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budgeted export shards over the globally sorted corpus —
    the volume-bounded sibling of q154's count-capped shards (uploader
    part-size limits, per-chunk token budgets). The exclusive prefix
    sum comes from ``operators.shards.global_running_sums``: the same
    range-partition + broadcast-carry scan as the distributed row
    number, with a pid-local window, i.e. a distributed prefix
    SCAN with no single-partition exchange anywhere; shard membership
    is ⌊prefix_bytes / budget⌋ in exact long arithmetic. Output per
    shard: doc count, char volume, boundary doc ids — all integers."""
    from ..operators.shards import byte_budget_shards

    docs = load_table(spark, sf_dir, "documents")
    sharded = byte_budget_shards(
        docs.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        size_col="n_chars",
        budget=50_000,
    )
    # Boundary docs keyed on (running_bytes, doc_id) — NOT running_bytes
    # alone: zero-length docs leave the inclusive prefix sum unchanged,
    # so the tail shard's zero-char run ties on running_bytes and a
    # bare min_by/max_by would pick a partition-order-dependent winner
    # (and DuckDB's arg_min another). The struct key restores the total
    # order's own tie-break (doc_id ASC), deterministic in both engines.
    first_key = F.struct(F.col("running_bytes"), F.col("doc_id"))
    return sharded.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min(first_key)["doc_id"].alias("first_doc_id"),
        F.max(first_key)["doc_id"].alias("last_doc_id"),
    )


def q156_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release diff — closes the release-tooling family
    (q102 manifest, q103 card, q139 checksum): classify every doc
    across two corpus versions as added / removed / changed / unchanged
    by CONTENT HASH, reporting per-(class, lang) counts. The simulated
    v2 derives from v1 with deterministic md5 buckets (docs in buckets
    0-9 of 100 removed; 10-29 edited, modeled as a content-hash salt;
    5 % cloned under new ids as additions) so both engines rebuild the
    identical v2 with no side files.

    Scale shape: the diff joins (doc_id, md5, lang) triples only — the
    text column never shuffles (hashes are computed scan-side); one
    full-outer join on the id + one small hash agg. At 100 TB the
    network moves ~50 bytes/doc regardless of doc size, the property
    that makes content-hash diffing THE release-compare tool."""
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), 100)
    v1 = docs.select(
        "doc_id", "lang", F.md5("text").alias("h"), bucket.alias("_b")
    )
    kept = v1.filter(F.col("_b") >= 10).select(
        "doc_id",
        "lang",
        F.when(F.col("_b") < 30, F.md5(F.concat(F.lit("edit:"), F.col("h"))))
        .otherwise(F.col("h"))
        .alias("h"),
    )
    # +1e10, not +1e7: clone ids must stay disjoint from REAL doc ids
    # at the 100 TB target (multi-billion-doc id spaces) — same offset
    # convention as the other synthetic-id sites in this registry
    clones = v1.filter(F.col("_b") % 20 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000_000)).alias("doc_id"),
        "lang",
        F.md5(F.concat(F.lit("clone:"), F.col("h"))).alias("h"),
    )
    v2 = kept.unionByName(clones)
    # presence markers, not hash nullity: a (hypothetical) null-text doc
    # must not masquerade as an addition/removal
    joined = (
        v1.select(
            "doc_id", "lang", F.col("h").alias("h1"), F.lit(1).alias("in1")
        )
        .join(
            v2.select(
                "doc_id",
                F.col("lang").alias("lang2"),
                F.col("h").alias("h2"),
                F.lit(1).alias("in2"),
            ),
            on="doc_id",
            how="full_outer",
        )
    )
    cls = (
        F.when(F.col("in1").isNull(), "added")
        .when(F.col("in2").isNull(), "removed")
        .when(F.col("h1").eqNullSafe(F.col("h2")), "unchanged")
        .otherwise("changed")
    )
    return (
        joined.select(
            cls.alias("change"), F.coalesce("lang", "lang2").alias("lang")
        )
        .groupBy("change", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q158_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication profile (Lee et al. substring-dedup
    measurement): per doc, how many of its 4-word spans occur in >= 2
    distinct documents, and the duplicated fraction. Complements q137
    (novelty = first-seen attribution over DISTINCT shingles) with the
    occurrence-level statistic span-removal policies threshold on.
    Scale shape: shingle explode keyed by 60-bit md5 prefix, two
    partial-combined hash aggs and one key join — all linear, the
    exchange carries 8-byte longs, never shingle text."""
    from ..operators.dedup import dup_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return dup_span_stats(docs, k=4)


def q159_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection: score every
    doc by the mean log-ratio of the hashed-unigram distribution of the
    TARGET slice (lang = 'en' here — stand-in for "looks like the
    high-quality reference corpus") to the full-corpus SOURCE
    distribution. Importance resampling then keeps docs proportionally
    to exp(weight) — this query materializes the ranking scores.
    Scale shape: one explode, one 512-row bucket agg holding BOTH
    distributions as conditional sums (broadcast back), one per-doc
    agg; the bucket table is corpus-size-independent — the reason DSIR
    hashes the vocabulary."""
    from ..operators.textstats import importance_weights

    docs = load_table(spark, sf_dir, "documents")
    return importance_weights(docs, F.col("lang") == "en")


def q160_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution (dedupe/Splink pattern —
    absent from the reference, core to any master-data or
    training-corpus reconciliation step): match dirty CRM-style
    re-entries (deterministically derived in-plan: '#' dropped,
    zeros→letter-O, lowercased) back to the customer master via
    block → score → select: equi-join on (nationkey, last-3 of the
    O/0-folded uppercase name), JVM-side ``levenshtein`` scoring, and
    a partial-aggregatable ``min(struct(dist, custkey))`` argmin with
    an acceptance threshold. No cross join, no window, no collect —
    the candidate space is Σ per-block products, ~(n·m)/n_blocks with
    near-uniform trailing-digit blocks; AQE skew-split covers hot
    blocks at scale."""
    from ..operators.linkage import best_matches

    customer = load_table(spark, sf_dir, "customer")
    return best_matches(customer)


def q161_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ-heavy-hitters (φ = 1/50 of the token stream) via
    two-pass Misra–Gries: pass 1 is a 128-counter MG sketch per
    partition inside mapInPandas (bounded state, the token stream
    never shuffles) whose survivors are a guaranteed SUPERSET of all
    true heavy hitters; pass 2 exact-counts candidates only (broadcast
    join prunes the exploded stream map-side) and keeps the exact
    integer predicate freq·50 ≥ N. Result is exact and
    partitioning-independent; the exchange carries ≤ capacity ×
    n_partitions keys instead of a web-scale vocabulary — the sketch
    pattern q38's full groupBy can't afford at 100 TB."""
    from ..operators.textstats import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitters(docs, denom=50, capacity=128)


def q162_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment + k×k confusion matrix: per-label
    mean centroids computed in-plan ((label, dim) hash agg — k·d
    groups regardless of corpus size), broadcast to a map-side cosine
    scoring of all vectors, argmax via partial-aggregatable
    max(struct) — no window, no driver-side training. The label
    separability report every embedding-quality audit starts with."""
    from ..operators.similarity import centroid_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_assign(emb)


def q163_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (lang, source): BPE-pretokens per
    whitespace word + bytes/chars per token, from exact integer
    per-doc counts — one codegen projection + one low-cardinality hash
    agg; the pre-training cost diagnostic for each corpus slice."""
    from ..operators.textstats import token_fertility

    docs = load_table(spark, sf_dir, "documents")
    return token_fertility(docs)


def q164_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the SimHash banded candidate blocker (q21
    plan) against the exact df-capped 3-gram Jaccard ground truth (q17
    plan): inner join of the two pair sets + one summary row of exact
    integer counts and integer-ratio precision/recall — the audit that
    decides whether the cheap blocker is trustworthy at corpus
    scale."""
    from ..operators.dedup import dedup_candidate_eval

    docs = load_table(spark, sf_dir, "documents")
    return dedup_candidate_eval(
        docs, max_hamming=3, n_bands=4, k=3, threshold=0.2, max_df=100
    )


def q165_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: incoming batch (doc_id % 10 = 7)
    classified against the existing corpus as exact_dup / near_dup /
    keep via fingerprint semi-join + BIPARTITE df-capped shingle
    blocking — new × corpus only, the corpus is never self-joined
    (the arrival-path shape that keeps per-batch cost proportional to
    the batch at any corpus size)."""
    from ..operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return incremental_dedup(
        incoming, corpus, k=3, threshold=0.2, max_df=100
    )


def q166_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization audit: per-vector symmetric quantize /
    reconstruct entirely in codegen'd array expressions, per-label
    max-abs-error + mean self-cosine + high-fidelity count — the
    storage-shrink go/no-go before an int8 ANN index."""
    from ..operators.similarity import int8_quant_error

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_quant_error(emb)


def q167_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ/dbt-style column profiler over orders: one melt + one
    hash agg yields nulls / exact distinct / min / max per column with
    engine-pinned string rendering."""
    from ..operators.audit import column_profile

    orders = load_table(spark, sf_dir, "orders")
    return column_profile(orders)


def q168_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query ('big order scan') over positional
    inverted-index postings: one posexplode build + n−1 equi-joins on
    (doc, pos−i) — Lucene PhraseQuery semantics as DataFrame joins;
    per-word postings, never corpus scans, join the phrase."""
    from ..operators.search import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, ("big", "order", "scan"))


def q169_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations ranked by PMI lift
    (joint·N/(fa·fb)) — ranking by the raw ratio IS PMI ranking (log
    is monotone) with zero transcendental calls, so counts stay exact
    integers and the single rounded division is bit-stable."""
    from ..operators.search import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, k=20)


def q170_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HyperLogLog distinct-user estimate (md5-register
    p=8 sketch, integer harmonic sum) next to the exact count — the
    COUNT(DISTINCT) replacement whose state is 256 mergeable registers
    per group instead of a full shuffle of every distinct key."""
    from ..operators.sketches import hll_distinct

    events = load_table(spark, sf_dir, "events")
    return hll_distinct(events, key_col="user_id", group_col="event_type")


def q171_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + clustering coefficient per label over the
    mutual-kNN semantic graph (q173's edges): degree-ordered edge
    orientation (Suri–Vassilvitskii) so each triangle is counted at
    its lowest vertex exactly once — O(m^1.5) wedge work, not
    Σ deg², the shape that survives power-law hubs."""
    from ..operators.graph import triangle_stats
    from ..operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_graph(emb, k=5).filter(F.col("mutual"))
    # label block = vec_id's label; re-derive via join-free trick: the
    # graph is label-blocked by construction, so partition by the
    # src's label — attach it from the embeddings dimension.
    lab = emb.select(
        F.col("vec_id").alias("src"), F.col("label").alias("part_label")
    )
    return triangle_stats(
        edges.join(F.broadcast(lab), on="src"),
        part_col="part_label",
    )


def q172_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion stratified train/val/test split over
    (lang, source) strata — md5-permutation rank cut at integer
    boundaries (rn·100 ≤ n·pct), summarized per stratum/split with an
    id-sum witness so a single misassigned doc flips the hash."""
    from ..operators.sampling import exact_stratified_split

    docs = load_table(spark, sf_dir, "documents")
    split = exact_stratified_split(
        docs, id_col="doc_id", strata_cols=["lang", "source"]
    )
    return split.groupBy("lang", "source", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
    )


def q173_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mutual-annotated k-NN graph (k=5) within label blocks —
    the block-then-exact construction (at 100 TB the block key is the
    IVF cluster id from q162); mutuality via one self-join of the
    k-bounded edge list, never the candidate pairs."""
    from ..operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph(emb, k=5)


def q174_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits 1M exact
    µ-credits equally over the user's click/view touches in the prior
    24 h (remainder to the earliest touch), aggregated per channel —
    credit sums are exact BIGINTs, never order-dependent float 1/n."""
    from ..operators.sessions import multitouch_attribution

    events = load_table(spark, sf_dir, "events")
    return multitouch_attribution(events)


def q175_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-prefix token-budget selection per source (20k-token
    quota): longest-first deterministic ranking + running-sum window
    admit — the quota-enforcement step after q56's mixture weighting."""
    from ..operators.packing import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_select(docs, budget_tokens=20_000)


def q176_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance (click vs purchase
    values) on a 2-dp quantized grid: exact integer cumulative counts,
    |c_a·n_b − c_b·n_a| maximized before the single division — the
    distribution-drift gate with no float-sum order dependence."""
    from ..operators.stats import ks_distance

    events = load_table(spark, sf_dir, "events")
    return ks_distance(events, "value", "event_type", "click", "purchase")


def q177_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map audit of a sort-clustered orders layout: 1000-row
    shards in global o_orderdate order, per-shard min/max key, and
    which shards a 1995 date-range predicate can prune — the
    file-skipping math behind every 100 TB layout choice."""
    from ..operators.shards import zone_map_audit

    orders = load_table(spark, sf_dir, "orders")
    return zone_map_audit(
        orders,
        sort_col="o_orderdate",
        tiebreak_col="o_orderkey",
        docs_per_shard=1000,
        pred_lo="1995-01-01",
        pred_hi="1995-12-31",
    )


def q178_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for users 0–9 (depth 4 ×
    width 256, four 2-hex slices of one md5) next to exact counts —
    the mergeable 1024-cell frequency sketch with its one-sided-error
    guarantee witnessed per key."""
    from ..operators.sketches import cms_point_estimates

    events = load_table(spark, sf_dir, "events")
    return cms_point_estimates(events, "user_id", list(range(10)))


def q179_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-step behaviour paths (event-type trigrams) via two
    lags over one user-keyed window — order-2 sequential patterns,
    |types|³-bounded agg, no per-user arrays."""
    from ..operators.sessions import path_trigrams

    events = load_table(spark, sf_dir, "events")
    return path_trigrams(events, k=10)


def q180_chi2_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 chi-square for a synthetic A/B split (variant = even
    user id, outcome = converted): exact cell counts, closed-form
    statistic with one float division, rates alongside — no
    p-value transcendentals."""
    from ..operators.stats import chi2_2x2

    events = load_table(spark, sf_dir, "events")
    users = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("_conv")
    )
    flags = users.select(
        (F.col("user_id") % 2 == 0).alias("variant"),
        (F.col("_conv") == 1).alias("outcome"),
    )
    return chi2_2x2(flags, "variant", "outcome")


def q181_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency/frequency/monetary
    from purchases, quintile ntiles over total orders (id tie-break),
    exact integer cents — aggregate first, rank the bounded user
    dimension."""
    from ..operators.sessions import rfm_segments

    events = load_table(spark, sf_dir, "events")
    return rfm_segments(events)


def q182_mrl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: top-3 neighbor-set overlap and
    top-1 agreement between full-dim and prefix-16/32 cosine rankings
    for 10 queries — pure-integer set metrics, the go/no-go before
    truncated-vector ANN storage."""
    from ..operators.similarity import mrl_truncation_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return mrl_truncation_audit(emb, prefix_dims=(16, 32), n_queries=10, k=3)


def q183_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OOV rate against the corpus's own top-1000 token
    vocabulary (lexicographic boundary tie-break): one tokenize scan
    feeding both the vocab agg and the slice counts, vocab broadcast
    back map-side."""
    from ..operators.textstats import oov_rate

    docs = load_table(spark, sf_dir, "documents")
    return oov_rate(docs, vocab_size=1000, by="lang")


def q184_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift (even- vs odd-id halves): 4-dp means
    to exact integer ten-thousandths, integer dot/norms, two sqrts and
    one division — the embedding-drift monitor with no float-sum
    order dependence."""
    from ..operators.similarity import centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_drift(emb)


def q185_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day streak per user rolled to a streak
    distribution — gaps-and-islands via the day − row_number constant,
    distinct-first so the window sees the bounded (user, day) grid."""
    from ..operators.sessions import activity_streaks

    events = load_table(spark, sf_dir, "events")
    return activity_streaks(events)


def q186_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per anchor, the 5 most-similar vectors
    with a DIFFERENT label (broadcast anchors, rounded-sim tie-break) —
    the contrastive-training feeder; label inequality excludes self."""
    from ..operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, n_anchors=10, k=5)


def q187_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: first-active-week cohorts ×
    week offsets, distinct users — distinct (user, week) first so the
    min-week window sees the bounded grid, all-integer output."""
    from ..operators.sessions import cohort_retention

    events = load_table(spark, sf_dir, "events")
    return cohort_retention(events)


def q188_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a [0,1] score vs a binary outcome:
    integer 1/10000-grid snap, integer-div bin ids (Spark `div` ==
    DuckDB `//`; a double cast would round in DuckDB but truncate in
    Spark), one terminal division per rate. Score is a deterministic
    hash-derived pseudo-probability; outcome = purchase event."""
    from ..operators.stats import calibration_bins

    events = load_table(spark, sf_dir, "events")
    scored = events.select(
        (
            F.pmod(F.col("user_id") * F.lit(2654435761), F.lit(10001))
            / F.lit(10_000.0)
        ).alias("score"),
        (F.col("event_type") == "purchase").alias("outcome"),
    )
    return calibration_bins(scored, n_bins=10)


def q189_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-vote label agreement per true label: majority label among
    the 5 nearest neighbors (self excluded; votes tie-break count desc,
    label asc), 20 anchors — the embedding-space quality probe."""
    from ..operators.similarity import knn_label_agreement

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_label_agreement(emb, n_anchors=20, k=5)


def q190_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization dedup-lift: documents grouped by md5 of their
    normalized form (lower, whitespace-collapsed, trimmed), reported as
    a (group_size, n_raw_variants) distribution — the pre-flight audit
    before enabling normalization in exact dedup."""
    from ..operators.dedup import normalized_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return normalized_dedup_stats(docs)


def q191_nucleus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (90 %) vocabulary size per language: running sums over
    FREQUENCY LEVELS (not tokens — O(distinct freqs) window rows), the
    crossing level found by filter, boundary take by integer ceil-div;
    all-integer output."""
    from ..operators.textstats import nucleus_vocab

    docs = load_table(spark, sf_dir, "documents")
    return nucleus_vocab(docs, coverage_pct=90, by="lang")


def q192_prefix_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-3-events onboarding paths per user: row_number prefix cut,
    assembly via array_sort over (rank, type) structs (never raw
    collect_list order), path-string distribution."""
    from ..operators.sessions import event_prefix_paths

    events = load_table(spark, sf_dir, "events")
    return event_prefix_paths(events, n_steps=3)


def q193_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement between the truth label (lang='en')
    and q18's stopword-heuristic language ID (pred='en'): Cohen's kappa
    from exact 2×2 integer cells, one terminal division — the honest
    audit of a cheap classifier on an imbalanced corpus."""
    from ..operators.stats import cohens_kappa
    from ..operators.textstats import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    rated = quality_scores(docs).select(
        (F.col("lang") == "en").alias("a"),
        (F.col("pred_lang") == "en").alias("b"),
    )
    return cohens_kappa(rated)


def q194_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Shannon entropy (gibberish filter):
    exact integer char counts, log2 terms as the only floats, +1e-9
    nudge before the 4-dp round."""
    from ..operators.textstats import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs)


def q195_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax canonical doc per near-dup cluster: dedup_clusters
    (shingle-blocked Jaccard + CC) joined to the q18 quality score,
    pick (quality desc, doc_id asc) — keep the cleanest copy, not the
    smallest id."""
    from ..operators.dedup import canonical_docs

    docs = load_table(spark, sf_dir, "documents")
    return canonical_docs(docs, k=3, threshold=0.2, max_df=100)


def q196_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree distribution of the customer↔supplier trade
    graph (q134's symmetric edges): bucket = length(bin(degree)) — the
    integer-exact ⌊log2⌋+1 — the skew early-warning before per-node
    joins."""
    from ..operators.graph import degree_histogram

    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return degree_histogram(pairs)


def q197_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-day distinct users via Spark's bitmap aggregate family
    (construct per (day, bucket), count bits, sum) — the rollup-capable
    exact tier next to q170's HLL; oracle is plain count(distinct)."""
    from ..operators.sketches import bitmap_distinct_daily

    events = load_table(spark, sf_dir, "events")
    return bitmap_distinct_daily(events)


def q198_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair exact-dup overlap matrix: distinct (md5(text),
    source) first, per-hash self-join bounded by |sources| — "is crawl
    B re-hosting crawl A?"."""
    from ..operators.dedup import cross_source_overlap

    docs = load_table(spark, sf_dir, "documents")
    return cross_source_overlap(docs)


def q199_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 character trigrams (spaces included) — the
    profile table an n-gram language identifier classifies against;
    (count desc, trigram asc) deterministic ranking."""
    from ..operators.textstats import char_trigram_profile

    docs = load_table(spark, sf_dir, "documents")
    return char_trigram_profile(docs, k=10, by="lang")


def q200_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled join-cardinality estimate vs exact (both from per-key
    count histograms, never a materialized join): lineitem⋈orders on
    orderkey, 10 % md5-row sample of lineitem scaled ×10."""
    from ..operators.audit import join_cardinality_audit

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return join_cardinality_audit(
        lineitem,
        orders,
        "l_orderkey",
        "o_orderkey",
        sample_row_expr=F.concat_ws(
            "-", F.col("l_orderkey"), F.col("l_linenumber")
        ),
        sample_pct=10,
    )


def q201_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical TF-IDF cosine near-dup pairs over word-3-gram shingles
    (the weighted upgrade of ngram_jaccard): the df cap is both the
    blocking and the feature rule; integer ten-thousandth weights, one
    terminal division. Shingles, not unigrams — this corpus's 31-token
    vocabulary makes every unigram ubiquitous."""
    from ..operators.search import sparse_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return sparse_cosine_pairs(docs, threshold=0.3, max_df=100)


def q202_consistent_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding-cost audit over distinct users: fraction of keys that
    move when a 9th shard joins, modulo vs consistent-hash ring —
    integer md5 ring positions, in-plan shard-point literals."""
    from ..operators.shards import consistent_hash_audit

    events = load_table(spark, sf_dir, "events")
    return consistent_hash_audit(events, "user_id", n_shards=8)


def q203_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned inter-event gap distribution per user — the table
    the sessionize gap parameter (1800 s) is read from; one user-key
    window + one ≤64-bucket agg."""
    from ..operators.timeseries import inter_event_gap_histogram

    events = load_table(spark, sf_dir, "events")
    return inter_event_gap_histogram(events)


def q204_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding variance ranking (feature selection
    before PQ/MRL cuts): integer 1/10⁴-grid sums, exact long numerator
    n·Σx²−(Σx)², one terminal division."""
    from ..operators.similarity import dim_variance_ranking

    emb = load_table(spark, sf_dir, "embeddings")
    return dim_variance_ranking(emb)


def q205_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit: OLS slope of ln(freq) vs ln(rank) over the top-100
    tokens (TakeOrdered cut) — the 'does this corpus look like
    language?' number; template corpora show a flat slope."""
    from ..operators.textstats import zipf_slope

    docs = load_table(spark, sf_dir, "documents")
    return zipf_slope(docs, top_k=100)


def q206_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive terms: add-one-smoothed log-ratio of
    in-slice vs corpus token rate, top-5 per source — the mixture-
    weighting / contamination-spotting table."""
    from ..operators.textstats import distinctive_terms

    docs = load_table(spark, sf_dir, "documents")
    return distinctive_terms(docs, k=5, by="source")


def q207_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between click and view value-score
    distributions: integer-grid bins (q188 rule), add-one smoothing,
    one ln per bin — the drift number next to q176's KS."""
    from ..operators.stats import psi_drift

    events = load_table(spark, sf_dir, "events")
    scored = events.select(
        F.least(
            F.greatest(F.col("value") / 100.0, F.lit(0.0)), F.lit(1.0)
        ).alias("score"),
        F.col("event_type").alias("grp"),
    )
    return psi_drift(scored, "score", "grp", "click", "view", n_bins=10)


def q208_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm health audit: exact grid median/MAD + outlier ids
    (|norm − med| > 5·MAD) — the pre-indexing check for zero/exploding
    vectors; exact percentiles are the documented oracle for the
    approx_percentile swap at billions of vectors."""
    from ..operators.similarity import embedding_norm_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_norm_audit(emb, mad_k=5)


def q209_session_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned session-duration distribution (30-min gap rule) —
    q203's gap histogram tunes the rule, this audits its output;
    reuses the q22 sessionizer, one ≤64-bucket agg on top."""
    from ..operators.sessions import session_duration_histogram

    events = load_table(spark, sf_dir, "events", raw=True).select(
        "event_id",
        "user_id",
        "value",
        F.expr("ts DIV 1000000000").alias("ts_s"),
    )
    return session_duration_histogram(events, gap_seconds=1800)


def q210_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-n-gram linear quality scorer (CCNet/DCLM
    quality-gate shape): unigram+bigram features hashed into a 1024-
    bucket weight table, per-doc integer score summed INSIDE codegen
    (split → zip_with → aggregate; no UDF, no feature explode), per-
    source keep-rate + mean score. The entire scorer is a stateless
    per-row expression — at 100 TB it runs inside the parquet scan
    with zero shuffle before the per-source rollup."""
    from ..operators.classifier import hashed_ngram_scores

    docs = load_table(spark, sf_dir, "documents")
    return hashed_ngram_scores(docs, by="source")


def q211_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (clamped seeds, majority
    vote, 2 synchronous rounds) over the mutual-kNN graph: seeds =
    the 30% of vectors with vec_id % 10 < 3, everything else
    unlabeled — the cheap way to extend sparse human labels over a
    corpus once the kNN graph exists. Each round is one equi-join of
    the k-bounded edge list + one (node, label) agg; assignments are
    localCheckpoint'd per round (connected-components discipline).
    Output: per final label (−1 = never reached), node counts by the
    round they were labeled in."""
    from ..operators.graph import label_propagation
    from ..operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    from ..functions.vectors import l2_norm

    nodes = (
        emb.filter(l2_norm(F.col("embedding")) > 0)
        .select(
            F.col("vec_id").alias("id"),
            F.when(F.col("vec_id") % 10 < 3, F.col("label")).alias("label"),
        )
    )
    edges = knn_graph(emb, k=5).filter(F.col("mutual")).select("src", "dst")
    assign = label_propagation(nodes, edges, rounds=2)
    tagged = nodes.select("id").join(assign, on="id", how="left")
    by_round = lambda r: F.sum(  # noqa: E731
        F.when(F.col("round") == r, 1).otherwise(0)
    ).cast("long")
    return tagged.groupBy(
        F.coalesce(F.col("label"), F.lit(-1)).cast("int").alias("label")
    ).agg(
        F.count("*").alias("n_nodes"),
        by_round(0).alias("n_seed"),
        by_round(1).alias("n_round1"),
        by_round(2).alias("n_round2"),
    )


def q212_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a year-partitioned lineitem
    materialization joined to a data-derived year dimension — the scan
    reads ONLY surviving year directories (DPP subquery asserted in
    tests/PLANS.md). The partitioned-fact + runtime-pruned-join path
    every date-partitioned 100 TB warehouse lives on."""
    from ..operators.audit import partition_pruned_revenue

    return partition_pruned_revenue(spark, sf_dir)


def q213_source_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-grain MinHash: a 16-slot signature per SOURCE over its
    distinct 3-gram shingles, pairwise signature agreement as the
    overlap estimate (exact Jaccard alongside as the sf-scale audit
    column that would be dropped at 100 TB). The signature is a
    mergeable min-aggregate — batch signatures combine with `min`,
    never a re-scan; the pair comparison touches |sources|²·16 longs,
    independent of corpus size."""
    from ..operators.sketches import source_minhash_similarity

    docs = load_table(spark, sf_dir, "documents")
    return source_minhash_similarity(docs, k=3)


def q214_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming (`applyInPandasWithState`): running
    per-user event count + exact-grid value total, emitted every
    micro-batch, collapsed to final totals (monotone, so max over the
    emitted log is exact regardless of batch slicing). The query keeps
    its name; `transformWithStateInPandas` is not bound, since its
    Python worker needs `google.protobuf` (streaming/stateful.py)."""
    from ..streaming.stateful import running_user_totals

    return running_user_totals(spark, f"{sf_dir}/events.parquet")


def q215_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operator chaining, SIGMOD'24
    'Pipe Syntax in SQL' shape): orders ⋈ customer filtered to one
    segment, aggregated per priority — same Catalyst plan as the
    equivalent nested SQL (the syntax is sugar; pushdown/broadcast
    decisions are unchanged, which is the point: new surface, zero
    new execution risk)."""
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        FROM orders
        |> JOIN customer ON o_custkey = c_custkey
        |> WHERE c_mktsegment = 'BUILDING'
        |> AGGREGATE count(*) AS n_orders,
                     round(sum(o_totalprice), 2) AS revenue
           GROUP BY o_orderpriority
        """
    )


def q216_iter_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series Pandas UDF — the remaining UDF flavor (q90
    scalar, U1 grouped-map, q120 cogrouped, q20 mapInPandas, q133
    mapInArrow, q46 UDTF, q28/q214 stateful): the 'model table' (a
    100-entry integer weight LUT) is built ONCE per partition stream,
    then every Arrow batch indexes it — the load-once-score-many
    pattern GPU/tokenizer inference needs, demonstrated with exact
    integer arithmetic so the oracle gate is bit-level. Partial
    aggregation runs after the UDF on the scan partitions; the
    exchange carries per-type integer partials only."""
    import numpy as np

    lut_mult, lut_mod, lut_bias = 2654435761, 2048, 1024

    # annotation names must resolve in the MODULE globals (pandas_udf
    # evaluates the PEP-563 strings there) — hence the top-level
    # Iterator import, not a local alias.
    @F.pandas_udf("long")
    def _lut_weight(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        lut = (
            np.arange(100, dtype=np.int64) * lut_mult
        ) % lut_mod - lut_bias  # "model load": once per stream
        for v in it:
            idx = np.floor(
                np.clip(v.fillna(0.0).to_numpy(dtype=np.float64), 0.0, 99.0)
            ).astype(np.int64)
            yield pd.Series(lut[idx])

    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(_lut_weight("value")).alias("weight_sum"),
    )


def q217_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): depth-bounded BFS
    reachability from the lowest-id node over the mutual-kNN edge
    list — nodes reachable per hop count, the ad-hoc 'how far does
    this cluster extend?' exploration query. The recursion is the SQL
    surface under test; the frontier dedup (min(depth) per node) runs
    after, so path multiplicity is bounded by out-degree^depth ≤ 5³.
    At scale the depth bound IS the cost bound: each recursion step is
    one equi-join of the previous frontier against the k-bounded edge
    list — the same per-iteration shape as q134's driver-loop
    PageRank, now expressed declaratively."""
    from ..operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    # Pin the derived edge list BEFORE the recursion: a temp view is a
    # logical plan, so the recursive join would otherwise re-derive
    # the whole kNN graph at every recursion step (measured 15.4 s →
    # 3.5 s at sf0.1 for 3 hops).
    edges = (
        knn_graph(emb, k=5)
        .filter(F.col("mutual"))
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    edges.createOrReplaceTempView("q217_edges")
    return spark.sql(
        """
        WITH RECURSIVE reach(id, depth) AS (
          SELECT min(src), CAST(0 AS INT) FROM q217_edges
          UNION ALL
          SELECT e.dst, r.depth + 1
          FROM reach r JOIN q217_edges e ON e.src = r.id
          WHERE r.depth < 3
        )
        SELECT depth, count(*) AS n_nodes FROM (
          SELECT id, min(depth) AS depth FROM reach GROUP BY id
        ) GROUP BY depth
        """
    )


def q218_zorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering benefit audit: files a 2-D box predicate on
    (l_partkey, l_suppkey) mod 256 must touch under arrival-order
    bucketing vs Morton-order bucketing — the measurement that
    justifies (or rejects) paying an OPTIMIZE ZORDER sort on a 100 TB
    table. Bit interleaving and range bucketing are exact integer
    arithmetic; the whole audit is one scan + two 1-row broadcasts,
    no global sort."""
    from ..operators.audit import zorder_prune_audit

    lineitem = load_table(spark, sf_dir, "lineitem")
    return zorder_prune_audit(lineitem)


def q219_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure blast-radius audit: rows each table must purge
    when customers with c_custkey % 97 = 0 exercise deletion —
    customer→orders→lineitem counted through broadcast semi-join
    cascade, no wide join output; the compliance sizing run before a
    delete job (row-level delete vs partition rewrite). At 100 TB the
    frontier broadcast becomes the q111 Bloom probe with the exact
    semi-join behind it."""
    from ..operators.audit import delete_cascade_audit

    return delete_cascade_audit(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        F.col("c_custkey") % 97 == 0,
    )


def q220_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste economics at candidate sequence lengths (128 /
    256 / 512): tokens burned padding one-doc-per-sequence batches —
    the measured business case for q52's concatenate-and-chunk packing
    (which recovers exactly this fraction). One scan, |B| shared
    integer aggregates, no joins."""
    from ..operators.packing import padding_waste_audit

    docs = load_table(spark, sf_dir, "documents")
    return padding_waste_audit(docs)


def q221_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training — the first 3 merges learned
    from the corpus (q145 is ONE round of the statistics; this is the
    actual training loop): per round, word-frequency-weighted adjacent
    pair counts → deterministic argmax → greedy left-to-right merge.
    The corpus-sized work is one (word) hash agg in Spark; all rounds
    run in one pandas task over that vocab-bounded table — the
    pre-aggregation that makes BPE training feasible at 100 TB."""
    from ..operators.textstats import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, rounds=3)


def q222_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item collaborative filtering (co-occurrence cosine over
    the binary user-item matrix, item = props.k): distinct (user,
    item) hash agg → per-user cap (the df-cap for bot/crawler users,
    same quadratic-kill as dedup's max_df) → user-keyed pair join →
    one (a, b) agg → TakeOrdered top-20. Exact integer counts; the
    cosine is one sqrt + one division, bit-identical in DuckDB."""
    from ..operators.sessions import item_cooccurrence_topk

    events = load_table(spark, sf_dir, "events")
    return item_cooccurrence_topk(events, k=20, min_cooc=5)


def q223_fuzzy_vocab_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell typo-clustering: all part-name word pairs within edit
    distance 1, found via deletion-neighborhood EQUI-join blocking
    (never all-pairs levenshtein) + codegen levenshtein verify. The
    DuckDB oracle scores all pairs brute-force, so the gate doubles as
    a per-run completeness proof of the blocking."""
    from ..operators.linkage import fuzzy_vocab_join

    part = load_table(spark, sf_dir, "part")
    vocab = part.select(
        F.explode(F.split(F.col("p_name"), " ")).alias("w")
    ).filter(F.col("w") != "").distinct()
    return fuzzy_vocab_join(vocab)


def q224_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of the curation trade-off space: Pareto frontier over
    (token count, lexical-diversity ‰₀ = distinct·10⁴ div total) —
    the points a data-selection pass picks its operating threshold
    from. Level-table staircase (one corpus agg, then windows over
    ≤ distinct-x rows), never the O(n²) dominance join."""
    from ..operators.sampling import pareto_frontier

    docs = load_table(spark, sf_dir, "documents")
    toks = X.nonempty_tokens(F.lower(F.col("text")))
    scored = docs.select(
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("_d"),
    ).filter(F.col("n_tokens") > 0)
    scored = scored.select(
        "n_tokens",
        F.expr("(_d * 10000) div n_tokens").alias("diversity_e4"),
    )
    return pareto_frontier(scored, "n_tokens", "diversity_e4").select(
        F.col("x").cast("int").alias("n_tokens"),
        F.col("y").cast("long").alias("diversity_e4"),
        "n_rows",
    )


def q225_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of event values across event types (the
    batch-effect-correction step before mixing scores from different
    raters/models/domains): each group remapped onto the pooled
    distribution at matching cumulative rank. ONE corpus scan to the
    (group, value)-level table, one distributed running-sum CDF over
    it, then a banded interval equi-join in rank space (pooled side
    explodes to ≤5·|levels| rows — broadcast-sized) — no global sort,
    no per-row window, no second ranged exchange (r9 fusion of the r8
    two-phase keyless as-of)."""
    from ..operators.stats import quantile_normalize

    events = load_table(spark, sf_dir, "events")
    return quantile_normalize(events, "value", "event_type")


def q226_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the reference's yearly OLS
    forecaster (the q08 model): every (supplier, year) is predicted
    from that supplier's strictly earlier years, errors averaged per
    fold year — all folds from ONE window pass of exclusive running
    sufficient statistics over the yearly level table; no per-fold
    refit. APEs land on the integer 1e-6 grid before the cross-series
    mean, so fold MAPEs are exact-integer averages."""
    from ..operators.forecast import rolling_origin_backtest

    yearly = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey", F.year("l_shipdate").alias("annee"))
        .agg(F.round(F.avg("l_quantity"), 4).alias("conso"))
    )
    return rolling_origin_backtest(
        yearly, group_cols=("l_suppkey",), x_col="annee", y_col="conso"
    ).select(F.col("annee").cast("int").alias("annee"), "n_series", "mape_pct")


def q227_exact_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the q210 hashed quality scorer at separating
    English from non-English docs — the Mann–Whitney rank statistic
    computed on the SCORE-LEVEL table (one hash agg with conditional
    counts, one running-sum window over ≤|distinct scores| rows, one
    1-row agg): billions of scored rows never get sorted. Ties
    contribute half on the ×2 integer grid; one terminal division.
    NULL lang counts as negative (coalesce to false) — explicitly the
    same convention as the oracle's CASE WHEN … ELSE 1, so a NULL in
    documents.lang can never silently diverge the two sides."""
    from ..operators.classifier import hashed_ngram_doc_scores
    from ..operators.stats import exact_auc

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_ngram_doc_scores(docs, keep_cols=("lang",)).select(
        "score",
        F.coalesce(F.col("lang") == "en", F.lit(False)).alias("is_en"),
    )
    return exact_auc(scored, "score", "is_en")


def q228_pr_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point table for the q210 scorer vs the en/non-en
    label: precision/recall when flagging the top d/10 of docs by
    score, for d = 1..10 — computed on the score-level table (q227
    discipline): one conditional-count agg, one descending running
    sum over ≤|distinct scores| rows, a broadcast argmin join for the
    ten thresholds. The scored rows are never sorted. NULL lang
    counts as negative (coalesce to false), matching the oracle's
    CASE WHEN … ELSE 1 explicitly."""
    from ..operators.classifier import hashed_ngram_doc_scores
    from ..operators.stats import pr_at_deciles

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_ngram_doc_scores(docs, keep_cols=("lang",)).select(
        "score",
        F.coalesce(F.col("lang") == "en", F.lit(False)).alias("is_en"),
    )
    return pr_at_deciles(scored, "score", "is_en")


def _orders_digest(orders: DataFrame, lo: str | None, hi: str | None) -> DataFrame:
    """Per-customer orders digest for the MERGE/CDF family (q229,
    q234–q237, q240): one CDC-style row per custkey over an order-date epoch
    [lo, hi) — counts, integer-cent totals, last date."""
    df = orders
    if lo is not None:
        df = df.filter(F.col("o_orderdate") >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col("o_orderdate") < F.lit(hi))
    return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
        # DATE, not raw timestamp: the q240 sink declares `last_date
        # date` (a timestamp would land as parquet INT64 and break the
        # declared-schema read); cast-to-date is monotonic so
        # max-then-cast == cast-then-max and the formatted output is
        # unchanged for the pure-plan consumers (q229, q235–q237).
        F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
    )


def q229_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO as a declarative plan (operators/merge):
    a warehouse per-customer order digest (orders before 1997-01-01)
    merged with an incremental CDC batch (1997 onward) — WHEN MATCHED
    AND op='D' DELETE, WHEN MATCHED UPDATE (counts/totals summed, last
    date = greatest), WHEN NOT MATCHED AND op<>'D' INSERT. Tombstones
    are a deterministic synthetic CDC flag (custkey % 50 = 0). This is
    the keyed-idempotent upsert the reference's blind WRITE_APPEND
    loop lacks (0_insert_conso_an_ville_in_bq.py:100-113, SURVEY
    §2.9); one full-outer join on the key — AQE broadcasts the small
    CDC side; at 100 TB both sides bucket on the key (merge_write).
    Money stays integer cents until the terminal division."""
    from ..operators.merge import merge_into
    from ..streaming.cdc_feed import _additive_clauses, _cdc_op

    orders = load_table(spark, sf_dir, "orders")
    cut = "1997-01-01"
    target = _orders_digest(orders, None, cut)
    source = _orders_digest(orders, cut, None).withColumn("op", _cdc_op())
    merged = merge_into(target, source, keys=["custkey"], **_additive_clauses())
    return merged.select(
        "custkey",
        "n_orders",
        F.round(F.col("total_cents") / 100.0, 2).alias("total_price"),
        F.date_format("last_date", "yyyy-MM-dd").alias("last_date"),
    )


def q234_merge_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once MERGE replays via the txn ledger: the q229 CDC
    batch (ADDITIVE update_set — counts/totals summed, the case a
    blind replay double-applies) is applied to the bucketed parquet
    state THREE times with the same batch_id; the ledger
    (_merge_ledger.json, the Delta txn pattern) skips the replays, so
    the final state digest equals exactly ONE application — which is
    what the oracle computes relationally. Output: one summary row
    (n_keys, sum_orders, total_price_sum 2 dp, n_applied,
    n_skipped)."""
    from ..operators.merge import merge_write, src
    from ..operators.util import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    cut = "1997-01-01"
    state = scratch_dir("merge_ledger_state_")
    schema = "custkey long, n_orders long, total_cents long"
    base = _orders_digest(orders, None, cut).drop("last_date")
    merge_write(spark, state, base, ["custkey"], schema, n_buckets=8, batch_id=0)
    batch = _orders_digest(orders, cut, None).drop("last_date")
    kwargs = dict(
        update_set={
            "n_orders": F.col("n_orders") + src("n_orders"),
            "total_cents": F.col("total_cents") + src("total_cents"),
        },
        batch_id=1,
    )
    applied = [
        merge_write(spark, state, batch, ["custkey"], schema, n_buckets=8,
                    **kwargs)
        for _ in range(3)  # one apply + two replays of the SAME id
    ]
    final = spark.read.schema(schema + ", _bucket int").parquet(state)
    return final.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
        F.round(F.sum("total_cents") / 100.0, 2).alias("total_price_sum"),
        F.lit(sum(applied)).cast("int").alias("n_applied"),
        F.lit(len(applied) - sum(applied)).cast("int").alias("n_skipped"),
    )


def q235_merge_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHANGE DATA FEED of q229's MERGE (Delta CDF): one row per
    affected key — insert/update/delete with post-image values
    (pre-image for deletes) — the bounded row-level changelog an
    incremental consumer (cache invalidation, index refresh,
    replication) subscribes to instead of diffing two 100 TB
    snapshots. Same single full-outer join as the merge itself;
    unaffected target-only keys emit nothing."""
    from ..operators.merge import merge_changes
    from ..streaming.cdc_feed import _additive_clauses, _cdc_op

    orders = load_table(spark, sf_dir, "orders")
    cut = "1997-01-01"
    target = _orders_digest(orders, None, cut)
    source = _orders_digest(orders, cut, None).withColumn("op", _cdc_op())
    changes = merge_changes(
        target, source, keys=["custkey"], **_additive_clauses()
    )
    return changes.select(
        "custkey",
        "n_orders",
        F.round(F.col("total_cents") / 100.0, 2).alias("total_price"),
        F.date_format("last_date", "yyyy-MM-dd").alias("last_date"),
        "_change_type",
    )


def q236_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog TIME TRAVEL (Delta's ``VERSION AS OF`` re-expressed on
    base + CDF): the orders digest evolves through two MERGE epochs
    (v0 = pre-1996 base, v1 = +1996H1..1997H1 CDC, v2 = +the rest); a
    reader reconstructs the HISTORICAL v1 snapshot purely from the v0
    base plus the bounded v1 change feed — ``apply_changes`` (one
    key-anti-join + union of post-images) — never re-running the merge
    or diffing snapshots. At 100 TB the changelog is O(batch) while the
    snapshots are O(table): replay cost scales with what changed.
    tests/test_merge_streamdedup.py pins the full chain (replayed v2 ==
    the direct merge_into result, row-for-row). Delete clause: every
    50th customer's CDC row is a delete, exercising tombstone replay."""
    from ..operators.merge import apply_changes, merge_changes
    from ..streaming.cdc_feed import _additive_clauses, _cdc_op

    orders = load_table(spark, sf_dir, "orders")
    base = _orders_digest(orders, None, "1996-01-01")
    batch1 = _orders_digest(orders, "1996-01-01", "1997-06-01").withColumn(
        "op", _cdc_op()
    )
    cdf1 = merge_changes(base, batch1, keys=["custkey"], **_additive_clauses())
    v1 = apply_changes(base, cdf1, keys=["custkey"])
    return v1.select(
        "custkey",
        "n_orders",
        F.round(F.col("total_cents") / 100.0, 2).alias("total_price"),
        F.date_format("last_date", "yyyy-MM-dd").alias("last_date"),
    )


def q237_incremental_agg_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance from the retraction-
    complete CDF (Delta CDF's update_preimage/update_postimage rows,
    ``merge_changes(include_preimages=True)``): a per-segment aggregate
    view over the merged customer digest is maintained as
    ``view(base) ⊕ Σ(sign · change)`` — insert/update_postimage add,
    delete/update_preimage retract — WITHOUT rescanning the merged
    table. The view delta is an aggregate of the O(batch) changelog;
    at 100 TB the refresh cost is proportional to the CDC batch, not
    the table — the DBSP/Materialize view-maintenance identity on
    Spark. Oracle recomputes the view directly from the merged state,
    so any missing retraction breaks value parity (segments whose
    every key updates would double-count)."""
    from ..operators.merge import merge_changes
    from ..streaming.cdc_feed import _additive_clauses, _cdc_op

    orders = load_table(spark, sf_dir, "orders")
    cut = "1997-01-01"
    base = _orders_digest(orders, None, cut)
    batch = _orders_digest(orders, cut, None).withColumn("op", _cdc_op())
    seg = F.pmod(F.col("custkey"), F.lit(8)).cast("int").alias("segment")
    view_base = base.groupBy(seg).agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
        F.sum("total_cents").cast("long").alias("sum_cents"),
    )
    cdf = merge_changes(
        base, batch, keys=["custkey"], include_preimages=True,
        **_additive_clauses(),
    )
    sign = (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
    )
    key_sign = (
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .when(F.col("_change_type") == "delete", F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    delta = cdf.groupBy(seg).agg(
        F.sum(key_sign).alias("d_keys"),
        F.sum(sign * F.col("n_orders")).alias("d_orders"),
        F.sum(sign * F.col("total_cents")).alias("d_cents"),
    )
    refreshed = (
        view_base.join(delta, on="segment", how="full_outer")
        .select(
            "segment",
            (
                F.coalesce("n_keys", F.lit(0)) + F.coalesce("d_keys", F.lit(0))
            ).cast("long").alias("n_keys"),
            (
                F.coalesce("sum_orders", F.lit(0))
                + F.coalesce("d_orders", F.lit(0))
            ).cast("long").alias("sum_orders"),
            (
                F.coalesce("sum_cents", F.lit(0))
                + F.coalesce("d_cents", F.lit(0))
            ).alias("sum_cents"),
        )
        .filter(F.col("n_keys") > 0)
    )
    return refreshed.select(
        "segment",
        "n_keys",
        "sum_orders",
        F.round(F.col("sum_cents") / 100.0, 2).alias("total_price_sum"),
    )


def q230_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-order streaming dedup via native stateful
    ``dropDuplicates``: the documents corpus staged as 8 doc_id-ranged
    landing files, streamed one file per trigger, deduped on the
    md5(40-char normalized head) fingerprint across micro-batches (the
    seen-set lives in the state store). Output (n_docs, n_kept,
    n_dropped) is a pure function of the data — which duplicate
    arrives first is slicing-dependent, the fingerprint SET is not —
    so the oracle is a plain COUNT(DISTINCT) over the same table. The
    streaming complement of q165's incremental batch dedup."""
    from ..streaming.dedup_stream import stream_prefix_dedup

    return stream_prefix_dedup(spark, f"{sf_dir}/documents.parquet")


def q232_stream_dedup_watermarked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q230's streaming dedup in the BOUNDED-STATE production posture:
    ``dropDuplicatesWithinWatermark`` over event time synthesized from
    the doc id, RocksDB state store — a fingerprint's state is evicted
    once the watermark passes its event time + delay, so a crawl's
    seen-set is O(active window), not O(all distinct ever). The delay
    here exceeds any fixture's duplicate id-span, making the kept-set
    equal the exact distinct count (slicing- and file-order-
    independent) — same COUNT(DISTINCT) oracle as q230 — while the
    full watermark/eviction machinery runs; eviction + re-emission
    past the watermark is pinned by tests/test_merge_streamdedup.py
    with hand-staged micro-batches."""
    from ..streaming.dedup_stream import stream_prefix_dedup_watermarked

    return stream_prefix_dedup_watermarked(
        spark, f"{sf_dir}/documents.parquet"
    )


def q233_sort_vs_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout decision audit: Z-ORDER vs lexicographic (x, y)
    clustering of events over (user_id, value) — for 2-D box probes,
    how many equal-count zones (files) must a zone-map scan planner
    touch under each layout? Morton-interleaves the two grid keys,
    tiles both layouts with the exact distributed ntile, and probes
    every occupied 32-wide grid cell (≤64 probes by construction) —
    the Delta/Iceberg ZORDER BY question made measurable. q177 is the
    1-D sort sibling; q218 asks the cheaper arrival-order-vs-Morton
    question without a sort — this one prices the SORTED alternatives
    a compaction job chooses between. Everything after the two
    inherent ranged exchanges runs on zone/cell-level tables."""
    from ..operators.shards import sorted_layout_audit

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_e2"),
        "event_id",
    )
    return sorted_layout_audit(
        base, x_col="user_id", y_col="value_e2", id_col="event_id"
    )


def q231_neardup_audit_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q14's exact near-dup ground truth on a deterministic 1/2 id-hash
    AUDIT PANEL (audit_mod=2): the scale valve for the one
    quadratic-by-design baseline — pair work drops ~m² while the
    sampled subset stays an unbiased exact-recall panel (on the
    sampled ids the output is identical to the uncapped run; set
    m ~ n/10⁵ in production so the ground-truth path is runnable at
    ANY corpus size). The panel predicate is a pure function of
    identity (md5 of the id), so the oracle reproduces the exact same
    sample."""
    from ..operators.similarity import embedding_neardup

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup(
        emb, threshold=0.35, bucket_col="label", audit_mod=2
    )


def q241_stream_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end STREAMING CDC pipeline — the lakehouse pieces wired
    the way production runs them, as ONE stream: three date-sliced CDC
    epoch files land in pinned order (explicit mtimes; FileStreamSource
    schedules by timestamp) and each availableNow micro-batch (1) emits
    the retraction-complete Delta-CDF row set against the PRE-merge
    state into an append-only changelog and (2) applies the batch to
    the bucket-partitioned state under the txn ledger. Composition of
    q116 (foreachBatch merge) + q229/q234 (ledgered merge_write) +
    q235/q237 (CDF with pre-images). Output: the changelog summary per
    (epoch, change type) — insert counts shrink and update counts grow
    across epochs as keys accumulate, deletes tombstone every 50th
    customer. The oracle replays the same three merges relationally."""
    from ..streaming.cdc_feed import stream_cdc_changelog

    orders = load_table(spark, sf_dir, "orders")
    return stream_cdc_changelog(spark, orders)


def q242_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type EWMA (α=0.3) over the daily-mean event-value series —
    the ORDER-SENSITIVE recurrence no commutative agg can express,
    folded inside codegen over calendar-bounded per-key arrays (one
    (type, day) hash agg is the only full-data shuffle). The oracle
    replays the identical recurrence with a recursive CTE."""
    from ..operators.timeseries import ewma_daily

    events = load_table(spark, sf_dir, "events")
    return ewma_daily(events, alpha=0.3)


def q243_grouped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moment sketch per event type: skewness + excess
    kurtosis from raw power sums S1..S4 (map-side partials, plain-add
    combine, one terminal expression) — the distribution-SHAPE drift
    number next to q176's KS and q207's PSI, re-aggregatable across
    shards without a re-scan."""
    from ..operators.stats import grouped_moments

    events = load_table(spark, sf_dir, "events")
    return grouped_moments(events, value_col="value", by="event_type")


def q245_ewma_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS fixed-point EWMA scan over the ENTIRE event stream in
    (time, id) order — the unbounded-series recurrence distributed
    two-phase with contraction-certified interval carries (see
    operators/timeseries.ewma_scan): one ranged exchange, one P-row
    collect, every row's smoothed value exact on the 1e-4 grid at any
    partitioning. Output summarizes the trajectory: n_rows, the final
    state, and ``ewma_digest``, the exact long sum of every row's state
    in 1e-4 units. Contraction makes the final state forget early
    rows, so a wrong partition carry-in can leave it intact; the digest
    counts every row's state, so the oracle's sequential list_reduce
    replay checks the whole trajectory."""
    from ..operators.timeseries import ewma_scan

    ev = load_table(spark, sf_dir, "events", raw=True).select(
        F.expr("ts div 1000").alias("us"), "event_id", "value"
    )
    scanned = ewma_scan(ev, ["us", "event_id"], "value", alpha=0.3)
    final = (
        scanned.orderBy(F.desc("us"), F.desc("event_id"))
        .limit(1)
        .select(F.col("ewma").alias("ewma_final"))
    )
    cnt = scanned.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.round(F.col("ewma") * 1e4).cast("long")).alias(
            "ewma_digest"
        ),
    )
    return cnt.crossJoin(final)


def q246_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + normalized MI between document language
    and source — the dependence/labeling-agreement number next to
    q180's chi²: integer cell counts (|langs|·|sources| rows whatever
    the corpus), one ln per cell, NMI = I/√(H·H)."""
    from ..operators.stats import mutual_information

    docs = load_table(spark, sf_dir, "documents")
    return mutual_information(docs, "lang", "source")


def q247_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over order totals: leading digit
    from the DECIMAL STRING of exact integer cents (never
    floor(log10) — libm boundary at powers of ten), one ≤9-group agg,
    observed vs ln(1+1/d)/ln(10) with signed gaps."""
    from ..operators.audit import benford_audit

    orders = load_table(spark, sf_dir, "orders")
    return benford_audit(orders, "o_totalprice", cents=True)


def q248_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED price percentiles per return flag — exact
    integer construction end-to-end: cents-grid level table, ONE
    keyless ranged prefix sum over (flag, cents) order (the q227/q228
    shards primitive — no per-group window wall), per-group offsets
    from the same primitive over the ≤|flags| totals, quantile test
    cross-multiplied in integers (cum·100 ≥ p·W)."""
    from ..operators.stats import weighted_percentiles

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_percentiles(li, "cents", "qty", "flag", p100s=(50, 90))


def q249_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-convert survival curve with right
    censoring: signup → first subsequent purchase, users who never
    convert censored at the end of observation — the product-limit
    refinement of q73's converted-only histogram (which silently
    drops non-converters). Integer µs arithmetic into a
    calendar-bounded day grid; the survival product folds
    sequentially inside codegen; oracle = recursive-CTE replay."""
    from ..operators.stats import kaplan_meier

    events = load_table(spark, sf_dir, "events", raw=True)
    us = F.expr("ts div 1000")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p"),
    )
    obs_end = events.agg(F.max(us).alias("end_us"))
    day_us = 86_400_000_000
    subj = (
        per_user.filter(F.col("s").isNotNull())
        .crossJoin(F.broadcast(obs_end))
        .select(
            F.when(
                F.col("p") > F.col("s"),
                F.expr(f"(p - s) div {day_us}"),
            )
            .otherwise(F.expr(f"(end_us - s) div {day_us}"))
            .cast("long")
            .alias("dur"),
            F.when(F.col("p") > F.col("s"), 1).otherwise(0).alias("event"),
        )
    )
    return kaplan_meier(subj, "dur", "event")


def q250_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier interval UNION over in-transit shipment spans
    [shipdate, shipdate + quantity days) — coverage days, island
    count, and peak concurrent shipments via the gaps-and-islands
    sweep + boundary counting (operators/intervals.py). Overlapping
    spans make sum-of-durations wrong and a per-day explode is a 50×
    row blow-up; the sweep is 2 windows + 1 agg, all partitioned by
    supplier. Exact integers end-to-end."""
    from ..operators.intervals import interval_coverage

    li = load_table(spark, sf_dir, "lineitem")
    spans = li.select(
        F.col("l_suppkey").alias("suppkey"),
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01")).alias("lo"),
        (
            F.datediff(F.col("l_shipdate"), F.lit("1992-01-01"))
            + F.col("l_quantity").cast("int")
        ).alias("hi"),
    )
    out = interval_coverage(spans, "suppkey", "lo", "hi")
    return out.select(
        F.col("key").alias("suppkey"),
        "n_spans",
        F.col("covered").alias("covered_days"),
        "n_islands",
        "peak_concurrency",
    )


def q251_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic (PAVA) calibration of q188's hash-derived
    score vs the purchase outcome, via the order-free minimax identity
    iso(k) = max_{i<=k} min_{j>=k} rate(i..j) on the binned table —
    one full-data hash agg to <= 10 integer rows, then grid-bounded
    broadcast joins only (no sequential pooling loop, no windows).
    Segment rates are single divisions of exact integer sums, so the
    fit is bit-stable across engines."""
    from ..operators.stats import isotonic_calibration

    events = load_table(spark, sf_dir, "events")
    scored = events.select(
        (
            F.pmod(F.col("user_id") * F.lit(2654435761), F.lit(10001))
            / F.lit(10_000.0)
        ).alias("score"),
        (F.col("event_type") == "purchase").alias("outcome"),
    )
    return isotonic_calibration(scored, n_bins=10)


def q252_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend, α=0.3 β=0.2)
    over the per-type daily-mean series — q242's EWMA upgraded with a
    trend component so a drifting signal is tracked, not lagged. Same
    distributed contract: one (type, day) hash agg, then a codegen
    fold over calendar-bounded arrays with array<struct<l,b>> state;
    oracle = recursive-CTE replay of the identical double-op
    sequence."""
    from ..operators.timeseries import holt_daily

    events = load_table(spark, sf_dir, "events")
    return holt_daily(events, alpha=0.3, beta=0.2)


def q253_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra over order-key sets by return flag
    (A = orders with a returned line, R = refused): distinct / union /
    INTERSECTION estimates from three 256-row k-minimum-values
    sketches — the set operation HLL registers cannot express — each
    audited against its exact ground truth in the same row. One
    distinct (set, hash) agg + TakeOrdered(k) per sketch; estimates
    are single double-op sequences over exact integers."""
    from ..operators.sketches import kmv_set_ops

    li = load_table(spark, sf_dir, "lineitem")
    return kmv_set_ops(
        li, key_col="l_orderkey", set_col="l_returnflag", set_a="A", set_b="R"
    )


def q254_grouped_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag closed-form ridge fit: extendedprice cents ~
    quantity + discount-percent, λ=1000 — nine exact decimal(38,0)
    sufficient statistics per group (map-side partials; the design
    matrix never shuffles), Cramer 3×3 terminal solve. Multivariate
    upgrade of q08's per-group OLS; sums merge additively across
    shards (the q243 moment-sketch property)."""
    from ..operators.forecast import grouped_ridge

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.round(F.col("l_quantity")).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
    )
    out = grouped_ridge(li, "y", "x1", "x2", "l_returnflag", lam=1000.0)
    return out.select(
        F.col("grp").alias("flag"), "n", "beta0", "beta1", "beta2"
    )


def q255_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic (click vs view event
    values) with Welch–Satterthwaite df — the mean-difference test
    next to q180's chi² (proportions) and q176's KS (distribution).
    Values snap to the 1e-4 integer grid; per-arm (n, Σv, Σv²) are
    exact decimal sums (one 2-row hash agg, map-side partials); the
    statistic is one identical double-op sequence per engine."""
    from ..operators.stats import welch_t

    events = load_table(spark, sf_dir, "events")
    return welch_t(events, "value", "event_type", "click", "view")


def q256_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-core of the customer↔supplier trade graph (q134's symmetric
    distinct edge list): 4 fixed simultaneous peel rounds — each
    round drops every node whose induced-subgraph degree is below 12
    (order-free, unlike sequential min-degree peeling), two
    semi-joins + one node-key hash agg per round, lazy checkpoints
    stop lineage compounding. The oracle unrolls the identical 4
    rounds; convergence at this scale is pinned by a test (round 4 ==
    round 3), so the fixed unroll IS the fixpoint here."""
    from ..operators.graph import kcore_peel

    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return kcore_peel(edges, k=12, rounds=4)


def q257_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five event types' value
    distributions — the omnibus k-arm test over q255's two-arm Welch:
    per-group exact decimal grid sums, the cross-group float reduction
    done as a DETERMINISTIC group-name-order fold (codegen aggregate /
    DuckDB list_reduce), one |groups|-row hash agg total."""
    from ..operators.stats import anova_f

    events = load_table(spark, sf_dir, "events")
    return anova_f(events, "value", "event_type")


def q258_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (purchase vs error event values): the
    nonparametric mean-shift test beside q255's Welch t — 2·U from
    exact integer level counts (one grid agg + the q176 distributed
    prefix sum, never a window), tie-corrected normal z as one
    identical double-op sequence."""
    from ..operators.stats import mann_whitney_u

    events = load_table(spark, sf_dir, "events")
    return mann_whitney_u(events, "value", "event_type", "purchase", "error")


def q259_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between src0's and src1's unigram
    distributions — symmetric, ln2-bounded corpus drift over the WHOLE
    vocabulary (q207's PSI needs bins; KL blows up on one-sided
    tokens). Per-term doubles from exact counts snapped to the 1e-12
    grid, then an exact decimal sum — the order-free reduction for a
    data-shaped cell table."""
    from ..operators.textstats import js_divergence

    docs = load_table(spark, sf_dir, "documents")
    return js_divergence(docs, "text", "source", "src0", "src1")


def q260_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between lineitem quantity and
    extendedprice dollars — the monotone-association twin of q167's
    Pearson: average-rank ties as exact doubled-rank integers from two
    distributed prefix sums over value-bounded level tables, Pearson
    on the ranks via decimal sums + one terminal double sequence."""
    from ..operators.stats import spearman_rho

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice")).cast("long").alias("price"),
    )
    # qty (50 levels) and cent-gridded price are value-range bounded
    # → opt in to the single-task level-table window fast path
    return spearman_rho(li, "qty", "price", levels_bounded=True)


def q261_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini of document lengths (n_chars) — the
    concentration audit a mixture plan needs before weighting sources
    by token mass: exact level-table construction, group-partitioned
    cumulative counts (levels bounded by the value range), decimal
    rank-weighted sums, one division."""
    from ..operators.audit import gini_concentration

    docs = load_table(spark, sf_dir, "documents")
    out = gini_concentration(docs, "n_chars", "source")
    return out.select(
        F.col("grp").alias("source"), F.col("n").alias("n_docs"),
        F.col("total").alias("total_chars"), "gini",
    )


def q262_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type behavior chain (q71's
    lag-pair transition matrix, row-normalized to the 1e-9 grid): 6
    fixed power iterations under the q134 integer-grid determinism
    contract — every neighbor-sum a sum of longs, oracle = unrolled
    CTE replay. One user-key window builds the pairs; each iteration
    is a join + hash agg over |states|² dimension-bounded cells."""
    from ..operators.sessions import markov_stationary

    events = load_table(spark, sf_dir, "events", raw=True)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "event_type", F.lag("event_type").over(w).alias("from_type")
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return markov_stationary(pairs, iters=6)


def q263_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index per event type (mean per ISO dow /
    per-type mean) — the weekly-cycle profile read before trusting
    q252's Holt trend. One ≤7·|types|-row hash agg on exact grid
    sums; the index is a single division of exact-integer products."""
    from ..operators.timeseries import weekday_seasonal_index

    events = load_table(spark, sf_dir, "events")
    return weekday_seasonal_index(events)


def q264_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between document language and source — the k×k χ²
    effect size beside q246's NMI (q180's χ² is 2×2-only): the FULL
    r×c grid including empty cells (a zero cell contributes its whole
    expectation), per-cell terms from exact counts, deterministic
    (x, y)-order fold (the q257 discipline)."""
    from ..operators.stats import cramers_v

    docs = load_table(spark, sf_dir, "documents")
    return cramers_v(docs, "lang", "source")


def q265_js_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift attribution: top-20 tokens by Jensen–Shannon contribution
    between src0 and src1 — 'which words moved', the actionable
    companion to q259's single drift number. Contributions are exact
    1e-12-grid integers, so the (contrib desc, token asc) top-k is
    fully deterministic; TakeOrdered(20), never a window."""
    from ..operators.textstats import js_attribution

    docs = load_table(spark, sf_dir, "documents")
    return js_attribution(docs, "text", "source", "src0", "src1", k=20)


def q266_cusum_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detector over the whole event stream (Page's test,
    deviations = value cents − 5500, alarm above 100000): the
    sequential recurrence S_t = max(0, S_{t−1} + d_t) distributed
    EXACTLY via the reflection identity S_t = D_t − min(0, min D_j) —
    ONE ranged exchange carries both the prefix sum and prefix min
    (the fused q225 shape), all exact long arithmetic, bit-stable at
    any partitioning."""
    from ..operators.timeseries import cusum_scan

    ev = load_table(spark, sf_dir, "events", raw=True).filter(
        F.col("value").isNotNull()
    ).select(
        F.expr("ts div 1000").alias("us"),
        "event_id",
        (F.round(F.col("value") * 100).cast("long") - F.lit(5500)).alias(
            "d"
        ),
    )
    return cusum_scan(ev, ["us", "event_id"], "d", threshold=100_000)


def q267_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (closes the r9 Pillow gate): every
    7th document becomes a genuine grayscale PNG (vendored W3C-spec
    encoder — zlib IDAT, CRC'd chunks, deterministic closed-form
    pixels), which ``decode_image_stats`` then fully decodes (inflate
    + unfilter, no header peeking) and half-resizes with the integer
    nearest-neighbor kernel. The oracle never sees a byte: it
    recomputes width/height/pixel sums from the same (3x+7y+id) mod
    256 arithmetic over generate_series grids — value parity proves
    the decode path reconstructs every pixel exactly. The payload
    column never shuffles: both mapInPandas steps run on the scan's
    partitions and only 7-integer stat rows flow on."""
    from ..operators.multimodal import decode_image_stats, synth_png_corpus

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    return decode_image_stats(synth_png_corpus(docs))


def q268_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type over daily totals — the
    outlier-proof complement to q08's OLS (median of pairwise slopes,
    29% breakdown). One (type, day) hash agg is the only full-data
    shuffle; the pair set is a self-join of the calendar-bounded
    daily level table and the medians come from type-partitioned
    windows over those bounded pairs. Slopes are one IEEE division
    of exact cents/day integers — bit-equal across engines."""
    from ..operators.timeseries import theil_sen_daily

    events = load_table(spark, sf_dir, "events")
    return theil_sen_daily(events)


def q270_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join (q92's inner upgraded):
    unmatched clicks emit NULL error columns once the watermark proves
    no late error can arrive. The oracle reproduces the join AND the
    eviction cutoff — final watermark = min(max click ts, max error
    ts) − 1h; clicks whose window closed strictly before it emit, the
    rest stay in state. Pins Spark's outer-emission arithmetic
    value-level."""
    from ..streaming.daily import stream_stream_click_error_outer_join

    return stream_stream_click_error_outer_join(
        spark, f"{sf_dir}/events.parquet"
    )


def q282_lsh_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Committed recall record for q43's LSH near-dup SCALE PATH
    against the exact global baseline (VERDICT r10 item 4): on the
    deterministic 1/4 id-hash audit panel (q231's valve — sampled
    BEFORE planting so a planted pair survives or drops WITH its
    base id; m=4 keeps the quadratic ground-truth side ~30M pairs
    at sf1), plant q43's exact duplicates, compute ground-truth
    pairs ≥ 0.9 via the global broadcast nested-loop baseline
    (embedding_neardup bucket_col=None — panel-bounded, never a
    production shape) and the production LSH+verify pairs, and emit
    ONE hashable row: (n_exact, n_hit, recall_ge_90pct). Exact
    copies share every sign bit, so every band collides and the
    expected recall is exactly 1.0 — the oracle pins the counts
    equal; any LSH regression (banding, signature, verify) drops
    n_hit and the hash mismatches."""
    from ..operators.similarity import (
        audit_sample,
        embedding_neardup,
        embedding_neardup_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    panel = audit_sample(emb, "vec_id", 4)
    planted = panel.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000_000)
    )
    corpus = panel.unionByName(planted)
    exact = embedding_neardup(
        corpus, threshold=0.9, bucket_col=None
    ).select("id_a", "id_b")
    approx = embedding_neardup_lsh(corpus, threshold=0.9).select(
        "id_a", "id_b"
    )
    hits = approx.join(exact, on=["id_a", "id_b"], how="inner")
    return (
        exact.agg(F.count("*").cast("long").alias("n_exact"))
        .crossJoin(hits.agg(F.count("*").cast("long").alias("n_hit")))
        .select(
            "n_exact",
            "n_hit",
            (F.col("n_hit") >= F.col("n_exact") * 0.9).alias(
                "recall_ge_90pct"
            ),
        )
    )


def q283_filtered_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Committed recall record for q151's filtered-ANN production plan
    (VERDICT r10 item 4): the broadcast label-equi-join top-5 is
    checked against an INDEPENDENT exact construction — score every
    candidate via the unrestricted cross join, filter to the query's
    label AFTER scoring, re-rank with the shared (sim desc, vec_id)
    tie-break. Same semantics through a different physical shape, so
    a bug in the equi-join path (dropped partitions, mangled filter
    pushdown) shows up as n_hit < n_exact. One hashable row:
    (n_exact, n_hit, recall_ge_90pct); expected recall exactly 1.0
    and the oracle pins the counts equal."""
    from ..operators.similarity import cosine_topk, cosine_topk_filtered

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    prod = cosine_topk_filtered(
        emb, queries, filter_col="label", k=5
    ).select("query_id", "vec_id")
    # independent exact twin: rank ALL candidates (k = full corpus via
    # a huge bound — the window still computes every rank), restrict
    # to the query's label post-scoring, re-rank to top-5
    scored = cosine_topk(emb, queries, k=2**31 - 1).select(
        "query_id", "vec_id", "sim"
    )
    lbl = emb.select("vec_id", F.col("label").alias("_cl"))
    qlbl = queries.select(
        F.col("query_id").alias("_qid"), F.col("label").alias("_ql")
    )
    restricted = (
        scored.join(lbl, on="vec_id")
        .join(qlbl, scored["query_id"] == qlbl["_qid"])
        .filter(F.col("_cl") == F.col("_ql"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    exact = (
        restricted.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 5)
        .select("query_id", "vec_id")
    )
    hits = prod.join(exact, on=["query_id", "vec_id"], how="inner")
    return (
        exact.agg(F.count("*").cast("long").alias("n_exact"))
        .crossJoin(hits.agg(F.count("*").cast("long").alias("n_hit")))
        .select(
            "n_exact",
            "n_hit",
            (F.col("n_hit") >= F.col("n_exact") * 0.9).alias(
                "recall_ge_90pct"
            ),
        )
    )


def q281_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier split-conformal forecast interval (α=0.2) from the
    rolling backtest's out-of-sample |residuals| — the distribution-
    free ±halfwidth for q08's forecaster (⌈(m+1)(1−α)⌉-th smallest of
    m backtest errors, finite-sample valid with no normality
    assumption). Same one-window-pass sufficient statistics as q226;
    the order statistic folds over each series' calendar-bounded
    sorted residual array; k > m reports NULL (not enough folds)."""
    from ..operators.forecast import conformal_interval

    yearly = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey", F.year("l_shipdate").alias("annee"))
        .agg(F.round(F.avg("l_quantity"), 4).alias("conso"))
    )
    return conformal_interval(
        yearly, group_cols=("l_suppkey",), x_col="annee", y_col="conso",
        alpha=0.2,
    )


def q280_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB visual downsampling (parallel centroid-anchored variant):
    ≤32 spike-preserving points per event type. One key-partitioned
    row_number window, bounded (key, bucket) centroid stats joined
    bucket±1 back onto the points, doubled-triangle-area argmax per
    bucket as ONE fixed double sequence over exact integers, LTTB
    endpoint rule for the first/last buckets."""
    from ..operators.timeseries import lttb_downsample

    events = load_table(spark, sf_dir, "events")
    return lttb_downsample(events, n_buckets=32)


def q279_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite weekly decomposition per event type: centered ±3-day
    moving-average trend, then per-ISO-weekday mean of the detrended
    series — additive seasonality on detrended values (q263's index
    is multiplicative on raw ones). No float summation anywhere: the
    detrended quantity stays the exact integer 7·v − S7 until the
    single terminal division."""
    from ..operators.timeseries import stl_lite_weekly

    events = load_table(spark, sf_dir, "events")
    return stl_lite_weekly(events)


def q278_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity (k=5) audit over the (lang, source, length-band)
    quasi-identifier — the re-identification screen before releasing
    a derived corpus table. One hash agg to the cell table, one
    re-agg per lang; risk_fraction = share of rows in cells smaller
    than k."""
    from ..operators.audit import k_anonymity_audit

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.expr("n_chars div 500").alias("band"),
    )
    return k_anonymity_audit(docs, ["lang", "source", "band"], k=5)


def q277_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling document budget across sources (B = 3/5 of the
    corpus): a_i = min(c_i, λ), Σa = B — the cap-the-giants
    allocation when a TOTAL budget binds (q56 handles target
    ratios). Pure integer arithmetic on the |sources| level table;
    Σ alloc == B is a pinned invariant."""
    from ..operators.sampling import water_fill_allocation

    docs = load_table(spark, sf_dir, "documents")
    return water_fill_allocation(docs, "source", 3, 5)


def q276_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak 60-second sliding event rate per user — the rate-limit /
    bot audit. One key-partitioned RANGE window over epoch seconds
    (two-pointer sliding frame, O(events/key)); struct-min argmax
    reports each user's max burst and its earliest peak second."""
    from ..operators.timeseries import burst_detection

    events = load_table(spark, sf_dir, "events")
    return burst_detection(events, window_seconds=60)


def q275_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single mean-shift change-point per event type (binary
    segmentation's first split): argmin over splits of
    SSE_left+SSE_right on the grid-snapped daily means. Exact-integer
    prefix sums over the calendar-bounded daily table (key-
    partitioned window), ONE double sequence per candidate, struct-
    min argmin with earlier-day tie-break."""
    from ..operators.timeseries import changepoint_daily

    events = load_table(spark, sf_dir, "events")
    return changepoint_daily(events)


def q274_rolling_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from MERGED daily HLL
    sketches — the sketch-rollup pattern that makes retention metrics
    affordable at 100 TB (7-day re-scan → windowed max over 256-row
    daily register states). Register-partitioned RANGE window over a
    (day × register) spine; exact integer harmonic sum; the exact
    COUNT(DISTINCT) twin rides along as the audit column."""
    from ..operators.sketches import hll_rolling_distinct

    events = load_table(spark, sf_dir, "events")
    return hll_rolling_distinct(events, "user_id", "ts", window_days=7)


def q273_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between click and purchase
    value distributions — the INTEGRAL drift number beside q176's KS
    supremum (W₁ is the mass·distance a mixture rebalance actually
    pays). Exact: one grid-level agg, one distributed ranged prefix
    sum (never an unpartitioned window), a rank+1 equi-join for the
    inter-level widths, decimal-exact |cumA·n_b − cumB·n_a|·Δx terms,
    one terminal division sequence."""
    from ..operators.stats import wasserstein_1d

    events = load_table(spark, sf_dir, "events")
    return wasserstein_1d(events, "value", "event_type", "click", "purchase")


def q271_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trapezoidal time-weighted average of each user's value series —
    the irregular-sampling mean (plain avg overweights chatty
    periods). One user-partitioned window (lead) + one hash agg on
    the same key; every trapezoid term multiplies as decimal (cents ×
    µs overflows int64) and TWA is one three-op double sequence."""
    from ..operators.timeseries import time_weighted_avg

    events = load_table(spark, sf_dir, "events")
    return time_weighted_avg(events)


def q272_lag_cross_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lead–lag Pearson correlation between the click and error daily
    cent-total series at lags −3..+3 — 'do errors follow clicks?'.
    One (type, day) hash agg; the lag spine replicates the bounded
    daily table BEFORE a single grouped agg (one job, not 7);
    decimal-exact sufficient statistics, one double sequence per
    lag."""
    from ..operators.timeseries import lag_cross_correlation

    events = load_table(spark, sf_dir, "events")
    return lag_cross_correlation(events, "click", "error", max_lag=3)


def q269_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between lineitem quantity and discount points —
    the pair-concordance twin of q260's Spearman, on margins that are
    genuinely tie-dominated (50 × 11 grid). All pair counting runs on
    the 550-cell joint level table (cell self-join, decimal-exact
    products); tie terms from the two margins; one double sequence
    for τ."""
    from ..operators.stats import kendall_tau

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
    )
    return kendall_tau(li, "qty", "disc")


def q244_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix Xᵀ X over the 64-d embedding corpus —
    the PCA/whitening prep computed as per-partition dgemm partials +
    one (i,j) hash agg; the n×64 data never shuffles. 2,080
    upper-triangle entries out at any corpus size."""
    from ..operators.similarity import gram_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, dim=64)


def q240_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION through the keyed MERGE sink (Delta's
    mergeSchema on MERGE INTO): the state is created WITHOUT
    ``last_date`` (v1), then a CDC batch carrying the new column merges
    under the WIDENED declared schema — parquet's missing-column-reads-
    as-NULL gives every pre-evolution row a NULL ``last_date`` until a
    batch touches its key, exactly Delta's add-column semantics (no
    table rewrite: old files stay as written, the schema lives in the
    declared read — at 100 TB evolution is a metadata operation).
    Output: the full post-evolution state; never-updated keys keep the
    NULL, matched keys take the batch's date, inserted keys arrive
    complete. q136 covers mergeSchema on plain appends; this pins the
    MERGE path end-to-end (bucket pruning + dynamic overwrite + ledger
    machinery all run under the widened schema)."""
    from ..operators.merge import merge_write, src
    from ..operators.util import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    cut = "1997-01-01"
    state = scratch_dir("merge_evolve_state_")
    v1 = "custkey long, n_orders long"
    v2 = v1 + ", last_date date"
    base = _orders_digest(orders, None, cut).drop("total_cents", "last_date")
    merge_write(spark, state, base, ["custkey"], v1, n_buckets=8, batch_id=0)
    batch = _orders_digest(orders, cut, None).drop("total_cents")
    merge_write(
        spark,
        state,
        batch,
        ["custkey"],
        v2,
        n_buckets=8,
        update_set={
            "n_orders": F.col("n_orders") + src("n_orders"),
            "last_date": src("last_date"),
        },
        batch_id=1,
    )
    final = spark.read.schema(v2 + ", _bucket int").parquet(state)
    return final.select(
        "custkey",
        "n_orders",
        F.date_format("last_date", "yyyy-MM-dd").alias("last_date"),
    )


def q239_compact_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION (Delta OPTIMIZE / Iceberg
    rewrite_data_files) over a bucketed keyed state: the orders digest
    is deliberately sprayed (12 round-robin writer tasks ×
    partitionBy) so every ``_bucket=`` dir lands ~12 fragments — the
    small-files decay every long-lived sink accumulates — then
    ``compact_buckets`` rewrites each fragmented bucket to ONE file
    through a single hash exchange on _bucket. Output per bucket:
    row count + value digest (proving compaction moved, not mangled,
    the data — the oracle recomputes both straight from orders) plus
    the in-plan fragmentation booleans (was_fragmented,
    single_file_after — literal true in the oracle, the q15-style
    assertion pattern). Bucket fn here is custkey % 8 so the oracle
    can address buckets; merge_write's xxhash64 layout is exercised by
    q229/q234. File listing is driver-side but O(n_buckets); the data
    path is one exchange, cost ∝ fragmented buckets."""
    from ..operators.merge import compact_buckets
    from ..operators.util import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    digest = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
    ).withColumn(
        "_bucket", F.pmod(F.col("custkey"), F.lit(8)).cast("int")
    )
    state = scratch_dir("compact_state_")
    digest.repartition(12).write.mode("overwrite").partitionBy(
        "_bucket"
    ).parquet(state)
    schema = "custkey long, n_orders long, total_cents long"
    stats = compact_buckets(spark, state, schema)
    frag = spark.createDataFrame(
        [
            (b, before > 1, after == 1)
            for b, (before, after) in stats.items()
        ],
        "bucket int, was_fragmented boolean, single_file_after boolean",
    )
    final = spark.read.schema(schema + ", _bucket int").parquet(state)
    per_bucket = final.groupBy(F.col("_bucket").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n_orders").cast("long").alias("sum_orders"),
        F.round(F.sum("total_cents") / 100.0, 2).alias("total_price_sum"),
    )
    return per_bucket.join(F.broadcast(frag), on="bucket")


def q238_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality-reduction audit: project
    the 64-d embeddings to 16-d with the deterministic ±1 sign matrix
    (``similarity.jl_signs`` — md5-derived, a pure function of (d, k))
    and measure on a deterministic id-panel of within-label pairs how
    well scaled projected L2 preserves original L2 — the go/no-go a
    pipeline runs BEFORE committing its ANN index (q15/q27/q43) to a
    reduced space. One narrow codegen pass per panel vector (k·d
    multiply-adds, no UDF), label-equi self-join for pairs (never a
    cartesian), panel_mod the audit valve exactly as q231."""
    from ..operators.similarity import jl_distortion_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return jl_distortion_audit(emb, dim=64, k=16, panel_mod=5)


#: Poisson(1) pmf cumulative cutoffs as FIXED literals (not exp(-1)
#: expressions — libm exp differs by ulps across engines; a literal
#: parses to the identical double everywhere). P(X=0)..P(X≤5).
_POISSON_CUTS = (
    0.367879441,
    0.735758882,
    0.919698603,
    0.981011843,
    0.996340153,
    0.999405815,
)
_BOOT_B = 50


def q149_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap confidence interval for the
    per-type mean event value — the distributed-bootstrap standard: a
    row joins replicate b with multiplicity ~ Poisson(1), drawn by
    inverting fixed pmf cutoffs at a uniform derived from
    a slice of md5(g ':' event_id) — fully reproducible,
    engine-independent, no RNG state. One 128-bit digest yields FOUR
    32-bit uniforms (disjoint hex slices, replicate b = 4·g + j), so
    the scan computes ⌈B/4⌉ = 13 md5s per row instead of B = 50 —
    md5 dominates the per-row cost, the slice `conv` is noise. B = 50
    replicates materialize as one map-side explode chain (×B rows but
    only 3 small columns), one (type, b) hash agg of exact integer
    sums, then percentile over the B means per type.

    Replicate means are single divisions of exact longs; the 5%/95%
    interpolated percentiles run over the SAME 50 doubles in both
    engines, so the interpolation arithmetic is identical. At 100 TB
    the explode is the cost knob: B scales the map output linearly,
    nothing else grows."""
    from ..operators.util import ensure_parallelism

    # the ×B explode + md5 happen BEFORE any shuffle — a small events
    # file arriving as one parquet split would serialize the whole
    # hashing stage on one core (measured 3.7 s → 0.7 s at sf0.1);
    # on a real cluster the input is already split and this is a no-op
    events = ensure_parallelism(
        load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 1e2, 0).cast("long").alias("_v_e2"),
        )
    )
    n_groups = (_BOOT_B + 3) // 4
    groups = events.select(
        "event_type",
        "_v_e2",
        F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias("_g"),
        "event_id",
    )
    # digest is materialized as its OWN projection column so the md5
    # runs once per (row, g) — inside the transform lambda it would be
    # re-evaluated per slice (and CollapseProject never inlines
    # non-cheap exprs, so the projection boundary holds).
    with_digest = groups.withColumn(
        "_digest",
        F.md5(
            F.concat_ws(
                ":",
                F.col("_g").cast("string"),
                F.col("event_id").cast("string"),
            )
        ),
    )
    # four 32-bit uniforms per digest: hex chars [1,8], [9,16], [17,24],
    # [25,32]; replicate id b = 4*_g + j (trailing b >= B filtered out)
    u_slices = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda j: F.conv(
            F.substring(F.col("_digest"), j * F.lit(8) + 1, F.lit(8)), 16, 10
        ).cast("long")
        / F.lit(4294967296.0),
    )
    rep = (
        with_digest.select(
            "event_type",
            "_v_e2",
            "_g",
            F.posexplode(u_slices).alias("_j", "_u"),
        )
        .withColumn("_b", F.col("_g") * 4 + F.col("_j"))
        .filter(F.col("_b") < _BOOT_B)
    )
    u = F.col("_u")
    mult = F.when(u < _POISSON_CUTS[0], 0)
    for m, cut in enumerate(_POISSON_CUTS[1:], start=1):
        mult = mult.when(u < cut, m)
    mult = mult.otherwise(6).cast("long")
    means = (
        rep.select("event_type", "_b", "_v_e2", mult.alias("_m"))
        .groupBy("event_type", "_b")
        .agg(
            F.sum(F.col("_v_e2") * F.col("_m")).alias("_s"),
            F.sum("_m").alias("_n"),
        )
        # a replicate can draw multiplicity 0 for EVERY row of a sparse
        # type (probability e^-k per replicate) — its mean is undefined
        # (0/0: NULL in Spark, NaN in DuckDB, which quantile_cont sorts
        # ABOVE all reals). Drop empty replicates identically on both
        # sides; n_replicates reports the surviving count.
        .filter(F.col("_n") > 0)
        .select(
            "event_type",
            (
                F.col("_s").cast("double") / F.col("_n").cast("double")
                / F.lit(100.0)
            ).alias("_mean"),
        )
    )
    return means.groupBy("event_type").agg(
        F.count("*").alias("n_replicates"),
        F.round(F.expr("percentile(_mean, 0.05)"), 6).alias("mean_lo"),
        F.round(F.expr("percentile(_mean, 0.95)"), 6).alias("mean_hi"),
    )


#: BM25 query terms (fixed, present in the synthetic corpus vocabulary)
#: and the standard Okapi constants.
_BM25_TERMS = ("spark", "hash", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q130_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval over the documents table for a fixed
    3-term query — the ranked-search counterpart to q84's inverted
    index. Cross-engine determinism by construction: the classic
    log-idf is replaced by its rational core idf = (N − df + ½)/(df + ½)
    (log is monotone, so rankings are preserved; libm log differs by
    ulps across engines, rational ops are IEEE-exact), per-term scores
    are combined in FIXED textual order (float + is not associative),
    and the final score snaps to the 1e-4 grid before the
    (score desc, doc_id) row_number — integer-deterministic top-k.

    Plan: one explode filtered to the 3 terms (a pushed-down isin —
    the token exchange carries only matching rows), conditional-agg
    pivot to per-doc tf columns, 1-row global stats broadcast. At
    100 TB the per-term df/N stats come from the same scan, and the
    only shuffle is the (doc_id) tf aggregation."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("_t")
    )
    lens = docs.select(
        "doc_id", X.token_count(F.col("_t")).cast("long").alias("_dl")
    )
    toks = docs.select(
        "doc_id", F.explode(X.nonempty_tokens(F.col("_t"))).alias("_tok")
    ).filter(F.col("_tok").isin(*_BM25_TERMS))
    tf = (
        toks.groupBy("doc_id")
        .agg(*[
            F.sum(F.when(F.col("_tok") == t, 1).otherwise(0))
            .cast("long").alias(f"_tf_{t}")
            for t in _BM25_TERMS
        ])
    )
    stats = (
        lens.agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_dl").cast("long").alias("_sumdl"),
        )
    )
    dfs = toks.distinct().agg(*[
        F.sum(F.when(F.col("_tok") == t, 1).otherwise(0))
        .cast("long").alias(f"_df_{t}")
        for t in _BM25_TERMS
    ])
    avgdl = F.col("_sumdl").cast("double") / F.col("_n").cast("double")
    norm = 1 - _BM25_B + _BM25_B * (F.col("_dl").cast("double") / avgdl)

    def term_score(t: str):
        tf_c = F.coalesce(F.col(f"_tf_{t}"), F.lit(0)).cast("double")
        idf = (
            F.col("_n").cast("double") - F.col(f"_df_{t}").cast("double")
            + F.lit(0.5)
        ) / (F.col(f"_df_{t}").cast("double") + F.lit(0.5))
        return idf * (tf_c * (_BM25_K1 + 1)) / (tf_c + _BM25_K1 * norm)

    score = (
        term_score(_BM25_TERMS[0])
        + term_score(_BM25_TERMS[1])
        + term_score(_BM25_TERMS[2])
    )
    scored = (
        tf.join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
        .select(
            "doc_id",
            F.round(score * 1e4, 0).cast("long").alias("_s_e4"),
        )
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-20 then a 20-row driver merge — no global sort); the rank
    # window then runs over 20 rows, not the corpus.
    top = scored.orderBy(F.col("_s_e4").desc(), F.col("doc_id")).limit(20)
    w = Window.orderBy(F.col("_s_e4").desc(), F.col("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "doc_id",
            "rank",
            F.round(F.col("_s_e4") / 1e4, 4).alias("score"),
        )
    )


def q131_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs (C(A→B) =
    |S(A)∩S(B)|/|S(A)|): catches near-subset duplication — a short doc
    embedded in a longer one — that symmetric Jaccard (q17)
    under-scores by design. Same shared-shingle blocking + df-cap
    family as q17; integer counts, two exact divisions. See
    operators/dedup.containment_pairs for the scale posture."""
    from ..operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, k=3, threshold=0.6, max_df=100)


def q132_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (multilingual-corpus
    sampling à la T5/mT5): group weights ∝ n_g^α with α = 0.5 —
    up-samples small (lang, source) groups relative to proportional
    sampling. α = 0.5 is computed as sqrt, the ONE power IEEE
    guarantees correctly rounded (libm pow is not cross-engine
    stable); each sqrt snaps to a 1e-6 long grid so the total and the
    shares divide exact integers. target_docs redistributes the
    corpus size N over the groups by weight. One tiny two-level agg —
    at 100 TB this is a metadata query over the group histogram."""
    docs = load_table(spark, sf_dir, "documents")
    groups = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    s_e6 = F.round(
        F.sqrt(F.col("n_docs").cast("double")) * 1e6, 0
    ).cast("long")
    weighted = groups.select("lang", "source", "n_docs", s_e6.alias("_s"))
    totals = weighted.agg(
        F.sum("_s").alias("_tot_s"),
        F.sum("n_docs").alias("_tot_n"),
    )
    share = F.col("_s").cast("double") / F.col("_tot_s").cast("double")
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "source",
            "n_docs",
            F.round(share, 6).alias("weight"),
            F.round(share * F.col("_tot_n").cast("double"), 0)
            .cast("long").alias("target_docs"),
        )
    )







def q284_ndcg_label_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the exact cosine ranking against binary label-match
    relevance — "does embedding similarity retrieve same-label
    items?", the graded-retrieval twin of q283's recall row. Run =
    q13's cosine top-10 (rounded-sim rank keys, so the ranking is
    cross-engine stable); rel = candidate label == query label; the
    ideal pool is the query's label count in the WHOLE corpus. DCG on
    the integer-millionths discount grid (exact integer sums, one
    terminal division — see operators.ranking_eval)."""
    from ..operators.ranking_eval import ndcg_binary_at_k
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    run = cosine_topk(emb, queries, k=10)
    cl = emb.select("vec_id", F.col("label").alias("_cl"))
    ql = queries.select(
        F.col("query_id").alias("_qid"), F.col("label").alias("_ql")
    )
    graded = (
        run.join(cl, "vec_id")
        .join(ql, run["query_id"] == ql["_qid"])
        .select(
            "query_id",
            "rank",
            (F.col("_cl") == F.col("_ql")).cast("int").alias("rel"),
        )
    )
    pool = ql.join(
        F.broadcast(
            emb.groupBy("label").agg(
                F.count("*").cast("long").alias("n_rel_pool")
            )
        ),
        ql["_ql"] == F.col("label"),
    ).select(F.col("_qid").alias("query_id"), "n_rel_pool")
    return ndcg_binary_at_k(graded, pool).orderBy("query_id")


def q285_rbo_cosine_vs_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p = 0.9, truncated lower bound) between
    the exact cosine top-10 and a SCALAR-QUANTIZED dot-product
    retriever's top-10 (coordinates snapped to the 1e-1 grid — the
    cheap int-grid ranker a memory-bound serving tier would run) —
    "where in the ranking does quantization actually disagree?", the
    rank-weighted twin of q166's per-vector quantization error.
    The quantized scores are EXACT integer dot products (no float
    fold to drift), the cosine run reuses q13's rounded-sim
    contract, and the RBO weights are exact integers (rational p —
    see operators.ranking_eval); one terminal division per query."""
    from ..operators.ranking_eval import rbo_min_overlap
    from ..operators.similarity import cosine_topk
    from ..operators.util import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    run_a = cosine_topk(emb, queries, k=10)
    # float32 → float64 BEFORE the grid multiply (the embedding-ops
    # convention; a float32 product can snap onto an exact .5 and
    # flip the grid cell vs the oracle's DOUBLE[] arithmetic)
    quant = lambda c: F.transform(  # noqa: E731
        c, lambda x: F.round(x.cast("double") * 10).cast("long")
    )
    q = queries.select(
        "query_id", quant(F.col("embedding")).alias("_qq")
    )
    c = ensure_parallelism(emb).select(
        "vec_id", quant(F.col("embedding")).alias("_cq")
    )
    int_dot = F.aggregate(
        F.zip_with(F.col("_qq"), F.col("_cq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sims = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", int_dot.alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    run_b = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "rank")
    )
    return rbo_min_overlap(run_a, run_b).orderBy("query_id")


def q286_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT (H0: p=0.4 vs H1: p=0.6, α=β=0.05) on each event
    type's daily success stream (success = value ≥ 36.00, the global
    median — a near-fair coin, so the walk genuinely wanders before
    any boundary hit) — the always-on sequential monitor that stops
    as soon as |2k−n| hits the integer Wald boundary 8 (the ±ln 19
    thresholds reduce to an exact integer random walk; see
    operators.stats). First-crossing day and final decision per
    type; daily peeking schedule."""
    from ..operators.stats import sprt_daily_monitor

    events = load_table(spark, sf_dir, "events")
    return sprt_daily_monitor(events, success_cents=3600).orderBy(
        "event_type"
    )


def q287_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type sample autocorrelation of the daily cent-total series
    at lags 1..7 (per-lag Pearson over overlapping days — q272's
    cross-correlogram applied to self; lag 7 reads the weekly cycle
    next to q263's weekday indices). One (type, day) hash agg, one
    lag-spine replication into a single grouped agg, decimal-exact
    sufficient statistics, one double sequence per (type, lag)."""
    from ..operators.timeseries import acf_daily

    events = load_table(spark, sf_dir, "events")
    return acf_daily(events, max_lag=7).orderBy("event_type", "lag")


def q288_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity panel: token/type/hapax counts,
    TTR, hapax share, Herdan's C — the boilerplate-vs-varied-text
    audit a curator reads next to q205's Zipf slope. One
    (source, token) hash agg (the exchange carries vocabularies, not
    token streams), exact integer counts, terminal divisions."""
    from ..operators.textstats import lexical_diversity

    docs = load_table(spark, sf_dir, "documents")
    return lexical_diversity(docs).orderBy("source")


def q289_top_principal_component(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dominant eigenpair of the embedding Gram matrix by 6
    integer-renormalized power-iteration steps — the anisotropy audit
    ("how much variance-mass does ONE axis carry?") next to q204's
    per-dimension variances and q244's Gram. The corpus is read ONCE
    (exact integer Gram on the 1e-4 grid, d² cells, map-side partial
    agg); the iteration is 6 broadcast matvecs over the d-row vector
    plan with exact decimal sums and a deterministic ±10⁶ integer
    renormalization per step — no driver collect, reproducible
    bit-for-bit in the DuckDB oracle (see operators.spectral)."""
    from ..operators.spectral import top_principal_component

    emb = load_table(spark, sf_dir, "embeddings")
    return top_principal_component(emb, iters=6).orderBy("i")


def q290_seasonal_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the 1-day-naive forecaster against the 7-day
    seasonal-naive scale per event type — the scale-free forecast
    metric next to q226's MAPE backtest (< 1 ⇒ day-to-day signal
    beyond the weekly cycle). Exact integer absolute-difference sums
    from ONE {1,7}-spine equi-join on the daily cent table; one
    terminal division (see operators.timeseries)."""
    from ..operators.timeseries import seasonal_naive_mase

    events = load_table(spark, sf_dir, "events")
    return seasonal_naive_mase(events, season=7).orderBy("event_type")


def q291_whitening_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dimension correlation audit of the embedding space:
    off-diagonal-to-diagonal Gram Frobenius ratio, count of dimension
    pairs with |corr| ≥ 0.1, and the worst pair — "is this
    representation whitened?" next to q289's dominant eigenpair. One
    exact-integer Gram pass (the Arrow partial-XᵀX path), then
    d²-bounded arithmetic (see operators.spectral)."""
    from ..operators.spectral import whitening_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return whitening_audit(emb)


def q292_huber_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust daily trend via Huber loss with ONE IRLS
    reweight (δ = 50.00) — the outlier-clipped twin of the OLS fit
    between q08's closed form and q268's Theil–Sen. OLS from decimal
    sufficient statistics, residual-driven weights snapped to the
    1e-6 integer grid, exact-integer weighted refit; both slopes
    reported so the downweighting is visible (see operators.stats)."""
    from ..operators.stats import grouped_huber_irls

    events = load_table(spark, sf_dir, "events")
    return grouped_huber_irls(events, delta_cents=5000).orderBy(
        "event_type"
    )


def q293_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test per event type on the daily
    cent series — direction + tie-corrected normal score whose slope
    twin is q268's Theil–Sen. S and the 18-scaled variance are exact
    integers from the calendar-bounded daily table (pair join ≤
    days², never the corpus); z is one double sequence (see
    operators.stats)."""
    from ..operators.stats import mann_kendall_daily

    events = load_table(spark, sf_dir, "events")
    return mann_kendall_daily(events).orderBy("event_type")


def q294_cuped_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED pre-period adjustment audit per event type (calendar
    split at Jan 16): θ = cov(pre, post)/var(pre) over per-USER cent
    totals and the variance reduction 100·corr² it buys — the
    experiment-sizing number next to q180's χ² and q286's SPRT. One
    (type, user) hash agg, decimal second moments, one double
    sequence per type (see operators.stats)."""
    from ..operators.stats import cuped_variance_reduction

    events = load_table(spark, sf_dir, "events")
    return cuped_variance_reduction(events).orderBy("event_type")


def q295_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily sample-ratio-mismatch guardrail: md5-bucket (q48's
    portable hash, mod 2) 50/50 user split, per-day distinct-user
    counts per arm, χ² = (n_a−n_b)²/(n_a+n_b) vs the α=0.05 critical
    value — the trust gate every A/B readout runs first (see
    operators.stats)."""
    from ..operators.stats import srm_daily_check

    events = load_table(spark, sf_dir, "events")
    return srm_daily_check(events).orderBy("day")


def q296_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio of daily event counts per type — the
    Poisson-vs-bursty overdispersion check read before rate modeling
    (≫ 1 ⇒ negative-binomial / q276's burst scan). Exact integer
    daily counts, one double sequence per type (see
    operators.stats)."""
    from ..operators.stats import dispersion_index

    events = load_table(spark, sf_dir, "events")
    return dispersion_index(events).orderBy("event_type")


def q297_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-sizing table per event type: the minimal detectable
    effect of a 50/50 user-randomized test at α=0.05 / 80% power over
    per-user cent totals — read WITH q294 (CUPED multiplies these by
    √(1−corr²)). Units exchange, decimal second moments, shared
    z-quantile literals (no inverse-CDF transcendentals); one double
    sequence per type (see operators.stats)."""
    from ..operators.stats import mde_power_table

    events = load_table(spark, sf_dir, "events")
    return mde_power_table(events).orderBy("event_type")


def q298_ratio_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method 95% CI for cents-per-event with per-USER
    clustering — the correct interval for ratio metrics (revenue per
    click), where users, not events, are the randomization unit. One
    (type, user) hash agg, five decimal second moments, one double
    sequence (see operators.stats)."""
    from ..operators.stats import ratio_metric_ci

    events = load_table(spark, sf_dir, "events")
    return ratio_metric_ci(events).orderBy("event_type")


def q299_mixture_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of q132's temperature-sampling
    mixture weights (α=0.5 over (lang, source) groups): ESS =
    (Σw)²/Σw² and the design-effect ratio ESS/n — "how many
    effectively-distinct groups does this mixture sample from?".
    Weights on q132's exact 1e-6 sqrt grid, decimal sums, one
    terminal division (see operators.sampling)."""
    from ..operators.sampling import effective_sample_size

    docs = load_table(spark, sf_dir, "documents")
    groups = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    weighted = groups.select(
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("_s")
    )
    return effective_sample_size(weighted, "_s")


def q300_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley mean-shift alarm per event type on the daily cent
    series (δ=5.00, λ=100.00) — the running-mean online drift
    detector beside q266's global-mean CUSUM and q275's offline
    changepoint. Per-row cent snap is the only float step; the
    running deviation, its running min, and the first λ-crossing are
    exact integer window arithmetic over the calendar-bounded daily
    table (see operators.timeseries)."""
    from ..operators.timeseries import page_hinkley_daily

    events = load_table(spark, sf_dir, "events")
    return page_hinkley_daily(events).orderBy("event_type")


def q301_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end (the q267 PNG contract, audio
    edition): every 5th document becomes a genuine RIFF/WAVE 16-bit
    PCM container (stdlib ``wave`` writer, closed-form samples
    s(t) = ((1234t + 57·id) mod 4096) − 2048), which
    ``decode_wav_stats`` then fully parses back (stdlib chunk walk —
    truncated containers raise) into exact integer stats + the
    50%-overlap frame count. The oracle never sees a byte: it
    recomputes every sum from the same arithmetic over a bounded
    sample spine. The payload column never shuffles — both
    mapInPandas steps run on the scan's partitions and only
    8-integer stat rows flow on."""
    from ..operators.multimodal import decode_wav_stats, synth_wav_corpus

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    return decode_wav_stats(synth_wav_corpus(docs))


def q302_bigram_lm_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring per language slice (q109's KenLM-shaped
    filter, one context level up): add-one-smoothed p(b|a) trained on
    the md5 train split, every language scored by its mean bigram NLL
    — the "which language does this corpus model actually speak?"
    panel. Each distinct bigram's NLL snaps once to the 1e-6 integer
    grid on the level table, so all corpus sums are order-free exact
    integers; one terminal division per language (see
    operators.textstats.bigram_lm_lang_scores)."""
    from ..operators.textstats import bigram_lm_lang_scores

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_lang_scores(docs).orderBy("lang")


def q303_stream_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q295's SRM guardrail as an always-on STREAM: per-(day, user)
    exactly-once units (dropDuplicatesWithinWatermark) chained into a
    watermark-gated daily window count per md5 arm — two stateful
    operators in one query, the Spark 4 multi-stateful pipeline —
    then χ² on the emitted windows. The oracle reproduces the dedup,
    the split, the χ², AND the availableNow cutoff (window end ≤
    max(ts) − 1 day), pinning the eviction arithmetic (the q270
    convention)."""
    from ..streaming.dedup import stream_srm_daily

    return stream_srm_daily(spark, f"{sf_dir}/events.parquet")


def q304_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration distributed Lloyd k-means (k=8, 2 update
    rounds, deterministic mod-k init — the q134 fixed-iteration
    convention) over the embedding corpus: per-cluster size + exact
    1e-6-grid inertia. The IVF codebook trainer (q27) promoted to a
    first-class, oracle-audited operator; per round the corpus is
    scanned map-side against broadcast k×d centroids and only
    k·d-sized partials shuffle (see operators/clustering.py)."""
    from ..operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=8, iters=2)


def q305_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: (lang, length-band, prefix)
    blocking → exact JVM Levenshtein verify on survivors only, sim =
    1 − lev/max(len) ≥ 0.9 over the lowercased first 120 chars — the
    exact verify stage the fingerprint blockers (q16/q21) hand their
    candidates to. 6.2k scored pairs vs 12.5M all-pairs at sf0.1."""
    from ..operators.dedup import editdist_neardup

    docs = load_table(spark, sf_dir, "documents")
    return editdist_neardup(docs)


def q306_silhouette_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified) silhouette per label: a/b squared
    distances to own/nearest-other label centroid, s=(b−a)/max(a,b),
    snapped means on the 1e-6 integer grid — the O(N·k) clustering
    quality audit that replaces the O(N²) classic at corpus scale."""
    from ..operators.clustering import silhouette_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return silhouette_audit(emb)


def q307_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the mutual-kNN semantic graph
    (q173's edges): score non-edges by Σ 1/ln(deg) over common
    neighbors, 1e-6-grid exact sums, top 20 — which near-misses
    should the kNN have connected?"""
    from ..operators.graph import adamic_adar_linkpred
    from ..operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_graph(emb, k=5).filter(F.col("mutual")).select(
        "src", "dst"
    )
    return adamic_adar_linkpred(edges, top_n=20)


def q308_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduction ratio + pair completeness of the q305 blocking
    scheme, measured against all-pairs exact Levenshtein ground truth
    on the deterministic 1/4 id-hash audit panel (the q282
    recall-record pattern): one summary row with integer counts and
    two terminal-division ratios."""
    from ..operators.dedup import blocking_quality

    docs = load_table(spark, sf_dir, "documents")
    return blocking_quality(docs, audit_mod=4)


def q309_tpch_potential_promotion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion), adapted to the
    lineitem-observed supply relation (no partsupp table in this
    schema): per nation, the suppliers whose 1999 shipped quantity of
    PROMO-type parts exceeds half the per-supplier average — the
    candidates who can stock a promotion. Quantities ride the exact
    1e-2 grid; the scalar threshold is one exact integer ratio
    broadcast to a map-side filter; part and nation broadcast."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1999-01-01")
        & (F.col("l_shipdate") < "2000-01-01")
    ).select("l_partkey", "l_suppkey", "l_quantity")
    qty_e2 = F.round(F.col("l_quantity") * 1e2, 0).cast("long")
    per_supp = (
        lineitem.join(
            F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"]
        )
        .groupBy("l_suppkey")
        .agg(F.sum(qty_e2).alias("_q"))
    )
    thresh = per_supp.agg(
        (0.5 * F.sum("_q") / F.count(F.lit(1))).alias("_thr")
    )
    return (
        per_supp.crossJoin(F.broadcast(thresh))
        .filter(F.col("_q").cast("double") > F.col("_thr"))
        .join(
            F.broadcast(supplier),
            per_supp["l_suppkey"] == supplier["s_suppkey"],
        )
        .join(
            F.broadcast(nation),
            supplier["s_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numsupp"),
            F.sum("_q").alias("_tq"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "numsupp",
            F.round(F.col("_tq") / 1e2, 2).alias("total_qty"),
        )
        .orderBy("nation")
    )


def q310_stream_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming per-day top-3 event types: watermark-gated 1-day
    window counts in append mode (a day emits once, when the
    watermark proves it closed) + a per-day rank over the emitted
    rows — q161's heavy-hitter report as an always-on monitor with
    watermark-bounded state. The oracle reproduces the counts, the
    rank, AND the availableNow cutoff (the q270/q303 convention)."""
    from ..streaming.dedup import stream_heavy_hitters

    return stream_heavy_hitters(spark, f"{sf_dir}/events.parquet", k=3)


def q311_tpch_returned_items(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q10 shape (returned item reporting): top-20 customers by
    lost revenue on returned lineitems (l_returnflag = 'R') for
    orders in 1999-H1, with nation attached. Fact-side filters push
    to the scans; customer/nation broadcast; 1e-4-grid revenue."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1999-01-01")
        & (F.col("o_orderdate") < "1999-07-01")
    ).select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e4, 0
    ).cast("long")
    return (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev_e4).alias("_r"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.col("n_name").alias("nation"),
            F.round(F.col("_r") / 1e4, 2).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("custkey").asc())
        .limit(20)
    )


def q312_neyman_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman-optimal stratified sample allocation over the corpus:
    per-lang stratum size and exact-grid population std of n_chars,
    then n_h = ⌊1000 · N_h·σ_h / Σ N_h·σ_h⌋ — the variance-optimal
    sampling plan (vs q172's plain proportional split) every
    corpus-QA sampler should start from. Stratum moments are exact
    integer sums; σ snaps to 6 dp; the N·σ products ride the 1e-6
    grid as exact longs so the allocation denominator is
    order-free."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    strata = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("_sx"),
        F.sum(
            (F.col("n_chars") * F.col("n_chars")).cast("long")
        ).alias("_sx2"),
    )
    var = (
        F.col("n_docs") * F.col("_sx2") - F.col("_sx") * F.col("_sx")
    ).cast("double") / (F.col("n_docs") * F.col("n_docs")).cast(
        "double"
    )
    sd = F.round(F.sqrt(var), 6)
    weighted = strata.select(
        "lang",
        "n_docs",
        sd.alias("sd_chars"),
        (
            F.round(sd * 1e6, 0).cast("long") * F.col("n_docs")
        ).alias("_w"),
    )
    denom = weighted.agg(F.sum("_w").alias("_wsum"))
    return (
        weighted.crossJoin(F.broadcast(denom))
        .select(
            "lang",
            "n_docs",
            "sd_chars",
            F.round(
                F.col("_w").cast("double") / F.col("_wsum"), 6
            ).alias("alloc_share"),
            F.floor(1000 * F.col("_w") / F.col("_wsum"))
            .cast("long")
            .alias("alloc_n"),
        )
        .orderBy("lang")
    )


def q313_tpch_parts_supplier_relation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    supplier count per (p_brand, p_size) over the lineitem-observed
    part↔supplier associations, excluding Brand#1 and suppliers in
    deficit (s_acctbal < 0 — the complaints-list analog, a NOT-IN
    rewritten as a broadcast anti-join). The association dedup is one
    hash agg on (partkey, suppkey) — never an all-pairs step."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") != "Brand#1"
    ).select("p_partkey", "p_brand", "p_size")
    supplier_bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("_bad"))
    assoc = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        assoc.join(
            F.broadcast(supplier_bad),
            assoc["l_suppkey"] == F.col("_bad"),
            how="left_anti",
        )
        .join(
            F.broadcast(part), assoc["l_partkey"] == part["p_partkey"]
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .select(
            F.col("p_brand").alias("brand"),
            F.col("p_size").cast("int").alias("size"),
            "supplier_cnt",
        )
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("brand").asc(),
            F.col("size").asc(),
        )
    )


def q314_tpch_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): per-nation count +
    total balance of customers with above-average positive balance
    and NO orders at all (broadcast-threshold scalar + anti-join).
    The threshold is an exact integer ratio (1e-4-grid sum / count)
    so the comparison is reproducible; balances sum on the same
    grid."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    bal_e4 = F.round(F.col("c_acctbal") * 1e4, 0).cast("long")
    thresh = customer.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(bal_e4) / (1e4 * F.count(F.lit(1)))).alias("_avg")
    )
    return (
        customer.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(
            orders,
            customer["c_custkey"] == orders["o_custkey"],
            how="left_anti",
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(bal_e4).alias("_b"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "numcust",
            F.round(F.col("_b") / 1e4, 2).alias("totacctbal"),
        )
        .orderBy("nation")
    )


def q315_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity (l=2) audit over the (lang, length-band)
    quasi-identifier with `source` as the sensitive attribute —
    k-anonymity's attribute-disclosure sibling (q278 measures cell
    SIZE; this measures cell VARIETY). Two hash aggs, cells never
    leave the executors."""
    from ..operators.audit import l_diversity_audit

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.expr("n_chars div 500").alias("band"), "source"
    )
    return l_diversity_audit(
        docs, ["lang", "band"], "source", l=2
    ).orderBy("grp")


def q316_geometric_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label geometric median by 2 fixed Weiszfeld steps from the
    quantized mean (1e-3-grid weights with the standard ε-clamp,
    exact long numerators, one terminal division per (label, dim)) —
    the robust centroid the mean-based q69/q162 panels need beside
    them; mean distance to the median is the robust dispersion."""
    from ..operators.clustering import geometric_median

    emb = load_table(spark, sf_dir, "embeddings")
    return geometric_median(emb, iters=2)


def q317_mahalanobis_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 embedding outliers by diagonal-covariance Mahalanobis
    distance: per-dim μ/σ² from exact integer component moments
    (d-row stats table broadcast back to a map-side scoring pass),
    per-dim terms snapped to the 1e-6 grid so the score sum is
    order-free."""
    from ..operators.clustering import mahalanobis_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    return mahalanobis_outliers(emb, top_n=20)


def q318_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen for the A/B suite: mean value per
    event by md5 arm, pooled vs per-event_type segment — a segment
    whose delta sign opposes the pooled sign is the aggregation trap
    every experiment readout must check. Signs are EXACT integers
    (sign(s_a·n_b − s_b·n_a) — no division), means are exact cent
    ratios; one events scan, two hash aggs."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    from ..operators.sampling import hash_bucket

    cents = F.round(F.col("value") * 1e2, 0).cast("long")
    base = events.select(
        F.col("event_type").alias("segment"),
        (hash_bucket(F.col("user_id"), 2) == 0).alias("_is_a"),
        cents.alias("_c"),
    )
    seg = base.groupBy("segment").agg(
        F.sum(F.when(F.col("_is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(~F.col("_is_a"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("_is_a"), F.col("_c")).otherwise(0)).alias(
            "_sa"
        ),
        F.sum(
            F.when(~F.col("_is_a"), F.col("_c")).otherwise(0)
        ).alias("_sb"),
    )
    pooled = seg.agg(
        F.sum("n_a").alias("_pna"),
        F.sum("n_b").alias("_pnb"),
        F.sum("_sa").alias("_psa"),
        F.sum("_sb").alias("_psb"),
    )
    seg_sign = F.signum(
        (
            F.col("_sa") * F.col("n_b") - F.col("_sb") * F.col("n_a")
        ).cast("double")
    ).cast("int")
    pooled_sign = F.signum(
        (
            F.col("_psa") * F.col("_pnb")
            - F.col("_psb") * F.col("_pna")
        ).cast("double")
    ).cast("int")
    mean = lambda s, n: F.when(  # noqa: E731 — tiny local shorthand
        F.col(n) > 0, F.round(F.col(s) / (1e2 * F.col(n)), 6)
    )
    return (
        seg.crossJoin(F.broadcast(pooled))
        .select(
            "segment",
            "n_a",
            "n_b",
            mean("_sa", "n_a").alias("mean_a"),
            mean("_sb", "n_b").alias("mean_b"),
            seg_sign.alias("seg_sign"),
            pooled_sign.alias("pooled_sign"),
            (seg_sign * pooled_sign < 0).alias("simpson_flag"),
        )
        .orderBy("segment")
    )


def q319_robust_dim_scaler(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension robust-scaling audit: exact DISCRETE median/IQR
    (k-th smallest on the 1e-6 component grid, no interpolation) and
    integer-arithmetic 1.5·IQR outlier counts — q204's mean/variance
    panel made outlier-proof."""
    from ..operators.clustering import robust_dim_scaler

    emb = load_table(spark, sf_dir, "embeddings")
    return robust_dim_scaler(emb)


def q320_tpch_shipdelay_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 shape adapted to this schema (no l_shipmode /
    commit dates): order-to-ship delay buckets × order-priority
    class — did slow shipping hit the urgent orders? One join, one
    low-cardinality hash agg, exact integer counts."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    delay = F.datediff("l_shipdate", "o_orderdate")
    bucket = (
        F.when(delay < 30, "lt30")
        .when(delay < 90, "d30to89")
        .otherwise("ge90")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("long")
            .alias("low_count"),
        )
        .orderBy("delay_bucket")
    )


def q321_tpch_min_cost_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier), adapted to the
    lineitem-observed supply relation: for every size-10 part, the
    supplier with the lowest average observed unit price. The
    correlated-min-subquery pattern as a partial-aggregatable
    max(struct) argmin — no window over the corpus, no re-join of the
    subquery (the spec's WHERE ps_supplycost = (SELECT min…) shape).
    Unit prices ride the 1e-4 grid; the per-(part, supplier) average
    re-snaps to one exact long so the argmin compares integers."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") == 10
    ).select("p_partkey", "p_brand")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 0
    ).select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    unit_e4 = F.round(
        F.col("l_extendedprice") / F.col("l_quantity") * 1e4, 0
    ).cast("long")
    per = (
        lineitem.join(
            F.broadcast(part), lineitem["l_partkey"] == part["p_partkey"]
        )
        .groupBy("p_partkey", "p_brand", "l_suppkey")
        .agg(
            F.round(
                F.sum(unit_e4) / F.count(F.lit(1)), 0
            )
            .cast("long")
            .alias("_avg_e4")
        )
    )
    best = F.min(F.struct("_avg_e4", "l_suppkey")).alias("_b")
    return (
        per.groupBy("p_partkey", "p_brand")
        .agg(best)
        .join(
            F.broadcast(supplier),
            F.col("_b.l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier"),
            F.round(F.col("_b._avg_e4") / 1e4, 4).alias("best_price"),
        )
        .orderBy("partkey")
    )


def q322_editdist_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transitive clustering of the q305 edit-distance near-dup pairs
    (connected components, min-label) — the pipeline tail that turns
    pairwise char-level verification into collapsible groups, exactly
    as q47 does for the n-gram Jaccard pairs. Oracle composes the
    q305 pair SQL with the recursive-CTE closure."""
    from ..operators.dedup import connected_components, editdist_neardup

    docs = load_table(spark, sf_dir, "documents")
    pairs = editdist_neardup(docs).select("id_a", "id_b")
    comp = connected_components(pairs)
    from pyspark.sql import Window

    size = F.count(F.lit(1)).over(
        Window.partitionBy("component")
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        size.cast("int").alias("cluster_size"),
    ).orderBy("doc_id")


def q323_pipeline_stage_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stage-by-stage lineage fingerprints of an ingest→filter→dedup
    pipeline in ONE job: three Observations (q135's mechanism) attach
    (row count, commutative md5-xor checksum) to each stage of one
    flowing plan, so the audit costs zero extra scans — the
    Spark-native chain-of-custody a pipeline release wants (q139's
    replica checksum, applied per STAGE instead of per table). The
    xor digest is order/partition-insensitive by construction."""
    from pyspark.sql import Observation

    digest = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
        16,
        10,
    ).cast("long")

    def _obs(df, name):
        ob = Observation(name)
        return (
            df.observe(
                ob,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(digest), F.lit(0)).alias("x"),
            ),
            ob,
        )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    ingest, ob1 = _obs(docs, "ingest")
    filtered, ob2 = _obs(
        ingest.filter(F.col("n_chars") >= 100), "filter"
    )
    deduped = filtered.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("_fp")
    ).agg(F.min("doc_id").alias("doc_id"))
    final, ob3 = _obs(deduped, "dedup")
    final.write.format("noop").mode("overwrite").save()
    rows = [
        ("1_ingest", int(ob1.get["n"]), int(ob1.get["x"])),
        ("2_filter", int(ob2.get["n"]), int(ob2.get["x"])),
        ("3_dedup", int(ob3.get["n"]), int(ob3.get["x"])),
    ]
    return spark.createDataFrame(
        rows, "stage string, n_rows long, checksum long"
    )


QUERIES_IMPL: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_trailing_window_avg": q01_trailing_window_avg,
    "q02_groupby_mean": q02_groupby_mean,
    "q03_daily_downsample": q03_daily_downsample,
    "q04_filter_project": q04_filter_project,
    "q05_union_all": q05_union_all,
    "q06_orderby_topk": q06_orderby_topk,
    "q07_alpha_lead": q07_alpha_lead,
    "q08_ols_forecast": q08_ols_forecast,
    "q09_price_batch": q09_price_batch,
    "q10_bootstrap_annual": q10_bootstrap_annual,
    "q11_dedup_exact": q11_dedup_exact,
    "q12_text_stats": q12_text_stats,
    "q13_ann_cosine_topk": q13_ann_cosine_topk,
    "q14_embedding_neardup": q14_embedding_neardup,
    "q15_lsh_topk": q15_lsh_topk,
    "q16_minhash_dedup": q16_minhash_dedup,
    "q17_ngram_jaccard": q17_ngram_jaccard,
    "q18_lang_quality": q18_lang_quality,
    "q19_streaming_daily": q19_streaming_daily,
    "q20_multimodal_meta": q20_multimodal_meta,
    "q21_simhash_neardup": q21_simhash_neardup,
    "q22_sessionize": q22_sessionize,
    "q23_rollup_daily": q23_rollup_daily,
    "q24_asof_join": q24_asof_join,
    "q25_rolling_fingerprint": q25_rolling_fingerprint,
    "q26_bpe_tokens": q26_bpe_tokens,
    "q27_ivf_topk": q27_ivf_topk,
    "q28_stream_sessionize": q28_stream_sessionize,
    "q29_approx_stats": q29_approx_stats,
    "q30_pivot_daily": q30_pivot_daily,
    "q31_percentiles": q31_percentiles,
    "q32_json_extract": q32_json_extract,
    "q33_sql_text": q33_sql_text,
    "q34_semi_anti_join": q34_semi_anti_join,
    "q35_moving_average": q35_moving_average,
    "q36_stats_aggregates": q36_stats_aggregates,
    "q37_string_funcs": q37_string_funcs,
    "q38_token_frequencies": q38_token_frequencies,
    "q39_intersect_except": q39_intersect_except,
    "q40_latest_event": q40_latest_event,
    "q41_cube_daily": q41_cube_daily,
    "q42_range_join": q42_range_join,
    "q43_embedding_lsh_neardup": q43_embedding_lsh_neardup,
    "q44_stream_dedup": q44_stream_dedup,
    "q45_session_window": q45_session_window,
    "q46_sentence_udtf": q46_sentence_udtf,
    "q47_dedup_clusters": q47_dedup_clusters,
    "q48_hash_split": q48_hash_split,
    "q49_topk_per_group": q49_topk_per_group,
    "q50_stratified_sample": q50_stratified_sample,
    "q51_tfidf_topterms": q51_tfidf_topterms,
    "q52_pack_chunks": q52_pack_chunks,
    "q53_constraint_audit": q53_constraint_audit,
    "q54_decontamination": q54_decontamination,
    "q55_repetition_filters": q55_repetition_filters,
    "q56_mixture_plan": q56_mixture_plan,
    "q57_top_quality": q57_top_quality,
    "q58_curation_pipeline": q58_curation_pipeline,
    "q59_tpch_local_supplier_volume": q59_tpch_local_supplier_volume,
    "q60_tpch_shipping_priority": q60_tpch_shipping_priority,
    "q61_change_compaction": q61_change_compaction,
    "q62_gap_fill_ffill": q62_gap_fill_ffill,
    "q63_reaggregatable_partials": q63_reaggregatable_partials,
    "q64_funnel_conversion": q64_funnel_conversion,
    "q65_retention_cohorts": q65_retention_cohorts,
    "q66_hopping_window": q66_hopping_window,
    "q67_period_over_period": q67_period_over_period,
    "q68_zscore_anomaly": q68_zscore_anomaly,
    "q69_label_centroids": q69_label_centroids,
    "q70_dau_wau_stickiness": q70_dau_wau_stickiness,
    "q71_transition_matrix": q71_transition_matrix,
    "q72_value_quartile_bands": q72_value_quartile_bands,
    "q73_time_to_convert": q73_time_to_convert,
    "q74_tpch_pricing_summary": q74_tpch_pricing_summary,
    "q75_tpch_revenue_change": q75_tpch_revenue_change,
    "q76_skew_salted_agg": q76_skew_salted_agg,
    "q77_scd2_intervals": q77_scd2_intervals,
    "q78_full_outer_reconcile": q78_full_outer_reconcile,
    "q79_grouping_sets": q79_grouping_sets,
    "q80_embedding_quantize": q80_embedding_quantize,
    "q81_chunk_overlap": q81_chunk_overlap,
    "q82_pseudonymize": q82_pseudonymize,
    "q83_semantic_curation": q83_semantic_curation,
    "q84_inverted_index": q84_inverted_index,
    "q85_winsorize": q85_winsorize,
    "q86_cdc_upsert_apply": q86_cdc_upsert_apply,
    "q87_distribution_windows": q87_distribution_windows,
    "q88_frame_sample": q88_frame_sample,
    "q89_byte_histogram": q89_byte_histogram,
    "q90_pandas_udf_scalar": q90_pandas_udf_scalar,
    "q91_stream_static_join": q91_stream_static_join,
    "q92_stream_stream_join": q92_stream_stream_join,
    "q93_tpch_promo_revenue": q93_tpch_promo_revenue,
    "q94_price_batch_status": q94_price_batch_status,
    "q95_csv_roundtrip": q95_csv_roundtrip,
    "q96_json_relational": q96_json_relational,
    "q97_materialize_cache": q97_materialize_cache,
    "q98_stream_price_status": q98_stream_price_status,
    "q99_bucketed_join": q99_bucketed_join,
    "q100_salted_join": q100_salted_join,
    "q101_line_dedup": q101_line_dedup,
    "q102_export_manifest": q102_export_manifest,
    "q103_dataset_card": q103_dataset_card,
    "q104_robust_outliers": q104_robust_outliers,
    "q105_session_funnel": q105_session_funnel,
    "q106_pii_scrub": q106_pii_scrub,
    "q107_equidepth_histogram": q107_equidepth_histogram,
    "q108_rest_ingest": q108_rest_ingest,
    "q109_unigram_lm_score": q109_unigram_lm_score,
    "q110_leakage_safe_split": q110_leakage_safe_split,
    "q111_bloom_semi_join": q111_bloom_semi_join,
    "q112_epoch_upsample": q112_epoch_upsample,
    "q113_tpch_large_orders": q113_tpch_large_orders,
    "q114_tpch_churned_customers": q114_tpch_churned_customers,
    "q115_pq_topk": q115_pq_topk,
    "q116_stream_upsert": q116_stream_upsert,
    "q117_embedding_standardize": q117_embedding_standardize,
    "q118_backfill_range": q118_backfill_range,
    "q119_incremental_view": q119_incremental_view,
    "q120_cogroup_conversion": q120_cogroup_conversion,
    "q121_tpch_order_priority": q121_tpch_order_priority,
    "q122_tpch_volume_shipping": q122_tpch_volume_shipping,
    "q123_tpch_market_share": q123_tpch_market_share,
    "q124_tpch_product_profit": q124_tpch_product_profit,
    "q125_tpch_customer_distribution": q125_tpch_customer_distribution,
    "q126_tpch_top_supplier": q126_tpch_top_supplier,
    "q127_tpch_small_quantity_revenue": q127_tpch_small_quantity_revenue,
    "q128_tpch_disjunctive_revenue": q128_tpch_disjunctive_revenue,
    "q129_tpch_sole_returning_supplier": q129_tpch_sole_returning_supplier,
    "q130_bm25_topk": q130_bm25_topk,
    "q131_containment_dedup": q131_containment_dedup,
    "q132_mixture_temperature": q132_mixture_temperature,
    "q133_arrow_byte_stats": q133_arrow_byte_stats,
    "q134_pagerank_fixed": q134_pagerank_fixed,
    "q135_observed_metrics": q135_observed_metrics,
    "q136_schema_evolution": q136_schema_evolution,
    "q137_ngram_novelty": q137_ngram_novelty,
    "q138_unpivot_daily": q138_unpivot_daily,
    "q139_table_checksum": q139_table_checksum,
    "q140_set_ops_all": q140_set_ops_all,
    "q141_lateral_topk": q141_lateral_topk,
    "q142_time_range_frame": q142_time_range_frame,
    "q143_window_funcs_complete": q143_window_funcs_complete,
    "q144_nullsafe_join": q144_nullsafe_join,
    "q145_bpe_pair_counts": q145_bpe_pair_counts,
    "q146_market_basket": q146_market_basket,
    "q147_python_datasource": q147_python_datasource,
    "q148_variant_json": q148_variant_json,
    "q149_bootstrap_ci": q149_bootstrap_ci,
    "q150_skew_diagnostics": q150_skew_diagnostics,
    "q151_filtered_ann": q151_filtered_ann,
    "q152_rrf_hybrid": q152_rrf_hybrid,
    "q153_fk_integrity": q153_fk_integrity,
    "q154_sorted_shards": q154_sorted_shards,
    "q155_weighted_sample": q155_weighted_sample,
    "q156_corpus_diff": q156_corpus_diff,
    "q157_byte_shards": q157_byte_shards,
    "q158_dup_spans": q158_dup_spans,
    "q159_importance_weights": q159_importance_weights,
    "q160_entity_resolution": q160_entity_resolution,
    "q161_heavy_hitters": q161_heavy_hitters,
    "q162_centroid_assign": q162_centroid_assign,
    "q163_token_fertility": q163_token_fertility,
    "q164_dedup_eval": q164_dedup_eval,
    "q165_incremental_dedup": q165_incremental_dedup,
    "q166_int8_quant_error": q166_int8_quant_error,
    "q167_column_profile": q167_column_profile,
    "q168_phrase_search": q168_phrase_search,
    "q169_pmi_collocations": q169_pmi_collocations,
    "q170_hll_distinct": q170_hll_distinct,
    "q171_triangle_count": q171_triangle_count,
    "q172_stratified_split": q172_stratified_split,
    "q173_knn_graph": q173_knn_graph,
    "q174_multitouch_attribution": q174_multitouch_attribution,
    "q175_token_budget": q175_token_budget,
    "q176_ks_test": q176_ks_test,
    "q177_zone_map": q177_zone_map,
    "q178_cms_sketch": q178_cms_sketch,
    "q179_path_trigrams": q179_path_trigrams,
    "q180_chi2_ab": q180_chi2_ab,
    "q181_rfm_segments": q181_rfm_segments,
    "q182_mrl_audit": q182_mrl_audit,
    "q183_vocab_oov": q183_vocab_oov,
    "q184_centroid_drift": q184_centroid_drift,
    "q185_activity_streaks": q185_activity_streaks,
    "q186_hard_negatives": q186_hard_negatives,
    "q187_cohort_retention": q187_cohort_retention,
    "q188_calibration_bins": q188_calibration_bins,
    "q189_knn_label_agreement": q189_knn_label_agreement,
    "q190_normalized_dedup": q190_normalized_dedup,
    "q191_nucleus_vocab": q191_nucleus_vocab,
    "q192_prefix_paths": q192_prefix_paths,
    "q193_cohens_kappa": q193_cohens_kappa,
    "q194_char_entropy": q194_char_entropy,
    "q195_canonical_docs": q195_canonical_docs,
    "q196_degree_histogram": q196_degree_histogram,
    "q197_bitmap_distinct": q197_bitmap_distinct,
    "q198_cross_source_overlap": q198_cross_source_overlap,
    "q199_char_trigram_profile": q199_char_trigram_profile,
    "q200_join_cardinality": q200_join_cardinality,
    "q201_sparse_cosine_pairs": q201_sparse_cosine_pairs,
    "q202_consistent_hash": q202_consistent_hash,
    "q203_gap_histogram": q203_gap_histogram,
    "q204_dim_variance": q204_dim_variance,
    "q205_zipf_slope": q205_zipf_slope,
    "q206_distinctive_terms": q206_distinctive_terms,
    "q207_psi_drift": q207_psi_drift,
    "q208_norm_audit": q208_norm_audit,
    "q209_session_durations": q209_session_durations,
    "q210_hashed_classifier": q210_hashed_classifier,
    "q211_label_propagation": q211_label_propagation,
    "q212_dpp_prune": q212_dpp_prune,
    "q213_source_minhash": q213_source_minhash,
    "q214_transform_with_state": q214_transform_with_state,
    "q215_pipe_syntax": q215_pipe_syntax,
    "q216_iter_pandas_udf": q216_iter_pandas_udf,
    "q217_recursive_cte": q217_recursive_cte,
    "q218_zorder_audit": q218_zorder_audit,
    "q219_delete_cascade": q219_delete_cascade,
    "q220_padding_waste": q220_padding_waste,
    "q221_bpe_train": q221_bpe_train,
    "q222_item_cooccurrence": q222_item_cooccurrence,
    "q223_fuzzy_vocab_join": q223_fuzzy_vocab_join,
    "q224_pareto_frontier": q224_pareto_frontier,
    "q225_quantile_normalize": q225_quantile_normalize,
    "q226_forecast_backtest": q226_forecast_backtest,
    "q227_exact_auc": q227_exact_auc,
    "q228_pr_deciles": q228_pr_deciles,
    "q229_merge_upsert": q229_merge_upsert,
    "q230_stream_dedup": q230_stream_dedup,
    "q231_neardup_audit_panel": q231_neardup_audit_panel,
    "q232_stream_dedup_watermarked": q232_stream_dedup_watermarked,
    "q233_sort_vs_zorder": q233_sort_vs_zorder,
    "q234_merge_ledger": q234_merge_ledger,
    "q235_merge_cdf": q235_merge_cdf,
    "q236_time_travel": q236_time_travel,
    "q237_incremental_agg_cdf": q237_incremental_agg_cdf,
    "q238_jl_distortion": q238_jl_distortion,
    "q239_compact_optimize": q239_compact_optimize,
    "q240_merge_schema_evolution": q240_merge_schema_evolution,
    "q241_stream_cdc_feed": q241_stream_cdc_feed,
    "q242_ewma_smoothing": q242_ewma_smoothing,
    "q243_grouped_moments": q243_grouped_moments,
    "q244_gram_matrix": q244_gram_matrix,
    "q245_ewma_scan": q245_ewma_scan,
    "q246_mutual_info": q246_mutual_info,
    "q247_benford_audit": q247_benford_audit,
    "q248_weighted_percentiles": q248_weighted_percentiles,
    "q249_survival_km": q249_survival_km,
    "q250_interval_coverage": q250_interval_coverage,
    "q251_isotonic_calibration": q251_isotonic_calibration,
    "q252_holt_trend": q252_holt_trend,
    "q253_kmv_set_ops": q253_kmv_set_ops,
    "q254_grouped_ridge": q254_grouped_ridge,
    "q255_welch_ttest": q255_welch_ttest,
    "q256_kcore": q256_kcore,
    "q257_anova_f": q257_anova_f,
    "q258_mann_whitney": q258_mann_whitney,
    "q259_js_divergence": q259_js_divergence,
    "q260_spearman_rho": q260_spearman_rho,
    "q261_gini_concentration": q261_gini_concentration,
    "q262_markov_stationary": q262_markov_stationary,
    "q263_weekday_seasonality": q263_weekday_seasonality,
    "q264_cramers_v": q264_cramers_v,
    "q265_js_attribution": q265_js_attribution,
    "q266_cusum_scan": q266_cusum_scan,
    "q267_png_decode_stats": q267_png_decode_stats,
    "q268_theil_sen": q268_theil_sen,
    "q269_kendall_tau": q269_kendall_tau,
    "q270_stream_outer_join": q270_stream_outer_join,
    "q271_time_weighted_avg": q271_time_weighted_avg,
    "q272_lag_cross_correlation": q272_lag_cross_correlation,
    "q273_wasserstein_drift": q273_wasserstein_drift,
    "q274_rolling_hll": q274_rolling_hll,
    "q275_changepoint": q275_changepoint,
    "q276_burst_detection": q276_burst_detection,
    "q277_water_filling": q277_water_filling,
    "q278_k_anonymity": q278_k_anonymity,
    "q279_stl_lite": q279_stl_lite,
    "q280_lttb_downsample": q280_lttb_downsample,
    "q281_conformal_interval": q281_conformal_interval,
    "q282_lsh_neardup_recall": q282_lsh_neardup_recall,
    "q283_filtered_ann_recall": q283_filtered_ann_recall,
    "q284_ndcg_label_match": q284_ndcg_label_match,
    "q285_rbo_cosine_vs_dot": q285_rbo_cosine_vs_dot,
    "q286_sprt_monitor": q286_sprt_monitor,
    "q287_acf_daily": q287_acf_daily,
    "q288_lexical_diversity": q288_lexical_diversity,
    "q289_top_principal_component": q289_top_principal_component,
    "q290_seasonal_mase": q290_seasonal_mase,
    "q291_whitening_audit": q291_whitening_audit,
    "q292_huber_trend": q292_huber_trend,
    "q293_mann_kendall": q293_mann_kendall,
    "q294_cuped_audit": q294_cuped_audit,
    "q295_srm_check": q295_srm_check,
    "q296_dispersion_index": q296_dispersion_index,
    "q297_mde_power": q297_mde_power,
    "q298_ratio_metric_ci": q298_ratio_metric_ci,
    "q299_mixture_ess": q299_mixture_ess,
    "q300_page_hinkley": q300_page_hinkley,
    "q301_wav_decode_stats": q301_wav_decode_stats,
    "q302_bigram_lm_lang": q302_bigram_lm_lang,
    "q303_stream_srm": q303_stream_srm,
    "q304_kmeans_lloyd": q304_kmeans_lloyd,
    "q305_editdist_neardup": q305_editdist_neardup,
    "q306_silhouette_audit": q306_silhouette_audit,
    "q307_adamic_adar": q307_adamic_adar,
    "q308_blocking_quality": q308_blocking_quality,
    "q309_tpch_potential_promotion": q309_tpch_potential_promotion,
    "q310_stream_heavy_hitters": q310_stream_heavy_hitters,
    "q311_tpch_returned_items": q311_tpch_returned_items,
    "q312_neyman_allocation": q312_neyman_allocation,
    "q313_tpch_parts_supplier_relation": q313_tpch_parts_supplier_relation,
    "q314_tpch_sales_opportunity": q314_tpch_sales_opportunity,
    "q315_l_diversity": q315_l_diversity,
    "q316_geometric_median": q316_geometric_median,
    "q317_mahalanobis_outliers": q317_mahalanobis_outliers,
    "q318_simpson_audit": q318_simpson_audit,
    "q319_robust_dim_scaler": q319_robust_dim_scaler,
    "q320_tpch_shipdelay_priority": q320_tpch_shipdelay_priority,
    "q321_tpch_min_cost_supplier": q321_tpch_min_cost_supplier,
    "q322_editdist_clusters": q322_editdist_clusters,
    "q323_pipeline_stage_checksums": q323_pipeline_stage_checksums,
}


#: Fallback: queries verified green by the round-1 driver run, used only
#: when no CORRECTNESS_r*.json artifacts are readable (fresh checkout of
#: source without driver artifacts). The live set is computed from the
#: committed artifacts by ``_driver_verified()`` below, so the rotation
#: self-maintains: each round's new CORRECTNESS file automatically
#: promotes its green queries to the back of the iteration order and the
#: remaining never-sampled / previously-failed queries float to the
#: front of the driver's 50-entry window.
_DRIVER_VERIFIED_FALLBACK: frozenset[str] = frozenset(
    f"q{i:02d}" for i in range(1, 51) if i not in (15, 16, 21, 22, 27, 28, 29)
)


@functools.lru_cache(maxsize=1)
def _driver_verified() -> tuple[frozenset, frozenset, dict]:
    """(green ids, stale-FAIL ids, latest round per id) from artifacts.

    Reads every ``CORRECTNESS_r*.json`` at the repo root. A query id
    (``"q07"``) is *verified* iff its most recent driver row is fully
    green (rows+schema+hash match, no err); it is *failed* iff it has a
    non-green row and no later green row — those need re-sampling most
    urgently, so QUERIES() floats them first. The third element maps
    each id to the round of its most recent row, so rewrite-priority
    entries can expire once the driver re-proves them (see
    ``_RESAMPLE_PRIORITY``).

    Snapshot semantics: the result is ``lru_cache``'d for the process
    lifetime, so QUERIES() ordering reflects the CORRECTNESS_r*.json
    state at FIRST call. That is exactly right for the driver (one
    process per round, artifacts written between rounds); a long-lived
    harness that writes artifacts mid-process and wants the new
    ordering must call ``_driver_verified.cache_clear()`` first.
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict[str, tuple[int, bool]] = {}  # qid -> (round, green)
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, v in rows.items():
            qid = name.split("_", 1)[0]
            if not re.fullmatch(r"q\d+", qid) or not isinstance(v, dict):
                continue
            green = bool(
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
                and v.get("err") is None
            )
            prev = latest.get(qid)
            if prev is None or rnd >= prev[0]:
                latest[qid] = (rnd, green)
    if not latest:
        return _DRIVER_VERIFIED_FALLBACK, frozenset(), {}
    verified = frozenset(q for q, (_, g) in latest.items() if g)
    failed = frozenset(q for q, (_, g) in latest.items() if not g)
    rounds = {q: r for q, (r, _) in latest.items()}
    return verified, failed, rounds


#: Plans rewritten after their last driver evidence whose physical shape
#: or oracle changed materially, mapped to the round the rewrite
#: happened in. The driver's round-N correctness run executes the
#: round-N final code, so a row from round >= the rewrite round proves
#: the rewrite and the priority expires on its own — no slot is spent
#: re-proving an already re-proven rewrite.
#: Round-4 rewrites: q137/q146. Round-5: q111 (bloom probe
#: digest-slicing), q15 (LSH distance bound), q149 (bootstrap uniform
#: derivation), q43 (oracle float64 arithmetic), q29 (parallelized
#: sketch agg).
_RESAMPLE_PRIORITY: dict[str, int] = {
    "q137": 4, "q146": 4,
    "q111": 5, "q149": 5, "q29": 5,
    # Round-6 ANN hardening: zero-norm/null guards added to every
    # pair-cosine plan, q15's None distance bound padded past the
    # strict '<', q43's signature UDF made null-tolerant
    # (value-identical on testdata, but the physical plans changed —
    # re-prove each with a driver row).
    "q13": 6, "q14": 6, "q15": 6, "q27": 6, "q43": 6,
    "q110": 6, "q115": 6,
    # Round-6 dedup hardening: simhash votes repacked 2×32-bit (ANSI
    # overflow), unbounded broadcast hints dropped, df-capped shingles
    # re-pinned — value-identical locally, plans changed.
    # (q47/q83 were re-rewritten in round 8; each id appears in exactly
    # one tier — the latest — so the dict carries no dead duplicates.)
    "q16": 6, "q17": 6, "q21": 6, "q131": 6,
    # Round-8 scale/perf rewrites whose physical plans changed after
    # green evidence: the shards rank path dropped its second data
    # exchange (mid record-number bits replace the _pid window) —
    # q154/q157/q177 consume it; q214's update-log collapse became a
    # max(struct) argmax; q213's oracle k-gram concat is now generated
    # from k. Also float the four never-sampled queries rewritten this
    # round (q181 distributed ntile, q195 member-only quality argmax,
    # q227/q228 distributed prefix sums) ahead of the plain
    # never-sampled tier — their new plans are the round's headline
    # fixes and must get driver rows at the new shape.
    "q154": 8, "q157": 8, "q177": 8, "q213": 8, "q214": 8,
    "q181": 8, "q195": 8, "q227": 8, "q228": 8,
    # Round-8 CC fast path (size-gated driver union-find) + q83's
    # member-only quality projection: value-identical (test-pinned
    # against the distributed loop), physical plans changed.
    "q47": 8, "q83": 8,
    # Round-8 plan-audit fixes (tools/plan_audit.py): q72's ntile and
    # q176's KS running sums moved to the shards.py two-phase
    # constructions — value-identical, plans changed after green rows.
    # q224 (two-phase running max) was also rewritten in round 8.
    "q72": 8, "q176": 8, "q224": 8,
    # Round-9 rewrites: q225's plan fused again (one corpus scan, the
    # keyless-as-of second exchange replaced by a banded interval
    # equi-join); q167's profiler split into two aggs; q164's eval
    # pipelines submit concurrently; q116/q229 ride the changed
    # merge/upsert write path (bucket clustering + layout marker).
    # All have pre-round-9 driver rows — re-prove the new shapes.
    "q225": 9, "q167": 9, "q164": 9, "q116": 9, "q229": 9,
    # Round-9 session-3: hypothesis found q220's waste_fraction on an
    # exact dyadic rounding tie (760/1280) — operator + oracle gained
    # the standard +1e-9 nudge; value-identical off ties, convention
    # pinned on them. Re-prove with a driver row.
    "q220": 9,
    # Round-10 hardening: q252's daily mean changed SEMANTICS (grid-
    # snapped exact decimal mean replaces the float avg, oracle moved
    # in lockstep); q254/q255/q257/q258 accumulate quadratic terms as
    # decimal operands now (value-identical below overflow, plans
    # changed); q260 routes through the distributed prefix-sum path
    # by default with an explicit bounded opt-in; q261 gained the
    # nonnegative runtime guard; q230/q232 default to 4 landing
    # slices (value-invariant by construction); q99's bucketed tables
    # moved to the per-process scratch database. Re-prove each.
    "q252": 10, "q254": 10, "q255": 10, "q257": 10, "q258": 10,
    "q260": 10, "q261": 10, "q230": 10, "q232": 10, "q99": 10,
    # Round-11 rewrites: q241's CDC loop moved to the fused changelog
    # sink, now merge_write(changelog_dir=...) (one join + lazy
    # bucket-clustered checkpoint per batch) with single-scan epoch
    # staging; q280's
    # lttb gained the n<=n_buckets identity pass-through (oracle
    # moved in lockstep). Re-prove both at the new shapes.
    "q241": 11, "q280": 11,
}


def QUERIES() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    verified, failed, rounds = _driver_verified()

    def needs_resample(qid: str) -> bool:
        rewritten_in = _RESAMPLE_PRIORITY.get(qid)
        return rewritten_in is not None and rounds.get(qid, 0) < rewritten_in

    def rank(name: str) -> tuple[int, int, int, int, str]:
        qid = name.split("_", 1)[0]  # "q07", "q101"
        resample = needs_resample(qid)
        if qid in failed:
            tier = 0  # stale driver FAIL, fixed locally — re-verify first
        elif qid not in verified or resample:
            tier = 1  # never driver-sampled, or rewritten since evidence
        else:
            tier = 2  # already has a green driver row
        # Within tier 2, float the STALEST evidence first so the driver's
        # fixed-size sample window refreshes the oldest green rows instead
        # of re-burning slots on queries it just verified last round.
        return (tier, 0 if resample else 1, rounds.get(qid, 0),
                int(qid[1:]), name)

    return {
        name: QUERIES_IMPL[name]
        for name in sorted(QUERIES_IMPL, key=rank)
    }


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q09_price_batch(spark, sf_dir)
