"""Unit tests for the round-7 operators: hashed-n-gram classifier,
label propagation, dynamic-partition-pruning audit, source-grain
MinHash, stateful running totals, pipe syntax, iterator
Pandas UDF. Value-level oracle parity is covered for all of them by
test_oracle_parity; these tests pin semantics and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.classifier import (
    WEIGHT_BIAS,
    hashed_ngram_scores,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.graph import (
    label_propagation,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.sketches import (
    _MH_HASHES,
    source_minhash_similarity,
)

from .conftest import SF_SMOKE


def test_classifier_blank_and_single_token_docs(spark):
    """A blank doc scores 0 (not kept); a 1-token doc has exactly one
    feature (no bigram); scores are bounded by ±WEIGHT_BIAS/feature."""
    docs = spark.createDataFrame(
        [(1, "", "s"), (2, "word", "s"), (3, "two tokens", "s")],
        "doc_id long, text string, source string",
    )
    row = hashed_ngram_scores(docs, by="source").collect()[0]
    assert row["n_docs"] == 3
    # blank doc contributes zero features and zero score
    assert -1.0 <= (row["mean_feat_score"] or 0.0) <= 1.0


def test_classifier_score_is_deterministic_integer_sum(spark):
    """Same text twice -> identical integer score (pure hash, no RNG)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "a"), (2, "alpha beta gamma", "b")],
        "doc_id long, text string, source string",
    )
    rows = {
        r["source"]: r
        for r in hashed_ngram_scores(docs, by="source").collect()
    }
    assert rows["a"]["mean_feat_score"] == rows["b"]["mean_feat_score"]
    assert rows["a"]["n_kept"] == rows["b"]["n_kept"]


def test_label_propagation_chain(spark):
    """Line graph a-b-c with only a seeded: b labels in round 1,
    c in round 2; the seed never changes."""
    nodes = spark.createDataFrame(
        [(1, 7), (2, None), (3, None)], "id long, label int"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    got = {
        r["id"]: (r["label"], r["round"])
        for r in label_propagation(nodes, edges, rounds=2).collect()
    }
    assert got == {1: (7, 0), 2: (7, 1), 3: (7, 2)}


def test_label_propagation_tie_breaks_to_lowest_label(spark):
    """Node with one neighbor of each label adopts the LOWEST label."""
    nodes = spark.createDataFrame(
        [(1, 5), (2, 3), (3, None)], "id long, label int"
    )
    edges = spark.createDataFrame(
        [(3, 1), (3, 2)], "src long, dst long"
    )
    got = {
        r["id"]: r["label"]
        for r in label_propagation(nodes, edges, rounds=1).collect()
    }
    assert got[3] == 3


def test_label_propagation_rejects_zero_rounds(spark):
    nodes = spark.createDataFrame([(1, 1)], "id long, label int")
    with pytest.raises(ValueError, match="rounds"):
        label_propagation(nodes, nodes.select(
            F.col("id").alias("src"), F.col("id").alias("dst")), rounds=0)


def test_fixed_round_loops_cut_without_a_job_per_round(spark):
    """The fixed-round loops cut each round lazily (``util._fixpoint``):
    a cut launches no job of its own, so building 4 rounds launches no
    more jobs than building 1, apart from the broadcasts a round's own
    hints plan. AQE runs the shuffle stages of ANY lazy checkpoint when
    it is planned, so the count is taken with AQE and automatic
    broadcasts off; an eager per-round cut would still add one job a
    round there."""
    import time

    from public_projet_data_engineering_tarification_electrique_spark.operators.graph import (
        kcore_peel,
    )
    from public_projet_data_engineering_tarification_electrique_spark.operators.spectral import (
        top_principal_component,
    )
    from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
        scoped_conf,
    )

    edges = spark.createDataFrame(
        [(a, b) for a in range(12) for b in range(12) if a != b and a * b % 3 != 1],
        "src long, dst long",
    )
    nodes = spark.createDataFrame(
        [(i, "x" if i % 5 == 0 else None) for i in range(12)],
        "id long, label string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i * j % 5) - 2.0 for j in range(3)]) for i in range(20)],
        "id long, embedding array<double>",
    )
    tracker = spark.sparkContext.statusTracker()

    def build_jobs(build) -> int:
        before = len(tracker.getJobIdsForGroup(None) or [])
        build()
        # a broadcast planned by a cut runs on a background thread
        time.sleep(0.5)
        return len(tracker.getJobIdsForGroup(None) or []) - before

    # loop -> (build at `rounds`, broadcast hints per round)
    loops = {
        "kcore_peel": (lambda r: kcore_peel(edges, k=3, rounds=r), 0),
        "label_propagation": (
            lambda r: label_propagation(nodes, edges, rounds=r), 0
        ),
        "top_principal_component": (
            lambda r: top_principal_component(emb, iters=r), 2
        ),
    }
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"), scoped_conf(
        spark, "spark.sql.autoBroadcastJoinThreshold", "-1"
    ):
        for name, (build, hints) in loops.items():
            one = build_jobs(lambda: build(1))
            four = build_jobs(lambda: build(4))
            assert four - one == 3 * hints, f"{name}: {one} jobs at 1 round, {four} at 4"


def test_dpp_subquery_in_fact_scan(spark):
    """The fact scan's partition filter must be a runtime DPP subquery
    — the entire point of the partitioned materialization."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.audit import (
        partition_pruned_revenue,
    )

    df = partition_pruned_revenue(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_source_minhash_identical_sources_match_fully(spark):
    """Two sources with identical shingle sets agree on all 16
    signature slots and have exact Jaccard 1.0."""
    docs = spark.createDataFrame(
        [
            (1, "one two three four five", "a"),
            (2, "one two three four five", "b"),
        ],
        "doc_id long, text string, source string",
    )
    row = source_minhash_similarity(docs).collect()[0]
    assert row["sig_matches"] == _MH_HASHES
    assert row["est_jaccard"] == 1.0
    assert row["exact_jaccard"] == 1.0


def test_source_minhash_disjoint_sources(spark):
    """Disjoint shingle sets: exact Jaccard 0; at this cardinality the
    32-bit sliced hashes make an accidental signature match
    effectively impossible."""
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee", "a"),
            (2, "ff gg hh ii jj", "b"),
        ],
        "doc_id long, text string, source string",
    )
    row = source_minhash_similarity(docs).collect()[0]
    assert row["exact_jaccard"] == 0.0
    assert row["sig_matches"] == 0


def test_tws_fallback_equals_batch_totals(spark):
    """running_user_totals must equal the batch groupBy on the same
    grid."""
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )
    from public_projet_data_engineering_tarification_electrique_spark.streaming.stateful import (
        running_user_totals,
    )

    got = {
        r["user_id"]: (r["n_events"], r["value_e2"])
        for r in running_user_totals(
            spark, f"{SF_SMOKE}/events.parquet"
        ).collect()
    }
    expect = {
        r["user_id"]: (r["n"], r["s"])
        for r in load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.coalesce(
                    F.round(F.col("value") * 100, 0).cast("long"), F.lit(0)
                )
            ).alias("s"),
        )
        .collect()
    }
    assert got == expect


def test_weight_bias_bounds_scores():
    assert WEIGHT_BIAS == 1024


def test_zorder_audit_prunes_clustered_layout(spark):
    """Z-order bucketing must touch no MORE files than natural order
    for the box predicate (that inequality is the operator's reason to
    exist), and both layouts see the same matching rows."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.audit import (
        zorder_prune_audit,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )

    rows = {
        r["layout"]: r
        for r in zorder_prune_audit(
            load_table(spark, SF_SMOKE, "lineitem")
        ).collect()
    }
    assert rows["zorder"]["n_match"] == rows["natural"]["n_match"]
    assert rows["zorder"]["files_touched"] <= rows["natural"]["files_touched"]


def test_zorder_interleave_is_exact(spark):
    """Morton code of (x=1, y=1) is 3; of (3, 0) is 5 — pin the bit
    interleave arithmetic through the operator on a crafted frame."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.audit import (
        zorder_prune_audit,
    )

    # x = l_partkey % 256, y = l_suppkey % 256; one in-box row
    # (x=70 in [64,127], y=40 in [32,63]) so the audit has a match,
    # one out-of-box row.
    df = spark.createDataFrame(
        [(1, 70, 40), (2, 9999, 3)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    rows = zorder_prune_audit(df).collect()
    assert {r["layout"] for r in rows} == {"natural", "zorder"}
    assert all(r["n_match"] == 1 for r in rows)


def test_recursive_cte_reach_counts(spark):
    """The BFS frontier counts are consistent: exactly one depth-0
    node (the seed) and monotone non-negative counts."""
    from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
        q217_recursive_cte,
    )

    rows = {r["depth"]: r["n_nodes"] for r in q217_recursive_cte(spark, SF_SMOKE).collect()}
    assert rows.get(0) == 1
    assert all(n >= 0 for n in rows.values())


def test_delete_cascade_levels_are_monotone_fractions(spark):
    """Each level's delete count is bounded by its total, and the
    cascade preserves referential containment (orders hit only via
    deleted customers)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.audit import (
        delete_cascade_audit,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )

    rows = {
        r["entity"]: r
        for r in delete_cascade_audit(
            load_table(spark, SF_SMOKE, "customer"),
            load_table(spark, SF_SMOKE, "orders"),
            load_table(spark, SF_SMOKE, "lineitem"),
            F.col("c_custkey") % 97 == 0,
        ).collect()
    }
    assert set(rows) == {"customer", "orders", "lineitem"}
    for r in rows.values():
        assert 0 <= r["n_delete"] <= r["n_total"]


def test_padding_waste_exact_arithmetic(spark):
    """3 docs of 10/300/0 tokens at B=256: 10->1 seq, 300->2 seqs,
    0->0 seqs; padded = 3*256 = 768; waste = 1 - 310/768."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.packing import (
        padding_waste_audit,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 10)), (2, " ".join(["w"] * 300)), (3, "")],
        "doc_id long, text string",
    )
    row = padding_waste_audit(docs, seq_lens=(256,)).collect()[0]
    assert row["n_sequences"] == 3
    assert row["total_tokens"] == 310
    assert row["padded_tokens"] == 768
    assert row["waste_fraction"] == round(1 - 310 / 768, 4)


def test_padding_waste_rejects_bad_seq_lens(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.packing import (
        padding_waste_audit,
    )

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="seq_lens"):
        padding_waste_audit(docs, seq_lens=())


def test_bpe_train_merges_hand_computed(spark):
    """Corpus {low x3, lower x2, newest x1}: round 1 ties lo/ow at 5
    and lexicographic order picks (l,o); round 2 merges (lo,w); round
    3 ties (e,r)/(low,e) at 2 and picks (e,r)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low low low"), (2, "lower lower"), (3, "newest")],
        "doc_id long, text string",
    )
    got = [
        (r["round"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(docs, rounds=3)
        .orderBy("round")
        .collect()
    ]
    assert got == [
        (1, "l", "o", "lo", 5),
        (2, "lo", "w", "low", 5),
        (3, "e", "r", "er", 2),
    ]


def test_bpe_train_rejects_bad_params(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="rounds"):
        bpe_train_merges(docs, rounds=0)
    with pytest.raises(ValueError, match="sep"):
        bpe_train_merges(docs, rounds=1, sep="||")


def test_bpe_train_matches_duckdb_reference(spark):
    """The Python fold against the independent DuckDB reference on a
    handmade corpus: multi-byte words (é, ß, CJK), count ties, merges
    of merged symbols, a token holding the '|' delimiter, a blank and
    a NULL document, and more rounds than the 14 merges there are to
    learn (the reference unrolls one materialized CTE chain per
    round; inlined, DuckDB's planning time doubled per round)."""
    import duckdb
    import pandas as pd

    from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
        bpe_train_merges,
        bpe_merges_oracle_sql,
    )

    rows = [
        (1, "ÉTÉ été ße"),
        (2, "東京 東京都 東京 a|b"),
        (3, "   "),
        (4, None),
        (5, "banana bandana cabana"),
    ]
    rounds = 16
    got = [
        tuple(r)
        for r in bpe_train_merges(
            spark.createDataFrame(rows, "doc_id long, text string"),
            rounds=rounds,
        )
        .orderBy("round")
        .collect()
    ]
    con = duckdb.connect()
    con.register("corpus", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = [
        tuple(r)
        for r in con.execute(
            f"SELECT * FROM ({bpe_merges_oracle_sql('corpus', rounds)}) "
            "ORDER BY round"
        ).fetchall()
    ]
    assert got == want
    # ties break on code-point order: (an,a) before (東,京), (b,an)
    # before (t,é) before (é,t), and among the count-1 pairs ASCII
    # before (ß,e) before (東京,都)
    assert got == [
        (1, "a", "n", "an", 5),
        (2, "an", "a", "ana", 3),
        (3, "東", "京", "東京", 3),
        (4, "b", "an", "ban", 2),
        (5, "t", "é", "té", 2),
        (6, "é", "té", "été", 2),
        (7, "a", "b", "ab", 1),
        (8, "ab", "ana", "abana", 1),
        (9, "ban", "ana", "banana", 1),
        (10, "ban", "d", "band", 1),
        (11, "band", "ana", "bandana", 1),
        (12, "c", "abana", "cabana", 1),
        (13, "ß", "e", "ße", 1),
        (14, "東京", "都", "東京都", 1),
    ]


def test_bpe_train_builds_lazily_and_stably(spark):
    """q221 builds with no Spark job, and two builds execute the same
    plan once expression and plan ids are stripped."""
    import re

    from public_projet_data_engineering_tarification_electrique_spark.plans.registry import (
        q221_bpe_train,
    )

    def plan(df):
        text = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", text))

    first = plan(q221_bpe_train(spark, SF_SMOKE))  # reads the file footers
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None) or []
    df = q221_bpe_train(spark, SF_SMOKE)
    after = tracker.getJobIdsForGroup(None) or []
    assert len(after) == len(before), "building q221 launched a job"
    assert plan(df) == first


def test_item_cooccurrence_cap_and_symmetry(spark):
    """Three users sharing items 1+2 -> cooc(1,2)=3 and cosine 1.0
    when each item's freq is 3; the per-user cap drops a hub user's
    excess items deterministically (lowest item ids kept)."""
    import json as _json

    from public_projet_data_engineering_tarification_electrique_spark.operators.sessions import (
        item_cooccurrence_topk,
    )

    rows = [
        (u, _json.dumps({"k": item}))
        for u in (1, 2, 3)
        for item in (1, 2)
    ]
    events = spark.createDataFrame(rows, "user_id long, props string")
    got = item_cooccurrence_topk(events, k=5, min_cooc=2).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["item_a"], r["item_b"], r["cooc"]) == (1, 2, 3)
    assert r["cosine"] == 1.0


def test_item_cooccurrence_rejects_bad_params(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.sessions import (
        item_cooccurrence_topk,
    )

    events = spark.createDataFrame(
        [(1, '{"k": 1}')], "user_id long, props string"
    )
    with pytest.raises(ValueError, match="bad params"):
        item_cooccurrence_topk(events, k=0)


def test_fuzzy_vocab_join_finds_all_distance1_kinds(spark):
    """Substitution (cat/cut), deletion (cat/at), and insertion
    (cat/cart) pairs are all found; distance-2 (cat/dug) is not."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.linkage import (
        fuzzy_vocab_join,
    )

    vocab = spark.createDataFrame(
        [("cat",), ("cut",), ("at",), ("cart",), ("dug",)], "w string"
    )
    got = {
        (r["word_a"], r["word_b"]) for r in fuzzy_vocab_join(vocab).collect()
    }
    assert ("cat", "cut") in got
    assert ("at", "cat") in got
    assert ("cart", "cat") in got
    assert not any("dug" in p for p in got)


def test_fuzzy_vocab_join_rejects_unsupported_distance(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.linkage import (
        fuzzy_vocab_join,
    )

    vocab = spark.createDataFrame([("a",)], "w string")
    with pytest.raises(ValueError, match="max_dist=1"):
        fuzzy_vocab_join(vocab, max_dist=2)


def test_pareto_frontier_staircase(spark):
    """Points (1,10),(2,5),(3,8),(3,2): frontier = (3,8),(1,10) —
    (2,5) is dominated by (3,8); equal-x keeps only the max y."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.sampling import (
        pareto_frontier,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, 5), (3, 8), (3, 2)], "x long, y long"
    )
    got = {(r["x"], r["y"], r["n_rows"]) for r in pareto_frontier(df, "x", "y").collect()}
    assert got == {(3, 8, 1), (1, 10, 1)}


def test_quantile_normalize_aligns_group_means(spark):
    """Two groups drawn from shifted ranges end with (near-)identical
    normalized means — the operator's contract; the original means
    must differ."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        quantile_normalize,
    )

    rows = [("a", float(v)) for v in range(0, 50)] + [
        ("b", float(v)) for v in range(50, 100)
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    got = {r["g"]: r for r in quantile_normalize(df, "value", "g").collect()}
    assert abs(got["a"]["mean_value"] - got["b"]["mean_value"]) > 40
    assert (
        abs(got["a"]["mean_normalized"] - got["b"]["mean_normalized"]) < 1.0
    )


def test_exact_auc_hand_computed(spark):
    """Perfect separation -> 1.0; all-tied scores -> 0.5; one empty
    class -> NULL."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        exact_auc,
    )

    perfect = spark.createDataFrame(
        [(10, True), (9, True), (2, False), (1, False)],
        "score long, y boolean",
    )
    assert exact_auc(perfect, "score", "y").collect()[0]["auc"] == 1.0
    tied = spark.createDataFrame(
        [(5, True), (5, False), (5, True), (5, False)],
        "score long, y boolean",
    )
    assert exact_auc(tied, "score", "y").collect()[0]["auc"] == 0.5
    onesided = spark.createDataFrame(
        [(1, True), (2, True)], "score long, y boolean"
    )
    assert exact_auc(onesided, "score", "y").collect()[0]["auc"] is None


def test_rolling_backtest_exact_line(spark):
    """A perfectly linear series backtests to MAPE 0 at every fold
    with >= 2 training points."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.forecast import (
        rolling_origin_backtest,
    )

    rows = [(1, 2000 + i, 10.0 + 2.0 * i) for i in range(6)]
    df = spark.createDataFrame(rows, "g long, x int, y double")
    got = {
        r["x"]: r["mape_pct"]
        for r in rolling_origin_backtest(
            df, group_cols=("g",), x_col="x", y_col="y"
        ).collect()
    }
    # folds 2002..2005 have >= 2 training points; all errors exactly 0
    assert set(got) == {2002, 2003, 2004, 2005}
    assert all(v == 0.0 for v in got.values())


def test_pr_deciles_hand_computed(spark):
    """10 rows, scores 10..1, top-5 positive: decile 5 flags exactly
    the 5 positives (precision 1.0, recall 1.0); decile 10 flags all
    (precision 0.5, recall 1.0)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.stats import (
        pr_at_deciles,
    )

    rows = [(10 - i, i < 5) for i in range(10)]
    df = spark.createDataFrame(rows, "score long, y boolean")
    got = {r["decile"]: r for r in pr_at_deciles(df, "score", "y").collect()}
    assert got[5]["n_flagged"] == 5
    assert got[5]["precision"] == 1.0 and got[5]["recall"] == 1.0
    assert got[10]["n_flagged"] == 10
    assert got[10]["precision"] == 0.5 and got[10]["recall"] == 1.0


def test_bpe_merge_handles_symbol_runs(spark):
    """Regression (hypothesis-found): with single delimiters the merge
    replace consumed the shared '|' and 'aaaa' merged to [aa,a,a]
    instead of greedy [aa,aa]. Wrapped tokens fix it: round 2 must
    merge (aa,aa) with count 1."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.textstats import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame([(1, "a aaaa")], "doc_id long, text string")
    got = [
        (r["round"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train_merges(docs, rounds=2).orderBy("round").collect()
    ]
    assert got == [(1, "a", "a", 3), (2, "aa", "aa", 1)]
