"""Semantic unit tests for the time-series / fingerprinting extension
operators: gap sessionization, as-of join, IVF ANN, rolling hash,
BPE-ish tokenization. Small literal inputs with hand-computed expected
outputs (boundary cases the sf-parametrized oracle tests don't pin)."""

from __future__ import annotations

from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.functions.text import (
    _RK_BASE,
    _RK_MOD,
    bpe_ish_tokens,
    rolling_fingerprint,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.asof import (
    asof_join,
)
from public_projet_data_engineering_tarification_electrique_spark.operators.sessions import (
    sessionize,
)

EV_SCHEMA = "event_id long, user_id long, ts_s long, value double"


def test_sessionize_gap_boundary(spark):
    # gap=100: delta == 100 stays in-session, delta == 101 opens a new one
    rows = [
        (1, 1, 1000, 1.0),
        (2, 1, 1100, 1.0),  # exactly gap → same session
        (3, 1, 1201, 1.0),  # gap+1 → new session
        (4, 2, 1000, 5.0),  # other user independent
    ]
    out = sessionize(
        spark.createDataFrame(rows, EV_SCHEMA), gap_seconds=100
    ).collect()
    by_key = {(r.user_id, r.session_id): r for r in out}
    assert set(by_key) == {(1, 1), (1, 2), (2, 1)}
    assert by_key[(1, 1)].n_events == 2
    assert by_key[(1, 1)].start_s == 1000 and by_key[(1, 1)].end_s == 1100
    assert by_key[(1, 2)].n_events == 1
    assert by_key[(2, 1)].sum_value == 5.0


def test_asof_backward_inclusive_and_null(spark):
    left = spark.createDataFrame(
        [(10, 1, 1000), (11, 1, 2000), (12, 2, 500)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [(90, 1, 1000, 9.0), (91, 1, 1500, 8.0), (92, 2, 600, 7.0)],
        "event_id long, user_id long, ts long, value double",
    )
    out = {
        r.event_id: r
        for r in asof_join(
            left, right, on=("user_id",), left_ts="ts", right_ts="ts",
            right_cols=("event_id", "value"),
        ).collect()
    }
    assert out[10].asof_event_id == 90  # equal ts matches (inclusive)
    assert out[11].asof_event_id == 91  # latest at-or-before
    assert out[12].asof_event_id is None  # right is strictly later → null


def test_asof_forward_and_tolerance(spark):
    left = spark.createDataFrame([(1, 1, 1000)], "event_id long, user_id long, ts long")
    right = spark.createDataFrame(
        [(90, 1, 1400, 9.0)], "event_id long, user_id long, ts long, value double"
    )
    fwd = asof_join(
        left, right, on=("user_id",), left_ts="ts", right_ts="ts",
        right_cols=("event_id",), direction="forward",
    ).collect()[0]
    assert fwd.asof_event_id == 90
    tight = asof_join(
        left, right, on=("user_id",), left_ts="ts", right_ts="ts",
        right_cols=("event_id",), direction="forward", tolerance=100,
    ).collect()[0]
    assert tight.asof_event_id is None  # 400 > tolerance 100
    import pytest

    with pytest.raises(ValueError, match="key column"):
        asof_join(
            left, right, on=(), left_ts="ts", right_ts="ts",
            right_cols=("event_id",),
        )


def test_ivf_topk_self_is_rank1(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.similarity import (
        ivf_topk,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top1 = {
        r.query_id: r.vec_id
        for r in ivf_topk(emb, queries, k=5, n_clusters=4, n_probe=2)
        .filter(F.col("rank") == 1)
        .collect()
    }
    # the query vector itself lives in its own probed cluster → sim 1.0
    assert top1 == {0: 0, 1: 1, 2: 2}


def test_rolling_fingerprint_order_sensitive_and_exact(spark):
    df = spark.createDataFrame(
        [(1, "ab cd"), (2, "cd ab"), (3, ""), (4, "  ")], "id long, text string"
    )
    got = {
        r.id: r.fp
        for r in df.select(
            "id", rolling_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }

    def rk(s: str) -> int:
        acc = 0
        for ch in s.lower().strip():
            acc = (acc * _RK_BASE + ord(ch)) % _RK_MOD
        return acc

    assert got[1] == rk("ab cd")
    assert got[2] == rk("cd ab")
    assert got[1] != got[2]  # order-sensitive (md5-style digests also differ,
    # but a bag-of-words hash would collide here)
    assert got[3] == 0 and got[4] == 0


def test_bpe_ish_tokens_known_split(spark):
    df = spark.createDataFrame([(1, "Hello world, 42 times!")], "id long, text string")
    toks = df.select(bpe_ish_tokens(F.col("text")).alias("t")).collect()[0].t
    assert toks == ["hello", " world", ",", " 42", " times", "!"]


def test_stream_sessionize_matches_batch_twin(spark):
    """Every session the stream emits must be bit-identical to the batch
    operator's session with the same (user, session_id); the stream may
    hold back only sessions still open at end-of-input (watermark has
    not sealed them)."""
    from pyspark.sql import Window

    from public_projet_data_engineering_tarification_electrique_spark.operators.sessions import (
        sessionize,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )
    from public_projet_data_engineering_tarification_electrique_spark.streaming.sessions import (
        stream_sessionize,
    )

    sf = "/root/testdata/sf0.001"
    streamed = stream_sessionize(spark, f"{sf}/events.parquet", gap_seconds=1800)
    batch = sessionize(
        load_table(spark, sf, "events", raw=True).select(
            "event_id", "user_id", "value", F.expr("ts DIV 1000000000").alias("ts_s")
        ),
        gap_seconds=1800,
    )
    n_streamed = streamed.count()
    exact = (
        streamed.alias("s")
        .join(batch.alias("b"), ["user_id", "session_id"])
        .filter(
            (F.col("s.n_events") == F.col("b.n_events"))
            & (F.col("s.start_s") == F.col("b.start_s"))
            & (F.col("s.end_s") == F.col("b.end_s"))
            & (F.abs(F.col("s.sum_value") - F.col("b.sum_value")) < 1e-6)
        )
        .count()
    )
    assert exact == n_streamed, "streamed session disagrees with batch twin"
    w = Window.partitionBy("user_id")
    n_closed = (
        batch.withColumn("_m", F.max("session_id").over(w))
        .filter(F.col("session_id") < F.col("_m"))
        .count()
    )
    assert n_streamed >= n_closed, "stream failed to emit a sealed session"


def test_salted_join_equals_plain_join(spark):
    from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
        salted_join,
    )
    from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
        F.count("*"), F.round(F.sum("l_quantity"), 2), F.round(F.sum("o_totalprice"), 2)
    ).collect()[0]
    salted = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        orders.withColumnRenamed("o_orderkey", "k"),
        on=["k"],
    ).agg(
        F.count("*"), F.round(F.sum("l_quantity"), 2), F.round(F.sum("o_totalprice"), 2)
    ).collect()[0]
    assert tuple(plain) == tuple(salted)


def test_asof_join_matches_python_model_random(spark):
    """Randomized cross-check of the union+window as-of against a naive
    Python model (unique timestamps per user/side → unambiguous)."""
    import random

    rng = random.Random(7)
    users = [1, 2, 3]
    left_rows, right_rows = [], []
    lid = 0
    for u in users:
        lts = rng.sample(range(0, 100_000), 40)
        rts = rng.sample(range(0, 100_000), 25)
        for t in lts:
            lid += 1
            left_rows.append((lid, u, t))
        for t in rts:
            right_rows.append((100_000 + len(right_rows), u, t, float(t % 97)))
    left = spark.createDataFrame(left_rows, "event_id long, user_id long, ts long")
    right = spark.createDataFrame(
        right_rows, "event_id long, user_id long, ts long, value double"
    )
    got = {
        r.event_id: (r.asof_event_id, r.asof_value)
        for r in asof_join(
            left, right, on=("user_id",), left_ts="ts", right_ts="ts",
            right_cols=("event_id", "value"),
        ).collect()
    }
    by_user: dict[int, list] = {}
    for eid, u, t, v in right_rows:
        by_user.setdefault(u, []).append((t, eid, v))
    for eid, u, t in left_rows:
        cands = [(rt, rid, rv) for rt, rid, rv in by_user.get(u, []) if rt <= t]
        exp = max(cands)[1:] if cands else (None, None)
        assert got[eid] == (exp[0], exp[1]), (eid, u, t)


def test_banded_range_join_boundaries(spark):
    """Banding must be invisible: Δt == max_delta matches (inclusive),
    Δt == max_delta+1 does not, cross-bucket pairs are found, and no
    pair is emitted twice despite the 3-bucket probe fan-out."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.asof import (
        banded_range_join,
    )

    #                 id, user, ts
    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 250), (3, 2, 100)],
        "click_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [
            (10, 1, 0),    # Δ=100 from click 1 → match (== max_delta)
            (11, 1, 201),  # Δ=101 from click 1 → NO; Δ=49 from click 2 → match
            (12, 1, 350),  # Δ=100 from click 2 → match, crosses bucket 2→3
            (13, 2, 201),  # other user, Δ=101 → NO
            (14, 3, 100),  # key never on the left
        ],
        "event_id long, user_id long, ts long",
    )
    got = sorted(
        (r.click_id, r.r_event_id)
        for r in banded_range_join(
            left, right, on=("user_id",), left_ts="ts", right_ts="ts",
            max_delta=100, right_cols=("event_id",),
        ).collect()
    )
    assert got == [(1, 10), (2, 11), (2, 12)]


def test_asof_join_ignores_null_timestamps(spark):
    """NULL-ts right rows must never match; NULL-ts left rows must get
    no match (not whatever the window accumulated)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.asof import (
        asof_join,
    )

    left = spark.createDataFrame(
        [("k", 100), ("k", None)], "key string, ts long"
    )
    right = spark.createDataFrame(
        [("k", None, 9.9), ("k", 50, 1.5)], "key string, rts long, v double"
    )
    rows = {
        (r["ts"]): r["asof_v"]
        for r in asof_join(
            left, right, on=("key",), left_ts="ts", right_ts="rts",
            right_cols=("v",),
        ).collect()
    }
    assert rows[100] == 1.5  # real match, not the NULL-ts row's 9.9
    assert rows[None] is None


def test_banded_range_join_epoch_ns_precision(spark):
    """Buckets must be computed with integer division: epoch-ns values
    above 2^53 land in wrong buckets under double division and in-range
    pairs silently vanish."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.asof import (
        banded_range_join,
    )

    base = 1_700_000_000_000_016_000  # > 2^53
    left = spark.createDataFrame([("k", 1, base)], "key string, lid int, ts long")
    right = spark.createDataFrame(
        [("k", 2, base + 1000)], "key string, rid int, ts long"
    )
    got = banded_range_join(
        left, right, on=("key",), left_ts="ts", right_ts="ts",
        max_delta=1000, right_cols=("rid",),
    ).collect()
    assert len(got) == 1 and got[0]["r_rid"] == 2


def test_ols_forecast_null_y_matches_pandas_twin(spark):
    """A group containing a NULL y must predict NULL (closed form) /
    NaN (pandas twin) — not a fit over inconsistent row sets."""
    import math

    from public_projet_data_engineering_tarification_electrique_spark.operators.forecast import (
        ols_forecast,
        ols_forecast_pandas,
    )

    df = spark.createDataFrame(
        [("g", 2020, 10.0), ("g", 2021, 20.0), ("g", 2022, None),
         ("h", 2020, 1.0), ("h", 2021, 2.0)],
        "grp string, annee int, y double",
    )
    closed = {
        (r["grp"], r["annee"]): r["prediction"]
        for r in ols_forecast(df, ["grp"], "annee", "y", [2023]).collect()
    }
    pand = {
        (r["grp"], r["annee"]): r["prediction"]
        for r in ols_forecast_pandas(df, ["grp"], "annee", "y", [2023]).collect()
    }
    assert closed[("g", 2023)] is None
    # the twin's NaN may surface as None after the Arrow crossing
    g_twin = pand[("g", 2023)]
    assert g_twin is None or math.isnan(g_twin)
    assert closed[("h", 2023)] == pand[("h", 2023)] == 4.0


def test_city_alpha_deterministic_under_duplicate_year_rows(spark):
    """Duplicate (city, year) rows aggregate (mean) before the lead
    window — alpha must not depend on physical row order."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.pricing import (
        city_alpha,
    )

    rows = [
        ("A", "1", 2021, 100.0),
        ("A", "1", 2021, 200.0),  # duplicate year row
        ("A", "1", 2022, 165.0),
    ]
    df = spark.createDataFrame(
        rows, "nom_commune string, code_commune string, annee int, conso_moyenne_mwh double"
    )
    for seed in (1, 13):
        got = city_alpha(df.repartition(seed), year_n=2021).collect()
        assert len(got) == 1
        assert got[0]["alpha"] == 1.1  # 165 / mean(100, 200)
