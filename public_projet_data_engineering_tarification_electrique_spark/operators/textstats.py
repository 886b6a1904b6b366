"""Text analysis operators (extension surface): per-document quality
scoring and heuristic language ID. All built-in expressions — at 100 TB
these are a single codegen'd projection over the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    nonempty_tokens,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
)
from .util import ensure_parallelism


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF.

    tfidf = tf · (ln((N+1)/(df+1)) + 1) — the sklearn-style smooth idf,
    so a term in every document still scores > 0. Ranking is over the
    ROUNDED score (4 dp) with a lexicographic tie-break, which makes
    the top-k deterministic and engine-portable (two engines' ``ln``
    may differ in the last ulp; at 4 dp they agree).

    Shape at scale: one shuffle to (doc, term) counts, from which both
    the document-frequency table (vocabulary-sized — broadcast by AQE)
    and the scores derive (Catalyst reuses the exchange); N is a 1-row
    broadcast; the final row_number shuffles by doc only.
    """
    tf = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        tf.join(dfreq, on="token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                4,
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", F.col("tf").cast("int").alias("tf"), "tfidf", "rank")
    )


def repetition_stats(
    docs: DataFrame,
    max_dup_bigram_frac: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher/C4-style repetition filters: per-document duplicate-token
    and duplicate-bigram fractions, mean word length, and a keep flag.

    Boilerplate and degenerate generations repeat themselves; the
    published corpus filters (Gopher's repetition rules, C4's heuristics)
    drop documents whose duplicate-n-gram mass exceeds a threshold.
    Everything is higher-order array functions over the token array —
    zero shuffle, zero Python. Fractions are round(1 − distinct/total, 4)
    on exact integer counts, so the oracle comparison is bit-stable.

    Evaluation-count discipline: higher-order array functions are
    interpreted (no codegen), and ProjectCollapse re-inlines a shared
    subexpression into every consumer — naively the tokenizer runs
    ~10× per row. The ``explode(array(…))`` wrappers are Generate
    nodes, which projection collapse cannot cross, so the token array
    and the distinct/length reductions are each evaluated exactly once
    per document (~3× wall-clock at sf0.1).
    """
    toks = nonempty_tokens(F.lower(F.col(text_col)))
    # Barrier 1: tokenize once.
    staged = ensure_parallelism(docs).select(
        id_col, F.explode(F.array(toks)).alias("_t")
    )
    t = F.col("_t")
    n = F.size(t)
    # n < 2 guard: sequence(1, 0) counts DOWN ([1, 0]) and the struct
    # below evaluates unconditionally — without it a 1-token doc probes
    # element_at(t, 2) and ANSI mode throws.
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Barrier 2: each O(n) reduction once; downstream is scalar math.
    scalars = staged.select(
        id_col,
        F.explode(
            F.array(
                F.struct(
                    n.cast("int").alias("n_tokens"),
                    F.size(F.array_distinct(t)).alias("_n_dist_tok"),
                    F.size(F.array_distinct(bigrams)).alias("_n_dist_big"),
                    F.aggregate(
                        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
                    ).alias("_sum_len"),
                )
            )
        ).alias("_s"),
    ).select(id_col, "_s.*")
    n = F.col("n_tokens")
    n_big = n - 1
    dup_tok = F.round(1.0 - F.col("_n_dist_tok") / n, 4)
    dup_big = F.round(1.0 - F.col("_n_dist_big") / n_big, 4)
    mean_len = F.round(F.col("_sum_len") * 1.0 / n, 4)
    return scalars.select(
        id_col,
        n.alias("n_tokens"),
        F.when(n > 0, dup_tok).otherwise(0.0).alias("frac_dup_tokens"),
        F.when(n_big > 0, dup_big).otherwise(0.0).alias("frac_dup_bigrams"),
        F.when(n > 0, mean_len).otherwise(0.0).alias("mean_word_len"),
        (
            (F.when(n_big > 0, dup_big).otherwise(0.0) <= max_dup_bigram_frac)
            & (F.when(n > 0, mean_len).otherwise(0.0).between(3.0, 10.0))
        ).alias("keep"),
    )


def quality_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality + heuristic language ID.

    - pred_lang: n-gram/stopword heuristic — a document whose stopword
      ratio clears a threshold is tagged English ('en'), else unknown
      ('unk'). (A real model slots in as a broadcast n-gram profile
      table; the operator shape — pure projection — is the point.)
    - quality: length-saturating token count × (1 − punctuation ratio),
      the standard cheap fluency proxy.
    """
    t = F.col(text_col)
    n_tokens = token_count(t)
    stop = stopword_ratio(t)
    return ensure_parallelism(docs).select(
        id_col,
        F.col("lang"),
        F.when(stop > 0.04, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang"),
        F.round(
            F.least(F.lit(1.0), n_tokens / F.lit(120.0)) * (F.lit(1.0) - punct_ratio(t)),
            4,
        ).alias("quality"),
    )


def unigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 80,
    nll_scale: int = 1_000_000,
    min_count: int = 1,
) -> DataFrame:
    """Unigram language-model quality scoring (the KenLM-shaped filter
    of CCNet-style pipelines, reduced to its SQL-expressible core).

    Train an add-one-smoothed unigram LM on the deterministic hash-split
    train partition (md5 bucket < ``train_pct`` — same construction as
    ``sampling.hash_split``), then score every document WITH AT LEAST
    ONE TOKEN by its mean token negative log-likelihood (token-less
    docs have no defined mean and are absent from the output); unseen
    tokens get the smoothed OOV mass 1/(N+V). High avg_nll = improbable text under the corpus model
    — the standard cheap perplexity proxy for filtering gibberish.

    Plan shape: one explode → (token) hash agg builds the LM (vocab-
    sized, broadcast back), one explode → (doc, token) hash agg for the
    scoring join — both linear, partial-agg before each exchange. The
    N/V scalars ride a broadcast 1-row cross join, never an action.

    Cross-engine parity: each distinct token's NLL is snapped to an
    integer grid (round(-ln(p)·nll_scale) as long) so per-doc sums are
    order-independent integer arithmetic; only the final mean divides —
    an identical double in both engines. ln() itself agrees to the last
    ulp between the JVM and libm for these magnitudes; a grid-boundary
    collision would need |ln(p)·1e6 − k − ½| < 1e-10 for some token
    (audited: min distance ≥ 1e-6 at both test SFs).

    ``min_count`` bounds the vocabulary (and so the broadcast LM) at
    web scale: tokens seen fewer than ``min_count`` times in the train
    split fold into the smoothed OOV mass — on a 100 TB corpus the
    hapax tail is most of the distinct tokens but none of the mass.
    Default 1 keeps every token (small-corpus behavior).
    """
    from .sampling import hash_bucket

    toks = tokens(F.lower(F.col(text_col)))
    # the SAME bucket construction as sampling.hash_split — imported,
    # not re-derived, so the LM train split can never silently de-align
    # from the corpus train split. Computed BEFORE the explode: one md5
    # digest per DOCUMENT rides the exploded rows as a plain column —
    # filtering after the explode would recompute it per token
    # occurrence (billions of spare digests at corpus scale).
    exploded = (
        ensure_parallelism(docs)
        .select(
            id_col,
            (hash_bucket(F.col(id_col), 100) < train_pct).alias("_train"),
            F.explode(toks).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
    )
    lm_counts = (
        exploded.filter(F.col("_train"))
        .groupBy("_tok")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
    )
    consts = lm_counts.agg(
        F.sum("_c").alias("_n"), F.count("*").alias("_v")
    )
    scaled_nll = lambda p: F.round(-F.log(p) * nll_scale, 0).cast("long")  # noqa: E731
    lm = lm_counts.crossJoin(F.broadcast(consts)).select(
        "_tok",
        scaled_nll((F.col("_c") + 1) / (F.col("_n") + F.col("_v"))).alias(
            "_nll_s"
        ),
    )
    doc_toks = exploded.groupBy(id_col, "_tok").agg(
        F.count("*").alias("_cnt")
    )
    # fail LOUDLY on an empty LM (every doc hashed out of the train
    # split, or min_count emptied the vocab): _n would be NULL and every
    # avg_nll would silently come back NULL otherwise
    lm_nonempty = F.assert_true(
        F.col("_n").isNotNull(),
        F.lit(
            "unigram LM train split is empty — check train_pct/min_count "
            "against the corpus"
        ),
    )
    oov = consts.select(
        F.when(
            lm_nonempty.isNull(),
            scaled_nll(F.lit(1.0) / (F.col("_n") + F.col("_v"))),
        ).alias("_oov_s")
    )
    return (
        doc_toks.join(F.broadcast(lm), on="_tok", how="left")
        .crossJoin(F.broadcast(oov))
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("_cnt") * F.coalesce("_nll_s", "_oov_s")).cast(
                    "double"
                )
                / F.sum("_cnt")
                / nll_scale,
                4,
            ).alias("avg_nll"),
        )
    )


def importance_weights(
    docs: DataFrame,
    target_pred,
    n_buckets: int = 512,
    scale: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style hashed-unigram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    reduced to its SQL-expressible core): per-doc mean log-ratio of the
    TARGET token distribution (rows where ``target_pred`` holds — the
    small high-quality slice you want more of) to the SOURCE
    distribution (the whole corpus), both estimated over
    ``n_buckets`` hashed-token buckets with add-one smoothing.
    A high weight means "distributionally like the target" — the score
    importance-resampling selection ranks on.

    Plan shape: one explode with the target flag computed per DOCUMENT
    before the explode (one md5-free boolean riding the rows), then ONE
    bucket-level hash agg builds BOTH distributions as conditional sums
    (n_buckets rows, broadcast back), and one per-doc agg scores.
    Everything partial-combines; nothing but n_buckets-row tables and
    per-doc rows cross an exchange. At 100 TB the bucket table is a
    few KB regardless of corpus size — that fixed memory footprint is
    the entire point of hashing the vocabulary (the paper's trick).

    Cross-engine parity: each bucket's log-ratio snaps to an integer
    grid (round(ln(r)·scale) as long — the q109 idiom) so per-doc sums
    are order-independent; the final mean divides exact longs and takes
    a +1e-9 nudge before rounding (p/q rationals can land on the 1e-6
    grid boundary where engine tie-rules differ). Token-less docs have
    no defined mean and are absent, as in ``unigram_lm_scores``."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    from .sampling import hash_bucket

    exploded = (
        ensure_parallelism(docs)
        .select(
            id_col,
            target_pred.alias("_tgt"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
        .select(
            id_col, "_tgt", hash_bucket(F.col("_tok"), n_buckets).alias("_bk")
        )
    )
    # Aggregate to (doc, bucket) grain FIRST and localCheckpoint: both
    # distributions and the final scoring derive from this one table —
    # without the lineage cut Catalyst plans the two consumers as
    # separate subtrees and tokenizes the corpus twice. Unlike the raw
    # token stream (unboundedly large), this table is capped at
    # n_docs × n_buckets rows, so materializing it is safe at any
    # corpus size.
    doc_counts = (
        exploded.groupBy(id_col, "_tgt", "_bk")
        .agg(F.count("*").alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    counts = doc_counts.groupBy("_bk").agg(
        F.sum("_cnt").alias("_cs"),
        F.sum(F.when(F.col("_tgt"), F.col("_cnt")).otherwise(0)).alias("_ct"),
    )
    consts = counts.agg(F.sum("_cs").alias("_ns"), F.sum("_ct").alias("_nt"))
    ratio = counts.crossJoin(F.broadcast(consts)).select(
        "_bk",
        F.round(
            F.log(
                ((F.col("_ct") + 1) / (F.col("_nt") + F.lit(n_buckets)))
                / ((F.col("_cs") + 1) / (F.col("_ns") + F.lit(n_buckets)))
            )
            * scale,
            0,
        )
        .cast("long")
        .alias("_r"),
    )
    return (
        doc_counts.join(F.broadcast(ratio), on="_bk")
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").alias("n_tokens"),
            F.round(
                F.sum(F.col("_cnt") * F.col("_r")).cast("double")
                / F.sum("_cnt")
                / scale
                + F.lit(1e-9),
                6,
            ).alias("imp"),
        )
    )


def heavy_hitters(
    docs: DataFrame,
    denom: int = 50,
    capacity: int = 128,
    text_col: str = "text",
) -> DataFrame:
    """Exact φ-heavy-hitters (φ = 1/``denom``) over the token stream via
    the two-pass Misra–Gries pattern (Misra & Gries 1982; merge rule
    from Agarwal et al. 2012, "Mergeable Summaries").

    Pass 1 runs a ``capacity``-counter Misra–Gries sketch per partition
    inside ``mapInPandas`` — bounded state, NO shuffle of the token
    stream — and emits each partition's surviving counter keys. The MG
    undercount bound (≤ n_p/(capacity+1) per partition) plus pigeonhole
    (a token with global count ≥ N/denom has local count ≥ n_p/denom in
    at least one partition) guarantees the union of survivors is a
    SUPERSET of every true heavy hitter whenever capacity + 1 > denom.
    Pass 2 exact-counts ONLY the candidates (broadcast join prunes the
    exploded stream map-side before the hash agg) and filters on the
    exact integer predicate ``freq · denom ≥ N`` — so the result is
    exact and partitioning-independent even though pass 1's candidate
    set is not.

    Why this shape at 100 TB: a naive groupBy(token) shuffles the FULL
    vocabulary (web-scale corpora: billions of distinct tokens, heavy
    skew); here the exchange carries ≤ capacity × n_partitions
    candidate keys in pass 1 and only candidate-token rows in pass 2.
    The stream total N rides along in pass 1 as one extra row per
    partition (the sketch sees every token anyway), so the corpus is
    scanned exactly twice — never a third time just to count. The
    threshold is exact integer arithmetic (freq·denom vs N), never a
    float fraction, so the DuckDB oracle agrees bit-for-bit.
    """
    if denom <= 1:
        raise ValueError(f"denom must be > 1, got {denom}")
    if capacity < denom:
        raise ValueError(
            f"capacity ({capacity}) must be >= denom ({denom}) for the "
            "superset guarantee (needs capacity + 1 > denom)"
        )
    import pandas as pd

    cap = int(capacity)

    def mg_sketch(batches):
        from collections import Counter

        counters: Counter = Counter()
        n_tokens = 0
        for pdf in batches:
            for txt in pdf[text_col]:
                if not txt:
                    continue
                # .split() == split-on-whitespace-runs with implicit
                # trim and no empty tokens — the Python twin of
                # functions.text.nonempty_tokens (oracle parity).
                toks_py = txt.lower().split()
                n_tokens += len(toks_py)
                counters.update(toks_py)
            if len(counters) > cap:
                # Mergeable-summaries prune: subtract the (cap+1)-th
                # largest value from every counter and drop the
                # non-positive remainder. Each prune removes ≥
                # (cap+1)·s mass, so total undercount ≤ n_p/(cap+1).
                kth = sorted(counters.values(), reverse=True)[cap]
                counters = Counter(
                    {t: c - kth for t, c in counters.items() if c > kth}
                )
        # Candidate rows (token, NULL) plus ONE per-partition total row
        # (NULL, n_tokens) — always emitted so empty partitions still
        # contribute their zero to N.
        toks_out = sorted(counters.keys())
        yield pd.DataFrame(
            {
                "token": toks_out + [None],
                "n": [None] * len(toks_out) + [n_tokens],
            }
        )

    # Materialize the sketch (≤ (capacity+1) × n_partitions rows):
    # candidates AND the total derive from it, and without the lineage
    # cut Catalyst would plan two subtrees and run pass 1 twice.
    sketch = (
        ensure_parallelism(docs)
        .select(text_col)
        .mapInPandas(mg_sketch, "token string, n long")
        .localCheckpoint(eager=False)
    )
    candidates = (
        sketch.filter(F.col("token").isNotNull()).select("token").distinct()
    )
    total = sketch.agg(F.sum("n").alias("_n"))
    toks = (
        ensure_parallelism(docs)
        .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .filter(F.col("token") != "")
    )
    return (
        toks.join(F.broadcast(candidates), on="token")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * denom >= F.col("_n"))
        .select("token", "freq")
    )


def token_fertility(
    docs: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Corpus tokenizer-fertility report per (lang, source) slice — the
    standard pre-training diagnostic for "how expensive is this slice
    in tokens": BPE-pretoken count vs whitespace-word count
    (fertility: subword tokens per word), plus bytes/token and
    chars/token.

    All per-document measures are INTEGER counts from codegen'd
    regexp/length expressions (no UDF, no float accumulation), so the
    grouped sums are exact and engine-portable; the ratios are single
    divisions of exact integers rounded at the end — bit-stable by
    construction, no float-sum ordering hazard at any corpus size.

    Scale shape: one projection over the scan computing 4 ints per
    doc, one hash agg with map-side partials on a low-cardinality
    key. Nothing else.
    """
    from ..functions.text import bpe_ish_tokens

    per_doc = ensure_parallelism(docs).select(
        *group_cols,
        F.size(nonempty_tokens(F.lower(F.col(text_col))))
        .cast("long")
        .alias("_ws"),
        F.size(bpe_ish_tokens(F.col(text_col))).cast("long").alias("_bpe"),
        F.octet_length(F.col(text_col)).cast("long").alias("_bytes"),
        F.length(F.col(text_col)).cast("long").alias("_chars"),
    )
    agg = per_doc.groupBy(*group_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum("_ws").alias("ws_tokens"),
        F.sum("_bpe").alias("bpe_tokens"),
        F.sum("_bytes").alias("n_bytes"),
        F.sum("_chars").alias("n_chars"),
    )
    nz = F.col("bpe_tokens") > 0
    return agg.select(
        *group_cols,
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        F.when(
            F.col("ws_tokens") > 0,
            F.round(F.col("bpe_tokens") / F.col("ws_tokens"), 4),
        ).alias("fertility"),
        F.when(nz, F.round(F.col("n_bytes") / F.col("bpe_tokens"), 4)).alias(
            "bytes_per_token"
        ),
        F.when(nz, F.round(F.col("n_chars") / F.col("bpe_tokens"), 4)).alias(
            "chars_per_token"
        ),
    )


def oov_rate(
    docs: DataFrame,
    vocab_size: int = 1000,
    by: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Out-of-vocabulary rate per corpus slice against the corpus's
    own top-``vocab_size`` token vocabulary — the coverage check run
    before freezing a tokenizer vocab (a slice with high OOV will
    shatter into bytes/unknowns and train badly; cf. q163's fertility,
    which measures the cost AFTER the vocab exists).

    Determinism: vocabulary membership at the frequency boundary is
    tie-broken lexicographically (sort by freq DESC, token ASC), so
    the vocab set — and therefore every OOV count — is exact.

    Plan shape: one tokenize+explode scan feeds BOTH the global
    frequency agg (map-side combined) and the per-slice count; the
    top-vocab_size cut is ``orderBy().limit()`` — Catalyst compiles it
    to TakeOrderedAndProject (per-partition top-k merged on the
    driver), NOT a global un-partitioned window that would funnel the
    full distinct-token table (billions of rows at 100 TB) through one
    partition. The vocab is a vocab_size-row broadcast joined map-side
    (left join + null flag, no shuffle of the token stream). Output:
    (slice, n_tokens, n_oov, oov_rate).
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    toks = docs.select(
        F.col(by).alias("_g"),
        F.explode(
            F.filter(tokens(F.lower(F.col(text_col))), lambda t: t != "")
        ).alias("_tok"),
    )
    freq = toks.groupBy("_tok").agg(F.count("*").alias("_f"))
    vocab = (
        freq.orderBy(F.desc("_f"), F.asc("_tok"))
        .limit(vocab_size)
        .select("_tok", F.lit(True).alias("_in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), on="_tok", how="left")
    return (
        flagged.groupBy(F.col("_g").alias(by))
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            by,
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov") / F.col("n_tokens").cast("double"), 6
            ).alias("oov_rate"),
        )
    )


def nucleus_vocab(
    docs: DataFrame,
    coverage_pct: int = 90,
    by: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Nucleus (top-p) vocabulary size per corpus slice: the SMALLEST
    number of distinct tokens, taken in frequency-descending order,
    whose occurrences cover ≥ ``coverage_pct`` % of the slice's token
    mass — the "how heavy is the head" number that sizes a tokenizer
    vocab or a cache of hot embeddings per slice.

    Exactness: the prefix SIZE is invariant to tie order within a
    frequency level (any ``need`` tokens of the boundary frequency
    complete the mass), so the computation never orders individual
    tokens — and the whole result is integer arithmetic: the coverage
    test is ``100·cum ≥ pct·total`` and the boundary take is an integer
    ceil-div. No engine-float crosses the output.

    Plan shape — the scale trick: the running sum is taken over
    FREQUENCY LEVELS, not tokens. (slice, token) counts collapse to
    (slice, freq) levels first (n_tokens_at_f, mass = f·n), so the
    per-slice window runs over the number of DISTINCT frequencies —
    O(√mass) by Zipf — instead of billions of token rows in one
    partition. The crossing level is found by filtering
    ``100·cum ≥ pct·T`` and ``100·(cum − mass) < pct·T`` (first
    crossing), no second window. Output:
    (slice, total_tokens, distinct_tokens, nucleus_vocab).
    """
    if not (0 < coverage_pct <= 100):
        raise ValueError(
            f"coverage_pct must be in (0, 100], got {coverage_pct}"
        )
    toks = docs.select(
        F.col(by).alias("_g"),
        F.explode(
            F.filter(tokens(F.lower(F.col(text_col))), lambda t: t != "")
        ).alias("_tok"),
    )
    freq = toks.groupBy("_g", "_tok").agg(F.count("*").alias("_f"))
    levels = freq.groupBy("_g", "_f").agg(
        F.count("*").alias("_n_at_f")
    ).withColumn("_mass", F.col("_f") * F.col("_n_at_f"))
    w = (
        Window.partitionBy("_g")
        .orderBy(F.desc("_f"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("_g")
    cum = levels.select(
        "_g",
        "_f",
        "_n_at_f",
        "_mass",
        F.sum("_mass").over(w).alias("_cum_mass"),
        F.sum("_n_at_f").over(w).alias("_cum_toks"),
        F.sum("_mass").over(wg).alias("_total"),
        F.sum("_n_at_f").over(wg).alias("_distinct"),
    )
    pct = F.lit(int(coverage_pct))
    crossing = cum.filter(
        (F.lit(100) * F.col("_cum_mass") >= pct * F.col("_total"))
        & (
            F.lit(100) * (F.col("_cum_mass") - F.col("_mass"))
            < pct * F.col("_total")
        )
    )
    # tokens needed from the boundary level: ceil((pct·T/100 − cum_above) / f)
    # in integers: ceil((pct·T − 100·cum_above) / (100·f))
    need = F.expr(
        f"cast(({int(coverage_pct)} * _total - 100 * (_cum_mass - _mass)"
        f" + 100 * _f - 1) div (100 * _f) as bigint)"
    )
    return crossing.select(
        F.col("_g").alias(by),
        F.col("_total").cast("long").alias("total_tokens"),
        F.col("_distinct").cast("long").alias("distinct_tokens"),
        (F.col("_cum_toks") - F.col("_n_at_f") + need)
        .cast("long")
        .alias("nucleus_vocab"),
    )


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy over characters (bits/char) — the
    classic gibberish/boilerplate filter: natural prose sits ~4 bits,
    base64 blobs and key-mash near the alphabet ceiling, repeated
    filler near zero.

    H = log2(n) − (Σ c·log2(c))/n from EXACT integer character counts;
    the only floats are the log2 terms (libm's last-ulp differences
    are absorbed by the +1e-9 nudge before the 4-dp round — the OLS
    idiom). Empty documents have no defined entropy and are absent.

    Plan shape: explode to characters → (doc, char) hash agg (map-side
    partials collapse each partition to ≤ docs·|alphabet| rows) → one
    per-doc fold over ≤ |alphabet| rows. At 100 TB the (doc, char)
    exchange is the cost; a mapInArrow histogram (q133's crossing)
    would cut it to one row per doc — this plan is the shuffle-only,
    zero-Python variant. Output: (doc_id, n_chars, entropy).
    """
    counts = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "")).alias("_c"),
        )
        .filter(F.col("_c") != "")
        .groupBy(id_col, "_c")
        .agg(F.count("*").alias("_n"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("_n").alias("_tot"),
        F.sum(F.col("_n") * F.log2(F.col("_n"))).alias("_s"),
    )
    return per_doc.select(
        id_col,
        F.col("_tot").cast("long").alias("n_chars"),
        F.round(
            F.log2(F.col("_tot"))
            - F.col("_s") / F.col("_tot")
            + F.lit(1e-9),
            4,
        ).alias("entropy"),
    )


def char_trigram_profile(
    docs: DataFrame,
    k: int = 10,
    by: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-slice top-k character trigrams — the profile table a real
    n-gram language identifier is built from (langid.py / CLD classify
    by comparing a document's trigram distribution against exactly
    these per-language profiles).

    Trigram extraction is substring windows over the lowercased text
    (spaces included — boundary trigrams like 'th ' carry the signal);
    ranking is (count desc, trigram asc) per slice, deterministic.

    Plan shape: transform over an index sequence generates trigrams
    map-side (a Generate + projection, no Python); one (slice, trigram)
    hash agg with map-side partials; the top-k cut is one row_number
    window partitioned BY SLICE — bounded by the per-slice distinct
    trigram count (≤ |alphabet|³, a constant), never a global sort.
    Output: (slice, trigram, n, rank).
    """
    t = F.lower(F.col(text_col))
    n = F.length(t)
    # substring with a COLUMN start index needs the SQL form (the
    # python F.substring takes literal pos), hence expr()
    grams = F.when(
        n >= 3,
        F.expr(
            f"transform(sequence(1, length(lower({text_col})) - 2), "
            f"i -> substr(lower({text_col}), i, 3))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        ensure_parallelism(docs)
        .select(F.col(by).alias("_g"), F.explode(grams).alias("_tri"))
        .groupBy("_g", "_tri")
        .agg(F.count("*").alias("_n"))
    )
    w = Window.partitionBy("_g").orderBy(F.desc("_n"), F.asc("_tri"))
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_g").alias(by),
            F.col("_tri").alias("trigram"),
            F.col("_n").cast("long").alias("n"),
            F.col("_rk").cast("int").alias("rank"),
        )
    )


def zipf_slope(
    docs: DataFrame, top_k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Zipf fit of the corpus token distribution: the OLS slope of
    ln(freq) against ln(rank) over the top-``top_k`` tokens — natural
    corpora sit near −1; a template-generated or boilerplate-flooded
    corpus shows up immediately as a flat (near-0) or cliff-shaped
    slope. The one-number "does this corpus look like language?" check.

    Determinism: ranks come from the deterministic (freq desc, token
    asc) top-k — an ``orderBy().limit()`` TakeOrderedAndProject, never
    a global window over the vocabulary; the top-k rows (≤ top_k) then
    rank in one bounded window. The OLS closed form runs over ≤ top_k
    ln() terms with the +1e-9 nudge before the 4-dp round (the q08
    idiom — libm last-ulp differences cannot cross the boundary).

    Output: one row (n_terms, slope).
    """
    if top_k < 2:
        raise ValueError(f"top_k must be >= 2, got {top_k}")
    toks = docs.select(
        F.explode(
            F.filter(tokens(F.lower(F.col(text_col))), lambda t: t != "")
        ).alias("_tok")
    )
    freq = toks.groupBy("_tok").agg(F.count("*").alias("_f"))
    top = freq.orderBy(F.desc("_f"), F.asc("_tok")).limit(top_k)
    w = Window.orderBy(F.desc("_f"), F.asc("_tok"))
    xy = top.withColumn("_rk", F.row_number().over(w)).select(
        F.log(F.col("_rk").cast("double")).alias("_x"),
        F.log(F.col("_f").cast("double")).alias("_y"),
    )
    agg = xy.agg(
        F.count("*").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    denom = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return agg.select(
        F.col("_n").cast("long").alias("n_terms"),
        F.when(
            denom != 0,
            F.round(
                (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
                / denom
                + F.lit(1e-9),
                4,
            ),
        ).alias("slope"),
    )


def distinctive_terms(
    docs: DataFrame,
    k: int = 5,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-slice distinctive terms: tokens whose in-slice rate most
    exceeds their corpus rate (smoothed log-ratio) — the "what makes
    source A different" table read when deciding mixture weights or
    spotting a contaminated crawl (one slice suddenly distinctive for
    'click', 'subscribe' → boilerplate inflow).

    Score = ln( (c_s + 1)/(n_s + V) · (n + V)/(c + 1) ) — add-one
    smoothed in-slice rate over corpus rate, so zero-elsewhere tokens
    don't divide by zero and the score is defined for every (slice,
    token). Integer counts throughout; ONE ln per row, rounded to 4 dp
    with the +1e-9 nudge before the per-slice top-k
    (score desc, token asc).

    Plan shape: one (slice, token) hash agg feeds both the corpus
    totals (re-agg of the slice table — vocabulary-sized, never a
    second corpus scan) and the scores; corpus totals broadcast back;
    top-k is a per-slice row_number over the slice's vocabulary.
    Output: (slice, token, n_in_slice, score, rank).
    """
    toks = docs.select(
        F.col(by).alias("_g"),
        F.explode(
            F.filter(tokens(F.lower(F.col(text_col))), lambda t: t != "")
        ).alias("_tok"),
    )
    slice_counts = toks.groupBy("_g", "_tok").agg(
        F.count("*").alias("_c")
    )
    corpus_counts = slice_counts.groupBy("_tok").agg(
        F.sum("_c").alias("_ct")
    )
    slice_totals = slice_counts.groupBy("_g").agg(
        F.sum("_c").alias("_ns")
    )
    vocab = corpus_counts.agg(
        F.count("*").alias("_v"), F.sum("_ct").alias("_n")
    )
    scored = (
        slice_counts.join(F.broadcast(corpus_counts), on="_tok")
        .join(F.broadcast(slice_totals), on="_g")
        .crossJoin(F.broadcast(vocab))
        .select(
            "_g",
            "_tok",
            "_c",
            F.round(
                F.log(
                    (F.col("_c") + 1.0)
                    / (F.col("_ns") + F.col("_v"))
                    * (F.col("_n") + F.col("_v"))
                    / (F.col("_ct") + 1.0)
                )
                + F.lit(1e-9),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("_g").orderBy(F.desc("score"), F.asc("_tok"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_g").alias(by),
            F.col("_tok").alias("token"),
            F.col("_c").cast("long").alias("n_in_slice"),
            "score",
            F.col("_rk").cast("int").alias("rank"),
        )
    )


def bpe_train_merges(
    docs: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
    sep: str = "|",
) -> DataFrame:
    """Iterative BPE tokenizer training (Sennrich et al., ACL'16) —
    the first `rounds` merges learned from the corpus, exactly: each
    round counts adjacent symbol pairs weighted by WORD FREQUENCY,
    merges the (count desc, left asc, right asc)-best pair greedily
    left-to-right without overlap in every word, and recounts. Training
    stops early when no pair is left, so a corpus of short words yields
    fewer than `rounds` rows.

    Scale design: the corpus-sized work is ONE (word) hash agg in Spark
    building the frequency table, the same pre-aggregation every
    production BPE trainer (sentencepiece, HF tokenizers) performs.
    All merge rounds then run in ONE Python task over that
    vocabulary-bounded table (a single-group ``applyInPandas``), so
    the plan stays lazy and no round launches a job; per-round cost is
    |vocab|·max_word_len regardless of corpus size. The word table
    must fit one worker, which is the assumption those trainers make.

    Symbols are code points; Python's str order (code-point order) is
    the UTF-8 byte order Spark and DuckDB compare strings by, so the
    tie-break matches `bpe_merges_oracle_sql`. Tokens containing `sep`
    are dropped, mirroring the oracle, whose `replace`-based merge
    needs a delimiter no token carries. Counts are exact longs.

    Output: (round, left, right, merged, pair_count) — one row per
    learned merge, in training order.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if len(sep) != 1:
        raise ValueError(f"sep must be one char, got {sep!r}")
    words = (
        ensure_parallelism(docs)
        .select(F.explode(nonempty_tokens(F.lower(F.col(text_col)))).alias("_w"))
        .filter(~F.contains(F.col("_w"), F.lit(sep)))
        .groupBy("_w")
        .agg(F.count("*").alias("freq"))
    )
    # one group, whose key carries `rounds` into the task
    return words.groupBy(F.lit(rounds).alias("_rounds")).applyInPandas(
        _bpe_rounds,
        "round int, left string, right string, merged string, pair_count long",
    )


def _bpe_rounds(key, words):
    """All merge rounds of `bpe_train_merges` over the (word, freq)
    table, as one pandas fold."""
    from collections import Counter

    import pandas as pd

    (rounds,) = key
    freqs = dict(zip(words["_w"].tolist(), words["freq"].tolist()))
    seqs = {w: list(w) for w in freqs}
    merges = []
    for r in range(1, rounds + 1):
        counts: Counter = Counter()
        for w, f in freqs.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, left, right, left + right, cnt))
        for w in seqs:
            s, out, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return pd.DataFrame(
        merges, columns=["round", "left", "right", "merged", "pair_count"]
    )


def bpe_merges_oracle_sql(table: str = "documents", rounds: int = 3) -> str:
    """DuckDB twin of bpe_train_merges, written independently of its
    Python fold: the same word-frequency table, pair counts and
    (count desc, pair asc) argmax, with the greedy merge done by
    `replace` on WRAPPED-token sequences, unrolled per round.

    Every symbol is wrapped as '|t|' (tokens joined with '||':
    '|a||b||c|'), so the pattern '|L||R|' → '|LR|' consumes no
    character shared with the next potential match, and plain
    non-overlapping `replace` IS the greedy left-to-right merge (with
    single delimiters, '|a|a|a|a|' merged on (a,a) would give
    [aa,a,a], not [aa,aa]). Matches align to token boundaries because
    no token contains '|' (such tokens are dropped, as in the
    operator).

    Every CTE is MATERIALIZED: round r's sequences feed both round
    r+1's pair counts and its merge, so an inlined plan re-expands the
    whole chain at each reference and planning time grows
    geometrically with the round count."""
    ctes = ["""
    tok AS MATERIALIZED (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
                                                   '\\s+'),
                    x -> x <> '' AND NOT contains(x, '|'))) AS w
      FROM {table}
    ), v0 AS MATERIALIZED (
      SELECT freq,
             '|' || array_to_string(
               list_transform(range(1, length(w) + 1),
                              i -> substr(w, i, 1)), '||') || '|' AS seq
      FROM (SELECT w, cast(count(*) AS BIGINT) AS freq
            FROM tok GROUP BY w)
    )""".format(table=table)]
    for r in range(1, rounds + 1):
        ctes.append(f"""
    p{r} AS MATERIALIZED (
      SELECT l, r, cast(sum(freq) AS BIGINT) AS pair_count
      FROM (
        SELECT freq, unnest(s[1:-2]) AS l, unnest(s[2:-1]) AS r
        FROM (SELECT freq,
                     list_filter(string_split(seq, '|'), x -> x <> '') AS s
              FROM v{r - 1})
        WHERE len(s) >= 2
      ) GROUP BY 1, 2
    ), t{r} AS MATERIALIZED (
      SELECT l, r, pair_count FROM p{r}
      ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
    ), v{r} AS MATERIALIZED (
      SELECT freq,
             replace(seq, '|' || l || '||' || r || '|',
                          '|' || l || r || '|') AS seq
      FROM v{r - 1} CROSS JOIN t{r}
    )""")
    selects = [
        f"""SELECT cast({r} AS INTEGER) AS round, l AS "left",
               r AS "right", l || r AS merged, pair_count
        FROM t{r}"""
        for r in range(1, rounds + 1)
    ]
    return (
        "WITH " + ",".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(selects)
    )


def js_divergence(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Jensen–Shannon divergence between two corpus slices' token
    (unigram) distributions — the SYMMETRIC, always-finite corpus-drift
    number beside q207's binned PSI: JS sees the whole vocabulary, is
    bounded by ln 2, and never blows up on a token one side lacks
    (where KL does).

    The vocabulary is DATA-SHAPED (unbounded cells), so a float SUM of
    per-term contributions would be partial-order-dependent — the
    hazard every other float reduction in this repo avoids with
    bounded grids or deterministic folds. Here each term's
    contribution is computed once in double from EXACT integer counts
    (ln args as pure-double products, the q246 discipline), snapped to
    the 1e-12 integer grid, and summed as decimal(38,0) — exact and
    order-free at any vocabulary size; one terminal division. The
    statistic is therefore the exact JS of the grid-snapped terms,
    identical on both engines by construction.

    Plan shape: explode → one (token) hash agg with map-side partials
    (the exchange carries the vocabulary, not the token stream) → one
    1-row reduction. Tokenization = the repo-wide whitespace contract
    (functions/text.nonempty_tokens, lowercased).

    Output: 1 row (vocab_a, vocab_b, vocab_common, js_nats).
    """
    from ..functions.text import nonempty_tokens

    toks = (
        docs.filter(
            F.col(group_col).isin(group_a, group_b)
            & F.col(text_col).isNotNull()
        )
        .select(
            (F.col(group_col) == group_a).alias("_is_a"),
            F.explode(nonempty_tokens(F.lower(F.col(text_col)))).alias(
                "tok"
            ),
        )
    )
    cells = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("_is_a"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("_is_a"), 1).otherwise(0)).alias("b"),
    )
    totals = cells.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
    )
    a_d, b_d = F.col("a").cast("double"), F.col("b").cast("double")
    ta_d, tb_d = F.col("ta").cast("double"), F.col("tb").cast("double")
    # both totals must be positive in each term's condition: with an
    # EMPTY other side (tb = 0), a one-sided term's ln argument is
    # 0/0 — ANSI raises; JS against an empty distribution is
    # undefined and the final select NULLs it out.
    term_a = F.when(
        (F.col("a") > 0) & (F.col("tb") > 0),
        a_d
        / ta_d
        * F.log(
            F.lit(2.0) * a_d * tb_d / (a_d * tb_d + b_d * ta_d)
        ),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        (F.col("b") > 0) & (F.col("ta") > 0),
        b_d
        / tb_d
        * F.log(
            F.lit(2.0) * b_d * ta_d / (b_d * ta_d + a_d * tb_d)
        ),
    ).otherwise(F.lit(0.0))
    snapped = cells.crossJoin(F.broadcast(totals)).select(
        "a",
        "b",
        F.round(term_a * F.lit(1e12)).cast("decimal(38,0)").alias("_qa"),
        F.round(term_b * F.lit(1e12)).cast("decimal(38,0)").alias("_qb"),
    )
    agg = snapped.agg(
        F.sum(F.when(F.col("a") > 0, 1).otherwise(0))
        .cast("long")
        .alias("vocab_a"),
        F.sum(F.when(F.col("b") > 0, 1).otherwise(0))
        .cast("long")
        .alias("vocab_b"),
        F.sum(F.when((F.col("a") > 0) & (F.col("b") > 0), 1).otherwise(0))
        .cast("long")
        .alias("vocab_common"),
        (F.sum("_qa") + F.sum("_qb")).alias("_q"),
    )
    return agg.select(
        "vocab_a",
        "vocab_b",
        "vocab_common",
        F.round(
            F.when(
                (F.col("vocab_a") > 0) & (F.col("vocab_b") > 0),
                F.col("_q").cast("double") / F.lit(2e12),
            )
            + 1e-9,
            6,
        ).alias("js_nats"),
    )


def js_attribution(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    k: int = 20,
) -> DataFrame:
    """Drift ATTRIBUTION for ``js_divergence``: the top-k tokens by
    Jensen–Shannon contribution — "which words moved" — the actionable
    companion to the single drift number (a JS of 0.02 driven by one
    template token is a different problem from one spread across the
    vocabulary).

    Same exact construction as ``js_divergence`` (per-term doubles
    from exact counts snapped to the 1e-12 grid), so each token's
    contribution is an exact integer and the top-k order (contribution
    desc, token asc) is fully deterministic — no float-tie ambiguity
    between engines. TakeOrdered(k), never a window.

    Output: k rows (tok, n_a, n_b, contrib_nats).
    """
    from ..functions.text import nonempty_tokens

    toks = (
        docs.filter(
            F.col(group_col).isin(group_a, group_b)
            & F.col(text_col).isNotNull()
        )
        .select(
            (F.col(group_col) == group_a).alias("_is_a"),
            F.explode(nonempty_tokens(F.lower(F.col(text_col)))).alias(
                "tok"
            ),
        )
    )
    cells = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("_is_a"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("_is_a"), 1).otherwise(0)).alias("b"),
    )
    totals = cells.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
    )
    a_d, b_d = F.col("a").cast("double"), F.col("b").cast("double")
    ta_d, tb_d = F.col("ta").cast("double"), F.col("tb").cast("double")
    term_a = F.when(
        (F.col("a") > 0) & (F.col("tb") > 0),
        a_d
        / ta_d
        * F.log(
            F.lit(2.0) * a_d * tb_d / (a_d * tb_d + b_d * ta_d)
        ),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        (F.col("b") > 0) & (F.col("ta") > 0),
        b_d
        / tb_d
        * F.log(
            F.lit(2.0) * b_d * ta_d / (b_d * ta_d + a_d * tb_d)
        ),
    ).otherwise(F.lit(0.0))
    snapped = cells.crossJoin(F.broadcast(totals)).select(
        "tok",
        F.col("a").cast("long").alias("n_a"),
        F.col("b").cast("long").alias("n_b"),
        (
            F.round(term_a * F.lit(1e12)).cast("long")
            + F.round(term_b * F.lit(1e12)).cast("long")
        ).alias("_q"),
    )
    return (
        snapped.orderBy(F.desc("_q"), F.asc("tok"))
        .limit(k)
        .select(
            "tok",
            "n_a",
            "n_b",
            F.round(F.col("_q").cast("double") / F.lit(2e12) + 1e-9, 6).alias(
                "contrib_nats"
            ),
        )
    )


def lexical_diversity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group lexical-diversity profile: type/token counts, hapax
    (frequency-1) share, and Herdan's C — the corpus-health panel a
    training-data curator reads next to q205's Zipf slope ("is this
    source templated boilerplate or genuinely varied text?"). A
    near-zero hapax share with low TTR flags machine-generated or
    deduplicable boilerplate; Herdan's C (log-log type/token ratio)
    is the size-robust comparison across sources of different volume.

    Tokenization is the module's shared whitespace convention
    (:func:`..functions.text.tokens`, lowercased, empties dropped) —
    the SAME definition q38/q183 use, so vocabularies reconcile
    across the text panel.

    Exactness: every count is an exact integer from ONE
    (group, token) hash agg (partial-combined — the exchange carries
    each group's VOCABULARY, not its token stream; at 100 TB that is
    the difference between shuffling ~10⁶ distinct tokens per group
    and shuffling the corpus); ttr / hapax_ratio / herdan_c are
    terminal single-division (or single ln-ratio) double sequences,
    6 dp.

    Output: one row per group — (group, n_tokens, n_types, n_hapax,
    ttr, hapax_ratio, herdan_c); herdan_c is NULL for groups with
    ≤ 1 token (ln 1 = 0 denominator).
    """
    toks = (
        docs.select(
            group_col,
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
    )
    freq = toks.groupBy(group_col, "_tok").agg(
        F.count("*").cast("long").alias("_f")
    )
    agg = freq.groupBy(group_col).agg(
        F.sum("_f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("_f") == 1).cast("long"))
        .cast("long")
        .alias("n_hapax"),
    )
    nt = F.col("n_tokens").cast("double")
    ny = F.col("n_types").cast("double")
    return agg.select(
        group_col,
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(ny / nt + 1e-9, 6).alias("ttr"),
        F.round(
            F.col("n_hapax").cast("double") / ny + 1e-9, 6
        ).alias("hapax_ratio"),
        F.when(
            F.col("n_tokens") > 1,
            F.round(F.log(ny) / F.log(nt) + 1e-9, 6),
        ).alias("herdan_c"),
    )


def bigram_lm_lang_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    train_pct: int = 80,
    nll_scale: int = 1_000_000,
) -> DataFrame:
    """Bigram language-model scoring per language slice — the
    context-aware upgrade of :func:`unigram_lm_scores` (q109): train
    an add-one-smoothed bigram LM p(b|a) = (c₂(a,b)+1)/(c₁(a)+V) on
    the deterministic hash-split train partition, then report each
    LANGUAGE's mean bigram NLL over the whole corpus — the slice-level
    "which language does this corpus model actually speak?" panel
    (a language scoring far above the rest is under-represented or
    noisy). Unseen bigrams and unseen contexts fall out of the same
    formula with c₂ = 0 / c₁ = 0 (OOV context ⇒ p = 1/V).

    Cross-engine parity, the q109 discipline one level up: each
    DISTINCT (a, b) bigram's NLL snaps once to the integer
    ``nll_scale`` grid on the level table — round(ln((c₁+V)/(c₂+1))·
    scale) — so every corpus aggregation is order-free exact integer
    arithmetic (occurrence count × grid NLL), with ONE terminal
    division per language.

    Plan shape: bigrams via the in-array adjacent-pair transform (no
    token self-join); one (a, b) hash agg for the train LM and one
    (lang, a, b) hash agg for scoring — both exchanges carry DISTINCT
    bigrams, never the token stream; c₁ re-aggregates from c₂; the
    V/broadcast scalars ride 1-row cross joins.

    Output: one row per language with ≥ 1 scored bigram —
    (lang, n_docs, n_bigrams, sum_nll6, avg_nll 6 dp).
    """
    from .sampling import hash_bucket

    toks = F.filter(
        tokens(F.lower(F.col(text_col))), lambda x: x != ""
    )
    base = ensure_parallelism(docs).select(
        id_col,
        lang_col,
        (hash_bucket(F.col(id_col), 100) < train_pct).alias("_train"),
        toks.alias("_t"),
    )
    pairs = base.select(
        id_col,
        lang_col,
        "_train",
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.struct(
                        F.element_at("_t", i).alias("a"),
                        F.element_at("_t", i + F.lit(1)).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("_bg"),
    ).select(
        id_col, lang_col, "_train",
        F.col("_bg.a").alias("_a"), F.col("_bg.b").alias("_b"),
    )
    c2 = (
        pairs.filter(F.col("_train"))
        .groupBy("_a", "_b")
        .agg(F.count("*").cast("long").alias("_c2"))
    )
    c1 = c2.groupBy("_a").agg(F.sum("_c2").cast("long").alias("_c1"))
    vocab = (
        pairs.filter(F.col("_train"))
        .select(F.explode(F.array("_a", "_b")).alias("_tok"))
        .agg(F.count_distinct("_tok").cast("long").alias("_v"))
    )
    scored_counts = pairs.groupBy(lang_col, "_a", "_b").agg(
        F.count("*").cast("long").alias("_n")
    )
    # fail LOUDLY on an empty LM (every doc hashed out of the train
    # split): V = 0 would make every NLL ln(0) = -inf and die in the
    # ANSI long cast far from the root cause — the unigram sibling's
    # assert_true convention
    lm_nonempty = F.assert_true(
        F.col("_v") > 0,
        F.lit(
            "bigram LM train split is empty — check train_pct against "
            "the corpus"
        ),
    )
    lm = (
        scored_counts.join(F.broadcast(c2), ["_a", "_b"], "left")
        .join(F.broadcast(c1), "_a", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            lang_col,
            "_n",
            F.when(
                lm_nonempty.isNull(),
                F.round(
                    F.log(
                        (
                            F.coalesce(F.col("_c1"), F.lit(0))
                            + F.col("_v")
                        ).cast("double")
                        / (
                            F.coalesce(F.col("_c2"), F.lit(0)) + F.lit(1)
                        ).cast("double")
                    )
                    * nll_scale,
                    0,
                ).cast("long"),
            ).alias("_nll6"),
        )
    )
    ndocs = (
        pairs.groupBy(lang_col)
        .agg(F.count_distinct(id_col).cast("long").alias("n_docs"))
    )
    agg = lm.groupBy(lang_col).agg(
        F.sum("_n").cast("long").alias("n_bigrams"),
        F.sum(F.col("_n") * F.col("_nll6")).cast("long").alias("sum_nll6"),
    )
    return ndocs.join(agg, lang_col).select(
        lang_col,
        "n_docs",
        "n_bigrams",
        "sum_nll6",
        F.round(
            F.col("sum_nll6").cast("double")
            / F.col("n_bigrams").cast("double")
            / nll_scale
            + 1e-9,
            6,
        ).alias("avg_nll"),
    )
