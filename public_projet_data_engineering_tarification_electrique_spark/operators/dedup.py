"""Deduplication family for large-scale training-data pipelines
(extension surface, BASELINE.json north star): exact, MinHash+LSH,
SimHash, n-gram Jaccard. Embedding-cosine near-dup lives in
similarity.embedding_neardup.

Scale design notes:
- exact: one hash aggregation on the content key (or its md5 for wide
  text) — the cheapest possible full-corpus dedup.
- MinHash LSH (MLlib): shingle → sparse vector → minhash bands →
  bucket join; candidate pairs only where bands collide. O(N·bands)
  shuffle instead of O(N²).
- SimHash: 64-bit signature via per-token xxhash64 bit-voting; near-dup
  candidates via band equality + hamming ≤ r. Pure DataFrame ops
  (explode → conditional sums → bit ops), fully codegen'd.
- n-gram Jaccard: exact verification metric, blocked by a shared-shingle
  join so only colliding pairs are scored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_shingles
from .util import NoFixpoint, _fixpoint, ensure_parallelism, scoped_conf


def exact_dedup(
    docs: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep min id per identical content, count dups."""
    return (
        docs.groupBy(content_col)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "n_dups")
    )


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document.

    Classic bit-voting: each token votes +1/−1 on each signature bit
    according to its token hash; the sign of each bit-sum is the
    signature bit (ties → 0, i.e. bit set iff 2·ones > n_tokens).

    Token hash: two md5 halves parsed as 60-bit ints (bits 0-59 from
    hex chars 1-15, bits 60-63 from the low bits of chars 17-31). md5
    — not xxhash64 — so the DuckDB oracle recomputes the IDENTICAL
    signatures from SQL (q21's value-level gate); both engines agree on
    md5 bytes, and 15 hex chars stay under 2^60, safely inside a signed
    BIGINT in both dialects.

    Packed-counter layout: the naive form is 64 conditional-sum
    aggregate columns, whose generated code blows past the codegen
    method limit (measured ~5× slower and a 15 s first-compile). Instead
    each aggregate long packs FOUR 16-bit bit-counters (overflow-safe to
    65535 tokens/doc), so the hash agg has 16 sums + 1 count; the 64
    sign tests become one cheap post-agg projection over one row/doc.
    """
    # Null-text docs drop out entirely (split(NULL) → NULL, explode
    # emits nothing) — mirrored exactly by the oracle's unnest(NULL),
    # so parity holds; note the family asymmetry: the shingle paths
    # give a null doc one ""-shingle and CAN pair two null docs. A
    # signature for "no content" is meaningless either way; callers
    # wanting null≡empty should coalesce before calling.
    # Hash each DISTINCT (doc, token) once and weight its vote by the
    # occurrence count: md5 + two conv() base conversions are the
    # expensive part, and per-occurrence hashing paid them ~4-7× more
    # often than needed (measured 9.6 s → ~4 s at sf0.1). The extra
    # (doc, token) pre-aggregation is a standard map-side-combining
    # shuffle whose rows are bounded by per-doc vocabulary, not corpus
    # token count — strictly smaller traffic at any scale.
    md5 = F.md5(F.col("_tok"))
    toks = (
        ensure_parallelism(docs)
        .select(
            id_col,
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("_tok"),
        )
        .groupBy(id_col, "_tok")
        .agg(F.count("*").alias("_cnt"))
        .select(
            id_col,
            "_cnt",
            F.conv(F.substring(md5, 1, 15), 16, 10).cast("long").alias("_ha"),
            F.conv(F.substring(md5, 17, 15), 16, 10).cast("long").alias("_hb"),
        )
    )

    # The packed-counter and sign-test expressions are generated as SQL
    # TEXT and parsed server-side in ONE call each: the former
    # Column-by-Column construction crossed Py4J ~1000 times (hundreds
    # of nested shiftleft/bitwiseAND objects) and measured 4.8-7.8 s of
    # pure driver-side plan building at ANY data size (optimization
    # guide §1.2 — fix the constant per-query work before the cluster
    # work). The parsed expression tree is identical, so signatures —
    # and the q21/q164 oracle hashes — are unchanged.
    def _bit(i: int) -> str:
        if i < 60:
            return f"(shiftrightunsigned(_ha, {i}) & 1)"
        return f"(shiftrightunsigned(_hb, {i - 60}) & 1)"

    def packed_contrib(g: int) -> str:
        # bits 2g, 2g+1 land in 32-bit fields 0, 1 of accumulator g.
        # Width choice is an OVERFLOW bound, not a style choice: with
        # the former 4×16-bit packing the field-3 term (bit<<48)·cnt
        # summed past 2^63 once ≥32768 occurrences voted on one bit —
        # an ARITHMETIC_OVERFLOW crash under Spark 4's default ANSI
        # mode for any ~books-sized document. 2×32-bit fields keep the
        # long sum safe to ~2^31 tokens/doc and field carries need
        # 2^32 votes (unreachable). 32 agg columns instead of 16 costs
        # some codegen width; 64 unpacked columns measured ~5× worse.
        terms = [
            f"shiftleft({_bit(2 * g + j)}, {32 * j}) * _cnt"
            for j in range(2)
        ]
        return f"({terms[0]} + {terms[1]})"

    aggs = [
        F.expr(f"sum({packed_contrib(g)})").alias(f"_p{g}") for g in range(32)
    ] + [F.sum("_cnt").alias("_n")]
    agg = toks.groupBy(id_col).agg(*aggs)
    sig_terms = []
    for i in range(64):
        g, j = divmod(i, 2)
        ones = f"(shiftrightunsigned(_p{g}, {32 * j}) & 4294967295)"
        bit = (
            f"(case when {ones} * 2 > _n then cast(1 as bigint) "
            f"else cast(0 as bigint) end)"
        )
        sig_terms.append(f"shiftleft({bit}, {i})")
    sig = F.expr(" | ".join(sig_terms))
    return agg.select(id_col, sig.alias("simhash"))


def simhash_neardup(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs: band-blocked candidate join + hamming filter.

    A pair within hamming ≤ r on a 64-bit signature must agree exactly on
    at least one of r+1 bands (pigeonhole), so banding loses no true
    candidates for n_bands ≥ max_hamming+1.
    Output: (id_a, id_b, hamming).
    """
    if 64 % n_bands != 0:
        # a non-divisor silently changes the banding semantics: width
        # truncates (n_bands>64 → width 0 → every key 0 → full O(N²)
        # cross join) or leaves the high bits outside every band
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    if n_bands < max_hamming + 1:
        raise ValueError(
            f"banding would miss true pairs: need n_bands >= max_hamming + 1, "
            f"got n_bands={n_bands}, max_hamming={max_hamming}"
        )
    width = 64 // n_bands
    # signature is consumed by both sides of the candidate self-join;
    # materialize it once (it is tiny: one long per doc)
    sig = simhash64(docs, text_col=text_col, id_col=id_col).localCheckpoint(
        eager=True
    )
    banded = sig.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("_band"),
    ).select(id_col, "simhash", "_band.band", "_band.key")
    a = banded.select(
        F.col("band"), F.col("key"), F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa")
    )
    b = banded.select(
        F.col("band"), F.col("key"), F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb")
    )
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard similarity for candidate pairs.

    Blocking: pairs are generated only via the shared-shingle join, so
    disjoint documents are never compared. |∪| = |A|+|B|−|∩| avoids a
    second pass. Output: (id_a, id_b, jaccard ≥ threshold).

    ``max_df`` caps the document frequency of shingles admitted to the
    blocking/scoring universe: a shingle shared by d documents creates
    O(d²) candidate pairs, so one boilerplate phrase in 1% of a 100 TB
    corpus would dominate the join (measured 22× cost for 10× data on
    a near-dup-heavy corpus without the cap, ~linear with it). Jaccard
    is then computed exactly over the capped shingle universe — the
    standard df-cap semantics of production dedup pipelines; pairs
    whose ONLY overlap is ultra-common shingles are deliberately not
    near-dups under this metric.
    """
    pairs = _shingle_pair_counts(docs, k, text_col, id_col, max_df)
    jac = F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pairs.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def _shingle_pair_counts(
    docs: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    max_df: int | None,
) -> DataFrame:
    """Shared candidate-pair machinery for every shingle-overlap metric
    (Jaccard, containment): df-capped POSTING LISTS with map-side pair
    expansion, returning (id_a, id_b, inter, na, nb) — the metric is
    a cheap projection on top.

    r12 restructure (guide §2.3/§2.4 — fewer shuffles, shuffle
    metadata not payloads): the former shape was two eager
    localCheckpoints (tokenize; df-agg + semi-join back) feeding a
    shingle self-join — 2 materialization jobs + 4 exchanges at every
    call (~2.3 s fixed at sf0.1). Now ONE materialization builds the
    capped posting lists directly: shuffle the (id, shingle) rows once
    by shingle, cap by a window count ON that partitioning (same
    shuffle the df-agg needed, but no broadcast join back), collect
    the ≤``max_df`` ids per shingle, and expand the id pairs MAP-SIDE
    from each bounded list (≤ max_df·(max_df−1)/2 rows per shingle —
    the same Σ df² candidate work the self-join did, without
    re-shuffling both sides). The posting table (one row per surviving
    shingle) is the only checkpoint; sizes ride the same lists.
    Uncapped (max_df=None) keeps the cap filter out but bounds nothing
    — callers own that choice (they all cap).
    """
    win = Window.partitionBy("sh")
    sh = ensure_parallelism(docs).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("sh"),
    )
    if max_df is not None:
        sh = sh.withColumn("_df", F.count("*").over(win)).filter(
            F.col("_df") <= max_df
        )
    # one row per surviving shingle, ids sorted so expanded pairs are
    # (low, high) by construction; consumed by the pair expansion AND
    # the per-doc sizes — checkpoint once instead of re-tokenizing.
    postings = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        .localCheckpoint(eager=True)
    )
    sizes = (
        postings.select(F.explode("_ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("n"))
    )
    inter = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, (x, i) -> "
                    "transform(slice(_ids, i + 2, size(_ids)), "
                    "y -> struct(x as id_a, y as id_b))))"
                )
            ).alias("_pair")
        )
        .select("_pair.id_a", "_pair.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    # no broadcast HINT here: sizes is one row per surviving document —
    # unbounded at corpus scale, and an explicit hint bypasses the size
    # threshold entirely (hints are honored regardless). AQE broadcasts
    # it anyway whenever it actually fits; above the threshold the
    # correct plan is a shuffle join, not a driver OOM.
    return inter.join(sa, on="id_a").join(sb, on="id_b")


def containment_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs: C(A→B) =
    |S(A)∩S(B)| / |S(A)| — the fraction of A's k-gram shingles that
    also appear in B. Containment catches near-SUBSET duplication
    (a short doc embedded in a longer one, boilerplate wrappers around
    a shared core) that symmetric Jaccard under-scores: for A ⊂ B with
    |B| = 10·|A|, Jaccard ≈ 0.1 but C(A→B) = 1.0.

    Same blocking family as :func:`ngram_jaccard_pairs`: candidates
    come only from the shared-shingle self-join, ``max_df`` caps the
    blocking universe so boilerplate shingles cannot create O(d²)
    pairs at scale. A pair is emitted when EITHER direction's
    containment clears ``threshold``; both directions are reported.
    All counts are integers — the ratios are single exact divisions,
    deterministic cross-engine."""
    pairs = _shingle_pair_counts(docs, k, text_col, id_col, max_df)
    c_ab = F.col("inter") * 1.0 / F.col("na")
    c_ba = F.col("inter") * 1.0 / F.col("nb")
    return (
        pairs.filter((c_ab >= threshold) | (c_ba >= threshold))
        .select(
            "id_a",
            "id_b",
            F.round(c_ab, 4).alias("containment_a"),
            F.round(c_ba, 4).alias("containment_b"),
        )
    )


def _local_union_find(sym: DataFrame) -> DataFrame:
    """Exact min-label components of a SMALL symmetrized edge list via
    driver-side union-find — the ``connected_components`` fast path.
    The caller guarantees the row bound (its ``local_threshold`` gate);
    node/component keep the edge columns' type. Python ``min`` agrees
    with SQL ``min`` for the integral/string id types the dedup family
    uses (longs everywhere in this repo)."""
    rows = sym.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r["_a"], r["_b"]
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    out = [
        (n, label)
        for members in comps.values()
        for label in [min(members)]
        for n in members
    ]
    node_type = sym.schema["_a"].dataType.simpleString()
    return sym.sparkSession.createDataFrame(
        out, f"node {node_type}, component {node_type}"
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Min-label propagation: every node starts as its own component and
    repeatedly adopts the minimum label among itself and its neighbors
    until a fixpoint. Iterations needed = graph diameter, which for
    dedup-cluster graphs (the intended workload) is small: near-dup
    clusters are dense blobs of mutually-similar documents, not long
    chains. Each iteration is ONE shuffle join + one hash aggregation,
    both on the node key; the old label rides along through the
    propagation step so convergence detection is a narrow filter-count
    over the just-materialized frame, not an extra node-keyed join.
    The rounds run through ``util._fixpoint`` (lazy cut per round, the
    changed-row count as the round's one job).

    Output: (node, component) where component = min node id reachable.
    If min-label propagation has not converged within ``max_iter``
    rounds (a long-chain graph whose diameter exceeds the budget), the
    computation FALLS BACK to the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) rather than raising — same output contract, O(log² n)
    rounds regardless of diameter.

    Small-graph fast path: when the symmetrized-distinct edge list has
    at most ``local_threshold`` rows (a BOUNDED driver collect — the
    default 100k edges is a few MB; the count that gates it doubles as
    the checkpoint materialization the first loop round needed anyway),
    the components come from a driver-side union-find instead of the
    scheduler loop. Same output bit-for-bit (min label per component;
    union-find is exact, not approximate) at a fraction of the fixed
    cost: every distributed round is a join + agg + count over a pinned
    exchange — ~0.4 s of pure scheduling per round in local mode, and
    dedup-blocked graphs at bench scale are a few HUNDRED edges. At
    100 TB a near-dup graph over the cap takes the distributed loop
    unchanged; the threshold only ever moves work driver-side when the
    graph provably fits.
    """
    # the symmetrizing union consumes `edges` TWICE — without a cut the
    # whole upstream pair pipeline (blocking join + scoring) executes
    # once per branch (ReuseExchange only dedupes the identical
    # upstream exchanges, not the post-shuffle scoring stages). A lazy
    # checkpoint materializes it once in the same first action
    # (guide §5). No broadcast is downstream of the cut.
    edges = edges.localCheckpoint(eager=False)
    sym = (
        edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
        .union(edges.select(F.col(dst).alias("_a"), F.col(src).alias("_b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if local_threshold > 0:
        # one job: materializes the sym checkpoint (which round 1 of
        # the loop would have paid anyway) AND gates the fast path
        n_edges = sym.count()
        if n_edges <= local_threshold:
            return _local_union_find(sym)

    def step(comp: DataFrame) -> DataFrame:
        nbr_min = (
            sym.join(
                comp.select(
                    F.col("node").alias("_b"), F.col("component").alias("_nc")
                ),
                on="_b",
            )
            .groupBy(F.col("_a").alias("node"))
            .agg(F.min("_nc").alias("_min_nbr"))
        )
        return comp.join(nbr_min, on="node", how="left").select(
            "node",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("_min_nbr"), F.col("component")),
            ).alias("component"),
        )

    # The edge list materializes under the SESSION partitioning (its
    # upstream — shingling, similarity scoring — is corpus-sized work);
    # both loops shuffle only the graph, which for dedup workloads is
    # orders of magnitude smaller, so their rounds run under a pinned
    # low partition count (at 32 partitions a round is mostly
    # empty-task scheduling).
    with scoped_conf(edges.sparkSession, "spark.sql.shuffle.partitions", 8):
        comp = (
            sym.select(F.col("_a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint(eager=False)
        )
        try:
            return _fixpoint(
                comp,
                step,
                max_iter,
                lambda _, new: new.filter(F.col("component") != F.col("_old")),
            ).drop("_old")
        except NoFixpoint:
            # reuse the checkpointed symmetric edge set: passing the RAW
            # edges frame would re-execute its whole upstream lineage
            # (shingling, blocking join, scoring) — exactly on the large
            # inputs that exhaust the propagation budget
            return connected_components_star(sym, src="_a", dst="_b")


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): converges in O(log² n) rounds REGARDLESS of graph
    diameter — the adversarial-graph path behind the same contract as
    ``connected_components`` (which handles the small-diameter dedup
    common case in diameter rounds).

    Per round, both phases are one join + one grouped min over the
    CURRENT edge set (which only shrinks toward a star forest):
    - large-star: every node's strictly-larger neighbors re-attach to
      its smallest neighbor-or-self;
    - small-star: with edges oriented high→low, the smaller neighbors
      (and the node) attach to the minimum.
    At fixpoint edges form stars centered at each component's minimum
    node. The rounds run through ``util._fixpoint``; a round changed
    nothing when the new edge set equals the previous one (an empty
    symmetric difference, counted exactly). 40 rounds are the budget.

    Output: (node, component) where component = min node id reachable.
    """
    def _canon(e: DataFrame) -> DataFrame:
        # undirected edge as (hi, lo), self-loops dropped
        return (
            e.filter(F.col("_u") != F.col("_v"))
            .select(
                F.greatest("_u", "_v").alias("_u"),
                F.least("_u", "_v").alias("_v"),
            )
            .distinct()
        )

    def step(cur: DataFrame) -> DataFrame:
        # -- large-star ------------------------------------------------
        sym = cur.union(
            cur.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
        )
        mins = sym.groupBy("_u").agg(
            F.least(F.min("_v"), F.first("_u")).alias("_m")
        )
        cur = _canon(
            sym.join(mins, on="_u")
            .filter(F.col("_v") > F.col("_u"))
            .select(F.col("_v").alias("_u"), F.col("_m").alias("_v"))
        )
        # -- small-star (edges already oriented _u > _v) ---------------
        mins = cur.groupBy("_u").agg(F.min("_v").alias("_m"))
        attached = cur.join(mins, on="_u")
        return _canon(
            attached.select(F.col("_v").alias("_u"), F.col("_m").alias("_v"))
            .union(attached.select("_u", F.col("_m").alias("_v")))
        )

    def moved(prev: DataFrame, new: DataFrame) -> DataFrame:
        # edges in exactly one of the two sets
        return (
            prev.withColumn("_p", F.lit(1))
            .join(new.withColumn("_n", F.lit(1)), ["_u", "_v"], "full")
            .filter(F.col("_p").isNull() | F.col("_n").isNull())
        )

    raw = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    # node universe from the RAW edges (before self-loop dropping), so a
    # node appearing only as (x, x) still emits (x, x) like the
    # min-label twin
    nodes = (
        raw.select(F.col("_u").alias("node"))
        .union(raw.select(F.col("_v").alias("node")))
        .distinct()
    )
    cur = _fixpoint(_canon(raw).localCheckpoint(eager=False), step, 40, moved)
    # stars: every non-center node has exactly one edge to its center
    return nodes.join(
        cur.select(F.col("_u").alias("node"), F.col("_v").alias("_root")),
        on="node",
        how="left",
    ).select("node", F.coalesce("_root", "node").alias("component"))


def minhash_dedup_verified(
    docs: DataFrame,
    min_jaccard: float = 0.5,
    k: int = 3,
    num_hash_tables: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidates re-verified with the EXACT shingle Jaccard.

    The standard two-stage fuzzy-dedup shape at scale: cheap banded
    candidate generation (MinHashLSH — sub-quadratic), then exact
    verification of only the candidates. The emitted jaccard is the
    exact word-k-shingle Jaccard (not the HashingTF-bucket estimate),
    so a SQL oracle recomputing exhaustive exact pairs ≥ ``min_jaccard``
    matches VALUE-level as long as LSH recall holds — P(miss) per pair
    is (1−j)^num_hash_tables ≤ 2.6e-6 at the near-dup regime (j ≥ 0.8)
    this operator targets.

    Second-order recall caveat: that bound covers BANDING misses only.
    The candidate filter runs on the Jaccard of 2^18-bucket HashingTF
    vectors, and a bucket collision can DEFLATE the estimated
    similarity below the exact shingle Jaccard (e.g. two of A's
    shingles sharing a bucket shrink |A|'s estimate), so a pair whose
    exact j clears ``min_jaccard`` can sit past the distance threshold
    before verification ever sees it. Rare at 2^18 features (birthday
    bound ~|shingles|²/2^19 per doc) but nonzero at corpus scale —
    near-threshold pairs are the exposure; widen the candidate
    threshold by a small margin if the downstream gate is exact.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ min_jaccard.
    """
    cand = (
        minhash_dedup(
            docs,
            jaccard_distance_threshold=1.0 - min_jaccard,
            k=k,
            num_hash_tables=num_hash_tables,
            text_col=text_col,
            id_col=id_col,
            seed=seed,
        )
        .select("id_a", "id_b")
        # consumed three times (id universe + both verify joins): compute
        # the LSH pipeline once. Lifecycle: the cache entry lives until
        # spark.catalog.clearCache() or app end — fine for the
        # one-call-per-job production shape; loops over many corpora
        # should clear the cache between calls (bench.py does).
        .persist()
    )
    # Shingle ONLY candidate documents: word_shingles is an interpreted
    # higher-order function, so a corpus-wide shingle pass costs more
    # than the whole LSH stage (measured 2.6 s vs 1.3 s at sf0.1).
    # Semi-joining docs to the candidate id universe first makes verify
    # cost proportional to candidates, not corpus — the property that
    # holds this plan together at 100 TB.
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # no broadcast HINT: the candidate-id universe approaches corpus
    # size on near-dup-heavy corpora; let AQE pick broadcast only when
    # the runtime size fits (same rationale as _shingle_pair_counts).
    sh = docs.join(ids, on=id_col).select(
        F.col(id_col),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("_sh"),
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size(F.col("_sa")) + F.size(F.col("_sb")) - inter
    jac = inter * 1.0 / union
    return (
        cand.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa")),
            on="id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb")),
            on="id_b",
        )
        .filter(jac >= min_jaccard)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def dedup_clusters(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full dedup pipeline tail: near-dup pairs → transitive clusters.

    Pairwise similarity alone cannot drive deletion — if A≈B and B≈C,
    keeping "one of each pair" can drop A and C but keep B twice over.
    Production pipelines therefore cluster the pair graph transitively
    and keep ONE canonical document per cluster (the min id here).
    Composes ngram_jaccard_pairs (exact, df-capped blocking) with
    connected_components. Documents with no near-dup are not emitted
    (they are trivially their own cluster).

    Output: (doc_id, cluster_id, cluster_size) — cluster_id = min doc
    id in the cluster, i.e. the canonical survivor.
    """
    pairs = ngram_jaccard_pairs(
        docs, k=k, threshold=threshold, max_df=max_df, text_col=text_col, id_col=id_col
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    w_size = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias(id_col),
        F.col("component").alias("cluster_id"),
        F.count("*").over(w_size).cast("int").alias("cluster_size"),
    )


def minhash_dedup(
    docs: DataFrame,
    jaccard_distance_threshold: float = 0.7,
    k: int = 3,
    num_hash_tables: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Fuzzy dedup via MLlib MinHashLSH over word-shingle sets.

    shingle → HashingTF (binary) → MinHash signatures → band-bucketed
    approxSimilarityJoin. Deterministic under the fixed seed; not
    SQL-expressible → rows-only correctness check.
    Output: (id_a, id_b, jaccard_distance).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = ensure_parallelism(docs).select(
        F.col(id_col), word_shingles(F.col(text_col), k).alias("_shingles")
    )
    tf = HashingTF(
        inputCol="_shingles", outputCol="_features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(shingled)
    lsh = MinHashLSH(
        inputCol="_features", outputCol="_hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(feats)
    # Materialize shingling + TF + signatures once (localCheckpoint eagerly
    # computes and truncates lineage): the self-join consumes the same plan
    # on both sides, which would otherwise re-tokenize the corpus twice.
    hashed = model.transform(feats).localCheckpoint(eager=True)
    pairs = model.approxSimilarityJoin(
        hashed, hashed, jaccard_distance_threshold, distCol="_dist"
    )
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("_dist", 4).alias("jaccard_distance"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def dup_span_stats(
    docs: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Per-document duplicated-SPAN statistics — the measurement stage
    of span-level (substring) dedup as in Lee et al., "Deduplicating
    Training Data Makes Language Models Better": a span is one k-word
    shingle OCCURRENCE; it is duplicated when its shingle appears in at
    least ``min_df`` distinct documents. Output per doc: total spans,
    duplicated spans, and the duplicated fraction — the number span
    removal / doc-dropping policies threshold on. Differs from the
    novelty profile (first-seen attribution over DISTINCT shingles):
    this counts every occurrence and charges ALL members of a duplicate
    group, which is what "how much of this doc is boilerplate" means.

    Plan shape (all linear, no self-join anywhere):
    1. explode shingles map-side, keyed by a 60-bit md5 prefix (15 hex
       chars — same slice idiom as the minhash lanes above; the
       exchange moves 8-byte longs, never shingle strings),
    2. ONE (doc, key) hash agg carrying the per-doc occurrence count —
       this is simultaneously the per-doc DISTINCT (for document
       frequency) and the span counter (no second pass over raw
       occurrences),
    3. key-level agg -> document frequency, filter >= min_df,
    4. join the (doc, key) pairs back on key (AQE broadcasts when the
       duplicated-key set is small) and one final per-doc agg.
    At 100 TB the shingle explode dominates and is embarrassingly
    map-parallel; both aggs partial-combine before their exchange. The
    60-bit key can collide distinct shingles (~n²/2^61 expected — a few
    per trillion shingles), slightly OVER-counting df; acceptable for a
    dup statistic and bit-identical in the SQL oracle, which mirrors
    the same digest slice."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    spans = ensure_parallelism(docs).select(
        id_col,
        F.explode(word_shingles(F.col(text_col), k)).alias("_sh"),
    )
    # localCheckpoint: BOTH consumers below (the df agg and the final
    # join) derive from this table, but column pruning gives the two
    # subtrees different shapes, so Catalyst plans them separately and
    # would tokenize + explode the whole corpus TWICE — the dominant
    # cost at scale (measured 3.6 s → 1.3 s cold at sf0.1). The
    # materialized table is (doc, key, count) — shingle-distinct per
    # doc, far smaller than the occurrence stream it summarizes.
    pairs = (
        spans.select(
            id_col,
            F.conv(F.substring(F.md5(F.col("_sh")), 1, 15), 16, 10)
            .cast("long")
            .alias("_key"),
        )
        .groupBy(id_col, "_key")
        .agg(F.count("*").alias("_n_occ"))
        .localCheckpoint(eager=False)
    )
    dup_keys = (
        pairs.groupBy("_key")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_key", F.lit(1).alias("_dup"))
    )
    # +1e-9 pre-round nudge: dup/total is an exact rational that can
    # land ON a 1e-4 grid boundary, where Spark (HALF_UP) and another
    # engine's tie rule would round apart (same idiom as the OLS
    # boundary nudge; mirrored in the oracle).
    return (
        pairs.join(dup_keys, on="_key", how="left")
        .groupBy(id_col)
        .agg(
            F.sum("_n_occ").alias("n_spans"),
            F.sum(
                F.col("_n_occ") * F.coalesce(F.col("_dup"), F.lit(0))
            ).alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans") / F.col("n_spans") + F.lit(1e-9), 4
            ).alias("dup_ratio"),
        )
    )


def dedup_candidate_eval(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate-generation quality audit: precision/recall of the
    SimHash banded candidate pairs against the exact word-k-gram
    Jaccard ground truth — the measurement every production dedup
    pipeline runs before trusting an approximate blocker at corpus
    scale (tune bands/hamming until recall clears the bar, then ship
    the cheap path).

    Both pair sets come from the existing blocked operators (no new
    join shapes): candidates = ``simhash_neardup``, truth =
    ``ngram_jaccard_pairs`` (df-capped). True positives are the inner
    join on the ordered (id_a, id_b) key. Output is ONE summary row of
    exact integer counts plus precision/recall rounded from integer
    ratios — no float accumulation anywhere, so the gate is bit-exact.

    Scale shape: the two pair generators are the scale-audited plans
    of q17/q21 (banded join, df-capped shingle join); the eval itself
    adds two joins on pair keys and a 1-row agg — negligible on top.
    """
    # Each pair set is consumed twice (its count + the TP join); pin
    # both so the banded-join / shingle-join pipelines run ONCE — the
    # materialized sets are near-dup pairs only, orders of magnitude
    # smaller than the corpus. The two pipelines are INDEPENDENT job
    # chains over the same input; submit them from two threads so
    # their stages interleave in the scheduler (Spark job submission
    # is thread-safe) — neither saturates the executor pool alone at
    # bench scale (measured 5.9 s sequential → 2.8 s concurrent at
    # sf0.1) and at full scale interleaving still costs nothing.
    from concurrent.futures import ThreadPoolExecutor

    def _cand() -> DataFrame:
        return (
            simhash_neardup(
                docs, max_hamming=max_hamming, n_bands=n_bands,
                text_col=text_col, id_col=id_col,
            )
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    def _truth() -> DataFrame:
        return (
            ngram_jaccard_pairs(
                docs, k=k, threshold=threshold, text_col=text_col,
                id_col=id_col, max_df=max_df,
            )
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(2) as pool:
        cand_f, truth_f = pool.submit(_cand), pool.submit(_truth)
        cand, truth = cand_f.result(), truth_f.result()
    tp = cand.join(truth, on=["id_a", "id_b"]).select("id_a")
    counts = (
        cand.agg(F.count("*").alias("n_candidates"))
        .crossJoin(truth.agg(F.count("*").alias("n_truth")))
        .crossJoin(tp.agg(F.count("*").alias("n_tp")))
    )
    return counts.select(
        "n_candidates",
        "n_truth",
        "n_tp",
        F.when(
            F.col("n_candidates") > 0,
            F.round(F.col("n_tp") / F.col("n_candidates"), 4),
        ).alias("precision"),
        F.when(
            F.col("n_truth") > 0,
            F.round(F.col("n_tp") / F.col("n_truth"), 4),
        ).alias("recall"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingestion dedup: classify each INCOMING document
    against the EXISTING corpus as ``exact_dup`` (normalized-text
    fingerprint already present), ``near_dup`` (word-k-gram Jaccard ≥
    threshold with some corpus doc), or ``keep`` — the batch-arrival
    path of a production pipeline, where the corpus is never
    self-joined; only new × corpus work happens.

    Blocking is bipartite: the boilerplate blacklist (shingles with
    corpus-side df > ``max_df``) is anti-joined off BOTH sides, then
    candidates come from the shared-shingle equi-join of new-side vs
    corpus-side shingles. Jaccard uses the blacklist-filtered shingle
    sets (the same df-cap semantics as ``ngram_jaccard_pairs``,
    measured ~linear at 10× there). Exact dups are a fingerprint
    left-semi join — corpus fingerprints are distinct'd first, so the
    probe side is bounded by distinct content, not corpus rows.

    Scale shape: corpus-side work is one shingle pass + one df agg
    (reusable as a persisted index across batches); everything else is
    proportional to the incoming batch. No self-joins anywhere.
    Output: (doc_id, status) for every incoming doc.
    """
    from ..functions.text import fingerprint_md5

    new_docs = ensure_parallelism(new_docs)
    corpus = ensure_parallelism(corpus)
    new_fp = new_docs.select(
        F.col(id_col), fingerprint_md5(F.col(text_col)).alias("_fp")
    )
    corp_fp = corpus.select(
        fingerprint_md5(F.col(text_col)).alias("_fp")
    ).distinct()
    exact = (
        new_fp.join(corp_fp, on="_fp", how="leftsemi")
        .select(F.col(id_col))
        .withColumn("_exact", F.lit(1))
    )

    def shingles(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(word_shingles(F.col(text_col), k))
            ).alias("sh"),
        )

    # r12 posting-list restructure (the _shingle_pair_counts shape,
    # bipartite): the former five eager localCheckpoints (raw new/corp
    # shingles, blacklist, two anti-joined pins) cost five
    # materialization jobs per call. Now ONE shuffle by shingle carries
    # both tagged sides; the corpus-side df is a window count on that
    # partitioning (df > max_df rows dropped on BOTH sides — identical
    # to the anti-join blacklist, since a new-only shingle has corpus
    # df 0 and is kept); per-shingle (new-ids, corp-ids) posting lists
    # are the only checkpoint, and candidate (new × corp) pairs expand
    # MAP-SIDE from each list — corp lists are ≤ max_df by the cap,
    # new lists are bounded by the incoming batch (the per-batch-cost
    # contract above). At 100 TB the corpus-side postings are the
    # persisted index; a batch merges its tagged rows in.
    tagged = (
        shingles(new_docs, "_id")
        .select("sh", "_id", F.lit("n").alias("_s"))
        .unionByName(
            shingles(corpus, "_id").select(
                "sh", "_id", F.lit("c").alias("_s")
            )
        )
    )
    if max_df is not None:
        tagged = tagged.withColumn(
            "_df",
            F.count(F.when(F.col("_s") == "c", F.lit(1))).over(
                Window.partitionBy("sh")
            ),
        ).filter(F.col("_df") <= max_df)
    postings = (
        tagged.groupBy("sh")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("_s") == "n", F.col("_id")))
            ).alias("_nids"),
            F.sort_array(
                F.collect_list(F.when(F.col("_s") == "c", F.col("_id")))
            ).alias("_cids"),
        )
        .localCheckpoint(eager=False)
    )
    na = (
        postings.select(F.explode("_nids").alias("new_id"))
        .groupBy("new_id")
        .agg(F.count("*").alias("_na"))
    )
    nb = (
        postings.select(F.explode("_cids").alias("corp_id"))
        .groupBy("corp_id")
        .agg(F.count("*").alias("_nb"))
    )
    inter = (
        postings.filter(
            (F.size("_nids") > 0) & (F.size("_cids") > 0)
        )
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_nids, x -> "
                    "transform(_cids, y -> "
                    "struct(x as new_id, y as corp_id))))"
                )
            ).alias("_p")
        )
        .groupBy(
            F.col("_p.new_id").alias("new_id"),
            F.col("_p.corp_id").alias("corp_id"),
        )
        .agg(F.count("*").alias("_inter"))
    )
    jac = F.col("_inter") * 1.0 / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    near = (
        inter.join(na, on="new_id")
        .join(nb, on="corp_id")
        .filter(jac >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    return (
        new_docs.select(id_col)
        .join(exact, on=id_col, how="left")
        .join(near, on=id_col, how="left")
        .select(
            id_col,
            F.when(F.col("_exact") == 1, F.lit("exact_dup"))
            .when(F.col("_near") == 1, F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("status"),
        )
    )


def normalized_dedup_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Dedup-lift audit for text canonicalization: group documents by
    their NORMALIZED form (lowercase, whitespace runs collapsed,
    trimmed) and report the group-size × raw-variant distribution —
    the measurement run before turning normalization on in an exact
    dedup pass (how many groups does it merge, and how many distinct
    raw spellings hide inside each?).

    Plan shape: grouping key is md5(normalized text) so the exchange
    carries a 32-char key instead of full documents (at 100 TB the
    shuffle would otherwise move the corpus); md5 on both engines makes
    the oracle bit-identical. count(distinct text) inside each group
    still ships the raw text once — acceptable because groups are
    tiny; a production variant at extreme scale would substitute a
    second hash. Output: (group_size, n_raw_variants, n_groups), all
    integers.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )
    groups = (
        ensure_parallelism(docs)
        .select(F.md5(norm).alias("_k"), F.col(text_col).alias("_t"))
        .groupBy("_k")
        .agg(
            F.count("*").alias("_size"),
            F.countDistinct("_t").alias("_variants"),
        )
    )
    return groups.groupBy(
        F.col("_size").cast("int").alias("group_size"),
        F.col("_variants").cast("int").alias("n_raw_variants"),
    ).agg(F.count("*").cast("long").alias("n_groups"))


def canonical_docs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-argmax canonicalization: for each near-dup cluster
    (transitive, via ``dedup_clusters``), keep the HIGHEST-quality
    member instead of the min-id one — what production dedup actually
    ships (dropping the cleanest copy because it has a bigger id wastes
    the best training signal in the cluster).

    Deterministic pick: (quality desc, doc_id asc) over the 4-dp
    rounded quality score — rounded BEFORE ranking, so the argmax is
    engine-exact.

    Plan shape: cluster assignment (shingle-blocked pairs + CC) is
    TINY relative to the corpus (only docs with a near-dup appear), so
    it joins INTO the docs scan — the quality projection (tokenize +
    punct scan, the expensive string work) runs only on cluster
    members, never on the whole corpus; the argmax is a per-cluster
    max(struct) hash agg (partial-combined map-side — no window sort,
    and cluster cardinality bounds the reduce side). Output:
    (cluster_id, kept_doc_id, kept_quality, cluster_size).
    """
    from ..functions.text import punct_ratio, token_count

    clusters = dedup_clusters(
        docs, k=k, threshold=threshold, max_df=max_df,
        text_col=text_col, id_col=id_col,
    )
    # same formula as textstats.quality_scores, computed inline so the
    # operator does not inherit that function's `lang` column
    # requirement (keep the two in sync)
    t = F.col(text_col)
    quality = F.round(
        F.least(F.lit(1.0), token_count(t) / F.lit(120.0))
        * (F.lit(1.0) - punct_ratio(t)),
        4,
    )
    members = docs.select(F.col(id_col), t).join(clusters, on=id_col)
    scored = members.select(
        "cluster_id", "cluster_size", F.col(id_col), quality.alias("quality")
    )
    # argmax by (quality desc, id asc): max(struct) with the id negated
    # makes the tuple order implement the tie-break exactly
    picked = scored.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("quality"),
                (-F.col(id_col)).alias("_nid"),
                F.col("cluster_size"),
            )
        ).alias("_m")
    )
    return picked.select(
        "cluster_id",
        (-F.col("_m._nid")).alias("kept_doc_id"),
        F.col("_m.quality").alias("kept_quality"),
        F.col("_m.cluster_size").alias("cluster_size"),
    )


def cross_source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Source-pair exact-duplicate overlap matrix: for every pair of
    sources, how many distinct texts appear verbatim in BOTH — the
    curation question "is crawl B just re-hosting crawl A?" answered
    before paying to dedup them jointly.

    Counted at (text, source) grain — a text repeated many times inside
    one source still counts once toward each pair it bridges, so the
    number reads as "shared distinct texts".

    Plan shape: distinct (md5(text), source) collapses the corpus first
    (32-char keys on the exchange, never full documents); the pair
    self-join runs per hash group, whose size is bounded by the number
    of DISTINCT SOURCES carrying that text (≤ |sources|, tiny), so the
    join can never quadratically blow up on a popular text. Output:
    (source_a, source_b, n_shared_texts) with source_a < source_b.
    """
    keyed = (
        ensure_parallelism(docs)
        .select(
            F.md5(F.col(text_col)).alias("_h"),
            F.col(source_col).alias("_s"),
        )
        .distinct()
    )
    a = keyed.select("_h", F.col("_s").alias("source_a"))
    b = keyed.select("_h", F.col("_s").alias("source_b"))
    pairs = a.join(b, on="_h").filter(
        F.col("source_a") < F.col("source_b")
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_shared_texts")
    )


def editdist_neardup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    trunc: int = 120,
    band: int = 8,
    prefix: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """Character-level near-duplicate pairs: banded blocking → exact
    Levenshtein verify.

    The verify stage the fingerprint families (MinHash/SimHash) can't
    provide: an EXACT edit-distance similarity on candidate pairs,
    1 − lev(a,b)/max(|a|,|b|) over the lowercased first ``trunc``
    chars. Blocking is (lang, length-band, ``prefix``-char prefix):
    each doc emits its own length band and the next (so a pair
    straddling a band boundary is still co-keyed), pairs require
    |len_a − len_b| ≤ band and identical prefix — the classic
    length+prefix blocking of record-linkage, sub-quadratic while
    band populations stay bounded (length is near-uniform per lang in
    a crawled corpus; the prefix key then splits each band ~V^prefix
    ways).

    Scale shape: the O(trunc²) Levenshtein DP runs ONLY on pairs that
    survive blocking (measured: 6.2k pairs over 5k docs at sf0.1, vs
    12.5M all-pairs) and is a JVM built-in (F.levenshtein, codegen) —
    no Python crossing. Both sides of the pair join arrive via one
    exchange on the block key. Output: (id_a, id_b, lev, sim ≥
    threshold 6 dp), ordered.
    """
    d = (
        ensure_parallelism(docs)
        .filter(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .select(
            F.col(id_col).alias("_id"),
            F.col(lang_col).alias("_lang"),
            F.substring(F.lower(F.col(text_col)), 1, trunc).alias("_t"),
            F.length(
                F.substring(F.lower(F.col(text_col)), 1, trunc)
            ).alias("_len"),
        )
    )
    keyed = d.select(
        "*", F.floor(F.col("_len") / band).alias("_bk")
    ).unionAll(
        d.select("*", (F.floor(F.col("_len") / band) + 1).alias("_bk"))
    ).withColumn("_pfx", F.substring("_t", 1, prefix))
    a = keyed.select(
        F.col("_lang"), F.col("_bk"), F.col("_pfx"),
        F.col("_id").alias("id_a"), F.col("_t").alias("_ta"),
        F.col("_len").alias("_la"),
    )
    b = keyed.select(
        F.col("_lang"), F.col("_bk"), F.col("_pfx"),
        F.col("_id").alias("id_b"), F.col("_t").alias("_tb"),
        F.col("_len").alias("_lb"),
    )
    pairs = (
        a.join(b, on=["_lang", "_bk", "_pfx"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.col("_la") - F.col("_lb")) <= band
        )
        .select("id_a", "id_b", "_ta", "_tb", "_la", "_lb")
        .distinct()  # the two band emissions can co-key a pair twice
    )
    lev = F.levenshtein("_ta", "_tb")
    sim = F.round(
        1.0 - lev / F.greatest("_la", "_lb").cast("double"), 6
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            lev.cast("long").alias("lev"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def blocking_quality(
    docs: DataFrame,
    audit_mod: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    trunc: int = 120,
    band: int = 8,
    prefix: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """Reduction ratio + pair completeness of the editdist blocking
    scheme, measured on a deterministic id-hash audit panel (the q282
    recall-record pattern).

    Ground truth on the panel is ALL-PAIRS exact Levenshtein within a
    language (bounded: the panel is ~1/audit_mod of the corpus, so
    pair work shrinks ~audit_mod²); the blocked candidate set is the
    editdist_neardup blocking applied to the same panel. One summary
    row: true matches, blocked candidates, caught matches,
    pair_completeness = caught/true (the blocker's recall), and
    reduction_ratio = 1 − candidates/all-pairs — the two numbers every
    blocking design is judged by. Integer counts, one terminal
    division each, 6 dp.
    """
    from .similarity import _md5_prefix24

    panel = (
        ensure_parallelism(docs)
        .filter(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .filter(_md5_prefix24(F.col(id_col)) % audit_mod == 0)
        .select(
            F.col(id_col).alias("_id"),
            F.col(lang_col).alias("_lang"),
            F.substring(F.lower(F.col(text_col)), 1, trunc).alias("_t"),
            F.length(
                F.substring(F.lower(F.col(text_col)), 1, trunc)
            ).alias("_len"),
        )
    )
    a = panel.select(
        "_lang", F.col("_id").alias("id_a"), F.col("_t").alias("_ta"),
        F.col("_len").alias("_la"),
    )
    b = panel.select(
        "_lang", F.col("_id").alias("id_b"), F.col("_t").alias("_tb"),
        F.col("_len").alias("_lb"),
    )
    sim = F.round(
        1.0
        - F.levenshtein("_ta", "_tb")
        / F.greatest("_la", "_lb").cast("double"),
        6,
    )
    # lazy checkpoint: the all-pairs Levenshtein frame feeds both the
    # all_pairs count and the truth set — one materialization, not two
    # evaluations of the quadratic DP
    exact = (
        a.join(b, on="_lang")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("_sim"))
        .localCheckpoint(eager=False)
    )
    truth = exact.filter(F.col("_sim") >= threshold).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=False)
    blocked = editdist_neardup(
        panel.select(
            F.col("_id").alias(id_col),
            F.col("_lang").alias(lang_col),
            F.col("_t").alias(text_col),
        ),
        text_col=text_col,
        id_col=id_col,
        lang_col=lang_col,
        trunc=trunc,
        band=band,
        prefix=prefix,
        threshold=0.0,  # candidates, not verified matches
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    caught = truth.join(blocked, on=["id_a", "id_b"], how="left_semi")
    counts = (
        exact.agg(F.count(F.lit(1)).alias("all_pairs"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("true_matches")))
        .crossJoin(blocked.agg(F.count(F.lit(1)).alias("candidates")))
        .crossJoin(caught.agg(F.count(F.lit(1)).alias("caught")))
    )
    return counts.select(
        F.col("all_pairs").cast("long").alias("all_pairs"),
        F.col("true_matches").cast("long").alias("true_matches"),
        F.col("candidates").cast("long").alias("candidates"),
        F.col("caught").cast("long").alias("caught"),
        F.when(
            F.col("true_matches") > 0,
            F.round(F.col("caught") / F.col("true_matches"), 6),
        ).alias("pair_completeness"),
        F.when(
            F.col("all_pairs") > 0,
            F.round(1.0 - F.col("candidates") / F.col("all_pairs"), 6),
        ).alias("reduction_ratio"),
    )
