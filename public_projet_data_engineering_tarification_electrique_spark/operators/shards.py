"""Distributed global ordering: row numbers, ntile, prefix sums,
running maxima and size-capped sorted shards without a single-partition
window (extension surface, BASELINE.json north star — the sorted-export
last mile of a training pipeline).

The naive global rank — ``row_number() OVER (ORDER BY ...)`` with no
PARTITION BY — collapses the whole table into ONE task in Spark (the
window needs a total order, so the exchange is SinglePartition). Fine
at sf0.1, fatal at 100 TB. The scale-correct construction is the
classic two-phase distributed scan, written ONCE here and shared by
every global-order operator (the ones below and
``timeseries.cusum_scan``; ``timeseries.ewma_scan`` reuses step 1):

1. ``_ranged``: ``repartitionByRange`` on the sort key — partitions
   are range-disjoint and ordered, P-way parallel — each row tagged
   with its physical partition id ``_pid``. P is the session's
   ``spark.sql.shuffle.partitions``, read when the plan is built.
2. ``_carry_in``: a bounded driver collect of the operator's
   per-partition aggregates (exactly P rows — the only driver-side
   data, documented here as the bound), folded in ``_pid`` order into
   each partition's carry-in and joined back as a broadcast table.
3. The operator's partition-LOCAL part, merged with its carry: the
   ``monotonically_increasing_id`` record-number bits for row numbers
   (no exchange), or a window partitioned by ``_pid`` for running sums
   and maxima (one hash exchange). Local result ⊕ carry = exact global
   result; each operator brings only its aggregates, its fold (add,
   vector add, NaN-aware max, cusum's (sum, prefix-min) pair) and its
   local window.

The ranged exchange is ``localCheckpoint``'d LAZILY: Spark's range
partitioner SAMPLES the data to pick bounds, and a recomputed exchange
may sample differently between the carry collect and the final job —
pinning the shuffle output makes the partition→carry mapping stable
across both jobs (same reason dedup.py pins its CC iterations), and
the carry collect is the action that materializes it (one job, not
two).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ranged(df: DataFrame, order_by: list[Column | str]) -> DataFrame:
    """``df`` range-partitioned on ``order_by`` into P partitions,
    tagged ``_pid`` and lazily pinned (see the module docstring)."""
    spark = df.sparkSession
    # spark.sql.shuffle.partitions can be non-numeric on some platforms
    # (e.g. "auto" under AQE-advisory configs) — fall back to the
    # cluster's default parallelism rather than crash.
    try:
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        p = spark.sparkContext.defaultParallelism
    return (
        df.repartitionByRange(p, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )


def _carry_in(
    frame: DataFrame, partials: list[Column], fold, init: tuple, schema: str
) -> tuple[DataFrame, tuple]:
    """Join each partition's carry-in onto ``frame`` (a ``_ranged``
    frame or a partition-local derivation of it).

    ``partials`` are aggregated per ``_pid`` in one bounded driver
    collect (exactly one row per non-empty partition). Walking the
    partitions in ``_pid`` — range — order, a partition's carry is
    ``init`` folded over the partials of every EARLIER partition with
    ``fold(acc, partials) -> acc``; ``schema`` is the DDL of the carry
    columns, one per slot of ``init``. Every row's ``_pid`` has a carry
    (the pinned partitions are the ones collected); empty input gives
    an empty carry table. Returns the joined frame and the fold over
    ALL partitions (the grand total).
    """
    carries, acc = [], init
    rows = frame.groupBy("_pid").agg(*partials).collect()
    for pid, *partial in sorted(rows):
        carries.append((pid, *acc))
        acc = fold(acc, partial)
    table = frame.sparkSession.createDataFrame(carries, "_pid INT, " + schema)
    return frame.join(F.broadcast(table), "_pid", "left"), acc


#: monotonically_increasing_id packs (partition id << 33) | record
#: number — the record-number mask (documented Spark layout).
_MID_LOW33 = (1 << 33) - 1


def _local_row_number() -> Column:
    """1-based row number within the CURRENT partition, in pipeline
    order — the lower 33 bits of ``monotonically_increasing_id``
    (documented layout: upper 31 bits partition id, lower 33 record
    number). Evaluated directly above ``sortWithinPartitions``, this
    replaces ``row_number() OVER (PARTITION BY _pid ORDER BY …)``,
    whose hash exchange on ``_pid`` re-shuffles the ENTIRE frame a
    second time (Catalyst cannot see that a checkpointed frame is
    already pid-disjoint) — at 100 TB that exchange moves the corpus
    twice for nothing. mid is nondeterministic to the optimizer, so
    the projection is never pushed below the sort. Bound: < 2^33
    (8.6 B) rows per partition, far above any sane partition size.
    """
    return F.monotonically_increasing_id().bitwiseAND(F.lit(_MID_LOW33)) + 1


def _ranked(
    df: DataFrame, order_by: list[Column], rank_col: str
) -> tuple[DataFrame, int]:
    """``global_row_number``'s frame plus the row count N (free: the
    carry fold already summed it)."""
    joined, (n,) = _carry_in(
        _ranged(df, order_by),
        [F.count("*")],
        lambda acc, t: (acc[0] + t[0],),
        (0,),
        "_off LONG",
    )
    ranked = (
        joined.sortWithinPartitions(*order_by)
        .withColumn(rank_col, _local_row_number() + F.col("_off"))
        .drop("_pid", "_off")
    )
    return ranked, n


def global_row_number(
    df: DataFrame, order_by: list[Column], rank_col: str = "global_rn"
) -> DataFrame:
    """Exact global row numbers under a total order, P-way parallel.

    ``order_by`` must be a TOTAL order (include a unique tie-break
    column) — range partitioning only guarantees disjoint key ranges,
    so duplicate full keys could otherwise straddle a boundary and
    make the numbering partition-dependent.

    Cost: ONE parallel shuffle (the range exchange) + a partition-local
    sort + a P-row driver collect of per-partition counts. The local
    row number comes from the mid bit layout (see
    ``_local_row_number``), not a window — so no second exchange on the
    partition id. The range exchange is skew-bounded by the
    partitioner's equi-depth sampling.
    """
    return _ranked(df, order_by, rank_col)[0]


def global_ntile(
    df: DataFrame,
    order_by: list[Column],
    n_tiles: int,
    tile_col: str = "tile",
) -> DataFrame:
    """Exact ``NTILE(n) OVER (ORDER BY <total order>)`` without a
    single-partition window, P-way parallel.

    ntile is a closed-form function of the global rank once N is
    known: the first ``N mod n`` tiles hold ``ceil(N/n)`` rows, the
    rest ``floor(N/n)`` (the ANSI/Spark/DuckDB tiling). So the
    two-phase distributed rank (``global_row_number``) plus one
    literal case-expression reproduces the unpartitioned window
    bit-for-bit — and N is free, the carry collect already summed
    it. Same total-order requirement as ``global_row_number``.
    """
    if n_tiles <= 0:
        raise ValueError(f"n_tiles must be positive, got {n_tiles}")
    ranked, total = _ranked(df, order_by, "_grn")
    q, r = divmod(total, n_tiles)
    cut = r * (q + 1)  # ranks 1..cut live in the (q+1)-sized tiles
    qs = max(q, 1)  # q == 0 ⇒ every rank ≤ cut; keep the div legal
    return ranked.withColumn(
        tile_col,
        F.expr(
            f"cast(case when _grn <= {cut} "
            f"then (_grn - 1) div {q + 1} + 1 "
            f"else {r} + (_grn - 1 - {cut}) div {qs} + 1 end as int)"
        ),
    ).drop("_grn")


def _nan_max(acc: tuple, t: list) -> tuple:
    """Running-max carry fold in Spark's ordering: NULL is skipped and
    NaN is GREATER than every double, so the carry is partition-count
    independent on NaN input (Python's max() is argument-order-dependent
    on NaN)."""
    a, b = acc[0], t[0]
    if a is None or b is None:
        return (b if a is None else a,)
    if a != a or b != b:  # either side NaN → NaN wins
        return (a if a != a else b,)
    return (max(a, b),)


def global_running_max(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    max_col: str = "running_max",
    exclusive: bool = False,
) -> DataFrame:
    """Exact running MAX of ``value_col`` under a total order, P-way
    parallel — the prefix-extreme twin of ``global_running_sums``
    (staircase skylines, high-water marks). ``exclusive=True`` takes
    the max over STRICTLY-preceding rows (NULL for the global first
    row) — the Pareto-staircase frame.

    The carry is the max over all PRIOR partitions (direction-free,
    because a partition's max does not depend on the sort direction
    inside it), merged null-safely with a partition-local window.
    """
    vtype = df.schema[value_col].dataType.simpleString()
    joined, _ = _carry_in(
        _ranged(df, order_by),
        [F.max(value_col)],
        _nan_max,
        (None,),
        f"_carry {vtype}",
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    local = F.max(value_col).over(local_w)
    merged = (
        F.when(local.isNull(), F.col("_carry"))
        .when(F.col("_carry").isNull(), local)
        .otherwise(F.greatest(local, F.col("_carry")))
    )
    return joined.withColumn(max_col, merged).drop("_pid", "_carry")


def global_running_sums(
    df: DataFrame,
    order_by: list[Column],
    value_cols: list[str],
    sum_cols: list[str] | None = None,
) -> DataFrame:
    """Exact inclusive prefix sums (``SUM(v) OVER (ORDER BY … ROWS
    UNBOUNDED PRECEDING)``) of one or more integral columns under one
    total order, P-way parallel — the distributed prefix-scan behind
    byte-budget sharding, cumulative-distribution tables and quota
    cutoffs. All measures share one ranged exchange and one P-row
    carry collect (a CDF table wants both a running count and a
    running positive-count; paying the scan once per measure would
    double the cost for no reason).

    ``order_by`` must be a total order, and values must be integral:
    the carries accumulate in exact long arithmetic (float prefix sums
    would be partitioning-dependent). Cost: two P-way-parallel
    shuffles (the range exchange and the local window's ``_pid``
    exchange) — never a single-partition window.
    """
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    if sum_cols is None:
        sum_cols = [f"{c}_running_sum" for c in value_cols]
    if len(sum_cols) != len(value_cols):
        raise ValueError(
            f"sum_cols ({len(sum_cols)}) must match value_cols "
            f"({len(value_cols)})"
        )
    values = [F.col(c).cast("long") for c in value_cols]
    offs = [f"_off{i}" for i in range(len(value_cols))]
    joined, _ = _carry_in(
        _ranged(df, order_by),
        [F.sum(v) for v in values],
        lambda acc, t: tuple(a + (x or 0) for a, x in zip(acc, t)),
        (0,) * len(values),
        ", ".join(f"{o} LONG" for o in offs),
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.withColumns(
        {
            sc: F.sum(v).over(local_w) + F.col(o)
            for v, o, sc in zip(values, offs, sum_cols)
        }
    ).drop("_pid", *offs)


def sorted_shards(
    df: DataFrame,
    order_by: list[Column],
    docs_per_shard: int,
    shard_col: str = "shard_id",
    rank_col: str = "global_rn",
) -> DataFrame:
    """Assign each row to a size-capped shard of the globally sorted
    order: shard i holds ranks [i*cap+1, (i+1)*cap] — the sorted-JSONL
    export layout (curriculum order, resumable by shard, every shard
    but the last exactly full)."""
    if docs_per_shard <= 0:
        raise ValueError(f"docs_per_shard must be positive, got {docs_per_shard}")
    ranked = global_row_number(df, order_by, rank_col=rank_col)
    # integer `div`, never float division: a double quotient can round
    # across the shard boundary at extreme ranks (> ~2^47·cap) — same
    # exact-integer-grid idiom as sampling.py / asof.py / bloom.py.
    return ranked.withColumn(
        shard_col,
        F.expr(f"cast(({rank_col} - 1) div {int(docs_per_shard)} as int)"),
    )


def byte_budget_shards(
    df: DataFrame,
    order_by: list[Column],
    size_col: str,
    budget: int,
    shard_col: str = "shard_id",
    sum_col: str = "running_bytes",
) -> DataFrame:
    """Assign each row to a BYTE-budgeted shard of the globally sorted
    order: row r (with exclusive prefix bytes c_r) lands in shard
    ⌊c_r / budget⌋ — the export layout when shards must bound VOLUME,
    not row count (uploader part-size limits, token budgets per
    training chunk). A shard may overflow by at most one document
    (standard first-fit-in-order semantics; documents are not split).
    All arithmetic is exact integer — shard membership is engine- and
    partitioning-independent.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    summed = global_running_sums(df, order_by, [size_col], [sum_col])
    return summed.withColumn(
        shard_col,
        F.expr(
            f"cast(({sum_col} - cast({size_col} as long)) div {int(budget)} "
            "as int)"
        ),
    )


def zone_map_audit(
    df: DataFrame,
    sort_col: str,
    tiebreak_col: str,
    docs_per_shard: int,
    pred_lo: str,
    pred_hi: str,
) -> DataFrame:
    """Zone-map audit for a sort-clustered layout: shard the table in
    globally sorted order (`sorted_shards`), record each shard's
    min/max of the sort key, and mark which shards a range predicate
    [pred_lo, pred_hi] could PRUNE — the planning artifact behind
    every 100 TB layout decision (Delta/Iceberg file skipping, parquet
    row-group min/max, ZORDER): a predicate's I/O cost is the count of
    overlapping zones, and sorting by the filter column is what makes
    that count small.

    On a sort-clustered layout the overlap count is the audit's
    headline: contiguous ranks ⇒ contiguous key ranges ⇒ the predicate
    touches O(selectivity · n_shards) zones instead of all of them.

    Plan shape: one exact global ranking (range-partitioned prefix
    counts, see `global_row_number` — no single-partition window),
    then one hash agg per shard. Output: one row per shard
    (shard_id, n_rows, min_key, max_key, overlaps_predicate).
    """
    sharded = sorted_shards(
        df.select(
            F.col(sort_col).cast("string").alias("_k"),
            F.col(tiebreak_col).alias("_tb"),
        ),
        [F.asc("_k"), F.asc("_tb")],
        docs_per_shard=docs_per_shard,
    )
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("_k").alias("min_key"),
            F.max("_k").alias("max_key"),
        )
        .select(
            "shard_id",
            "n_rows",
            "min_key",
            "max_key",
            (
                (F.col("min_key") <= F.lit(pred_hi))
                & (F.col("max_key") >= F.lit(pred_lo))
            ).alias("overlaps_predicate"),
        )
    )


def sorted_layout_audit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    n_zones: int = 64,
    bits: int = 8,
    cell_bits: int = 5,
) -> DataFrame:
    """Z-order vs linear clustering: which 2-D file layout prunes
    better? The data-layout decision behind Delta/Iceberg ZORDER BY —
    ``zone_map_audit`` measures 1-D sort clustering; real workloads
    probe TWO dimensions, and a lexicographic (x, y) sort clusters only
    x (every x-slice spans all of y), while interleaving the bits of
    both keys (Morton/Z-order) gives every zone a bounded box in BOTH.

    Both columns must be integers (callers grid doubles first). They
    are normalized to a ``2^bits`` grid in exact integer arithmetic,
    the z-value interleaves the grid bits, and each layout is
    ``n_zones`` equal-count zones under the exact distributed ntile
    (``global_ntile`` — no single-partition window). The probe workload
    is data-derived and BOUNDED by construction: the distinct occupied
    ``2^cell_bits``-wide grid cells (≤ (2^(bits-cell_bits))² probes,
    64 at the defaults), each probing its own cell box. A probe
    touches a zone iff their grid boxes intersect — the I/O a zone-map
    scan planner cannot skip.

    Output: one row per layout — (layout, n_zones, n_probes,
    avg_zones_touched 4 dp). Lower = better pruning; z-order wins
    whenever the probe constrains both dimensions.

    Plan shape: one bounds agg (broadcast 1-row), two ranged exchanges
    (one exact ntile per layout — inherent: the audit IS about global
    order), two tiny per-zone hash aggs, and a ≤64-row broadcast probe
    join. Everything after the ntiles runs on zone/cell-level tables.
    """
    if bits <= 0 or cell_bits < 0 or cell_bits > bits:
        raise ValueError(f"need 0 <= cell_bits <= bits, got {bits=} {cell_bits=}")
    if n_zones <= 0:
        raise ValueError(f"n_zones must be positive, got {n_zones}")
    grid = 1 << bits
    cell = 1 << cell_bits
    base = df.select(
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
        F.col(id_col).alias("_id"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    bounds = F.broadcast(
        base.agg(
            F.min("_x").alias("_xlo"),
            F.max("_x").alias("_xhi"),
            F.min("_y").alias("_ylo"),
            F.max("_y").alias("_yhi"),
        )
    )
    # exact integer normalization onto [0, grid): ((v - lo) * grid)
    # div (hi - lo + 1) — both engines truncate identically
    gridded = base.join(bounds).select(
        "_id",
        F.expr(f"((_x - _xlo) * {grid}) div (_xhi - _xlo + 1)").alias("_gx"),
        F.expr(f"((_y - _ylo) * {grid}) div (_yhi - _ylo + 1)").alias("_gy"),
    )
    # Morton interleave as ONE server-parsed expression: the former
    # per-bit Column loop crossed Py4J ~50 times per call (guide §1.2 —
    # constant driver work); the parsed tree and the z values are
    # identical (integer addition, any association).
    z = " + ".join(
        f"(shiftleft(shiftrightunsigned(_gx, {i}) & 1, {2 * i + 1})"
        f" + shiftleft(shiftrightunsigned(_gy, {i}) & 1, {2 * i}))"
        for i in range(bits)
    )
    gridded = gridded.withColumn("_z", F.expr(z))

    tiled = global_ntile(
        gridded, [F.asc("_gx"), F.asc("_gy"), F.asc("_id")], n_zones, "_zone_lin"
    )
    tiled = global_ntile(
        tiled, [F.asc("_z"), F.asc("_id")], n_zones, "_zone_z"
    ).localCheckpoint(eager=True)

    probes = (
        tiled.select(
            F.expr(f"_gx div {cell}").alias("_cx"),
            F.expr(f"_gy div {cell}").alias("_cy"),
        )
        .distinct()
        .select(
            (F.col("_cx") * cell).alias("_plo_x"),
            (F.col("_cx") * cell + (cell - 1)).alias("_phi_x"),
            (F.col("_cy") * cell).alias("_plo_y"),
            (F.col("_cy") * cell + (cell - 1)).alias("_phi_y"),
        )
        .localCheckpoint(eager=True)
    )

    def layout_row(zone_col: str, label: str) -> DataFrame:
        zones = tiled.groupBy(zone_col).agg(
            F.min("_gx").alias("_zlo_x"),
            F.max("_gx").alias("_zhi_x"),
            F.min("_gy").alias("_zlo_y"),
            F.max("_gy").alias("_zhi_y"),
        )
        touched = probes.join(
            F.broadcast(zones),
            (F.col("_zlo_x") <= F.col("_phi_x"))
            & (F.col("_zhi_x") >= F.col("_plo_x"))
            & (F.col("_zlo_y") <= F.col("_phi_y"))
            & (F.col("_zhi_y") >= F.col("_plo_y")),
        )
        per_probe = touched.groupBy(
            "_plo_x", "_plo_y"
        ).agg(F.count("*").alias("_nz"))
        return per_probe.agg(
            F.lit(label).alias("layout"),
            F.lit(n_zones).cast("int").alias("n_zones"),
            F.count("*").cast("long").alias("n_probes"),
            F.round(F.avg("_nz"), 4).alias("avg_zones_touched"),
        )

    return layout_row("_zone_lin", "linear_xy").unionByName(
        layout_row("_zone_z", "zorder")
    )


def consistent_hash_audit(
    df: DataFrame, key_col: str, n_shards: int = 8
) -> DataFrame:
    """Resharding-cost audit: when a shard is ADDED (n → n+1), what
    fraction of keys move under modulo placement vs a consistent-hash
    ring? (Mod moves ~n/(n+1) of ALL keys — a 100 TB re-layout; the
    ring moves only the keys the new shard captures, ~1/(n+1).) The
    table that justifies ring-based bucket layouts before the first
    100 TB write.

    Engine-exact: key and shard-point positions are 60-bit integers
    from md5 prefixes (the repo's one id-hash rule); ring assignment is
    "smallest point position ≥ key position, else wrap to the global
    smallest" — pure integer comparisons, so both engines agree
    bit-for-bit.

    Plan shape: the shard-point tables are n+1 rows built IN-PLAN from
    literals (md5 of 'shard-i' — constant-folded); keys cross-join the
    broadcast points and one hash agg per scheme computes the argmin
    via min(struct(pos, id)) — ≤ (n+1)·|keys| map-side rows, no
    data-sized shuffle beyond the per-key agg. Output:
    (scheme, n_keys, n_moved, moved_frac).
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")

    def _pos(col):
        return F.conv(
            F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
        ).cast("long")

    spark = df.sparkSession
    keys = df.select(F.col(key_col).alias("_k")).filter(
        F.col("_k").isNotNull()
    ).distinct().withColumn("_kh", _pos(F.col("_k")))

    def ring_assign(n_points: int, out: str) -> DataFrame:
        points = spark.range(n_points).select(
            F.col("id").cast("int").alias("_sid"),
            _pos(F.concat(F.lit("shard-"), F.col("id"))).alias("_ph"),
        )
        joined = keys.crossJoin(F.broadcast(points))
        return joined.groupBy("_k").agg(
            F.coalesce(
                F.min(
                    F.when(
                        F.col("_ph") >= F.col("_kh"),
                        F.struct(F.col("_ph"), F.col("_sid")),
                    )
                )["_sid"],
                F.min(F.struct(F.col("_ph"), F.col("_sid")))["_sid"],
            ).alias(out)
        )

    ring = ring_assign(n_shards, "_r0").join(
        ring_assign(n_shards + 1, "_r1"), on="_k"
    )
    ring_row = ring.agg(
        F.lit("ring").alias("scheme"),
        F.count("*").cast("long").alias("n_keys"),
        F.sum(F.when(F.col("_r0") != F.col("_r1"), 1).otherwise(0))
        .cast("long")
        .alias("n_moved"),
    )
    mod_row = keys.agg(
        F.lit("mod").alias("scheme"),
        F.count("*").cast("long").alias("n_keys"),
        F.sum(
            F.when(
                F.pmod(F.col("_kh"), F.lit(n_shards))
                != F.pmod(F.col("_kh"), F.lit(n_shards + 1)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_moved"),
    )
    return ring_row.unionByName(mod_row).select(
        "scheme",
        "n_keys",
        "n_moved",
        F.round(F.col("n_moved") / F.col("n_keys").cast("double"), 6).alias(
            "moved_frac"
        ),
    )
