"""Batch MERGE INTO (operators.merge) and streaming dedup
(streaming.dedup_stream)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from public_projet_data_engineering_tarification_electrique_spark.operators.merge import (
    merge_into,
    merge_write,
    src,
)

SF_DIR = "/root/testdata/sf0.001"


def _target(spark):
    return spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "k long, v long, tag string",
    )


def _source(spark):
    # k=1 update, k=2 delete (op=D), k=4 insert, k=5 tombstone for a
    # key that never existed (must NOT insert)
    return spark.createDataFrame(
        [(1, 100, "a2", "U"), (2, 0, "x", "D"), (4, 40, "d", "U"), (5, 0, "y", "D")],
        "k long, v long, tag string, op string",
    )


def test_merge_into_all_clauses(spark):
    out = merge_into(
        _target(spark),
        _source(spark),
        keys=["k"],
        update_set={"v": F.col("v") + src("v")},
        delete_when=src("op") == "D",
        insert_when=src("op") != "D",
    )
    rows = {r["k"]: (r["v"], r["tag"]) for r in out.collect()}
    assert rows == {
        1: (110, "a2"),  # matched: v summed, tag last-write-wins
        3: (30, "c"),    # target-only: untouched
        4: (40, "d"),    # source-only insert
    }  # k=2 deleted, k=5 tombstone never inserted
    assert out.columns == ["k", "v", "tag"]


def test_merge_into_defaults_last_write_wins(spark):
    out = merge_into(_target(spark), _source(spark), keys=["k"])
    rows = {r["k"]: r["v"] for r in out.collect()}
    # no clauses: every source row upserts (including op=D rows)
    assert rows == {1: 100, 2: 0, 3: 30, 4: 40, 5: 0}


def test_merge_into_validates(spark):
    t, s = _target(spark), _source(spark)
    with pytest.raises(ValueError):
        merge_into(t, s, keys=[])
    with pytest.raises(ValueError):
        merge_into(t, s.drop("tag"), keys=["k"])
    with pytest.raises(ValueError):
        merge_into(t, s, keys=["k"], update_set={"k": F.lit(0)})
    with pytest.raises(ValueError):
        merge_into(t, s, keys=["k"], update_set={"nope": F.lit(0)})


def test_merge_write_applies_and_is_idempotent(spark, tmp_path):
    state = str(tmp_path / "state")
    schema = "k long, v long, tag string"
    merge_write(spark, state, _target(spark), ["k"], schema, n_buckets=4)
    batch = _source(spark)
    kwargs = dict(
        update_set={"v": F.col("v") + src("v")},
        delete_when=src("op") == "D",
        insert_when=src("op") != "D",
    )
    merge_write(spark, state, batch, ["k"], schema, n_buckets=4, **kwargs)
    read = lambda: {  # noqa: E731
        r["k"]: (r["v"], r["tag"])
        for r in spark.read.schema(schema + ", _bucket int")
        .parquet(state)
        .collect()
    }
    expected = {1: (110, "a2"), 3: (30, "c"), 4: (40, "d")}
    assert read() == expected
    # re-running the same batch against the merged state is NOT a
    # no-op for summed columns (v doubles) — idempotency is the
    # caller's key discipline; what must hold structurally is that a
    # pure last-write-wins merge IS idempotent:
    merge_write(spark, state, batch.filter(F.col("op") != "D"), ["k"], schema,
                n_buckets=4, insert_when=src("op") != "D")
    first = read()
    merge_write(spark, state, batch.filter(F.col("op") != "D"), ["k"], schema,
                n_buckets=4, insert_when=src("op") != "D")
    assert read() == first


def test_merge_into_null_key_never_matches(spark):
    """ANSI MERGE: a NULL-key source row does not match a NULL-key
    target row, so both survive (merge_write differs on purpose)."""
    cols = "k long, v long, tag string"
    t = spark.createDataFrame([(None, 1, "t"), (1, 2, "a")], cols)
    s = spark.createDataFrame([(None, 9, "s"), (1, 3, "b")], cols)
    rows = sorted(
        (r["k"] is None, r["k"], r["v"], r["tag"])
        for r in merge_into(t, s, keys=["k"]).collect()
    )
    assert rows == [
        (False, 1, 3, "b"),      # non-NULL key matched and updated
        (True, None, 1, "t"),    # NULL target row untouched
        (True, None, 9, "s"),    # NULL source row inserted beside it
    ]


def test_merge_write_upsert_semantics(spark, tmp_path):
    """The streaming upsert's sink: a second batch replaces existing
    keys, inserts new ones, keeps untouched keys — and a NULL key is
    ONE key, so the later batch's NULL row replaces the earlier one."""
    state = str(tmp_path / "state")
    schema = (
        "user_id long, last_event_id long, last_value double, last_ts_us long"
    )
    b1 = spark.createDataFrame(
        [(1, 10, 1.0, 100), (2, 20, 2.0, 200), (None, 30, 3.0, 150)], schema
    )
    merge_write(spark, state, b1, ["user_id"], schema)
    b2 = spark.createDataFrame(
        [(2, 21, 2.5, 300), (7, 70, 7.0, 400), (None, 31, 3.5, 350)], schema
    )
    merge_write(spark, state, b2, ["user_id"], schema)
    rows = [
        (r["user_id"], (r["last_event_id"], r["last_value"], r["last_ts_us"]))
        for r in spark.read.schema(schema).parquet(state).collect()
    ]
    assert dict(rows) == {
        1: (10, 1.0, 100),   # untouched key survives its bucket's rewrite
        2: (21, 2.5, 300),   # updated in place
        7: (70, 7.0, 400),   # inserted
        # exactly one NULL-user row survives, the later batch's (q116's
        # oracle partitions by user_id, so NULL users form one group)
        None: (31, 3.5, 350),
    }
    assert len(rows) == 4


def test_merge_into_preserves_target_column_order(spark):
    # keys NOT leading in the target: output must still follow the
    # target's column order (positional consumers).
    t = spark.createDataFrame([(10, 1, "a")], "v long, k long, tag string")
    s = spark.createDataFrame([(20, 2, "b")], "v long, k long, tag string")
    out = merge_into(t, s, keys=["k"])
    assert out.columns == ["v", "k", "tag"]
    rows = sorted((r["v"], r["k"], r["tag"]) for r in out.collect())
    assert rows == [(10, 1, "a"), (20, 2, "b")]


def test_merge_write_rejects_mismatched_bucket_layout(spark, tmp_path):
    state = str(tmp_path / "state")
    schema = "k long, v long, tag string"
    merge_write(spark, state, _target(spark), ["k"], schema, n_buckets=4)
    assert os.path.exists(os.path.join(state, "_bucket_layout.json"))
    # same layout: fine (and state unchanged by an empty merge)
    merge_write(spark, state, _source(spark).limit(0), ["k"], schema,
                n_buckets=4)
    # different n_buckets: must raise, not silently mis-prune
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        merge_write(spark, state, _source(spark), ["k"], schema, n_buckets=8)
    # different key set: same guard
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        merge_write(spark, state, _target(spark), ["k", "v"],
                    "k long, tag string", n_buckets=4)


def test_merge_write_rewrites_only_affected_buckets(spark, tmp_path):
    state = str(tmp_path / "state")
    schema = "k long, v long, tag string"
    # many keys spread over 8 buckets
    base = spark.range(64).select(
        F.col("id").alias("k"), F.lit(1).alias("v").cast("long"),
        F.lit("z").alias("tag"),
    )
    merge_write(spark, state, base, ["k"], schema, n_buckets=8)
    mtimes_before = {}
    for d in os.listdir(state):
        if d.startswith("_bucket="):
            p = os.path.join(state, d)
            mtimes_before[d] = max(
                os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
            )
    assert len(mtimes_before) == 8
    # single-key batch touches exactly one bucket
    one = spark.createDataFrame([(7, 99, "u")], schema)
    merge_write(spark, state, one, ["k"], schema, n_buckets=8)
    touched = 0
    for d, before in mtimes_before.items():
        p = os.path.join(state, d)
        after = max(
            os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
        )
        touched += after > before
    assert touched == 1
    rows = {
        r["k"]: r["v"]
        for r in spark.read.schema(schema + ", _bucket int")
        .parquet(state)
        .collect()
    }
    assert rows[7] == 99 and len(rows) == 64


def test_merge_write_ledger_makes_additive_replays_exactly_once(
    spark, tmp_path
):
    """batch_id engages the Delta-style txn ledger: a replay of an
    ADDITIVE merge with an already-applied id is skipped (returns
    False, state unchanged); a NEW id applies; batch_id=None keeps the
    unledgered double-apply behavior."""
    state = str(tmp_path / "state")
    schema = "k long, v long, tag string"
    assert merge_write(
        spark, state, _target(spark), ["k"], schema, n_buckets=4, batch_id=0
    )
    add = dict(update_set={"v": F.col("v") + src("v")})
    batch = _source(spark).filter(F.col("op") != "D")

    def v_of():
        return {
            r["k"]: r["v"]
            for r in spark.read.schema(schema + ", _bucket int")
            .parquet(state)
            .collect()
        }

    assert merge_write(spark, state, batch, ["k"], schema, n_buckets=4,
                       batch_id=1, **add)
    once = v_of()
    assert once[1] == 110  # 10 + 100 summed once
    # replay of the same id: skipped, state unchanged
    assert not merge_write(spark, state, batch, ["k"], schema, n_buckets=4,
                           batch_id=1, **add)
    assert v_of() == once
    # stale id (lower than last applied): also skipped
    assert not merge_write(spark, state, batch, ["k"], schema, n_buckets=4,
                           batch_id=0, **add)
    assert v_of() == once
    # a NEW id applies (v sums again)
    assert merge_write(spark, state, batch, ["k"], schema, n_buckets=4,
                       batch_id=2, **add)
    assert v_of()[1] == 210
    # unledgered call still double-applies (documented caller contract)
    assert merge_write(spark, state, batch, ["k"], schema, n_buckets=4, **add)
    assert v_of()[1] == 310


def test_merge_write_one_file_per_bucket(spark, tmp_path):
    """The write path clusters on _bucket before the dynamic
    overwrite: without it a P-partition merge output sprays up to P
    files into EVERY rewritten bucket dir per batch (small-files decay
    on big state tables). Each bucket dir must hold exactly ONE data
    file after any batch."""
    state = str(tmp_path / "state")
    schema = "k long, v long, tag string"
    base = spark.range(2000).select(
        F.col("id").alias("k"),
        F.lit(1).cast("long").alias("v"),
        F.lit("z").alias("tag"),
    ).repartition(16)  # deliberately many input partitions
    merge_write(spark, state, base, ["k"], schema, n_buckets=8)

    def files_per_bucket():
        return {
            d: sum(
                1
                for f in os.listdir(os.path.join(state, d))
                if f.endswith(".parquet") and not f.startswith("_")
            )
            for d in os.listdir(state)
            if d.startswith("_bucket=")
        }

    assert set(files_per_bucket().values()) == {1}
    # an update batch touching every bucket must not decay the layout
    upd = base.withColumn("v", F.col("v") + 1)
    merge_write(spark, state, upd, ["k"], schema, n_buckets=8)
    assert set(files_per_bucket().values()) == {1}
    rows = spark.read.schema(schema + ", _bucket int").parquet(state)
    assert rows.count() == 2000
    assert rows.agg(F.sum("v")).collect()[0][0] == 4000


def _second_source(spark):
    # k=1 updated again, k=4 (inserted by the first batch) deleted,
    # k=6 inserted
    return spark.createDataFrame(
        [(1, 1, "a3", "U"), (4, 0, "z", "D"), (6, 60, "f", "U")],
        "k long, v long, tag string, op string",
    )


def test_merge_write_changelog_matches_merge_changes(spark, tmp_path):
    """merge_write(changelog_dir=...) over two ledgered batches: the
    state equals merge_into applied twice, each batch appends exactly
    merge_changes(include_preimages=True) against its pre-batch state
    tagged with its batch id, a replay adds nothing, and the bucket
    count changes neither the state nor the changelog."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.merge import (
        merge_changes,
    )

    schema = "k long, v long, tag string"
    kwargs = dict(
        update_set={"v": F.col("v") + src("v")},
        delete_when=src("op") == "D",
        insert_when=src("op") != "D",
    )
    batches = [_source(spark), _second_source(spark)]
    pre = [_target(spark), merge_into(_target(spark), batches[0], ["k"], **kwargs)]
    expected_state = sorted(
        map(tuple, merge_into(pre[1], batches[1], ["k"], **kwargs).collect())
    )
    expected_log = sorted(
        tuple(r) + (b,)
        for b in (0, 1)
        for r in merge_changes(
            pre[b], batches[b], ["k"], include_preimages=True, **kwargs
        ).collect()
    )

    def run(n_buckets):
        state = str(tmp_path / f"state{n_buckets}")
        log = str(tmp_path / f"log{n_buckets}")
        merge_write(spark, state, _target(spark), ["k"], schema,
                    n_buckets=n_buckets)

        def read():
            st = spark.read.schema(schema + ", _bucket int").parquet(state)
            cl = spark.read.schema(
                schema + ", _change_type string, _batch_id int"
            ).parquet(log)
            return (
                sorted(map(tuple, st.drop("_bucket").collect())),
                sorted(map(tuple, cl.collect())),
            )

        for b, batch in enumerate(batches):
            assert merge_write(spark, state, batch, ["k"], schema,
                               n_buckets=n_buckets, batch_id=b,
                               changelog_dir=log, **kwargs)
        got = read()
        assert got == (expected_state, expected_log)
        # replay of the last batch: skipped, nothing appended
        assert not merge_write(spark, state, batches[1], ["k"], schema,
                               n_buckets=n_buckets, batch_id=1,
                               changelog_dir=log, **kwargs)
        assert read() == got
        return got

    assert run(1) == run(8)


def test_merge_write_scopes_dynamic_overwrite(spark, tmp_path):
    """Under a session set to static partition overwrite, a merge_write
    touching one bucket of eight rewrites only that bucket (static mode
    would wipe the other seven), and the session reads static again
    afterwards — also after a batch that raises while writing."""
    key = "spark.sql.sources.partitionOverwriteMode"
    state = str(tmp_path / "state")
    schema = "k long, v long, tag string"
    base = spark.range(64).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v"),
        F.lit("z").alias("tag"),
    )
    merge_write(spark, state, base, ["k"], schema, n_buckets=8)
    touched = "_bucket=%d" % (
        spark.read.schema(schema + ", _bucket int").parquet(state)
        .filter("k = 7").first()["_bucket"]
    )
    one = spark.createDataFrame([(7, 99, "u")], schema)

    def files():
        return {
            d: {
                (f, os.path.getmtime(os.path.join(state, d, f)))
                for f in os.listdir(os.path.join(state, d))
            }
            for d in os.listdir(state)
            if d.startswith("_bucket=")
        }

    def others(listing):
        return {d: fs for d, fs in listing.items() if d != touched}

    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        before = files()
        assert len(others(before)) == 7
        merge_write(spark, state, one, ["k"], schema, n_buckets=8)
        assert spark.conf.get(key) == "static"
        after = files()
        assert others(after) == others(before)
        assert after[touched] != before[touched]

        with pytest.raises(Exception, match="boom"):
            merge_write(spark, state, one, ["k"], schema, n_buckets=8,
                        update_set={"v": F.raise_error(F.lit("boom"))})
        assert spark.conf.get(key) == "static"
        assert others(files()) == others(after)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    rows = spark.read.schema(schema + ", _bucket int").parquet(state)
    assert rows.count() == 64 and rows.filter("k = 7").first()["v"] == 99


def test_stream_dedup_matches_batch_distinct(spark):
    from public_projet_data_engineering_tarification_electrique_spark.streaming.dedup_stream import (
        normalized_prefix_key,
        stream_prefix_dedup,
    )

    path = f"{SF_DIR}/documents.parquet"
    got = stream_prefix_dedup(spark, path).collect()[0]
    docs = spark.read.parquet(path)
    want = docs.agg(
        F.count("*").alias("n"),
        F.countDistinct(normalized_prefix_key()).alias("d"),
    ).collect()[0]
    assert got["n_docs"] == want["n"]
    assert got["n_kept"] == want["d"]
    assert got["n_dropped"] == want["n"] - want["d"]


def test_stream_dedup_null_text_matches_oracle_convention(spark, tmp_path):
    """NULL-text docs hash to a NULL fingerprint; the oracle's
    COUNT(DISTINCT md5(...)) ignores NULLs, so the stream must too —
    NULL-text rows count in n_docs but never in n_kept (round-8 ADVICE:
    off-by-one on any corpus with a NULL text)."""
    from public_projet_data_engineering_tarification_electrique_spark.streaming.dedup_stream import (
        stream_prefix_dedup,
    )

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "alpha beta", "en", "web", 10),
            (2, None, "en", "web", 0),       # NULL text
            (3, "ALPHA   beta", "en", "web", 12),  # dup of 1 after norm
            (4, None, "fr", "web", 0),       # second NULL text
            (5, "gamma", "en", "web", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(path)
    got = stream_prefix_dedup(spark, path, n_files=3).collect()[0]
    # DuckDB-convention oracle: 5 docs, 2 distinct non-null fingerprints
    assert (got["n_docs"], got["n_kept"], got["n_dropped"]) == (5, 2, 3)


def test_stream_dedup_watermarked_evicts_and_reemits(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned with hand-staged
    micro-batches (event time = doc_id seconds, delay 100 s):

    - batch 1: A@0, A@30, B@50  -> A emitted once (in-delay dup
      dropped), B emitted; watermark stays 0
    - batch 2: C@500            -> emitted; watermark advances to 400
      for the NEXT batch (eviction applies the watermark one batch
      after the event that moved it)
    - batch 3: D@550            -> emitted; end-of-batch eviction at
      watermark 400 removes A (expiry 100) and B (expiry 150)
    - batch 4: C@560, A@600     -> C deduped (state alive: expiry 600
      > watermark 450); A RE-EMITTED: its state was evicted past the
      watermark — the bounded-state behavior the unwatermarked q230
      variant never exhibits.
    """
    import os
    import shutil

    from public_projet_data_engineering_tarification_electrique_spark.streaming.dedup_stream import (
        stream_prefix_dedup, stream_prefix_dedup_watermarked,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    batches = [
        [(0, "alpha text"), (30, "ALPHA   text"), (50, "beta text")],
        [(500, "gamma text")],
        [(550, "delta text")],
        [(560, "GAMMA text"), (600, "alpha text")],
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(d, t, "en", "web", len(t)) for d, t in rows], schema
        ).coalesce(1)
        staged = str(tmp_path / f"stage{i}")
        df.write.mode("overwrite").parquet(staged)
        part = next(
            f for f in os.listdir(staged)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        for dest_dir in (landing, corpus):
            dest = str(dest_dir / f"b{i}.parquet")
            shutil.copyfile(os.path.join(staged, part), dest)
            # maxFilesPerTrigger=1 consumes files oldest-mtime-first:
            # pin mtimes 10 s apart so batch order is exactly b0,b1,b2
            os.utime(dest, (1_000_000 + 10 * i, 1_000_000 + 10 * i))

    got = stream_prefix_dedup_watermarked(
        spark, str(corpus), delay_seconds=100, landing_dir=str(landing)
    ).collect()[0]
    # emissions: A, B, C, D, A-again = 5; dropped: A@30 (in-delay dup)
    # and C@560 (state alive)
    assert (got["n_docs"], got["n_kept"], got["n_dropped"]) == (7, 5, 2)

    # the unwatermarked stream on the same corpus keeps state forever:
    # A is never re-emitted (4 distinct fingerprints)
    plain = stream_prefix_dedup(spark, str(corpus), n_files=3).collect()[0]
    assert (plain["n_docs"], plain["n_kept"], plain["n_dropped"]) == (7, 4, 3)


def test_merge_changes_feed_reconstructs_merge_into(spark):
    """CDF consistency: target MINUS (deleted ∪ updated keys) PLUS the
    feed's insert/update post-images == merge_into's output — the
    contract that lets a downstream consumer maintain a replica from
    the changelog alone. Also pins: unaffected keys emit nothing,
    deletes carry the pre-image, never-matched tombstones emit
    nothing."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.merge import (
        merge_changes,
    )

    kwargs = dict(
        keys=["k"],
        update_set={"v": F.col("v") + src("v")},
        delete_when=src("op") == "D",
        insert_when=src("op") != "D",
    )
    t, s = _target(spark), _source(spark)
    feed = merge_changes(t, s, **kwargs)
    rows = {r["k"]: (r["v"], r["tag"], r["_change_type"]) for r in feed.collect()}
    assert rows == {
        1: (110, "a2", "update"),
        2: (20, "b", "delete"),   # pre-image values
        4: (40, "d", "insert"),
    }  # k=3 untouched -> absent; k=5 tombstone-for-nothing -> absent

    merged = {
        r["k"]: (r["v"], r["tag"])
        for r in merge_into(t, s, **kwargs).collect()
    }
    replica = {
        r["k"]: (r["v"], r["tag"]) for r in t.collect()
    }
    for k, (v, tag, ct) in rows.items():
        if ct == "delete":
            replica.pop(k)
        else:
            replica[k] = (v, tag)
    assert replica == merged

    with pytest.raises(ValueError):
        merge_changes(t, s, keys=[])


def test_merge_changes_preimages_are_retraction_complete(spark):
    """include_preimages=True emits Delta CDF's 4-type vocabulary;
    every update carries BOTH images, so SUM-style aggregates maintain
    exactly under +post −pre (the q237 identity)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.merge import (
        merge_changes,
    )

    kwargs = dict(
        keys=["k"],
        update_set={"v": F.col("v") + src("v")},
        delete_when=src("op") == "D",
        insert_when=src("op") != "D",
    )
    t, s = _target(spark), _source(spark)
    feed = merge_changes(t, s, include_preimages=True, **kwargs)
    rows = {(r["k"], r["_change_type"]): (r["v"], r["tag"]) for r in feed.collect()}
    assert rows == {
        (1, "update_preimage"): (10, "a"),
        (1, "update_postimage"): (110, "a2"),
        (2, "delete"): (20, "b"),
        (4, "insert"): (40, "d"),
    }
    # retraction identity: sum(base) + sum(sign * change) == sum(merged)
    base_sum = sum(r["v"] for r in t.collect())
    delta = sum(
        (v if ct in ("insert", "update_postimage") else -v)
        for (k, ct), (v, _) in rows.items()
    )
    merged_sum = sum(r["v"] for r in merge_into(t, s, **kwargs).collect())
    assert base_sum + delta == merged_sum


def test_apply_changes_replays_time_travel_chain(spark):
    """apply_changes rolls a snapshot forward one CDF batch at a time;
    replaying BOTH epochs lands exactly on the direct merge chain —
    the q236 time-travel contract (works with and without pre-image
    rows in the feed)."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.merge import (
        apply_changes,
        merge_changes,
    )

    kwargs = dict(
        keys=["k"],
        update_set={"v": F.col("v") + src("v")},
        delete_when=src("op") == "D",
        insert_when=src("op") != "D",
    )
    t, s1, s2 = _target(spark), _source(spark), _second_source(spark)
    for pre in (False, True):
        v1 = apply_changes(
            t, merge_changes(t, s1, include_preimages=pre, **kwargs), ["k"]
        )
        v2 = apply_changes(
            v1, merge_changes(v1, s2, include_preimages=pre, **kwargs), ["k"]
        )
        direct = merge_into(merge_into(t, s1, **kwargs), s2, **kwargs)
        assert sorted(map(tuple, v2.collect())) == sorted(
            map(tuple, direct.collect())
        )
        assert v2.columns == direct.columns

    with pytest.raises(ValueError):
        apply_changes(t, t, keys=[])
    with pytest.raises(ValueError):
        apply_changes(t, merge_changes(t, s1, **kwargs).drop("tag"), ["k"])


def test_compact_buckets_preserves_rows_and_skips_compact(spark, tmp_path):
    """compact_buckets: fragmented buckets rewrite to ONE file, rows
    survive bit-for-bit, already-compact buckets are untouched (their
    file is not rewritten), missing dirs raise."""
    from public_projet_data_engineering_tarification_electrique_spark.operators.merge import (
        compact_buckets,
    )

    state = str(tmp_path / "state")
    schema = "k long, v long"
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(40)], schema
    ).withColumn("_bucket", (F.col("k") % 2).cast("int"))
    # bucket 0 sprayed across 4 writer tasks; bucket 1 single-file
    df.filter("_bucket = 0").repartition(4).write.partitionBy(
        "_bucket"
    ).parquet(state)
    df.filter("_bucket = 1").coalesce(1).write.mode("append").partitionBy(
        "_bucket"
    ).parquet(state)

    before_rows = sorted(
        map(tuple, spark.read.schema(schema + ", _bucket int").parquet(state).collect())
    )
    b1_files_before = {
        f.name for f in (tmp_path / "state" / "_bucket=1").iterdir()
        if f.name.endswith(".parquet")
    }
    stats = compact_buckets(spark, state, schema)
    assert stats[0][0] > 1 and stats[0][1] == 1      # fragmented -> 1
    assert stats[1] == (1, 1)                        # compact -> skipped
    b1_files_after = {
        f.name for f in (tmp_path / "state" / "_bucket=1").iterdir()
        if f.name.endswith(".parquet")
    }
    assert b1_files_after == b1_files_before         # not rewritten
    after_rows = sorted(
        map(tuple, spark.read.schema(schema + ", _bucket int").parquet(state).collect())
    )
    assert after_rows == before_rows

    with pytest.raises(ValueError):
        compact_buckets(spark, str(tmp_path / "nope"), schema)


def test_merge_write_schema_evolution_adds_column(spark, tmp_path):
    """Widening the declared state schema between batches (Delta's
    mergeSchema): pre-evolution rows read the new column as NULL —
    including rows in buckets the evolving batch never rewrote."""
    state = str(tmp_path / "state")
    v1 = "k long, v long"
    v2 = v1 + ", tag string"
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(8)], v1
    )
    merge_write(spark, state, base, ["k"], v1, n_buckets=4, batch_id=0)
    # batch touches ONLY k=0 (one bucket) and inserts k=100, carrying
    # the new column; other buckets keep their v1-era files.
    batch = spark.createDataFrame(
        [(0, 1, "new"), (100, 5, "ins")], v2
    )
    merge_write(
        spark, state, batch, ["k"], v2, n_buckets=4,
        update_set={"v": F.col("v") + src("v"), "tag": src("tag")},
        batch_id=1,
    )
    rows = {
        r["k"]: (r["v"], r["tag"])
        for r in spark.read.schema(v2 + ", _bucket int").parquet(state).collect()
    }
    assert rows[0] == (1, "new") and rows[100] == (5, "ins")
    # every untouched key: value intact, evolved column NULL
    assert all(rows[i] == (i * 10, None) for i in range(1, 8))


def test_stream_cdc_feed_emits_ordered_changelog(spark):
    """stream_cdc_changelog on a hand-crafted orders table: epochs
    must apply IN ORDER (k=50 is deleted in epoch 1 and re-inserted in
    epoch 2 — any other order changes the feed), every change type
    appears, and the per-epoch sums match the hand model."""
    from datetime import datetime

    from public_projet_data_engineering_tarification_electrique_spark.streaming.cdc_feed import (
        stream_cdc_changelog,
    )

    def o(k, date, price):
        return (k, datetime.fromisoformat(date), float(price))

    orders = spark.createDataFrame(
        [
            # epoch 0 (< 1996): k=1, k=2 insert; k=50 op=D -> never lands
            o(1, "1995-01-01", 10.0), o(1, "1995-02-01", 20.0),
            o(2, "1995-03-01", 30.0), o(50, "1995-04-01", 5.0),
            # epoch 1 ([1996, 1997-06)): k=1 update, k=3 insert,
            # k=50 tombstone-for-nothing (absent), k=2 untouched
            o(1, "1996-05-01", 40.0), o(3, "1996-06-01", 50.0),
            o(50, "1996-07-01", 6.0),
            # epoch 2 (>= 1997-06): k=50 re-inserts?? op=D again ->
            # still absent; k=2 update, k=3 update
            o(2, "1997-07-01", 60.0), o(3, "1997-08-01", 70.0),
        ],
        "o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    out = {
        (r["batch_id"], r["_change_type"]): (
            r["n_rows"], r["sum_orders"], r["total_price_sum"]
        )
        for r in stream_cdc_changelog(spark, orders).collect()
    }
    assert out == {
        (0, "insert"): (2, 3, 60.0),             # k=1 (2 orders), k=2
        (1, "update_preimage"): (1, 2, 30.0),    # k=1 before
        (1, "update_postimage"): (1, 3, 70.0),   # k=1 after
        (1, "insert"): (1, 1, 50.0),             # k=3
        (2, "update_preimage"): (2, 2, 80.0),    # k=2, k=3 before
        (2, "update_postimage"): (2, 4, 210.0),  # k=2, k=3 after
    }  # k=50 (op=D everywhere): no insert, no delete rows ever


def test_null_text_convention_against_registered_oracles(spark, tmp_path):
    """End-to-end NULL-convention gate (VERDICT r9 item 3): the dedup/
    fingerprint family must pass its REGISTERED oracles over a corpus
    that actually contains NULL text, NULL doc_id, empty/whitespace
    text (both collapse to md5('')), duplicate texts, and a NULL
    event_id — the rows the driver testdata never ships, so the main
    parity sweep is blind to them."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from nulls_fixture import FAMILY, build_nulls_fixture

    from .oracle_utils import compare, oracle_views

    from public_projet_data_engineering_tarification_electrique_spark.plans import (
        registry,
    )

    fx = build_nulls_fixture(str(tmp_path / "sfnulls"))
    duck = oracle_views(fx, ("documents", "events"))
    qmap = registry.QUERIES()
    for name in FAMILY:
        compare(
            qmap[name](spark, fx),
            duck,
            registry.ORACLE_SQL[name],
            name=f"nulls:{name}",
        )
