"""Streaming exact dedup via Spark's native stateful ``dropDuplicates``
— the arrival-path twin of the batch dedup family (operators/dedup.py)
and the streaming complement of q165's incremental batch dedup
(extension surface; the LLM-pipeline brief's dedup family).

A crawl pipeline dedups AS DOCUMENTS ARRIVE: the first document
carrying a fingerprint is kept, every later arrival is dropped, no
matter which micro-batch it lands in. Structured Streaming's
``dropDuplicates`` is exactly that operator — the seen-fingerprint set
lives in the state store (hash-partitioned on the key, RocksDB-backed
at production scale), so per-batch cost is O(batch), state is
O(distinct keys), and the kept-set is a pure function of the data,
independent of batch slicing.

The fingerprint here is the 40-char normalized head (lowercase,
whitespace runs collapsed) hashed to md5 — the crawl-style "same doc
head ⇒ same doc" cheap key (cf. the q190 normalization audit); md5
keeps state entries fixed-width. The emitted stream carries ONLY the
fingerprint: WHICH member of a duplicate group arrives first is
batch-order-dependent, the fingerprint set itself is not — so the
output contract stays deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import scratch_dir
from ..session import configure
from .runner import _drain

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

#: Landing slice count: each slice is one micro-batch, and every
#: micro-batch pays a FIXED trigger cost (planning + state-store commit
#: + sink round-trip) that is independent of data volume — at bench SFs
#: this fixed tail dominates the streams' wall-clock (8 slices measured
#: 6.8 s for q230 at sf0.001; the data itself is milliseconds). The
#: results are slice-count invariant by construction (the oracles are
#: COUNT(DISTINCT)-style set functions of the corpus); ≥3 keeps the
#: stateful operator genuinely exercising CROSS-batch state (tests
#: stage 3 files and pin state crossing), anything above that only buys
#: more trigger overhead.
STREAM_SLICES = 4


def normalized_prefix_key(text_col: str = "text", prefix_len: int = 40) -> Column:
    """md5 of the ``prefix_len``-char normalized document head —
    identical expression in DuckDB:
    ``md5(substr(trim(regexp_replace(lower(text),'\\s+',' ','g')),1,N))``."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return F.md5(F.substring(norm, 1, prefix_len))


def _staged_docs(
    spark: SparkSession,
    documents_path: str,
    n_files: int,
    landing_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(batch corpus, stream over it): the corpus is staged into
    ``n_files`` doc_id-ranged landing files (unless ``landing_dir`` is
    pre-staged) and streamed one file per trigger, so the dedup state
    is genuinely exercised ACROSS micro-batches (a single-file landing
    would make the stateful operator degenerate to a within-batch
    distinct)."""
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    configure(spark)
    docs = spark.read.schema(DOCS_SCHEMA).parquet(documents_path)
    landing = landing_dir
    if landing is None:
        landing = scratch_dir("dedup_landing_")
        docs.repartitionByRange(n_files, "doc_id").write.mode(
            "overwrite"
        ).parquet(landing)
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    return docs, stream


def stream_prefix_dedup(
    spark: SparkSession,
    documents_path: str,
    prefix_len: int = 40,
    n_files: int = STREAM_SLICES,
) -> DataFrame:
    """Run the arrival-order dedup stream to completion (availableNow)
    and return one row (n_docs, n_kept, n_dropped).

    n_kept = |distinct NON-NULL fingerprints| exactly, whatever the
    slicing (see :func:`_staged_docs`) — the oracle is a plain
    COUNT(DISTINCT …) over the same table (which ignores NULLs,
    matching the NULL-text convention documented on the dedup filter
    below).
    """
    docs, stream = _staged_docs(spark, documents_path, n_files)
    # NULL-text rows hash to a NULL fingerprint. dropDuplicates would
    # KEEP one null-fp row (NULL is its own dedup key to Spark), but
    # the documented oracle — COUNT(DISTINCT md5(...)) — ignores NULLs,
    # so a corpus with any NULL text would be off by one. Convention:
    # a document with no text has no fingerprint and is never "kept";
    # it still counts in n_docs (and therefore lands in n_dropped).
    deduped = (
        stream.select(normalized_prefix_key("text", prefix_len).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .dropDuplicates(["fp"])
    )
    return _run_and_count(spark, docs, deduped)


def _run_and_count(
    spark: SparkSession, docs: DataFrame, deduped: DataFrame
) -> DataFrame:
    """Run the dedup stream to completion (availableNow, RocksDB state
    store) emitting only fingerprints, then fold the emitted set and
    the batch corpus into the one-row (n_docs, n_kept, n_dropped)."""
    emitted = scratch_dir("dedup_emitted_")
    # RocksDB: the seen-fingerprint set is the whole state, and at crawl
    # scale it must spill + checkpoint incrementally
    _drain(
        deduped.select("fp")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", emitted),
        None,
        rocksdb=True,
    )
    kept = spark.read.schema("fp string").parquet(emitted)
    return (
        kept.agg(F.count("*").cast("long").alias("n_kept"))
        .crossJoin(docs.agg(F.count("*").cast("long").alias("n_docs")))
        .select(
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_dropped"),
        )
    )


def stream_prefix_dedup_watermarked(
    spark: SparkSession,
    documents_path: str,
    delay_seconds: int = 10_000_000,
    prefix_len: int = 40,
    n_files: int = STREAM_SLICES,
    landing_dir: str | None = None,
) -> DataFrame:
    """The BOUNDED-STATE sibling of :func:`stream_prefix_dedup`:
    ``dropDuplicatesWithinWatermark`` — the production crawl posture,
    where a fingerprint's state is EVICTED once the watermark passes
    its event time + ``delay_seconds``, so state is O(fingerprints in
    the active window), not O(all distinct ever seen).

    Event time is synthesized from the document id
    (``timestamp_seconds(doc_id)`` — arrival order IS id order in the
    ranged landing), which makes the semantics precise: two same-
    fingerprint docs deduplicate whenever their id distance is within
    the delay, and may re-emit once eviction passes between them.
    The default delay exceeds any fixture's duplicate id-span, so the
    kept-set equals the exact distinct count — slicing- and
    file-order-independent (watermark never overtakes a live
    fingerprint), hence the same COUNT(DISTINCT) oracle as q230 —
    while still running the full watermark + eviction machinery. A
    production crawl sets the delay to its dup-locality window;
    eviction + re-emission semantics are pinned by
    tests/test_merge_streamdedup.py with hand-staged micro-batches.

    ``landing_dir``: pre-staged landing files (tests use this to
    control batch boundaries exactly); default stages ``n_files``
    doc_id-ranged files like q230.
    """
    if delay_seconds < 1:
        raise ValueError(f"delay_seconds must be >= 1, got {delay_seconds}")
    docs, stream = _staged_docs(spark, documents_path, n_files, landing_dir)
    # NULL-fp convention as in stream_prefix_dedup; NULL doc_id rows
    # carry no event time and are likewise never "kept". Event time is
    # offset one day past the epoch: the initial watermark is epoch 0,
    # and an event AT the watermark is already "late" — doc_id 0 would
    # be silently dropped (found the hard way: one-fingerprint parity
    # break at sf0.01).
    deduped = (
        stream.select(
            normalized_prefix_key("text", prefix_len).alias("fp"),
            F.timestamp_seconds(F.col("doc_id") + F.lit(86400)).alias("_ts"),
        )
        .filter(F.col("fp").isNotNull() & F.col("_ts").isNotNull())
        .withWatermark("_ts", f"{int(delay_seconds)} seconds")
        .dropDuplicatesWithinWatermark(["fp"])
    )
    return _run_and_count(spark, docs, deduped)
