"""Streaming serving path: price requests as they land.

The reference serves ``GET /price`` one request at a time from Flask
(reference:api.py:95-132). The production Spark shape is a stream:
requests land on storage (or a queue source), join the SAME broadcast
dimension aggregates the batch scorer uses, and emit (price, status)
rows continuously. The join is stream-static and stateless — no
watermark, no state store; each micro-batch re-resolves the static
side, which is how dimension refreshes propagate without restarts.

With ``availableNow`` over a finite landing directory the output equals
the batch scorer on the same rows — the batch plan (q94's oracle) is an
EXACT oracle for the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.pricing import score_requests_with_status
from ..session import configure
from .runner import _drain_to_memory

#: declared landing schema for request files (schema inference on a
#: stream source is banned — same discipline as sources.readers)
REQUESTS_LANDING_SCHEMA = (
    "libelle_region string, nom_commune string, code_commune string, "
    "nb_personne int, nb_m2 int"
)


def stream_score_requests(
    spark: SparkSession,
    requests_path: str,
    daily: DataFrame,
    annual: DataFrame,
    run_date,
    year_n: int,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """availableNow stream over a requests landing directory, scored
    through ``score_requests_with_status`` (the error-envelope scorer);
    returns the emitted rows.

    ``daily``/``annual`` are BATCH DataFrames (the warehouse
    dimensions): ``score_requests_with_status`` aggregates them to
    region-/commune-grain and broadcasts, so the stream side never
    shuffles — per micro-batch the plan is scan → BHJ ×2 → project,
    identical to the batch scorer's shape. Because there is no shuffle
    and no state store, the stream runs with the session's shuffle
    partitions (the stateful siblings' pinned count has nothing to size
    here).
    """
    configure(spark)
    src = (
        spark.readStream.schema(REQUESTS_LANDING_SCHEMA)
        .format("parquet")
        .load(requests_path)
    )
    scored = score_requests_with_status(
        src, daily, annual, run_date, year_n
    ).select("code_commune", "status", "price")
    return _drain_to_memory(
        scored, "served", "append", checkpoint_dir, partitions=None
    )
