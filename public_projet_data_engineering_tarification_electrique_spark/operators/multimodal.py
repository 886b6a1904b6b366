"""Multimodal column plumbing (extension surface): media as opaque
``binary`` columns + typed metadata, processed by Arrow-batched
``mapInPandas``.

Decode is REAL for PNG: ``decode_image`` uses Pillow when importable
and otherwise the vendored pure-stdlib spec decoder (:mod:`.pngcodec`
— zlib IDAT, CRC'd chunks, all five scanline filters); audio/video
decode stays a loud NotImplementedError (no codec libs here). The
fake-metadata path (``extract_media_meta``) is kept alongside as the
byte-level plumbing demo. The Spark-side plumbing — binary schema,
Arrow batch shape, mapInPandas signature, partition-parallel
execution — is oracle-tested end-to-end: ``synth_png_corpus`` →
``decode_image_stats`` round-trips real PNG bytes and DuckDB
recomputes the post-decode sums closed-form.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import ensure_parallelism

#: Deterministic fake formats keyed by id % 3 (stands in for sniffing
#: magic bytes in a real decoder).
_FORMATS = ("png", "jpg", "webp")

MEDIA_META_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, format string"
)


def attach_binary_payload(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Treat each document's utf-8 bytes as an opaque media payload.

    In a real pipeline this column comes straight from parquet/tar
    shards of images/audio; binary stays opaque to Catalyst and is
    never shuffled except where the plan requires the payload itself.

    NULL-text rows are dropped here: a NULL payload has no media
    semantics, and letting it through would crash the Arrow batch
    functions downstream (len(None)/bytes(None)) instead of the
    explicit decision this filter records.
    """
    return (
        ensure_parallelism(docs)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col), F.encode(F.col(text_col), "utf-8").alias("payload")
        )
    )


def extract_media_meta(with_payload: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads.

    mapInPandas streams RecordBatches through Python once, partition
    parallel — the pattern a real decode/resize/feature-extract step
    uses. The metadata here is a deterministic function of the bytes
    (see module docstring).
    """

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n_bytes.astype("int32"),
                    "width": (64 + n_bytes % 64).astype("int32"),
                    "height": (64 + (n_bytes // 64) % 64).astype("int32"),
                    "format": [
                        _FORMATS[int(i) % 3] for i in pdf[id_col].to_numpy()
                    ],
                }
            )

    return with_payload.mapInPandas(meta_batches, schema=MEDIA_META_SCHEMA)


def decode_image(payload: bytes):
    """Real image decode. Pillow when importable (any format it
    sniffs); otherwise the vendored pure-stdlib PNG decoder
    (:mod:`.pngcodec`, W3C PNG spec subset) for PNG payloads —
    returning an (h, w, ch) uint8 numpy array. Non-PNG payloads
    without Pillow still raise NotImplementedError loudly rather than
    silently skipping decode."""
    try:
        from PIL import Image  # type: ignore
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError:
        pass
    from .pngcodec import PNG_SIGNATURE, decode_png

    if bytes(payload[:8]) == PNG_SIGNATURE:
        return decode_png(bytes(payload))
    raise NotImplementedError(
        "only PNG decode is available without Pillow (vendored "
        "pngcodec); this payload is not a PNG"
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes binary"
FEATURE_SCHEMA = "doc_id long, features array<long>"


def frame_sample(
    with_payload: DataFrame,
    frame_bytes: int = 64,
    max_frames: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame sampling plumbing: explode each payload into up to
    ``max_frames`` fixed-width byte windows (the stand-in for video
    keyframe extraction — a real decoder swaps the window slicing for
    codec frame boundaries; the 1→N Arrow fan-out shape is identical).

    Output grain: one row per (doc, frame). At 100 TB the payload column
    never shuffles — mapInPandas runs on the scan's partitions and only
    the (much smaller) sampled frames flow on.
    """

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            blobs: list[bytes] = []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                n = min(max(1, len(b) // frame_bytes), max_frames)
                for i in range(n):
                    ids.append(int(did))
                    idxs.append(i)
                    blobs.append(b[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": blobs}
            )

    return with_payload.mapInPandas(frames, schema=FRAME_SCHEMA)


def byte_histogram_features(
    with_payload: DataFrame, n_bins: int = 64, id_col: str = "doc_id"
) -> DataFrame:
    """REAL feature extraction over the binary column: an ``n_bins``-bin
    byte-value histogram per payload as ``array<long>`` (numpy bincount
    per Arrow batch — no per-byte Python). This is the embedding-shaped
    output a learned feature extractor would produce, with the same
    schema, batching, and partition-parallelism."""
    import numpy as np

    if 256 % n_bins != 0:
        raise ValueError(f"n_bins must divide 256, got {n_bins}")
    shrink = 256 // n_bins

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                feats.append(
                    np.bincount(arr // shrink, minlength=n_bins)
                    .astype("int64")
                    .tolist()
                )
            yield pd.DataFrame({"doc_id": pdf[id_col], "features": feats})

    return with_payload.mapInPandas(hist, schema=FEATURE_SCHEMA)


DECODE_STATS_SCHEMA = (
    "doc_id long, width int, height int, pixel_sum long, "
    "rs_width int, rs_height int, pixel_sum_resized long"
)


def synth_png_corpus(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-PNG corpus: one grayscale PNG per document,
    dimensions and pixels a pure function of the id — width
    4 + id % 13, height 4 + (id // 13) % 11, pixel(x, y) =
    (3x + 7y + id) mod 256 — encoded through the vendored spec
    codec (zlib IDAT, CRC'd chunks), so the decode path downstream
    exercises a genuine PNG container, not a fake byte pattern.
    Closed-form pixels make the post-decode stats ORACLE-expressible:
    DuckDB recomputes the sums from the same arithmetic without ever
    seeing the bytes."""
    import numpy as np

    from .pngcodec import encode_png

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            ids = pdf[id_col].to_numpy()
            for did in ids:
                d = int(did)
                w, h = 4 + d % 13, 4 + (d // 13) % 11
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                pix = (3 * xs[None, :] + 7 * ys[:, None] + d) % 256
                payloads.append(encode_png(pix.astype(np.uint8)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return (
        ensure_parallelism(docs)
        .filter(F.col(id_col).isNotNull())
        .select(id_col)
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )


def decode_image_stats(with_payload: DataFrame) -> DataFrame:
    """REAL decode + resize over PNG payloads, Arrow-batched: each
    payload round-trips through :func:`decode_image` (full zlib
    inflate + scanline unfilter, not a header peek), yields exact
    integer stats (width, height, pixel_sum), then a nearest-neighbor
    half-resize (pngcodec.resize_nearest — deterministic integer
    sampling, no float resampling) and the resized pixel sum. At
    100 TB the payload column never shuffles: mapInPandas runs on the
    scan's partitions and only the 7-integer stats rows flow on."""
    import numpy as np

    from .pngcodec import resize_nearest

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height", "pixel_sum",
                "rs_width", "rs_height", "pixel_sum_resized",
            )}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = np.asarray(decode_image(bytes(payload)))
                h, w = img.shape[:2]
                rw, rh = max(1, w // 2), max(1, h // 2)
                resized = resize_nearest(img, rw, rh)
                out["doc_id"].append(int(did))
                out["width"].append(w)
                out["height"].append(h)
                out["pixel_sum"].append(int(img.sum(dtype=np.int64)))
                out["rs_width"].append(rw)
                out["rs_height"].append(rh)
                out["pixel_sum_resized"].append(
                    int(resized.sum(dtype=np.int64))
                )
            yield pd.DataFrame(out)

    return with_payload.mapInPandas(stats, schema=DECODE_STATS_SCHEMA)


def synth_wav_corpus(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-WAV corpus: one RIFF/WAVE container per
    document (16-bit PCM mono @ 8 kHz, written through the stdlib
    ``wave`` module — genuine chunk headers, not a fake byte blob),
    length and samples a pure function of the id — n = 32 + id % 97
    samples, s(t) = ((1234·t + 57·id) mod 4096) − 2048. Closed-form
    samples make every post-decode statistic ORACLE-expressible: the
    DuckDB side recomputes the sums from the same arithmetic without
    ever seeing a byte (the q267 PNG contract, audio edition)."""
    import io
    import wave as _wave

    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            ids = pdf[id_col].to_numpy()
            for did in ids:
                d = int(did)
                n = 32 + d % 97
                t = np.arange(n, dtype=np.int64)
                s = (((1234 * t + 57 * d) % 4096) - 2048).astype("<i2")
                buf = io.BytesIO()
                w = _wave.open(buf, "wb")
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(8000)
                w.writeframes(s.tobytes())
                w.close()
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return (
        ensure_parallelism(docs)
        .filter(F.col(id_col).isNotNull())
        .select(id_col)
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )


WAV_STATS_SCHEMA = (
    "doc_id long, n_samples long, sample_rate long, sum_samples long, "
    "sum_abs long, peak_abs long, energy long, n_frames long"
)


def decode_wav_stats(
    with_payload: DataFrame, frame_len: int = 16, hop: int = 8
) -> DataFrame:
    """REAL audio decode over WAV payloads, Arrow-batched: each
    payload parses through the stdlib ``wave`` reader (genuine RIFF
    chunk walk — a truncated/invalid container raises loudly), the
    PCM block decodes to int16, and the op emits exact integer
    stats — duration, signed/absolute mass, peak, energy (Σ s²) —
    plus the 50%-overlap frame count a feature extractor would
    produce (1 + (n − frame_len)//hop, 0 when n < frame_len). At
    100 TB the payload never shuffles: mapInPandas runs on the scan's
    partitions and only 8-integer stat rows flow on."""
    import io
    import wave as _wave

    import numpy as np

    if frame_len <= 0 or hop <= 0:
        raise ValueError(
            f"frame_len and hop must be > 0, got {frame_len}, {hop}"
        )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "sample_rate", "sum_samples",
                "sum_abs", "peak_abs", "energy", "n_frames",
            )}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                r = _wave.open(io.BytesIO(bytes(payload)), "rb")
                if r.getsampwidth() != 2 or r.getnchannels() != 1:
                    raise NotImplementedError(
                        "only 16-bit mono PCM is supported"
                    )
                n = r.getnframes()
                s = np.frombuffer(
                    r.readframes(n), dtype="<i2"
                ).astype(np.int64)
                out["doc_id"].append(int(did))
                out["n_samples"].append(n)
                out["sample_rate"].append(r.getframerate())
                out["sum_samples"].append(int(s.sum()))
                out["sum_abs"].append(int(np.abs(s).sum()))
                out["peak_abs"].append(int(np.abs(s).max()) if n else 0)
                out["energy"].append(int((s * s).sum()))
                out["n_frames"].append(
                    1 + (n - frame_len) // hop if n >= frame_len else 0
                )
            yield pd.DataFrame(out)

    return with_payload.mapInPandas(stats, schema=WAV_STATS_SCHEMA)
