"""Multimodal column operators: opaque ``binary`` payloads + typed
metadata, decoded/feature-extracted via Arrow-batched ``mapInPandas``.

The Spark-side plumbing is real and scale-correct: binary columns flow
through Arrow batches, decode runs per-partition with bounded batch
memory, outputs are typed structs/rows. The *codec* itself is stubbed —
this container has no image/audio libraries — behind
``_decode_bytes_stub``, a deterministic fake clearly marked as such; a
real deployment swaps in PIL/libav there without touching the plumbing.

At 100 TB: binary payloads dominate partition size, so the operators
repartition by size hints rather than row counts
(``spark.sql.files.maxPartitionBytes``) and never collect payloads to
the driver.

This module imports no ``venus_spark`` code and registers itself to be
pickled by value, like :mod:`venus_spark.operators.vector_kernels`: the
batch functions reach Python workers with the task, whatever directory
the driver started in.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

cloudpickle.register_pickle_by_value(sys.modules[__name__])

DECODE_SCHEMA = (
    "doc_id long, byte_len long, width long, height long, format string"
)

FRAME_SCHEMA = "doc_id long, frame_idx long, frame_len long"

N_FRAMES = 4
_FORMATS = ("jpeg", "png", "webp")


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize the opaque binary column (stand-in for real image/audio
    bytes) plus the typed metadata struct a lakehouse table would carry."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.octet_length(F.col(text_col)).alias("content_length"),
        F.lit("application/octet-stream").alias("content_type"),
    )
    return df.withColumn("payload", payload).withColumn("media_meta", meta)


def _decode_bytes_stub(buf: bytes) -> tuple[int, int, int, str]:
    """STUB codec: deterministic fake dimensions derived from the bytes.

    A real implementation decodes the image header here (PIL etc.). The
    return shape (byte_len, width, height, format) is what the real
    decoder would produce.
    """
    n = len(buf)
    return n, 64 + n % 512, 64 + (n * 7) % 512, _FORMATS[n % 3]


def decode_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched decode: binary payload -> typed metadata rows.

    mapInPandas keeps memory bounded per batch and parallelism equal to
    the scan partitioning — no driver involvement.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload (a NULL source row) decodes to a NULL row —
            # matching the oracle's SQL NULL propagation — instead of
            # len(None) aborting the whole Arrow batch.
            decoded = [
                _decode_bytes_stub(bytes(b)) if b is not None else (None,) * 4
                for b in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "byte_len": [d[0] for d in decoded],
                    "width": [d[1] for d in decoded],
                    "height": [d[2] for d in decoded],
                    "format": [d[3] for d in decoded],
                }
            )

    return df.select(id_col, "payload").mapInPandas(run, DECODE_SCHEMA)


RESIZE_TARGET = 224  # longest-side target, the common vision-model input
RESIZE_SCHEMA = "doc_id long, src_w long, src_h long, dst_w long, dst_h long, out_len long"


def resize_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Resize plumbing: decode dims -> aspect-preserving integer rescale
    to ``RESIZE_TARGET`` on the longest side -> output geometry + the
    RGB byte count the resized frame would occupy. All-integer math so
    the oracle recomputes it exactly. A real implementation emits the
    resized bytes from the same loop; the fake frame is deliberately
    NOT materialized (it would be pure padding at dst_w*dst_h*3 bytes
    per row), so the output stays long-narrow."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {k: [] for k in (
                "doc_id", "src_w", "src_h", "dst_w", "dst_h", "out_len")}
            for doc_id, buf in zip(pdf[id_col], pdf["payload"]):
                if buf is None:  # NULL payload -> NULL geometry row
                    cols["doc_id"].append(doc_id)
                    for k in ("src_w", "src_h", "dst_w", "dst_h", "out_len"):
                        cols[k].append(None)
                    continue
                _n, w, h, _fmt = _decode_bytes_stub(bytes(buf))
                m = max(w, h)
                dw, dh = (w * RESIZE_TARGET) // m, (h * RESIZE_TARGET) // m
                cols["doc_id"].append(doc_id)
                cols["src_w"].append(w)
                cols["src_h"].append(h)
                cols["dst_w"].append(dw)
                cols["dst_h"].append(dh)
                cols["out_len"].append(dw * dh * 3)
            yield pd.DataFrame(cols)

    return df.select(id_col, "payload").mapInPandas(run, RESIZE_SCHEMA)


AUDIO_SCHEMA = "doc_id long, n_bytes long, n_space long, n_vowel long, byte_sum long"

_VOWELS = b"aeiou"


def audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature-extraction plumbing: payload bytes -> fixed-width scalar
    feature row (the MFCC/spectrogram-summary shape). The features are
    honest byte statistics a SQL oracle can recompute — byte count,
    space count, vowel count, byte sum — standing in for the DSP a real
    audio library would run in this exact loop."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {k: [] for k in (
                "doc_id", "n_bytes", "n_space", "n_vowel", "byte_sum")}
            for doc_id, buf in zip(pdf[id_col], pdf["payload"]):
                if buf is None:  # NULL payload -> NULL feature row
                    cols["doc_id"].append(doc_id)
                    for k in ("n_bytes", "n_space", "n_vowel", "byte_sum"):
                        cols[k].append(None)
                    continue
                b = bytes(buf)
                cols["doc_id"].append(doc_id)
                cols["n_bytes"].append(len(b))
                cols["n_space"].append(b.count(b" "))
                cols["n_vowel"].append(sum(b.count(v) for v in _VOWELS))
                cols["byte_sum"].append(sum(b))
            yield pd.DataFrame(cols)

    return df.select(id_col, "payload").mapInPandas(run, AUDIO_SCHEMA)


def frame_sample(df: DataFrame, id_col: str = "doc_id", n_frames: int = N_FRAMES) -> DataFrame:
    """'Video' frame sampling shape: one input payload -> n output frame
    rows (variable fan-out through mapInPandas). Frame lengths are the
    even byte-split a real sampler would replace with decoded frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens = [], [], []
            for doc_id, buf in zip(pdf[id_col], pdf["payload"]):
                if buf is None:
                    continue  # no frames from a NULL payload (the
                    # oracle's generate_series over NULL yields none)
                n = len(buf)
                base, rem = divmod(n, n_frames)
                for i in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(base + (1 if i < rem else 0))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_len": lens}
            )

    return df.select(id_col, "payload").mapInPandas(run, FRAME_SCHEMA)
