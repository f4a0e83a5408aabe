"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns with a metadata struct;
feature extraction, resize and frame sampling run as Arrow-batched
``mapInPandas`` passes. Real media codecs are not part of the package: the
kernels are deterministic stand-ins over the payload bytes, so the
Spark-side plumbing (schema, batching, partitioning, UDF signatures) is
real and tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def to_binary_payload(docs: DataFrame) -> DataFrame:
    """Model a media table: payload = utf-8 bytes of text (stand-in for
    image/audio bytes), plus typed metadata."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.length(F.col("text")).cast("bigint").alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Deterministic fake features (length + byte-sum) exercise the real
    batch shape; swap the body for a real decoder where codec libs exist."""

    def feat_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                                  count=len(pdf))
            byte_sum = np.fromiter(
                (int(np.frombuffer(p, dtype=np.uint8).sum()) for p in payloads),
                dtype=np.int64, count=len(pdf),
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_bytes": n_bytes,
                    "byte_sum": byte_sum,
                    "fake_feature": byte_sum % 997,
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        feat_batches,
        schema="doc_id bigint, n_bytes bigint, byte_sum bigint, fake_feature bigint",
    )


def resize_image(media: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Arrow-batched image resize plumbing (1 row -> 1 row, binary -> binary).

    The payload is treated as a raw grayscale byte plane and reduced to a
    width×height thumbnail by block-mean pooling — a deterministic numpy
    kernel with the same batch shape, schema and memory profile as a real
    `PIL.Image.resize` body (which would slot into the same loop where
    codec libs exist). Payloads shorter than width*height are zero-padded
    before pooling."""
    wh = width * height

    def resize_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            thumbs = []
            for p in pdf["payload"]:
                buf = np.frombuffer(p, dtype=np.uint8)
                if len(buf) < wh:
                    buf = np.pad(buf, (0, wh - len(buf)))
                # block-mean pool to exactly wh cells (drop the tail
                # remainder, like a stride-floor resize)
                block = len(buf) // wh
                pooled = (
                    buf[: block * wh].reshape(wh, block).mean(axis=1)
                    .astype(np.uint8)
                )
                thumbs.append(pooled.tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "thumb": thumbs,
                    "width": np.full(len(pdf), width, dtype=np.int32),
                    "height": np.full(len(pdf), height, dtype=np.int32),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        resize_batches,
        schema="doc_id bigint, thumb binary, width int, height int",
    )


def sample_frames(media: DataFrame, n_frames: int = 4,
                  frame_bytes: int = 64) -> DataFrame:
    """Arrow-batched frame sampling plumbing (1 row -> N rows — the
    video-decode fan-out shape). The payload is treated as a sequence of
    ``frame_bytes``-sized frames (a stand-in for demuxed video frames);
    ``n_frames`` are sampled uniformly over the full span with EXACT
    integer half-up rounding — `(2·i·(total-1) + (take-1)) //
    (2·(take-1))` — so the selection is bit-reproducible in plain SQL
    (float linspace + numpy's half-even round is not); the trailing
    partial frame is dropped. Payloads shorter than one frame emit zero
    rows — the poison-input path a real demuxer needs. Oracle-checked as
    q32 (frame indices, counts and md5s match DuckDB)."""

    def frame_batches(batches):
        import pandas as pd

        for pdf in batches:
            ids, idxs, totals, frames = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                total = len(p) // frame_bytes
                if total == 0:
                    continue
                take = min(n_frames, total)
                if take == 1:
                    sel = [0]
                else:
                    sel = [
                        (2 * i * (total - 1) + (take - 1))
                        // (2 * (take - 1))
                        for i in range(take)
                    ]
                for fi in sel:
                    ids.append(doc_id)
                    idxs.append(int(fi))
                    totals.append(total)
                    frames.append(
                        bytes(p[fi * frame_bytes:(fi + 1) * frame_bytes])
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "n_frames_total": pd.Series(totals, dtype="int64"),
                    "frame": pd.Series(frames, dtype="object"),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        frame_batches,
        schema="doc_id bigint, frame_idx bigint, n_frames_total bigint, "
               "frame binary",
    )
