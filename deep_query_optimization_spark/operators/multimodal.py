"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (the Spark-side plumbing is real; only the codec byte-decoding is
stubbed, since image/audio libraries are not in this container):

- payload schema: ``binary`` column + a metadata struct
  (modality/format/n_bytes) — the pattern that scales is *late
  decoding*: filters on metadata prune files/row-groups BEFORE any
  payload byte moves, so a "decode only 1080p jpegs" pipeline reads
  metadata columns at parquet speed and touches payload bytes for the
  survivors only.
- decode/feature-extract run as ``mapInPandas`` (Arrow-batched, one
  Python worker per partition, zero-copy bytes in) — the correct shape
  for real codecs (PIL/ffmpeg), which release the GIL and process a
  batch per call.
- ``decode_stub``: deterministic fake decode (dimensions derived from
  the payload digest) behind the same signature a real decoder would
  have, so the whole pipeline — schema, batching, partitioning,
  downstream aggregation — is exercised and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MODALITIES = ("image", "audio", "video")

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def attach_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a multimodal table from the documents table: payload =
    utf-8 bytes of the text (a stand-in blob), modality assigned
    deterministically by id. Schema matches what a real ingest
    (binaryFile source / tar shard reader) would produce."""
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]), (F.col(id_col) % 3 + 1).cast("int")
    )
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            modality.alias("modality"),
            F.lit("stub/v1").alias("format"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def real_decode(payload: bytes, modality: str) -> dict:
    """The real codec hook. Not available in this container — a real
    deployment plugs PIL/libav here; everything around it is live."""
    raise NotImplementedError("codec libraries (PIL/ffmpeg) not available in this environment")


def decode_stub(payload: bytes, modality: str, feat_dim: int = 8) -> dict:
    """Deterministic fake decode: dimensions + a feature vector derived
    from the payload digest. Same output contract as ``real_decode``."""
    digest = hashlib.md5(payload).digest()
    width = 64 + digest[0] % 192 if modality in ("image", "video") else 0
    height = 64 + digest[1] % 192 if modality in ("image", "video") else 0
    n_frames = 1 if modality == "image" else 1 + digest[2] % 64
    feature = [round((b - 128) / 128.0, 6) for b in digest[:feat_dim]]
    return {"width": width, "height": height, "n_frames": n_frames, "feature": feature}


_DECODED_COLS = [f.name for f in DECODED_SCHEMA.fields]


def _decode_stub_batch(pdf: pd.DataFrame, feat_dim: int = 8) -> pd.DataFrame:
    """Vectorized ``decode_stub`` over one Arrow batch (guide
    §4.2: batch work in native code). The md5 stays per-row — exactly
    where a real codec's per-item decode would sit — but the
    dimension/feature arithmetic runs as numpy over the stacked
    digests and the output frame is built column-wise instead of via a
    per-row dict loop + list-of-dicts DataFrame. Values are identical
    to ``decode_stub`` row by row: same digest bytes, same integer
    arithmetic, and ``np.round`` is the same half-even rounding as
    Python ``round`` on these exact binary fractions (k/128)."""
    import numpy as np

    n = len(pdf)
    if n == 0:
        return pd.DataFrame({c: [] for c in _DECODED_COLS}, columns=_DECODED_COLS)
    digests = b"".join(hashlib.md5(bytes(p)).digest() for p in pdf["payload"])
    D = np.frombuffer(digests, dtype=np.uint8).reshape(n, 16)
    meta = pdf["meta"]
    modality = np.array([m["modality"] for m in meta], dtype=object)
    visual = (modality == "image") | (modality == "video")
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(),
            "modality": modality,
            "n_bytes": np.array([int(m["n_bytes"]) for m in meta], dtype="int64"),
            "width": np.where(visual, 64 + D[:, 0] % 192, 0).astype("int32"),
            "height": np.where(visual, 64 + D[:, 1] % 192, 0).astype("int32"),
            "n_frames": np.where(modality == "image", 1, 1 + D[:, 2] % 64).astype("int32"),
            "feature": list(np.round((D[:, :feat_dim].astype(np.float64) - 128.0) / 128.0, 6)),
        },
        columns=_DECODED_COLS,
    )


def decode_batch(
    batches: Iterable[pd.DataFrame], decoder=decode_stub
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one Arrow batch in, one decoded batch out.
    The default stub takes the vectorized batch path; a custom decoder
    (real codecs) runs the generic per-row loop."""
    for pdf in batches:
        if decoder is decode_stub:
            yield _decode_stub_batch(pdf)
            continue
        rows = []
        for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
            modality = meta["modality"]
            d = decoder(bytes(payload), modality)
            rows.append(
                {
                    "doc_id": doc_id,
                    "modality": modality,
                    "n_bytes": int(meta["n_bytes"]),
                    "width": d["width"],
                    "height": d["height"],
                    "n_frames": d["n_frames"],
                    "feature": d["feature"],
                }
            )
        yield pd.DataFrame(rows, columns=_DECODED_COLS)


def decode(df: DataFrame, decoder=decode_stub) -> DataFrame:
    """Arrow-batched decode of a multimodal table. Metadata-only
    predicates pushed by the caller BEFORE this call never pay decode
    cost — keep this the last stage of the plan."""
    from deep_query_optimization_spark.functions import parallelize_input

    return parallelize_input(df, max_partitions=8).mapInPandas(lambda it: decode_batch(it, decoder), schema=DECODED_SCHEMA)


def frame_sample(decoded: DataFrame, every_n: int = 8) -> DataFrame:
    """Video frame sampling plan: explode a frame index per video row.
    The explode happens AFTER decode-stub (frame count known), matching
    a real pipeline where per-frame work fans out of the decoded row."""
    frames = F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
    return (
        decoded.filter(F.col("modality") == "video")
        .select("doc_id", "n_frames", F.explode(frames).alias("frame_idx"))
    )
