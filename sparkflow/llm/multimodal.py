"""Multimodal column plumbing (task brief: image/audio/video as opaque
binary columns + typed metadata, processed by Arrow-batched Python).

Decode status per operator (the container ships no image/audio
LIBRARIES, but stdlib zlib is enough for PNG): `llm_multimodal_resize`
runs a REAL codec — the pure-python PNG encode/decode in
`sparkflow/llm/png.py` (signature, inflate, all five filter types) —
through the Arrow plumbing, so that path exercises genuine pixel
bytes end to end. The feature/frames operators
(`llm_multimodal_features`, `llm_multimodal_frames`) still use the
clearly-marked deterministic fake (`_fake_decode`) standing in for
video/audio codecs; every piece of Spark plumbing around it is real
and tested: a binary column built JVM-side, a mapInPandas extractor
with an explicit output schema, Arrow batch transfer, and a
SQL-oracle on the deterministic parts. Swapping `_fake_decode` for
PIL/librosa is a one-function change.

Scale notes: mapInPandas streams Arrow batches — no per-row Python
calls, no collect; binary payloads stay columnar end to end. This is
the shape for 100 TB of image bytes: partition by file group, decode in
vectorized batches, never materialize on the driver.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import round_robin, table
from ..registry import register

_FEATURE_SCHEMA = (
    "doc_id BIGINT, n_bytes INT, first_byte INT, fake_width INT, fake_height INT"
)


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """STUB decoder (no codecs in this container): derives a deterministic
    fake (width, height) from the byte length. Replace with a real
    decoder (PIL.Image.open etc.) in production — the UDF signature,
    schema, and batching are already correct for that."""
    n = len(payload)
    return (n % 640 + 1, n % 480 + 1)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        decoded = [_fake_decode(p) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(p) for p in payloads],
                "first_byte": [p[0] if len(p) else -1 for p in payloads],
                "fake_width": [w for w, _ in decoded],
                "fake_height": [h for _, h in decoded],
            }
        )


@register(
    "llm_multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS fake_width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS fake_height
    FROM documents
    """,
)
def llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction via mapInPandas: text bytes stand
    in for an image payload (the corpus is ASCII, so byte semantics are
    unambiguous); the fake decode is SQL-reproducible, which is what lets
    the Arrow plumbing be oracle-verified end to end."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(_extract_features, schema=_FEATURE_SCHEMA)


_FRAME = 64  # bytes per fake "frame"
_STRIDE = 4  # sample every 4th frame


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        doc_ids, idxs, lens, sums = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = len(payload) // _FRAME
            for fi in range(0, n_frames, _STRIDE):
                block = payload[fi * _FRAME : (fi + 1) * _FRAME]
                doc_ids.append(doc_id)
                idxs.append(fi)
                lens.append(len(block))
                sums.append(int(sum(block)))
        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "frame_idx": idxs,
                "frame_len": lens,
                "frame_checksum": sums,
            }
        )


@register(
    "llm_multimodal_frames",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, text,
             UNNEST(range(0, len(text) // {_FRAME}, {_STRIDE})) AS frame_idx
      FROM documents
    )
    SELECT f.doc_id, f.frame_idx,
           {_FRAME} AS frame_len,
           CAST(SUM(ascii(substr(f.text, f.frame_idx * {_FRAME} + i, 1))) AS BIGINT)
             AS frame_checksum
    FROM frames f, LATERAL (SELECT UNNEST(range(1, {_FRAME} + 1))) t(i)
    GROUP BY f.doc_id, f.frame_idx
    """,
)
def llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video-like binary payloads (task brief): slice
    the payload into fixed-size frames, keep every 4th, emit one row per
    sampled frame with a checksum. The decode is a STUB (byte windows
    stand in for decoded frames — no codecs in this container) but the
    Spark shape is the real thing: mapInPandas producing MULTIPLE output
    rows per input row over Arrow, schema'd and partition-preserving.
    ASCII corpus ⇒ byte values == character codes, so the oracle can
    recompute checksums relationally."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(
        _sample_frames,
        schema="doc_id BIGINT, frame_idx INT, frame_len INT, frame_checksum BIGINT",
    )


# Real-pixels resize path (round-5): 48x32 greyscale images are
# PNG-ENCODED from text-derived pixels, shipped as a true binary column
# through Arrow, then DECODED (all five PNG filter types — the encoder
# cycles them per row) and 2x box-downsampled. The oracle never sees
# PNG bytes; it recomputes the same pixels relationally from text, so
# the decode/unfilter/resample hot path is verified end to end: any
# codec bug breaks the checksum equality.
_IMG_W, _IMG_H = 48, 32
_TH_W, _TH_H = _IMG_W // 2, _IMG_H // 2


def _render_pixels(text: str) -> bytes:
    """Deterministic greyscale image from a document: pixel (r, c) is
    byte ((r*W + c) mod len) of the UTF-8 text (ASCII corpus, so byte
    == character code and the oracle can use ascii(substr(...)))."""
    data = text.encode("utf-8")
    total = _IMG_W * _IMG_H
    if not data:
        return bytes(total)
    return (data * (total // len(data) + 1))[:total]


def _to_png(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .png import encode_png

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [
                    encode_png(_render_pixels(t), _IMG_W, _IMG_H)
                    for t in pdf["text"]
                ],
            }
        )


def _resize_png(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from .png import decode_png

    for pdf in batches:
        sums = []
        for payload in pdf["payload"]:
            w, h, ch, raw = decode_png(bytes(payload))
            if (w, h, ch) != (_IMG_W, _IMG_H, 1):
                raise ValueError(f"unexpected image geometry {(w, h, ch)}")
            a = np.frombuffer(raw, dtype=np.uint8).astype(np.int32)
            a = a.reshape(_IMG_H, _IMG_W)
            thumb = (
                a[0::2, 0::2] + a[0::2, 1::2] + a[1::2, 0::2] + a[1::2, 1::2]
            ) // 4
            sums.append(int(thumb.sum()))
        n = len(pdf)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "thumb_w": [_TH_W] * n,
                "thumb_h": [_TH_H] * n,
                "thumb_bytes": [_TH_W * _TH_H] * n,
                "thumb_checksum": sums,
            }
        )


def _px(r: str, c: str) -> str:
    """DuckDB expression for pixel (r, c) of _render_pixels(text)."""
    return (
        f"CASE WHEN len(text) = 0 THEN 0 ELSE "
        f"ascii(substr(text, ((({r}) * {_IMG_W} + ({c})) % len(text)) + 1, 1))"
        f" END"
    )


@register(
    "llm_multimodal_resize",
    oracle=f"""
    SELECT doc_id,
           {_TH_W} AS thumb_w, {_TH_H} AS thumb_h,
           {_TH_W * _TH_H} AS thumb_bytes,
           CAST(SUM((
             {_px('2*t.r', '2*t.c')} + {_px('2*t.r', '2*t.c+1')}
             + {_px('2*t.r+1', '2*t.c')} + {_px('2*t.r+1', '2*t.c+1')}
           ) // 4) AS BIGINT) AS thumb_checksum
    FROM documents,
         LATERAL (SELECT r.r, c.c
                  FROM UNNEST(range(0, {_TH_H})) r(r),
                       UNNEST(range(0, {_TH_W})) c(c)) t
    GROUP BY doc_id
    """,
)
def llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-and-resize step of the multimodal pipeline, now with REAL
    pixels end to end: stage 1 (mapInPandas) renders a deterministic
    48x32 greyscale image per document and encodes it as a genuine PNG
    (sparkflow.llm.png — pure-python codec on stdlib zlib, filter type
    cycling per scanline); the binary column crosses an Arrow boundary;
    stage 2 decodes the PNG — signature/chunk walk, zlib inflate, all
    five unfilter branches — and 2x box-downsamples to a 24x16
    thumbnail whose pixel-sum checksum the oracle recomputes from the
    text directly. A decoder bug in ANY filter branch shifts pixels and
    breaks EXACT. At 100 TB this is the image-preprocessing shape:
    binary payloads columnar through Arrow, vectorized decode in
    Python workers, fixed-size typed output, no driver materialization."""
    d = round_robin(table(spark, sf_dir, "documents").select("doc_id", "text"))
    pngs = d.mapInPandas(_to_png, schema="doc_id BIGINT, payload BINARY")
    return pngs.mapInPandas(
        _resize_png,
        schema=(
            "doc_id BIGINT, thumb_w INT, thumb_h INT,"
            " thumb_bytes INT, thumb_checksum BIGINT"
        ),
    )
