"""Multimodal column plumbing: opaque BINARY payloads + typed metadata.

The decode stage is a REAL, dependency-free container-header parser —
PNG (IHDR), JPEG (SOF-family marker scan), GIF (logical screen
descriptor) — so width/height/media-type extraction needs no PIL/ffmpeg.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, media_type string, "
    "width int, height int, checksum string"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# every SOF marker that carries dimensions (C4/C8/CC are huffman/arith
# tables, not frames)
_JPEG_SOF = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]
)


def parse_media_header(payload: bytes | None) -> dict:
    """Container-format sniff + dimension extraction from raw bytes.

    - PNG: width/height are the two big-endian u32s of the IHDR chunk
      (bytes 16-24 — IHDR is mandatory-first per the PNG spec).
    - JPEG: walk the marker segments from SOI until a SOF-family marker;
      its payload is [len u16][precision u8][height u16][width u16].
    - GIF: logical-screen width/height, little-endian u16s at bytes 6-10.
    - anything else: octet-stream with null dimensions.
    """
    if not payload:
        return {"media_type": "application/octet-stream", "width": None, "height": None}
    if (
        payload[:8] == _PNG_SIG
        and len(payload) >= 24
        and payload[12:16] == b"IHDR"
    ):
        return {
            "media_type": "image/png",
            "width": int.from_bytes(payload[16:20], "big"),
            "height": int.from_bytes(payload[20:24], "big"),
        }
    if payload[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker in _JPEG_SOF:
                return {
                    "media_type": "image/jpeg",
                    "width": int.from_bytes(payload[i + 7 : i + 9], "big"),
                    "height": int.from_bytes(payload[i + 5 : i + 7], "big"),
                }
            if marker == 0xFF:  # fill byte — resync on the next 0xFF
                i += 1
                continue
            if marker == 0xD9:  # EOI, no frame seen
                break
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            i += 2 + seg_len
        return {"media_type": "image/jpeg", "width": None, "height": None}
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        return {
            "media_type": "image/gif",
            "width": int.from_bytes(payload[6:8], "little"),
            "height": int.from_bytes(payload[8:10], "little"),
        }
    return {"media_type": "application/octet-stream", "width": None, "height": None}


def decode_media(payload: bytes | None) -> dict:
    """Full per-payload metadata record: header parse + size + checksum."""
    meta = parse_media_header(payload)
    b = payload or b""
    meta["n_bytes"] = len(b)
    meta["checksum"] = hashlib.md5(b).hexdigest()
    return meta


def extract_media_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, payload BINARY) → typed metadata via mapInPandas — one Arrow
    batch per call, pure-Python header parse per payload (no pixel
    decode, so the per-row cost is O(header), not O(image))."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_media(p) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [m["n_bytes"] for m in metas],
                    "media_type": [m["media_type"] for m in metas],
                    "width": pd.array([m["width"] for m in metas], dtype="Int32"),
                    "height": pd.array([m["height"] for m in metas], dtype="Int32"),
                    "checksum": [m["checksum"] for m in metas],
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        decode_batches, schema=MEDIA_META_SCHEMA
    )


def synthetic_media_payload_col(kind_col, width_col, height_col):
    """Catalyst-only synthetic media binaries (PNG/JPEG/GIF headers with
    the given dimensions) — the deterministic fixture generator for tests
    and the contract query; unhex(concat(hex fragments)) stays in codegen.
    kind: 0 = PNG, 1 = JPEG, 2 = GIF."""
    be4 = lambda c: F.lpad(F.hex(c.cast("bigint")), 8, "0")
    be2 = lambda c: F.lpad(F.hex(c.cast("bigint")), 4, "0")
    le2 = lambda c: F.concat(
        F.lpad(F.hex(F.pmod(c.cast("bigint"), F.lit(256))), 2, "0"),
        F.lpad(F.hex(F.floor(c.cast("bigint") / F.lit(256)).cast("bigint")), 2, "0"),
    )
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"), be4(width_col), be4(height_col)
    )
    jpg_hex = F.concat(F.lit("FFD8FFC0001108"), be2(height_col), be2(width_col))
    gif_hex = F.concat(F.lit("474946383961"), le2(width_col), le2(height_col))
    return F.unhex(
        F.when(kind_col == 0, png_hex).when(kind_col == 1, jpg_hex).otherwise(gif_hex)
    )


def media_byte_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Content feature-extract over opaque binaries — (doc_id, n_bytes,
    byte_entropy, printable_ratio) via mapInPandas with a vectorized
    numpy kernel (np.frombuffer + bincount per payload; no Python loop
    over bytes). Shannon entropy is log2; -0.0 is normalized to 0.0 for
    engine portability. The DuckDB oracle re-derives both features from
    hex-pair exploding (a bijection of the byte stream)."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ents, prints, sizes = [], [], []
            for p in pdf[payload_col]:
                a = np.frombuffer(p or b"", dtype=np.uint8)
                sizes.append(len(a))
                if len(a) == 0:
                    ents.append(0.0)
                    prints.append(0.0)
                    continue
                cnt = np.bincount(a, minlength=256)
                pr = cnt[cnt > 0] / len(a)
                ents.append(round(float(-(pr * np.log2(pr)).sum()) + 0.0, 6))
                prints.append(
                    round(float(((a >= 0x20) & (a <= 0x7E)).mean()), 6)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": pd.array(sizes, dtype="int64"),
                    "byte_entropy": ents,
                    "printable_ratio": prints,
                }
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        feats,
        schema="doc_id bigint, n_bytes bigint, byte_entropy double, printable_ratio double",
    )


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_size: int = 8,
    stride: int = 16,
    max_frames: int = 4,
) -> DataFrame:
    """Frame sampling over opaque binaries — the video/audio
    frame-extraction PLUMBING (fixed-size windows at stride offsets),
    pure Catalyst: hex once, posexplode a bounded offset sequence,
    substring per frame. No Python anywhere; frames come out hex-encoded
    (portable to the DuckDB oracle and to any downstream decoder).
    Returns (doc_id, frame_idx INT, frame_hex STRING); short tails are
    kept (substring clamps), empty payloads produce no frames."""
    hexed = df.select(
        F.col(id_col).alias("doc_id"),
        F.hex(F.col(payload_col)).alias("_hex"),
        F.length(F.col(payload_col)).alias("_n"),
    ).where(F.col("_n") > 0)
    offsets = F.sequence(
        F.lit(0),
        F.least(
            F.lit((max_frames - 1) * stride),
            (F.col("_n") - 1) - F.pmod(F.col("_n") - 1, F.lit(stride)),
        ),
        F.lit(stride),
    )
    return (
        hexed.select(
            "doc_id", "_hex", F.posexplode(offsets).alias("frame_idx", "_off")
        )
        .select(
            "doc_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.substring(
                F.col("_hex"), F.col("_off") * 2 + 1, F.lit(frame_size * 2)
            ).alias("frame_hex"),
        )
    )


def resize_plan(meta: DataFrame, max_side: int = 512) -> DataFrame:
    """Metadata-level resize planning (no pixel decode):
    aspect-preserving target dims capped at ``max_side``. Pure Catalyst
    integer math — floor(dim*scale + 0.5) on both engines (portable
    half-up without relying on engine round() semantics). Upscaling
    never happens (scale capped at 1)."""
    w = F.col("width").cast("double")
    h = F.col("height").cast("double")
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / F.greatest(w, h))
    return meta.select(
        "doc_id",
        "width",
        "height",
        F.floor(w * scale + F.lit(0.5)).cast("int").alias("target_width"),
        F.floor(h * scale + F.lit(0.5)).cast("int").alias("target_height"),
    )
