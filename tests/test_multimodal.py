"""Multimodal plumbing tests: binary payloads, Arrow-batched decode,
corrupt-object tolerance, frame sampling row explosion."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from alibaba_cppfeaturestore_spark.operators.multimodal import (
    attach_binary_payload,
    decode_media_metadata,
    sample_frames,
)


def _media(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "spark engine"), (3, "x")], ["doc_id", "text"]
    )
    return attach_binary_payload(df, source_col="text", id_col="doc_id")


def test_decode_metadata_deterministic(spark):
    media = _media(spark)
    out = {r["media_id"]: r.asDict() for r in decode_media_metadata(media).collect()}
    assert out[1]["n_bytes"] == len(b"hello world")
    assert out[1]["sha256"] == hashlib.sha256(b"hello world").hexdigest()
    assert 64 <= out[1]["width"] < 256 and 64 <= out[1]["height"] < 256
    # deterministic across runs
    again = {r["media_id"]: r.asDict() for r in decode_media_metadata(media).collect()}
    assert out == again


def _make_png(w: int, h: int) -> bytes:
    """A valid minimal RGB PNG built with the stdlib (spec-conformant:
    signature, IHDR, one IDAT of zlib'd filter-0 scanlines, IEND)."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + b"\x7f" * (3 * w) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_codec_capability_detection(spark):
    # Two decode tiers, each pinned:
    # - stub: the codec-less default reproduces the catalog oracle values;
    # - Pillow: the default when importable; true dimensions from actual
    #   image bytes, also through decode_media_metadata.
    from alibaba_cppfeaturestore_spark.operators import multimodal as MM

    if not MM.codec_available():
        assert MM.default_decode_fn() is MM._fake_decode
        return  # Pillow tier runs only where installed — no skip needed

    png = _make_png(37, 21)
    assert MM.default_decode_fn() is MM.pil_decode
    meta = MM.pil_decode(png)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (37, 21, 1)
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_type", T.StringType()),
        ]
    )
    row = decode_media_metadata(
        spark.createDataFrame([(1, bytearray(png), "image/png")], schema)
    ).collect()[0]
    assert (row["width"], row["height"]) == (37, 21)


def test_decode_tolerates_null_and_corrupt(spark):
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_type", T.StringType()),
        ]
    )
    def angry_decoder(payload: bytes) -> dict:
        if payload == b"ok":
            return {"width": 1, "height": 2, "n_frames": 3}
        raise ValueError("corrupt")

    media2 = spark.createDataFrame(
        [(1, bytearray(b"ok"), "image/png"),
         (2, None, "image/png"),
         (3, bytearray(b"garbage"), "image/png")],  # decoder raises
        schema,
    )
    out = {r["media_id"]: r.asDict() for r in
           decode_media_metadata(media2, decode_fn=angry_decoder).collect()}
    assert out[1]["width"] == 1 and out[1]["n_frames"] == 3
    assert out[2]["n_bytes"] is None and out[2]["width"] is None  # row survives
    # decode failure nulls ONLY the decode fields: n_bytes and sha256
    # are decoder-independent (r08 review find — the real-codec default
    # makes this path routine on non-image payloads)
    assert out[3]["width"] is None and out[3]["n_frames"] is None
    assert out[3]["n_bytes"] == len(b"garbage")
    assert out[3]["sha256"] == hashlib.sha256(b"garbage").hexdigest()


def test_sample_frames_explodes_rows(spark):
    media = _media(spark)
    frames = sample_frames(media, every_nth=5)
    rows = frames.collect()
    assert len(rows) >= 3  # at least frame 0 per media
    assert all(r["frame_idx"] % 5 == 0 for r in rows)
    meta = {r["media_id"]: r["n_frames"] for r in decode_media_metadata(media).collect()}
    per_media = {}
    for r in rows:
        per_media[r["media_id"]] = per_media.get(r["media_id"], 0) + 1
    for mid, n in per_media.items():
        assert n == len(range(0, meta[mid], 5))


def test_extract_features_feeds_similarity_search(spark):
    from alibaba_cppfeaturestore_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )
    from alibaba_cppfeaturestore_spark.operators.similarity import brute_force_topk
    from alibaba_cppfeaturestore_spark.plans.views import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(30)
    media = attach_binary_payload(docs, "text", "doc_id")
    emb = extract_features(media, dim=16)
    rows = emb.collect()
    assert len(rows) == 30
    import math
    for r in rows:
        assert len(r["embedding"]) == 16
        assert abs(math.sqrt(sum(x * x for x in r["embedding"])) - 1.0) < 1e-5
    # end-to-end: media-derived embeddings flow into ANN search
    corpus = emb.withColumnRenamed("media_id", "vec_id")
    queries = corpus.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    topk = brute_force_topk(corpus, queries, k=3)
    assert topk.count() == 9
