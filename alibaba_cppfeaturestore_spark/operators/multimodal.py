"""Multimodal (image/audio/video) column plumbing.

Treats media as opaque ``binary`` columns with typed metadata structs, and
implements decode / feature-extract / frame-sample as Arrow-batched
``mapInPandas`` operators. The actual codec calls are STUBBED: the default
``decode_fn`` is a deterministic fake decoder, so the Spark-side contract —
schema, batch shape, partitioning, null handling — is real and tested, and
the catalog's DuckDB oracles replay its values; pass a real
``decode_fn(payload: bytes) -> dict`` to swap in PIL/ffmpeg/etc.

Scale notes: media payloads dominate row size, so operators project the
binary column as late as possible and ``spark.sql.files.maxPartitionBytes``
governs scan granularity; mapInPandas streams Arrow batches so a partition
never fully materializes in Python memory.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sha256", T.StringType(), True),
    ]
)


def attach_binary_payload(df: DataFrame, source_col: str, id_col: str) -> DataFrame:
    """Build a media-shaped table from any table: payload = utf-8 bytes of
    ``source_col`` (a deterministic stand-in for real image/audio bytes),
    plus a media_type derived from the id.

    Rows with a NULL id are dropped AT THE GATE: every downstream kernel
    (decode / frame-sample / features) declares ``media_id``
    non-nullable — an unattributable object can never be joined back —
    and letting a null id through surfaces as an Arrow null-in-non-null
    crash deep inside a codegen stage instead of a visible contract
    (``driver_sim --perturb-nulls`` find on NULL-seeded ids)."""
    return df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.encode(F.col(source_col), "utf-8").alias("payload"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            # pmod, not %: a NEGATIVE id's sign-following remainder made
            # the element_at index 0 (crash) or -1 (silent last-element
            # pick) — r11 --perturb-neg-ids find, seed 419
            (F.pmod(F.col(id_col), F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a real codec: derives pseudo-dimensions
    from the payload hash. Raises on None payloads like a real decoder."""
    h = hashlib.sha256(payload).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "n_frames": 1 + h[2] % 30,
    }


def decode_media_metadata(
    media: DataFrame,
    decode_fn: Callable[[bytes], dict] = _fake_decode,
) -> DataFrame:
    """Decode payloads → typed metadata via mapInPandas (Arrow batches).

    Output schema is fixed (``MEDIA_META_SCHEMA``); corrupt/null payloads
    yield a row with null decode fields rather than failing the batch —
    at 100 TB a single bad object must not kill the job.
    """

    def decode_one(payload) -> tuple:
        # (n_bytes, width, height, n_frames, sha256) for one object; the
        # codec stays per-object (opaque bytes), but only this call is
        # per-row — column assembly below is vectorized.
        if payload is None:
            return (None, None, None, None, None)
        b = bytes(payload)
        # n_bytes and sha256 are DECODER-INDEPENDENT (documented
        # contract) — computed outside the try so a decode failure
        # (routine when the real codec meets non-image bytes) nulls
        # only the decode fields, never the content hash
        sha = hashlib.sha256(b).hexdigest()
        try:
            meta = decode_fn(b)
            return (
                len(b),
                meta.get("width"),
                meta.get("height"),
                meta.get("n_frames"),
                sha,
            )
        except Exception:
            return (len(b), None, None, None, sha)  # corrupt -> null decode fields

    def decode_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            decoded = [decode_one(p) for p in pdf["payload"].to_list()]
            cols = list(zip(*decoded)) if decoded else [(), (), (), (), ()]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "n_bytes": pd.array(cols[0], dtype="Int32"),
                    "width": pd.array(cols[1], dtype="Int32"),
                    "height": pd.array(cols[2], dtype="Int32"),
                    "n_frames": pd.array(cols[3], dtype="Int32"),
                    "sha256": cols[4],
                },
                columns=[f.name for f in MEDIA_META_SCHEMA.fields],
            )

    # Explicit projection before the Python boundary (guide §4.1): Spark
    # cannot see which columns an opaque mapInPandas touches, so without
    # this every caller-side column crosses Arrow AND scan-side column
    # pruning is defeated. The function reads exactly these three.
    return media.select("media_id", "media_type", "payload").mapInPandas(
        decode_batches, MEDIA_META_SCHEMA
    )


def extract_features(
    media: DataFrame,
    dim: int = 64,
) -> DataFrame:
    """Feature extraction contract: payload → dense float embedding
    (``media_id, embedding array<float>``) — the bridge from media columns
    into the similarity operators (``operators/similarity.py``). The stub
    derives a deterministic pseudo-embedding from the payload hash (a
    real model runtime would replace ``fake_embed``). Output vectors are
    L2-normalized so cosine = dot downstream."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        ]
    )

    def fake_embed(payload: bytes) -> list:
        # hash-chained pseudo-floats in [-1, 1]: deterministic, spread.
        # The chain feeds HEX digests back in (not raw bytes) so any
        # engine exposing sha256(varchar) — DuckDB, Trino — reproduces
        # the exact vectors for differential checks.
        raw = b""
        seed = hashlib.sha256(payload).hexdigest()
        while len(raw) < dim:
            seed = hashlib.sha256(seed.encode("ascii")).hexdigest()
            raw += bytes.fromhex(seed)
        return [raw[i] / 127.5 - 1.0 for i in range(dim)]

    def embed_one(payload):
        import math

        if payload is None:
            return None
        v = fake_embed(bytes(payload))
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / norm for x in v]

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        # zip-over-columns, not iterrows (see decode_media_metadata).
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "embedding": [embed_one(p) for p in pdf["payload"].to_list()],
                },
                columns=["media_id", "embedding"],
            )

    # column-pruned Arrow feed (see decode_media_metadata)
    return media.select("media_id", "payload").mapInPandas(gen, schema)


def sample_frames(
    media: DataFrame,
    every_nth: int = 10,
    decode_fn: Callable[[bytes], dict] = _fake_decode,
) -> DataFrame:
    """Frame sampling contract: one output row per sampled frame index.
    Uses the (stubbed) decoder's n_frames; real impl would emit frame
    payloads — here the plumbing (1→N row explosion via mapInPandas
    generator, stable schema) is the tested surface."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
        ]
    )
    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        # zip-over-columns, not iterrows (see decode_media_metadata);
        # the 1→N explosion appends to two flat column lists.
        for pdf in batches:
            ids: list = []
            idxs: list = []
            for mid, payload in zip(
                pdf["media_id"].to_list(), pdf["payload"].to_list()
            ):
                # a NULL media_id is unattributable output — the schema
                # declares media_id non-null, and emitting frames nobody
                # can join back is useless; skip alongside null payloads
                # (pd.isna, not `is None`: Arrow hands a nullable int64
                # column to pandas as float64 with NaN)
                if payload is None or pd.isna(mid):
                    continue
                n = decode_fn(bytes(payload))["n_frames"]
                sampled = range(0, n, every_nth)
                ids.extend([mid] * len(sampled))
                idxs.extend(sampled)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                },
                columns=["media_id", "frame_idx"],
            )

    # column-pruned Arrow feed (see decode_media_metadata)
    return media.select("media_id", "payload").mapInPandas(gen, schema)
