"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed through Arrow-batched
``mapInPandas`` UDFs.

The image decode step is REAL behind an optional import: when Pillow is
installed on the cluster, ``decode_image`` decodes the payload and
extracts a 16-dim luminance-thumbnail feature (executor-side import, so
a PIL-less driver can still plan the job); in this sandbox (no PIL) the
deterministic fake decoder stands in, and ``extract_features(fake=None)``
auto-selects per availability. Audio/video decode remains an
environment boundary (no libav here) — those media types always take
the fake path. Everything Spark-side — schema, partitioning, UDF
signature, batch shape — is identical in both modes.

``image_embed_dedup`` is the composed demo the pipeline exists for:
asset table → decode/feature-extract → hyperplane-banded ANN candidate
generation → exact cosine verify (the same candidates→verify discipline
as ops/dedup.embedding_cosine_dups), oracle-checked end-to-end via the
deterministic fake features.

Scale notes: media blobs dominate row size, so the asset table is
stored separately from text and joined by content hash only when a
stage needs bytes; `spark.sql.files.maxPartitionBytes` governs scan
granularity; feature extraction emits fixed-width vectors so downstream
ops are columnar.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _pil():  # executor-side optional import
    try:
        from PIL import Image  # type: ignore

        return Image
    except ImportError:
        return None

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta_width", T.IntegerType(), True),
        T.StructField("meta_height", T.IntegerType(), True),
        T.StructField("meta_duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("content_sha1", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


def decode_image(payload: bytes, dim: int = 16) -> list[float]:
    """Real image decode → feature: Pillow decode, grayscale, resize to
    a √dim×√dim thumbnail, per-image standardize — a tiny perceptual
    embedding whose cosine is meaningful for near-exact dup detection
    (re-encodes, resizes). Raises ``NotImplementedError`` when Pillow is
    absent (this sandbox); ``extract_features(fake=None)`` auto-falls
    back to the deterministic fake."""
    Image = _pil()
    if Image is None:  # pragma: no cover - env boundary
        raise NotImplementedError(
            "image decoding requires Pillow; use fake=True (or fake=None "
            "for auto-fallback) in environments without it"
        )
    import io
    import math

    side = int(math.isqrt(dim))
    assert side * side == dim, "dim must be a perfect square (thumbnail)"
    img = Image.open(io.BytesIO(payload)).convert("L").resize((side, side))
    px = np.asarray(img, dtype=np.float64).ravel()
    px = (px - px.mean()) / (px.std() + 1e-9)
    return [float(x) for x in np.round(px, 6)]


def fake_decode_features(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic stand-in for decode→feature-extract: sha1-seeded
    pseudo-features. Exercises the full Arrow round trip with stable
    values."""
    d = hashlib.sha1(payload).digest()
    vals = struct.unpack(">4I", d[:16])
    rng = np.random.default_rng(vals)
    return [float(x) for x in np.round(rng.standard_normal(dim), 6)]


def synthesize_assets(spark: SparkSession, n: int = 200, seed: int = 5) -> DataFrame:
    """Deterministic opaque-binary asset table (distributed generate,
    same pattern as the pages corpus). Partitions sized to ≥32 assets
    per task (same fixed-task-cost rationale as linkrank's corpus
    parse); a real asset table arrives pre-partitioned from storage."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                mt = ("image", "audio", "video")[i % 3]
                payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (1 + i % 7)
                w, h, dur = (64 + i % 512, 64 + (i * 7) % 512, None) if mt == "image" else (None, None, 1000 + i * 33 % 90000)
                rows.append((i, mt, payload, w, h, dur))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "media_type", "payload", "meta_width", "meta_height", "meta_duration_ms"],
            )

    parts = max(4, min(spark.sparkContext.defaultParallelism, n // 32))
    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, schema=ASSET_SCHEMA)


def extract_features(
    assets: DataFrame, fake: bool | None = True, dim: int = 16
) -> DataFrame:
    """mapInPandas decode/feature pipeline over binary payloads —
    Arrow-batched, no per-row Python crossing the wire.

    ``fake=True``: deterministic sha1-seeded features (oracle-checkable).
    ``fake=False``: real decode (images via Pillow; raises without it).
    ``fake=None``: auto — real image decode when Pillow imports on the
    EXECUTOR, fake otherwise; audio/video always fake (no libav)."""

    def run(batches):
        use_real = (fake is False) or (fake is None and _pil() is not None)
        for pdf in batches:
            feats, shas, sizes = [], [], []
            for payload, mt in zip(pdf["payload"], pdf["media_type"]):
                b = bytes(payload)
                sizes.append(len(b))
                shas.append(hashlib.sha1(b).hexdigest())
                if use_real and mt == "image":
                    feats.append(decode_image(b, dim))
                else:
                    feats.append(fake_decode_features(b, dim))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pd.Series(sizes, dtype="int32"),
                    "content_sha1": shas,
                    "feature": feats,
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (asset, frame_ts) —
    the explode happens before decode so frame decoding parallelizes
    across the cluster rather than per-video."""
    vids = assets.filter(F.col("media_type") == "video")
    return vids.select(
        "asset_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta_duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


PLANT_N_ASSETS = 30
PLANT_OFFSET_ASSETS = 1_000_000


def assets_with_planted_dups(spark: SparkSession, n: int = 200, seed: int = 5) -> DataFrame:
    """Asset table + exact re-uploads of the first ``PLANT_N_ASSETS``
    payloads (same discipline as dedup.embedding_tables' planted
    copies): the synthetic payloads have no natural near-dups, so the
    planted pairs make the dedup result non-vacuous and exactly
    predictable."""
    assets = synthesize_assets(spark, n, seed)
    copies = assets.filter(F.col("asset_id") < PLANT_N_ASSETS).withColumn(
        "asset_id", F.col("asset_id") + F.lit(PLANT_OFFSET_ASSETS)
    )
    return assets.unionByName(copies)


def image_embed_dedup(
    spark: SparkSession,
    sf_dir: str,
    n: int = 200,
    threshold: float = 0.99,
    n_planes: int = 48,
    bands: int = 6,
    dim: int = 16,
) -> DataFrame:
    """The composed multimodal demo: asset table → decode/feature
    extraction (Arrow mapInPandas; deterministic fake features in this
    sandbox, Pillow path on a real cluster) → hyperplane-banded ANN
    candidate generation over the image features → EXACT cosine verify
    — image near-duplicate pairs (asset_a, asset_b, cosine).

    Scale shape: identical to ops/dedup.embedding_cosine_dups —
    candidates are pairs sharing ≥1 of ``bands`` 8-bit sign-LSH band
    values (never an all-pairs join), cosines are verified in double on
    the candidate residue only. Exact re-uploads share every band, so
    their recall is 1 by construction. ``sf_dir`` is unused (the asset
    table is synthesized — no multimodal table in the driver corpus);
    kept for the queries() signature."""
    from .similarity import dot, hyperplane_band_values_np, with_norm

    feats = extract_features(assets_with_planted_dups(spark, n), fake=True, dim=dim)
    e = with_norm(
        feats.filter(F.col("media_type") == "image").select(
            F.col("asset_id").alias("vec_id"),
            F.col("feature").cast("array<double>").alias("embedding"),
        )
    )
    banded = e.select(
        "vec_id",
        hyperplane_band_values_np(n_planes=n_planes, bands=bands, dim=dim)(
            F.col("embedding")
        ).alias("bv"),
    )
    # posexplode_outer + isNotNull — never a bare explode over an
    # inline-computed array (InferFiltersFromGenerate, see CLAUDE.md)
    long = banded.select(
        "vec_id", F.posexplode_outer("bv").alias("band_idx", "band_val")
    ).filter(F.col("band_val").isNotNull())
    cand = (
        long.alias("x")
        .join(long.alias("y"), ["band_idx", "band_val"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("asset_a"), F.col("y.vec_id").alias("asset_b"))
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("asset_a"), F.col("embedding").alias("emb_a"),
                  F.col("norm").alias("norm_a"))
    eb = e.select(F.col("vec_id").alias("asset_b"), F.col("embedding").alias("emb_b"),
                  F.col("norm").alias("norm_b"))
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        cand.join(ea, "asset_a")
        .join(eb, "asset_b")
        .withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= threshold)
        .select("asset_a", "asset_b", "cosine")
    )
