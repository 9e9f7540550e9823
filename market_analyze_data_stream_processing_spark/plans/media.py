"""Multimodal queries. Pixel/embedding VALUES are fake-codec-specific
(goldens in tests/test_multimodal.py), but the media parameters are
pure functions of the id — so each query emits an oracle-checkable
contract: SQL replays the (media_id, kind, n_frames / frame_idx)
structure exactly, and per-row boolean verdicts pin the value-range
claims in-plan.

Media is generated deterministically ON THE EXECUTORS (mapInPandas over
spark.range) — no driver-side byte shuffling, the same shape a real
100 TB media table scan has.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.multimodal import (
    MEDIA_SCHEMA,
    encode_fake_image,
    encode_fake_video,
    extract_features,
    media_embedding,
    sample_frames,
)
from .registry import register

N_IMAGES, N_VIDEOS = 48, 16


def synthetic_media(spark: SparkSession) -> DataFrame:
    base = spark.range(N_IMAGES + N_VIDEOS).repartition(8)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for raw in pdf["id"]:
                i = int(raw)
                if i < N_IMAGES:
                    w, h = 8 + (i % 5) * 4, 6 + (i % 3) * 4
                    rows.append(
                        (i, "image", encode_fake_image(w, h, seed=i), w, h, 1, None, "synm")
                    )
                else:
                    w = h = 8
                    n = 4 + (i % 4) * 2
                    rows.append(
                        (i, "video", encode_fake_video(w, h, n, seed=i), w, h, n, None, "synm")
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return base.mapInPandas(gen, MEDIA_SCHEMA)


@register(
    "q_media_features",
    f"""
    SELECT i AS media_id,
           CASE WHEN i < {N_IMAGES} THEN 'image' ELSE 'video' END AS kind,
           CAST(CASE WHEN i < {N_IMAGES} THEN 1 ELSE 4 + (i % 4) * 2 END
                AS INTEGER) AS n_frames,
           TRUE AS stats_ok
    FROM range(0, {N_IMAGES + N_VIDEOS}) t(i)
    ORDER BY media_id
    """,
    doc="Multimodal: binary payload → intensity stats + 16-bin histogram "
    "via mapInPandas (decode kernel pluggable; fake codec in this env). "
    "Pixel values are codec-specific, but the media PARAMETERS are pure "
    "functions of the id, so the oracle hash-matches one row per media "
    "item — (media_id, kind, n_frames) replayed in SQL — plus an "
    "in-plan stats verdict (mean intensity in [0,255], std ≥ 0, per "
    "row). Exercises the full Spark plumbing: executor-side generation, "
    "binary decode batch shape, metadata propagation through the UDF "
    "schema. Golden pixel values stay in tests/test_multimodal.py.",
)
def q_media_features(spark, sf_dir):
    from pyspark.sql import functions as F

    feats = extract_features(synthetic_media(spark))
    stats_ok = (
        F.col("mean_intensity").between(0.0, 255.0)
        & (F.col("std_intensity") >= 0.0)
    )
    return (
        feats.select("media_id", "kind", "n_frames", stats_ok.alias("stats_ok"))
        .orderBy("media_id")
    )


@register(
    "q_media_frame_sample",
    f"""
    SELECT v.i AS media_id,
           CAST(f.j AS INTEGER) AS frame_idx,
           TRUE AS intensity_ok
    -- frame_idx 0,2,4,... below every_n=2 over n_frames=4+(id%4)*2
    FROM range({N_IMAGES}, {N_IMAGES + N_VIDEOS}) v(i),
         unnest(list_filter(range(0, 4 + (v.i % 4) * 2), x -> x % 2 = 0)) f(j)
    ORDER BY media_id, frame_idx
    """,
    doc="Multimodal: video frame sampling (row-expanding mapInPandas, one "
    "row per kept frame). The kept-frame SET is a pure function of the "
    "video parameters — every_n=2 over n_frames = 4+(id%4)*2 — so the "
    "oracle replays the exact (media_id, frame_idx) expansion in SQL "
    "and hash-matches it, pinning the row-expansion shape of the UDF; "
    "frame pixel stats are checked in-plan as a per-row verdict.",
)
def q_media_frame_sample(spark, sf_dir):
    from pyspark.sql import functions as F

    media = synthetic_media(spark)
    frames = sample_frames(media.where("kind = 'video'"), every_n=2)
    return (
        frames.select(
            "media_id",
            "frame_idx",
            F.col("mean_intensity").between(0.0, 255.0).alias("intensity_ok"),
        )
        .orderBy("media_id", "frame_idx")
    )


@register(
    "q_media_embedding",
    f"""
    SELECT i AS media_id,
           CASE WHEN i < {N_IMAGES} THEN 'image' ELSE 'video' END AS kind,
           TRUE AS unit_norm_ok
    FROM range(0, {N_IMAGES + N_VIDEOS}) t(i)
    ORDER BY media_id
    """,
    doc="Multimodal: media → unit-norm embedding (histogram features "
    "through a fixed projection; CLIP-encoder stand-in). Embedding "
    "VALUES are codec-specific; the contract the encoder must meet — "
    "one embedding per media item, unit L2 norm — is engine-checkable: "
    "the oracle hash-matches (media_id, kind) coverage and asserts the "
    "in-plan |‖e‖²−1| < 1e-3 verdict per row.",
)
def q_media_embedding(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = media_embedding(synthetic_media(spark), dim=32)
    norm = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    return (
        emb.select(
            "media_id", "kind", (F.abs(norm - 1.0) < 1e-3).alias("unit_norm_ok")
        )
        .orderBy("media_id")
    )
