"""Multimodal decode/feature queries over stub-encoded media."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetable_spark.queries import query
from onetable_spark.queries.common import _staged_once

# hex-pair → byte value (DuckDB has no blob byte indexing; digest bytes are
# recovered from the sha256 hex string with digit arithmetic)
_HEXBYTE = (
    "(16*(strpos('0123456789abcdef', h[2*i-1])-1)"
    " + strpos('0123456789abcdef', h[2*i])-1)"
)

# one stub feature element: byte/255 stored as float32 then summed as double,
# matching the Pandas-UDF fake decode exactly
_STUB_FEAT = f"CAST(CAST({_HEXBYTE}/255.0 AS REAL) AS DOUBLE)"


@query(oracle=f"""
        WITH d AS (
            SELECT range AS media_id,
                   range * 1000 % 10000 AS duration_ms,
                   sha256('audio:' || sha256(CAST(range AS VARCHAR))) AS h
            FROM range(200) WHERE range % 3 = 1
        )
        SELECT media_id,
               CAST(CASE (16*(strpos('0123456789abcdef', h[1])-1)
                          + strpos('0123456789abcdef', h[2])-1) % 4
                    WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 ELSE 44100 END AS INT) AS sample_rate,
               duration_ms,
               CAST(ROUND(CAST(list_sum(list_transform(range(2, 10), i -> {_STUB_FEAT}))
                   AS DECIMAL(18,10)), 4) AS DOUBLE) AS feature_sum
        FROM d
    """)
def q_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """Audio decode plumbing: mapInPandas stub decode (sample rate + 8-dim
    feature from the content digest) — deterministic, reproduced exactly by
    the SQL oracle's sha-chain."""
    from onetable_spark.functions.multimodal import decode_audio, synth_media_table

    media = synth_media_table(spark, 200).filter(F.col("kind") == "audio")
    feats = decode_audio(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "duration_ms",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4).alias("feature_sum"),
    )


@query(oracle="""
        WITH d AS (
            SELECT range AS media_id,
                   sha256(sha256(CAST(range AS VARCHAR))) AS hh
            FROM range(200) WHERE range % 3 = 0
        ),
        dims AS (
            SELECT media_id, hh,
                   64 + 16*(strpos('0123456789abcdef', hh[1])-1)
                      + strpos('0123456789abcdef', hh[2])-1 AS w,
                   64 + 16*(strpos('0123456789abcdef', hh[3])-1)
                      + strpos('0123456789abcdef', hh[4])-1 AS h
            FROM d
        ),
        pix AS (
            SELECT media_id, hh,
                   ((((r.range * h) // 32) * w + ((c.range * w) // 32)) % 32) AS p
            FROM dims, range(32) r, range(32) c
        )
        SELECT media_id,
               CAST(32 AS INT) AS out_width, CAST(32 AS INT) AS out_height,
               AVG(CAST(16*(strpos('0123456789abcdef', hh[2*p+1])-1)
                        + strpos('0123456789abcdef', hh[2*p+2])-1 AS DOUBLE)) AS mean_intensity
        FROM pix GROUP BY media_id
    """)
def q_image_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed nearest-neighbor resize to 32×32: REAL vectorized index-
    map resize over the deterministic stub raster; the oracle recomputes
    the same gather arithmetic in SQL (exact — the mean divides by a power
    of two, so no float rounding)."""
    from onetable_spark.functions.multimodal import resize_images, synth_media_table

    media = synth_media_table(spark, 200).filter(F.col("kind") == "image")
    return resize_images(media, width=32, height=32)


@query(oracle=f"""
        WITH media AS (
            SELECT range AS media_id, range*1000 % 10000 AS duration_ms
            FROM range(200) WHERE range % 3 = 2
        ),
        frames AS (
            SELECT media_id,
                   sha256(sha256(CAST(media_id AS VARCHAR)) || CAST(ts AS VARCHAR)) AS h
            FROM media, unnest(range(0, duration_ms + 1, 1000)) AS t(ts)
        )
        SELECT media_id, COUNT(*) AS n_frames,
               CAST(ROUND(CAST(SUM(list_sum(list_transform(range(1, 9), i -> {_STUB_FEAT})))
                   AS DECIMAL(18,10)), 4) AS DOUBLE) AS feature_mass
        FROM frames GROUP BY media_id
    """)
def q_video_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plumbing: JVM-side timestamp grid (sequence +
    explode) → per-frame stub decode in mapInPandas → per-video feature
    rollup. Bytes never pass through the groupBy."""
    from onetable_spark.functions.multimodal import sample_video_frames, synth_media_table

    media = synth_media_table(spark, 200).filter(F.col("kind") == "video")
    frames = sample_video_frames(media, every_ms=1000)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.round(F.sum(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x)), 4).alias(
            "feature_mass"
        ),
    )


@query(oracle=f"""
        WITH d AS (
            SELECT range AS media_id,
                   sha256(sha256(CAST(range AS VARCHAR))) AS h
            FROM range(200) WHERE range % 3 = 0
        )
        SELECT media_id,
               CAST(64 + 16*(strpos('0123456789abcdef', h[1])-1)
                       + strpos('0123456789abcdef', h[2])-1 AS INT) AS width,
               CAST(64 + 16*(strpos('0123456789abcdef', h[3])-1)
                       + strpos('0123456789abcdef', h[4])-1 AS INT) AS height,
               CAST(ROUND(CAST(list_sum(list_transform(range(3, 11), i -> {_STUB_FEAT}))
                   AS DECIMAL(18,10)), 4) AS DOUBLE) AS feature_sum
        FROM d
    """)
def q_multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: synthetic media table → mapInPandas decode →
    feature aggregation (decode itself is a deterministic stub)."""
    from onetable_spark.functions.multimodal import decode_images, synth_media_table

    media = synth_media_table(spark, 200)
    feats = decode_images(media.filter(F.col("kind") == "image"))
    return feats.select(
        "media_id", "width", "height", F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4).alias("feature_sum")
    )


# same stub-decode contract as multimodal_decode, plus the binaryFile
# plumbing facts: 64-byte payloads (hex digest as utf8), kind from
# partition discovery, and all 200 files seen by the glob
@query(staged=True, oracle=f"""
        WITH d AS (
            SELECT range AS media_id,
                   sha256(sha256(CAST(range AS VARCHAR))) AS h
            FROM range(200) WHERE range % 3 = 0
        )
        SELECT media_id,
               CAST(64 + 16*(strpos('0123456789abcdef', h[1])-1)
                       + strpos('0123456789abcdef', h[2])-1 AS INT) AS width,
               CAST(64 + 16*(strpos('0123456789abcdef', h[3])-1)
                       + strpos('0123456789abcdef', h[4])-1 AS INT) AS height,
               CAST(ROUND(CAST(list_sum(list_transform(range(3, 11), i -> {_STUB_FEAT}))
                   AS DECIMAL(18,10)), 4) AS DOUBLE) AS feature_sum,
               'image' AS kind,
               CAST(64 AS BIGINT) AS file_bytes,
               CAST(200 AS BIGINT) AS n_ingested
        FROM d
    """)
def q_multimodal_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """``binaryFile`` INGESTION under the correctness gate (SURVEY §2.5's
    "binary-file data source" promise): the synthetic media corpus is
    materialized as REAL files in a hive-partitioned directory
    (``kind=image/42.bin``, written executor-side), then ingested with
    ``spark.read.format("binaryFile")`` — pathGlobFilter (a ``_staging.tmp``
    decoy per dir must be skipped), hive partition discovery for ``kind``,
    media_id parsed from the file name — and the image subset decoded with
    the same mapInPandas codec as multimodal_decode. Output carries the
    decoded features PLUS file_bytes (binaryFile's length column must
    equal the 64-byte payload) and n_ingested (all 200 files across the
    three kind partitions — a glob or discovery miss changes the
    constant). The kind filter partition-prunes at file listing; no
    driver-side per-file work anywhere in the read path."""
    from onetable_spark.functions.multimodal import (
        decode_images,
        ingest_media,
        synth_media_table,
        write_media_corpus,
    )

    def build(base: str) -> str:
        write_media_corpus(synth_media_table(spark, 200), base)
        return base

    base = _staged_once(spark, sf, "otb_media_q", build)
    media = ingest_media(spark, base)
    n_ingested = media.groupBy().agg(F.count(F.lit(1)).alias("n_ingested"))
    images = media.filter(F.col("kind") == "image")
    feats = decode_images(images)
    return (
        feats.select(
            "media_id",
            "width",
            "height",
            F.round(
                F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4
            ).alias("feature_sum"),
        )
        .join(images.select("media_id", "kind", "file_bytes"), "media_id")
        .crossJoin(F.broadcast(n_ingested))
    )
