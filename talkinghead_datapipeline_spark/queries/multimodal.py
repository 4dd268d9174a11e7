"""Multimodal binary-column queries (north-star: image/audio/video as opaque
binary + typed metadata, decoded late inside Arrow-batched UDFs).

The fixture tables carry no real media, so the binary payload is derived
deterministically from ``documents.text`` (UTF-8 bytes). That keeps every
stage of the REAL pipeline in play — BinaryType columns, mapInPandas with a
per-executor decoder, error-channel quarantine, frame-grain explode — while
staying DuckDB-checkable:

- byte-level features (length, md5) are plain SQL on both sides;
- ``fake_decode_image`` tiles the 16 md5 digest bytes into an 8×8×3 uint8
  "image"; because gcd(3, 16) = 1, every channel visits all 16 digest bytes
  in full cycles, so each channel mean equals the digest-byte mean — which
  DuckDB computes straight from the md5 hex string. The UDF runs the real
  decode; the oracle checks it arithmetically.

Real codec decode (PIL/cv2/ffmpeg) is feature-gated in operators.models
(NotImplementedError) — the plumbing below is what a codec drop-in inherits.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.queries import register

_MD5_BYTE_SQL = "('0x' || substr(md5(text), {i}, 2))::BIGINT"

_DIGEST_MEAN_SQL = (
    "(" + " + ".join(_MD5_BYTE_SQL.format(i=2 * k + 1) for k in range(16)) + ") / 16.0"
)


@register(
    "multimodal_binary_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           lang
    FROM documents
    WHERE octet_length(encode(text)) > 0
    """,
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary feature extraction through the real inference path:
    BinaryType column → mapInPandas (Arrow batches, per-executor "codec") →
    typed features + error channel. At 100 TB the payload column is read
    lazily per row group and only for rows passing pushed-down filters."""
    from talkinghead_datapipeline_spark.operators.inference import (
        batched_inference,
        split_error_channel,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"), "lang"
    )

    def extract(_model, pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        payloads = pdf["payload"]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "digest": payloads.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
                "lang": pdf["lang"],
            }
        )

    out = batched_inference(
        docs,
        output_schema="doc_id bigint, n_bytes bigint, digest string, lang string",
        model_key="noop_codec",
        model_factory=lambda: None,
        batch_fn=extract,
    )
    return split_error_channel(out)[0].filter(F.col("n_bytes") > 0)


@register(
    "multimodal_image_channel_means",
    oracle=f"""
    SELECT doc_id,
           round({_DIGEST_MEAN_SQL}, 6) AS mean_r,
           round({_DIGEST_MEAN_SQL}, 6) AS mean_g,
           round({_DIGEST_MEAN_SQL}, 6) AS mean_b
    FROM documents
    WHERE length(text) > 0
    """,
)
def multimodal_image_channel_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction with the deterministic fake decoder: binary
    → decode to 8×8×3 uint8 → per-channel mean. The UDF path (Arrow batch
    shapes, numpy decode, per-executor cache) is exactly what a real codec
    uses; the oracle validates the decode arithmetic, not a stub hash."""
    from talkinghead_datapipeline_spark.operators.inference import (
        batched_inference,
        split_error_channel,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )

    def channel_means(_model, pdf: pd.DataFrame) -> pd.DataFrame:
        from talkinghead_datapipeline_spark.operators.models import fake_decode_image

        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = fake_decode_image(bytes(payload))  # (8, 8, 3) uint8
            means = img.reshape(-1, 3).mean(axis=0)
            rows.append(
                {
                    "doc_id": doc_id,
                    "mean_r": round(float(means[0]), 6),
                    "mean_g": round(float(means[1]), 6),
                    "mean_b": round(float(means[2]), 6),
                }
            )
        return pd.DataFrame(rows)

    out = batched_inference(
        docs,
        output_schema="doc_id bigint, mean_r double, mean_g double, mean_b double",
        model_key="fake_image_decoder",
        model_factory=lambda: None,
        batch_fn=channel_means,
    )
    return split_error_channel(out)[0]


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH frames AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS frame_idx,
             substr(text, CAST(i * 64 + 1 AS INT), 64) AS frame
      FROM documents,
           LATERAL (SELECT unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS i)
      WHERE length(text) > 0
    )
    SELECT doc_id,
           count(*) AS n_sampled,
           CAST(sum(length(frame)) AS BIGINT) AS sampled_chars,
           min(frame_idx) AS first_idx,
           max(frame_idx) AS last_idx
    FROM frames
    WHERE frame_idx % 4 = 0
    GROUP BY doc_id
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2's video→frames as a UDTF shape: chunk the payload into fixed-size
    "frames", posexplode to frame grain (doc_id, frame_idx), stride-sample
    every 4th frame, roll back up per clip. No UDF — the explode and
    sampling predicate stay in codegen, so at scale the frame table never
    materializes unfiltered."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    frames = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.length("text") / 64.0).cast("int") - 1
                ),
                lambda i: F.substring(F.col("text"), i * 64 + 1, 64),
            )
        ).alias("frame_idx", "frame"),
    )
    return (
        frames.filter(F.col("frame_idx") % 4 == 0)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.length("frame")).cast("bigint").alias("sampled_chars"),
            F.min(F.col("frame_idx").cast("bigint")).alias("first_idx"),
            F.max(F.col("frame_idx").cast("bigint")).alias("last_idx"),
        )
    )
