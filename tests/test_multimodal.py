"""Multimodal plumbing: binary payload schema, mapInPandas decode, frame
sampling shapes and feature vectors."""

from pyspark.sql import functions as F

from duckdb_title_mapper_spark.operators.multimodal import (
    decode_media,
    extract_features,
    media_table,
    sample_frames,
)

SF = "/root/testdata/sf0.001"


def test_media_table_schema(spark):
    media = media_table(spark, SF)
    assert dict(media.dtypes) == {
        "media_id": "bigint",
        "media_type": "string",
        "payload": "binary",
    }
    types = {r["media_type"] for r in media.select("media_type").distinct().collect()}
    assert types == {"image", "audio", "video"}


def test_decode_media_fake_parser(spark):
    media = media_table(spark, SF)
    decoded = decode_media(media)
    row = decoded.where("media_id = 0").collect()[0]
    src = media.where("media_id = 0").collect()[0]
    n = len(src["payload"])
    assert row["n_bytes"] == n
    assert row["width"] == (n * 7) % 640 + 16
    assert row["height"] == (n * 13) % 480 + 16
    assert row["format"] in ("png", "wav", "mp4")
    assert decoded.count() == media.count()


def test_sample_frames_slices(spark):
    media = media_table(spark, SF).where("media_id < 20")
    frames = sample_frames(media, stride=100)
    joined = (
        frames.groupBy("media_id")
        .agg(F.count("*").alias("n"), F.sum(F.length("frame")).alias("bytes"))
        .join(media.select("media_id", F.length("payload").alias("plen")), "media_id")
        .collect()
    )
    for r in joined:
        assert r["n"] == max((r["plen"] + 99) // 100, 1)
        assert r["bytes"] == r["plen"]  # slices partition the payload


def test_resize_media_fixed_size(spark):
    from duckdb_title_mapper_spark.operators.multimodal import resize_media

    media = media_table(spark, SF).where("media_id < 20")
    rows = resize_media(media, target_bytes=128).collect()
    src_lens = {
        r["media_id"]: len(r["payload"]) for r in media.collect()
    }
    assert len(rows) == 20
    for r in rows:
        assert len(r["payload"]) == 128
        assert r["orig_bytes"] == src_lens[r["media_id"]]


def test_extract_features_normalized(spark):
    media = media_table(spark, SF).where("media_id < 10")
    rows = extract_features(media, bins=16).select("media_id", "features").collect()
    assert len(rows) == 10
    for r in rows:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-5
