"""Multimodal plumbing: schema, Arrow batch shape, deterministic
feature extraction, frame sampling."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_pipeline_for_e_commerce_shop_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    extract_features,
    media_table,
)


def test_media_table_schema(spark, sf_dir):
    media = media_table(spark, sf_dir)
    assert dict(media.dtypes)["payload"] == "binary"
    meta = media.schema["meta"].dataType
    assert {f.name for f in meta.fields} == {"modality", "mime", "n_bytes", "source"}
    row = media.orderBy("media_id").first()
    assert row["meta"]["n_bytes"] == len(row["payload"])


def test_feature_extraction_matches_local_compute(spark, sf_dir):
    media = media_table(spark, sf_dir)
    feats = extract_features(media)
    assert feats.schema == FEATURE_SCHEMA
    got = {r["media_id"]: r for r in feats.collect()}
    src = {r["media_id"]: r for r in media.collect()}
    assert set(got) == set(src)
    for mid in list(src)[:20]:
        payload = bytes(src[mid]["payload"])
        assert got[mid]["n_bytes"] == len(payload)
        assert got[mid]["byte_mean"] == pytest.approx(sum(payload) / len(payload))
        assert got[mid]["distinct_bytes"] == len(set(payload))
        assert got[mid]["head_hex"] == payload[:4].hex()


def test_features_partition_preserving(spark, sf_dir):
    """mapInPandas must not shuffle: partition count is preserved."""
    media = media_table(spark, sf_dir).repartition(4)
    feats = extract_features(media)
    assert feats.rdd.getNumPartitions() == 4


def test_payload_roundtrip_is_exact(spark, sf_dir):
    """Binary column fidelity: payload bytes == utf-8 of source text."""
    media = media_table(spark, sf_dir).orderBy("media_id").limit(5).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    for m, d in zip(media, docs):
        assert bytes(m["payload"]) == d["text"].encode("utf-8")
        assert (
            hashlib.md5(bytes(m["payload"])).hexdigest()
            == hashlib.md5(d["text"].encode()).hexdigest()
        )


def test_frame_sampling_geometry(spark):
    """Sampled frames: even frame_no only, full frames are FRAME_BYTES
    long, the tail frame is the remainder, and frame bytes reassemble
    from the payload slices."""
    from data_pipeline_for_e_commerce_shop_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        media_table,
        sample_frames,
    )

    media = media_table(spark, "/root/testdata/sf0.001")
    payloads = {
        r["media_id"]: bytes(r["payload"]) for r in media.collect()
    }
    rows = sample_frames(media).collect()
    assert rows
    seen = set()
    for r in rows:
        b = payloads[r["media_id"]]
        assert r["frame_no"] % FRAME_STRIDE == 0
        fr = b[r["frame_no"] * FRAME_BYTES : (r["frame_no"] + 1) * FRAME_BYTES]
        assert r["frame_len"] == len(fr) > 0
        assert r["byte_sum"] == sum(fr)
        assert r["head_hex"] == fr[:4].hex()
        seen.add((r["media_id"], r["frame_no"]))
    # every expected sampled frame is present exactly once
    expected = {
        (mid, k)
        for mid, b in payloads.items()
        for k in range(0, (len(b) + FRAME_BYTES - 1) // FRAME_BYTES, FRAME_STRIDE)
    }
    assert seen == expected and len(rows) == len(expected)
