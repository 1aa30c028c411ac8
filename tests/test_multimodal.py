"""Multimodal plumbing tests: payload schema, Arrow batch extraction,
determinism."""

from __future__ import annotations

import hashlib

import pytest

from map_reduce_c_sharp_simulation_multithreaded_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "spark engine"), (3, "")],
        "doc_id long, text string",
    )


def test_payload_schema_and_metadata(docs):
    p = attach_binary_payload(docs, "text", "doc_id")
    assert [f.dataType.simpleString() for f in p.schema.fields] == [
        "bigint",
        "binary",
        "struct<mime:string,n_bytes:bigint>",
    ]
    meta = {r.doc_id: r.meta.n_bytes for r in p.collect()}
    assert meta == {1: 11, 2: 12, 3: 0}


def test_feature_extraction_deterministic(docs):
    p = attach_binary_payload(docs, "text", "doc_id")
    f1 = {r.doc_id: (r.payload_sha, r.width, r.height, r.channels) for r in extract_features(p).collect()}
    f2 = {r.doc_id: (r.payload_sha, r.width, r.height, r.channels) for r in extract_features(p).collect()}
    assert f1 == f2
    assert f1[1][0] == hashlib.sha256(b"hello world").hexdigest()
    assert all(1 <= v[1] <= 128 and 1 <= v[3] <= 3 for v in f1.values())
