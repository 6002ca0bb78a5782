"""Multimodal plumbing tests: binary column handling, batch shapes,
stub-decode determinism, and the ASCII premise the oracles rely on."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from stateflow_flink_spark.io import load
from stateflow_flink_spark.operators.multimodal import (
    FRAME_BYTES,
    FRAME_STRIDE,
    N_HIST_BINS,
    _fake_decode,
    decode_media,
    with_payload,
)
from stateflow_flink_spark.plans.registry import QUERIES

from .conftest import SF_SMOKE


def test_fixture_text_is_ascii(spark):
    # the DuckDB oracles equate char codes with utf-8 bytes — only valid
    # while the fixture stays ASCII; fail loudly if that ever changes
    n = (
        load(spark, SF_SMOKE, "documents")
        .filter(F.col("text").rlike(r"[^\x00-\x7F]"))
        .count()
    )
    assert n == 0


def test_with_payload_schema_and_sizes(spark):
    m = with_payload(load(spark, SF_SMOKE, "documents"))
    assert dict(m.dtypes)["payload"] == "binary"
    assert dict(m.dtypes)["media_type"] == "string"
    bad = m.filter(F.octet_length("payload") != F.col("meta.n_bytes_expected")).count()
    assert bad == 0  # payload bytes == recorded n_chars (ASCII)


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x01", "image")


def test_fake_decode_deterministic_and_bounded():
    a = _fake_decode(b"same payload")
    b = _fake_decode(b"same payload")
    assert a == b
    assert 1 <= a["height"] <= 128 and 1 <= a["width"] <= 128 and a["channels"] == 3
    assert _fake_decode(b"other payload") != a  # content-addressed


def test_feature_vectors_are_normalized_histograms(spark):
    rows = (
        QUERIES["q_mm_features"](spark, SF_SMOKE)
        .filter("doc_id < 20")
        .collect()
    )
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in by_doc.values():
        assert sorted(r["bin"] for r in doc_rows) == list(range(N_HIST_BINS))
        assert abs(sum(r["weight"] for r in doc_rows) - 1.0) < 1e-3
        assert all(r["weight"] >= 0.0 for r in doc_rows)


def test_frame_sample_stride_and_size(spark):
    rows = QUERIES["q_mm_frame_sample"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["frame_idx"] % FRAME_STRIDE == 0
        assert 1 <= r["frame_bytes"] <= FRAME_BYTES


def test_cdc_chunks_realign_after_insertion_fixed_blocks_do_not(spark, tmp_path):
    """The rsync/LBFS argument, executable: insert ONE byte mid-payload
    and the content-defined chunker's boundaries re-align downstream
    (most chunks dedup against the original), while fixed 64-byte
    blocks shift at every later offset (almost nothing dedups).  This
    is the property q_mm_chunk_cdc exists to provide over
    q_mm_chunk_dedup."""
    import random

    import pandas as pd

    rng = random.Random(42)
    base = "".join(rng.choice("abcdefghij klmnopqrst") for _ in range(2000))
    shifted = base[:501] + "X" + base[501:]
    # doc_ids 0 and 3 -> both media_type 'image', so the census rolls
    # the pair into one row
    pd.DataFrame(
        {
            "doc_id": [0, 3],
            "text": [base, shifted],
            "lang": ["en", "en"],
            "source": ["t", "t"],
            "n_chars": [len(base), len(shifted)],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)

    cdc = (
        QUERIES["q_mm_chunk_cdc"](spark, str(tmp_path))
        .toPandas()
        .set_index("media_type")
        .loc["image"]
    )
    fixed = (
        QUERIES["q_mm_chunk_dedup"](spark, str(tmp_path))
        .toPandas()
        .set_index("media_type")
        .loc["image"]
    )
    # CDC: identical prefix chunks AND re-aligned suffix chunks dedup;
    # only the chunk(s) spanning the insertion differ
    assert cdc["dedup_ratio"] > 0.35, f"CDC failed to re-align: {cdc}"
    # fixed blocks: the prefix (~500/2000 bytes) dedups, every block
    # after the insertion offset is shifted and unique
    assert fixed["dedup_ratio"] < cdc["dedup_ratio"] - 0.15, (
        f"fixed blocks unexpectedly re-aligned: fixed={fixed['dedup_ratio']} "
        f"cdc={cdc['dedup_ratio']}"
    )
