"""Streaming near-duplicate dedup — incremental MinHash over a document
stream.

The batch MinHash path (``operators/dedup.py``) needs the whole corpus
to self-join band buckets; a training-data INGEST pipeline instead sees
documents arrive over time and must answer, per document, "is this a
near-dup of anything seen so far?" — the reference's per-key-state
essence (``InvokeStatefulLambda.java:61-65``: one opaque state blob per
key, read-modify-write per event) applied to the north-star dedup
surface.

Design: each incoming document fans out to its MINHASH_BANDS LSH bucket
keys (same signature/banding as the batch path — shared code,
``minhash_band_buckets``); the stream is keyed by (band, bucket) — a
step over ``state.keyed_fold`` — and a per-bucket state blob holds the
(doc_id, shingle-hash set) of every prior bucket member.  An arriving
document is exact-Jaccard-verified against its bucket's members —
candidates are rare by LSH construction, so the verify is tiny — and
emits (doc_id, dup_of) where ``dup_of`` is the smallest earlier
bucket-mate at Jaccard >= tau (NULL when none).
A final per-doc min over its bands yields the global first-seen
verdict: exactly ``q_dedup_minhash`` restricted to first-seen
survivors.

Ordering contract: "earlier" is doc_id order — within a micro-batch
each bucket group folds in ascending doc_id; across batches the state
already holds all prior batches' members, so arrival order IS seniority.
Replays are deterministic (same sort, same state fold).

100 TB posture, stated honestly:

  * Per-bucket state grows with bucket membership x shingle-set size —
    the stream-side twin of the batch path's "embeddings shuffled L
    times" cost, except it PERSISTS in the state store.  At web scale
    you keep this exact layout but bound it: RocksDB provider (state on
    SSD — ``session.rocksdb_state``), state TTL for sliding-window
    dedup semantics, and/or signature-only state (16 longs/doc) with a
    side-channel verify against a doc store.  The fixture-scale choice
    stores full shingle-hash arrays because it keeps the operator
    EXACT (same verify as batch) — the knobs above trade recall or
    I/O for state size and are deployment policy, not operator shape.
  * The per-event work is bounded by bucket occupancy (LSH keeps
    buckets small on non-adversarial corpora); a pathological hot
    bucket (boilerplate shingle sets) is bounded upstream by the
    SHINGLE_DF_CAP discipline of the batch path.
"""

from __future__ import annotations

import pickle

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import run_bounded, staged_stream
from ..operators.dedup import (
    JACCARD_TAU,
    hashed_shingles,
    minhash_band_buckets,
)
from ..plans.registry import query
from .state import keyed_fold

_FLAG_OUTPUT = "doc_id long, dup_of long"
_ORACLE_SHINGLES = """
        SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, GREATEST(LEN(t) - 2, 1)),
                   i -> ARRAY_TO_STRING(t[i:LEAST(i+2, LEN(t))], ' ')
               )) AS sh
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents)
"""

# First-seen survivors under exact-Jaccard near-dup pairs: the batch
# ground truth the incremental fold must reproduce (LSH recall on the
# fixture is complete — asserted by the batch minhash tests — so
# "bucket-mate at tau" == "any pair at tau").
_MINHASH_STREAM_ORACLE = f"""
    WITH docsh AS ({_ORACLE_SHINGLES}),
    ds AS (SELECT doc_id, UNNEST(sh) AS s FROM docsh),
    sizes AS (SELECT doc_id, LEN(sh) AS n FROM docsh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT doc_a, doc_b
        FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {JACCARD_TAU}
    ),
    dups AS (SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of FROM verified GROUP BY doc_b)
    SELECT d.doc_id, u.dup_of, u.dup_of IS NOT NULL AS is_dup
    FROM documents d LEFT JOIN dups u ON d.doc_id = u.doc_id
"""


# LSH bucket keys fold into state_buckets() state-store groups (pmod of
# the (band, bucket) hash), which caps the keyed-state entry count and
# the per-group cost applyInPandasWithState pays (~0.3-2 ms each).
# Inside a group, members stay keyed by their true (band, bucket) and a
# document verifies only against its own bucket, so per-event work is
# bucket occupancy and results do not depend on the group count
# (digest-checked at 4096/1024/256/64).  32 groups per state partition
# keep every partition busy.
def state_buckets(spark: SparkSession) -> int:
    return max(1024, 32 * spark.sparkContext.defaultParallelism)


# Per-(band, bucket) member-list cap, the SHINGLE_DF_CAP discipline for
# stream state.  Members append in doc_id order, so the retained prefix
# is the CAP smallest doc_ids, and since the verdict is the MIN earlier
# partner any match among them is already exact.  It never binds at
# fixture scale (max occupancy 3 at sf0.01, 13 at sf0.1); at web scale
# it bounds the state blob and the compares of boilerplate-hot buckets.
BUCKET_MEMBER_CAP = 64


def fold_bucket_members(
    members: dict, pdf: pd.DataFrame, cap: int | None = None
) -> pd.DataFrame:
    """The per-group state fold, extracted pure so the member-cap and
    replay-guard semantics are unit-testable without a stream: mutates
    ``members`` ({(band, bucket): [(doc_id, frozenset shingles), ...]})
    in place and returns the (doc_id, dup_of) flags for ``pdf``'s rows
    in ascending doc_id order."""
    cap = BUCKET_MEMBER_CAP if cap is None else cap
    pdf = pdf.sort_values("doc_id")
    out_ids, out_dups = [], []
    for row in pdf.itertuples():
        bk = (int(row.band), int(row.bucket))
        lst = members.setdefault(bk, [])
        sh = frozenset(row.sh)
        doc_id = int(row.doc_id)
        dup_of = None
        for m_id, m_sh in lst:
            if m_id >= doc_id or (dup_of is not None and m_id >= dup_of):
                continue
            n_common = len(sh & m_sh)
            union = len(sh) + len(m_sh) - n_common
            if union and n_common / union >= JACCARD_TAU:
                dup_of = m_id
        out_ids.append(doc_id)
        out_dups.append(dup_of)
        # replay guard + member cap (see BUCKET_MEMBER_CAP note)
        if len(lst) < cap and all(m_id != doc_id for m_id, _ in lst):
            lst.append((doc_id, sh))
    return pd.DataFrame({"doc_id": out_ids, "dup_of": out_dups})


def apply_minhash_dedup_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, dup_of) per (document, band): the incremental
    per-bucket verify described in the module docstring.  ``dup_of`` is
    NULL when the doc's bucket holds no earlier member at Jaccard >=
    tau; the caller min-aggregates over a doc's bands for the global
    verdict."""
    keyed = minhash_band_buckets(
        docs.select("doc_id", hashed_shingles(F.col("text")).alias("sh")),
        keep=["sh"],
    ).select(
        "doc_id",
        "band",
        "bucket",
        "sh",
        F.pmod(
            F.xxhash64("band", "bucket"),
            F.lit(state_buckets(docs.sparkSession)),
        ).alias("skey"),
    )

    def step(_, pdf: pd.DataFrame, stored):
        # state: {(band, bucket): [(doc_id, shingle-set), ...]} — merged
        # group = state-store partition, true bucket = verify scope
        members: dict = pickle.loads(stored[0]) if stored is not None else {}
        out = fold_bucket_members(members, pdf)
        return out, (pickle.dumps(members),)

    # fold_bucket_members sorts by doc_id itself
    return keyed_fold(keyed, "skey", step, _FLAG_OUTPUT, "blob binary", order=None)


def dedup_verdicts(flags: DataFrame) -> DataFrame:
    """Collapse per-band flags to the per-doc verdict: min earlier
    near-dup partner over all bands (NULL -> first-seen survivor)."""
    return (
        flags.groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )


@query("q_dedup_minhash_stream", _MINHASH_STREAM_ORACLE)
def q_dedup_minhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_dedup_minhash: incremental first-seen
    near-dup detection with per-bucket signature state (ref R9 state
    semantics on the dedup surface) — every document flagged with its
    smallest earlier near-dup partner, or survivor."""
    with staged_stream(spark, sf_dir, "documents") as docs:
        flags = run_bounded(spark, apply_minhash_dedup_stream(docs), "sfs_minhash_stream")
    return dedup_verdicts(flags)
