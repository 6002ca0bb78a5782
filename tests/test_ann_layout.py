"""At-rest ANN layout: the DESIGN.md claim that each LSH table is
stored bucket-partitioned so a probe reads <= LSH_PROBES bucket
partitions — proven here with an actual partitioned write and a
partition-pruned read-back, not just prose.

The serving layout is the posting-list frame (tbl, bucket, vec_id),
hive-partitioned by (tbl, bucket).  A probe turns its 40-entry
probe plan into a partition-column disjunction; Spark must prune at
the DIRECTORY level (PartitionFilters) and touch only the probed
partitions' files, never the corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stateflow_flink_spark.io import load
from stateflow_flink_spark.operators.similarity import (
    LSH_PROBES,
    LSH_TABLES,
    _lsh_probe_plan,
    lsh_features,
)

from .conftest import SF_SMOKE


def _postings(spark, sf_dir):
    """(vec_id, tbl, bucket): the per-table LSH assignment, flattened —
    the exact frame the 100 TB ingest writes bucket-partitioned."""
    emb = load(spark, sf_dir, "embeddings")
    feat = emb.select("vec_id", lsh_features(F.col("embedding")).alias("f"))
    return feat.select(
        "vec_id",
        F.posexplode("f.bk").alias("tbl", "bucket"),
        F.col("f.proj").alias("proj"),
    )


@pytest.fixture
def post(spark):
    cached = _postings(spark, SF_SMOKE).cache()
    yield cached
    cached.unpersist()


def test_lsh_bucket_partitioned_probe_prunes_to_probe_budget(spark, post, tmp_path):
    # the probe vector's plan: <= LSH_PROBES (tbl, bucket) pairs, from
    # driver-side arithmetic over its own projections (no corpus read)
    q = post.filter(F.col("vec_id") == 0).collect()
    proj = q[0].proj
    buckets = [r.bucket for r in sorted(q, key=lambda r: r.tbl)]
    plan = _lsh_probe_plan(list(proj), buckets)
    assert len(plan) == LSH_PROBES

    # at-rest layout: one directory per (tbl, bucket) — coalesce(1) so
    # each bucket partition lands as one file (at 100 TB the ingest
    # writes per-bucket files from the bucket shuffle anyway)
    table_dir = str(tmp_path / "lsh_table")
    (
        post.select("vec_id", "tbl", "bucket")
        .coalesce(1)
        .write.partitionBy("tbl", "bucket")
        .parquet(table_dir)
    )
    stored = spark.read.parquet(table_dir)
    n_partitions_at_rest = (
        stored.select("tbl", "bucket").distinct().count()
    )
    # sanity: the layout is far wider than the probe budget
    assert n_partitions_at_rest > 4 * LSH_PROBES, n_partitions_at_rest

    probe_pred = " OR ".join(
        f"(tbl = {t} AND bucket = {b})" for t, b in plan
    )
    probed = stored.filter(F.expr(probe_pred))

    # gate 1: pruning happens at the directory level, as PartitionFilters
    # on the scan — not as a post-scan data filter
    phys = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in phys, phys[:2000]
    pf_line = next(l for l in phys.splitlines() if "PartitionFilters" in l)
    assert "tbl" in pf_line and "bucket" in pf_line, pf_line

    # gate 2: the PARTITIONS actually read (scan metric after the
    # action, post-pruning) are bounded by the probe budget — some
    # probe buckets are empty, so <= the existing probed dirs — and far
    # fewer than the at-rest partition count.  (inputFiles() can't be
    # used here: it lists the relation's files BEFORE pruning.)
    rows = probed.collect()
    leaf = probed._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    metrics = {}
    it = leaf.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    all_files = stored.inputFiles()
    existing_probe_dirs = {
        (t, b)
        for t, b in plan
        if any(f"tbl={t}/bucket={b}/" in f for f in all_files)
    }
    n_read = metrics["numPartitions"]
    assert n_read <= len(existing_probe_dirs) <= LSH_PROBES, (
        n_read,
        len(existing_probe_dirs),
    )
    assert n_read < n_partitions_at_rest / 4, (
        f"probe read {n_read} of {n_partitions_at_rest} partitions — no pruning"
    )

    # gate 3: the pruned read returns exactly the candidates the
    # in-memory bucket join produces (layout changes nothing semantic)
    want = {r.vec_id for r in post.filter(F.expr(probe_pred)).collect()}
    got = {r.vec_id for r in rows}
    assert got == want and 0 in got  # probe's own bucket always probed
