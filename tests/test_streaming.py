"""Streaming-semantics tests (SURVEY.md §5.2.4-5).

The load-bearing assertions:
  * the keyed ValueState fold equals the batch window fold — INCLUDING
    when the stream is split across micro-batches (state must carry
    over, ref InvokeStatefulLambda read-modify-write semantics);
  * watermarking drops late rows in append mode;
  * streaming session_window equals the batch gaps-and-islands analog;
  * flow iteration terminates with exactly one reply per event.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from stateflow_flink_spark.io import load, run_bounded
from stateflow_flink_spark.plans.registry import QUERIES, load_all_modules, run_query
from stateflow_flink_spark.schemas import EVENTS_RAW
from stateflow_flink_spark.streaming.progress import QueryEvents
from stateflow_flink_spark.streaming.sessionization import session_window_stream
from stateflow_flink_spark.streaming.state import apply_stateful

from .conftest import SF_SMOKE
from .parity import canonical_rows

load_all_modules()


def test_stateful_stream_equals_batch(spark):
    batch = QUERIES["q_stateful_fold"](spark, SF_SMOKE).toPandas()
    stream = QUERIES["q_stateful_fold_stream"](spark, SF_SMOKE).toPandas()
    assert canonical_rows(stream) == canonical_rows(batch)


def _mkdir(parent, name: str) -> str:
    path = parent / name
    path.mkdir(parents=True)
    return str(path)


def _write_events_chunk(stage: str, name: str, pdf) -> None:
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    ts_idx = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(
        ts_idx, "ts", tbl.column("ts").cast(pa.timestamp("us"))
    )
    pq.write_table(tbl, os.path.join(stage, name))


def test_stateful_state_survives_micro_batches_and_restart(spark, tmp_path):
    """Feed events in 3 chunks as 3 separate availableNow runs over one
    checkpoint: the fold must equal the batch result — state carries
    across micro-batches AND across query restarts (strictly stronger
    than the reference's at-least-once checkpointing)."""
    pdf = load(spark, SF_SMOKE, "events").orderBy("ts").toPandas()
    stage = _mkdir(tmp_path, "chunks")
    ckpt = _mkdir(tmp_path, "ckpt")
    third = len(pdf) // 3
    chunks = (pdf.iloc[:third], pdf.iloc[third : 2 * third], pdf.iloc[2 * third :])

    out = _mkdir(tmp_path, "fold_out")
    for i, chunk in enumerate(chunks):
        _write_events_chunk(stage, f"chunk-{i}.parquet", chunk)
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        ).parquet(stage)
        qy = (
            apply_stateful(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()

    got = spark.read.parquet(out).toPandas()
    want = QUERIES["q_stateful_fold"](spark, SF_SMOKE).toPandas()
    assert canonical_rows(got) == canonical_rows(want)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg: a row older than the watermark arriving
    in a later batch must not resurrect its window."""
    stage = _mkdir(tmp_path, "late")

    def write_batch(name, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1_000_000 for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, os.path.join(stage, name))

    hour = 3600
    ckpt = _mkdir(tmp_path, "late_ckpt")
    out = _mkdir(tmp_path, "late_out")

    def run() -> None:
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        ).parquet(stage)
        counts = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("long").alias("start_s"), "n")
        )
        qy = (
            counts.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()

    # run 0: events in hours 0 and 1 -> watermark reaches (2h-1s) - 10min
    write_batch("b0.parquet", [(1, 10), (2, hour + 10), (3, 2 * hour - 1)])
    run()
    # run 1: a LATE event back in hour 0 (behind watermark) + fresh in hour 3
    write_batch("b1.parquet", [(4, 20), (5, 3 * hour + 10)])
    run()

    emitted = {
        r["start_s"]: r["n"] for r in spark.read.parquet(out).collect()
    }
    # hour-0 window closes with ONLY the on-time event; late event 4
    # must not resurrect it or appear anywhere.
    assert emitted.get(0) == 1
    assert sum(emitted.values()) <= 4  # event 4 dropped


def test_session_window_stream_equals_batch(spark):
    from stateflow_flink_spark.io import staged_stream

    with staged_stream(spark, SF_SMOKE, "events") as events:
        sessions = session_window_stream(events)
        qy = (
            sessions.writeStream.format("memory")
            .queryName("sfs_sessions_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()
    got = spark.table("sfs_sessions_stream").toPandas()
    want = (
        QUERIES["q_window_session"](spark, SF_SMOKE)
        .select("user_id", "session_start", "n_events")
        .toPandas()
    )
    assert canonical_rows(got) == canonical_rows(want)


def test_flow_iteration_one_reply_per_event(spark):
    result = QUERIES["q_flow_iterate"](spark, SF_SMOKE).cache()
    try:
        n_events = load(spark, SF_SMOKE, "events").count()
        assert result.count() == n_events
        assert result.select("event_id").distinct().count() == n_events
        assert result.filter(F.col("reply") != "SuccessfulInvocation").count() == 0
        assert result.filter(~F.col("n_hops").isin(1, 2, 3)).count() == 0
    finally:
        result.unpersist()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming dropDuplicates: duplicate event_ids across micro-batches
    are suppressed."""
    stage = _mkdir(tmp_path, "dup")

    def write_batch(name, ids, base_ts):
        tbl = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [(base_ts + i) * 1_000_000 for i in range(len(ids))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(ids), pa.int64()),
                "event_type": pa.array(["click"] * len(ids)),
                "value": pa.array([1.0] * len(ids)),
                "props": pa.array(["{}"] * len(ids)),
            }
        )
        pq.write_table(tbl, os.path.join(stage, name))

    write_batch("b0.parquet", [1, 2, 3], 1000)
    write_batch("b1.parquet", [2, 3, 4], 2000)  # 2,3 are duplicates

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    deduped = stream.dropDuplicates(["event_id"]).select("event_id")
    qy = (
        deduped.writeStream.format("memory")
        .queryName("sfs_stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination()
    got = sorted(r["event_id"] for r in spark.table("sfs_stream_dedup").collect())
    assert got == [1, 2, 3, 4]


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Ref R14 (checkpointing, StateFlowFlinkJob.java:36-40), upgraded:
    a stopped streaming aggregation restarted from its checkpoint must
    process ONLY new files and land on exactly the batch answer — no
    replays, no loss (Spark's offset log + state store give exactly-once
    state where the reference settles for at-least-once)."""
    events = load(spark, SF_SMOKE, "events").select("event_id", "event_type")
    pdf = events.toPandas()
    half = len(pdf) // 2
    src = _mkdir(tmp_path, "ckpt_src")
    ckpt = _mkdir(tmp_path, "ckpt")
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:half]), os.path.join(src, "a.parquet"))

    def run_once(qname):
        stream = spark.readStream.schema("event_id long, event_type string").parquet(src)
        q = (
            stream.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["event_type"]: r["n"] for r in spark.table(qname).collect()}

    first = run_once("sfs_ckpt_run1")
    assert sum(first.values()) == half

    # new data arrives while the query is down; restart from checkpoint
    pq.write_table(pa.Table.from_pandas(pdf.iloc[half:]), os.path.join(src, "b.parquet"))
    second = run_once("sfs_ckpt_run2")

    expected = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert second == expected


def test_flow_iteration_cache_is_bounded(spark):
    """q_flow_iterate must not pin a cached frame: every hop of every
    flow runs inside one ``hop_frames`` stage, so the persistent-RDD
    census returns to its starting point."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = QUERIES["q_flow_iterate"](spark, SF_SMOKE)
    assert out.count() > 0
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before


def test_incremental_rollup_is_batch_split_independent(spark, tmp_path):
    """The versioned-merge rollup must produce IDENTICAL results (to the
    bit, for the exact-integer partial sums) whether the stream arrives
    as one micro-batch or four — the mergeability contract that lets a
    continuous aggregate survive arbitrary batch boundaries."""
    from pyspark.sql import functions as F

    from stateflow_flink_spark.io import load
    from stateflow_flink_spark.streaming.stream_queries import (
        run_incremental_rollup,
    )
    from .conftest import SF_SMOKE

    events = load(spark, SF_SMOKE, "events").select("ts", "event_type", "value")
    staged = str(tmp_path / "staged")
    events.repartition(4).write.parquet(staged)

    def stream(max_files):
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(staged)
        )

    multi = run_incremental_rollup(spark, stream(1)).orderBy("hour", "event_type")
    single = run_incremental_rollup(spark, stream(100)).orderBy("hour", "event_type")
    m_rows = [tuple(r) for r in multi.collect()]
    s_rows = [tuple(r) for r in single.collect()]
    assert m_rows == s_rows and len(m_rows) > 0
    # and both equal the plain batch aggregate (exact-sum spelling)
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum((F.col("value") * 1_000_000).cast("decimal(38,0)"))
                .cast("double") / 1_000_000
            ).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )
    assert m_rows == [tuple(r) for r in batch.collect()]


def test_foreach_batch_queries_release_their_checkpoints(
    spark, duck, tmp_path, monkeypatch
):
    """Every registry query that stages a fixture as a stream removes
    the stage once its query ends, and q_stream_foreach_batch and
    run_incremental_rollup (through q_rollup_incremental) each remove
    their fresh checkpoint dir: no ``sfs_stream_*`` or ``*_ckpt_*`` dir
    is left in the temp dir, while the sink and rollup dirs their lazy
    results read stay, and every result still matches its oracle."""
    from stateflow_flink_spark.plans.registry import ORACLE

    from .parity import compare

    load_all_modules()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in (
        "q_stream_foreach_batch",
        "q_rollup_incremental",
        "q_stateful_fold_stream",
        "q_scd2_stream",
        "q_stream_sessionize",
        "q_stream_cep",
        "q_dedup_minhash_stream",
        "q_stream_hll",
        "q_stream_stream_join",
        "q_stream_watermark",
        "q_stream_topk",
        "q_stream_static_join",
        "q_stream_stream_left",
        "q_stream_ewma",
        "q_stream_anomaly",
        "q_stream_cdc_apply",
        "q_stream_file_source",
    ):
        got = QUERIES[name](spark, SF_SMOKE).toPandas()
        compare(got, duck.execute(ORACLE[name]).df(), name)
    left = sorted(p.name for p in tmp_path.iterdir())
    assert not [d for d in left if d.startswith("sfs_stream_")], left
    assert not [d for d in left if "_ckpt_" in d], left
    assert any(d.startswith("sfs_fb_sink_") for d in left), left
    assert any(d.startswith("sfs_rollup_") for d in left), left


def test_run_bounded_removes_its_checkpoint_when_a_batch_fails(
    spark, tmp_path, monkeypatch
):
    """A ``foreachBatch`` function that raises on the first batch fails
    the run: ``run_bounded`` re-raises, and the checkpoint dir it made
    for the run is gone afterwards."""
    from pyspark.errors import StreamingQueryException

    staged = str(tmp_path / "staged")
    load(spark, SF_SMOKE, "events").limit(10).write.parquet(staged)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    during: list[str] = []

    def fail(df, batch_id):
        during.extend(p.name for p in tmp_path.iterdir())
        raise RuntimeError("first batch fails")

    stream = spark.readStream.schema(spark.read.parquet(staged).schema).parquet(staged)
    with pytest.raises(StreamingQueryException, match="first batch fails"):
        run_bounded(spark, stream, fail)
    assert [d for d in during if d.startswith("sfs_run_ckpt_")], during
    left = sorted(p.name for p in tmp_path.iterdir())
    assert not [d for d in left if "_ckpt_" in d], left


def test_run_query_releases_what_the_query_created(
    spark, duck, tmp_path, monkeypatch
):
    """``registry.run_query`` leaves nothing behind once its action has
    checked the result against the oracle: no ``sfs_*`` scratch dir in
    the temp dir, no ``sfs_*`` temporary view (memory sinks) and no
    RDD persisted during the run (q_dedup_minhash caches its band
    table).  Frames other tests cached may be released too, since the
    run clears the cache, so the check is on RDD ids, not a count."""
    from stateflow_flink_spark.plans.registry import ORACLE

    from .parity import compare

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    for name in (
        "q_flow_iterate",
        "q_stream_foreach_batch",
        "q_rollup_incremental",
        "q_sink_roundtrip",
        "q_sink_partitioned",
        "q_source_csv",
        "q_source_json",
        "q_source_orc",
        "q_stream_watermark",
        "q_dedup_minhash",
    ):
        run_query(
            spark, name, SF_SMOKE,
            lambda df, name=name: compare(
                df.toPandas(), duck.execute(ORACLE[name]).df(), name
            ),
        )
    left = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("sfs_"))
    assert not left, left
    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("sfs_")
    ]
    assert not views, views
    assert persisted() <= before, persisted() - before


def test_incremental_rollup_replayed_batch_is_idempotent(spark, tmp_path):
    """Failure contract: if a micro-batch is REPLAYED (crash between
    sink write and checkpoint commit), the versioned merge must
    regenerate the same version rather than double-count.  Driven at
    the merge level: applying batch 1 twice on top of batch 0 yields
    the same rollup as applying it once."""
    from pyspark.sql import functions as F

    from stateflow_flink_spark.io import load
    from stateflow_flink_spark.streaming.stream_queries import (
        run_incremental_rollup,
    )
    from .conftest import SF_SMOKE

    events = load(spark, SF_SMOKE, "events").select("ts", "event_type", "value")
    staged = str(tmp_path / "staged")
    events.repartition(2).write.parquet(staged)

    # run once through the real streaming path for the ground truth
    truth = (
        run_incremental_rollup(
            spark,
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged),
        )
        .orderBy("hour", "event_type")
        .collect()
    )

    # replay scenario: restart from the same checkpoint directory — the
    # availableNow run completed, so a fresh start() with the SAME
    # checkpoint must process NOTHING new (offsets committed) and the
    # rollup must not change
    ckpt = _mkdir(tmp_path, "replay_ckpt")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    sink_rows = {}

    def count_batch(df, batch_id):
        sink_rows[batch_id] = df.count()

    for attempt in range(2):
        run_bounded(spark, stream, count_batch, checkpoint_dir=ckpt)
        if attempt == 0:
            first_total = sum(sink_rows.values())
    assert sum(sink_rows.values()) == first_total  # restart added nothing
    assert len(truth) > 0


def test_incremental_rollup_midrun_replay_preserves_history(spark, tmp_path):
    """The recovery contract at the merge level, with NO process state:
    the previous version must be derived from the batch id against the
    durable root.  Scenario A (driver restart): after v0 and v1 exist,
    replaying batch 1 — as a restarted driver would, with empty process
    memory — must regenerate v1 from v0, not from None (which would
    silently drop batch 0's history).  Scenario B (self-read): the
    replay of batch 1 must never read its own surviving v1 output as
    the previous version and double-count batch 1."""
    from pyspark.sql import functions as F

    from stateflow_flink_spark.io import load
    from stateflow_flink_spark.streaming.stream_queries import (
        merge_rollup_batch,
        rollup_versions_on_disk,
    )

    from .conftest import SF_SMOKE

    events = load(spark, SF_SMOKE, "events").select("ts", "event_type", "value")
    b0 = events.filter(F.hour("ts") < 12)
    b1 = events.filter(F.hour("ts") >= 12)
    assert b0.count() > 0 and b1.count() > 0
    root = str(tmp_path / "rollup")

    merge_rollup_batch(root, b0, 0)
    merge_rollup_batch(root, b1, 1)
    assert rollup_versions_on_disk(root) == [0, 1]
    v1_once = sorted(
        tuple(r) for r in spark.read.parquet(f"{root}/v1").collect()
    )
    total_once = sum(r[2] for r in v1_once)
    assert total_once == events.count()  # v1 holds ALL history

    # replay batch 1 twice more: stateless calls, v1 already on disk
    merge_rollup_batch(root, b1, 1)
    merge_rollup_batch(root, b1, 1)
    v1_replayed = sorted(
        tuple(r) for r in spark.read.parquet(f"{root}/v1").collect()
    )
    assert v1_replayed == v1_once  # no double-count, history intact

    # replay batch 0 too (crash even earlier): v0 regenerates from scratch
    merge_rollup_batch(root, b0, 0)
    v0 = spark.read.parquet(f"{root}/v0")
    assert v0.agg(F.sum("n_events")).collect()[0][0] == b0.count()


def _run_windowed_batches(spark, transform, batches, seed: int, root):
    """Replay `batches` (list of row-lists) as successive availableNow
    runs over one checkpoint under dir `root`, with each batch's rows
    shuffled by `seed` (batch MEMBERSHIP fixed, intra-batch order
    randomized).  Returns the append-mode output as a sorted row list."""
    import random

    rng = random.Random(seed)
    stage = _mkdir(root, f"perm_{seed}")
    ckpt = _mkdir(root, f"perm_ck_{seed}")
    out = _mkdir(root, f"perm_out_{seed}")

    def write_batch(name, rows):
        rows = rows[:]
        rng.shuffle(rows)
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] * 1_000_000 for r in rows], pa.timestamp("us")
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, os.path.join(stage, name))

    for i, batch in enumerate(batches):
        write_batch(f"b{i}.parquet", batch)
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        ).parquet(stage)
        qy = (
            transform(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


def test_watermark_eviction_is_invariant_under_intra_batch_reorder(spark, tmp_path):
    """Property the 100 TB design leans on: watermark eviction depends
    only on which micro-batch a row arrives in (max event time per
    batch), never on the order rows happen to occupy within the batch.
    Replay the same 3-batch late-data scenario under k seeded shuffles
    — every permutation must produce the identical append-mode output,
    and the beyond-watermark row must be dropped in all of them."""
    hour = 3600
    batches = [
        # hours 0,0,1,1 -> watermark after batch 0 = (2h-1s) - 10min
        [(1, 10, 1), (2, 50, 1), (3, hour + 10, 1), (4, 2 * hour - 1, 1)],
        # (5) is 20s into hour 0: far behind the watermark -> dropped
        [(5, 20, 1), (6, 2 * hour + 20, 1), (7, 3 * hour + 10, 1)],
        [(8, 5 * hour, 1)],
    ]

    def windowed(stream):
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("long").alias("start_s"), "n")
        )

    outputs = [
        _run_windowed_batches(spark, windowed, batches, seed, tmp_path)
        for seed in (0, 1, 2)
    ]
    assert outputs[0] == outputs[1] == outputs[2]
    emitted = dict(outputs[0])
    # a window emitted twice (resurrection) would collapse in dict():
    # assert unique starts FIRST so the per-window checks stay honest
    assert len(emitted) == len(outputs[0]), outputs[0]
    assert emitted.get(0) == 2, f"late event resurrected hour-0: {emitted}"
    assert sum(emitted.values()) <= 7  # event 5 never counted


def test_session_merge_is_invariant_under_intra_batch_reorder(spark, tmp_path):
    """session_window state merge must be order-insensitive the same
    way: two users' interleaved sessions replayed under k shuffles
    produce identical closed sessions, with a beyond-watermark row
    dropped deterministically."""
    m = 60
    batches = [
        # user 1: two clusters 40min apart (-> 2 sessions); user 2: one
        [(1, 0, 1), (2, 5 * m, 1), (3, 45 * m, 1), (4, 46 * m, 2),
         (5, 120 * m, 1)],
        # (6) at 8min is ~102min behind the watermark -> dropped;
        # fresh rows extend both users
        [(6, 8 * m, 2), (7, 125 * m, 1), (8, 126 * m, 2), (9, 300 * m, 1)],
        [(10, 600 * m, 1)],
    ]

    outputs = [
        _run_windowed_batches(
            spark, session_window_stream, batches, seed, tmp_path
        )
        for seed in (0, 1, 2)
    ]
    assert outputs[0] == outputs[1] == outputs[2]
    rows = outputs[0]
    # user 2's only closed activity is the 46min row (the late 8min row
    # must not have opened a session)
    u2 = [r for r in rows if r[0] == 2]
    assert all(r[2] == 1 for r in u2) and len(u2) >= 1, rows


def test_progress_observables_capture_drops_and_throughput(spark, tmp_path):
    """streaming/progress.py: batch rows carry input counts + durations,
    and numRowsDroppedByWatermark surfaces the late row the engine
    discarded — the operational twin of test_watermark_drops_late_rows."""
    stage = _mkdir(tmp_path, "prog")

    def write_batch(name, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1_000_000 for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, os.path.join(stage, name))

    hour = 3600
    ckpt = _mkdir(tmp_path, "prog_ckpt")
    out = _mkdir(tmp_path, "prog_out")

    def run():
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        ).parquet(stage)
        counts = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("long").alias("start_s"), "n")
        )
        qy = (
            counts.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()

    write_batch("b0.parquet", [(1, 10), (2, hour + 10), (3, 2 * hour - 1)])
    run()
    # late event behind the watermark + one fresh event
    write_batch("b1.parquet", [(4, 20), (5, 3 * hour + 10)])
    with QueryEvents(spark) as events:
        run()

    rows = events.batches()
    assert rows, "no progress events retained"
    assert all(r["batch_id"] is not None for r in rows)
    assert sum(r["num_input_rows"] for r in rows) == 2  # this run saw only b1
    assert sum(r["rows_dropped_by_watermark"] for r in rows) == 1, rows
    assert max(r["state_rows"] for r in rows) >= 1
    assert sum(r["batch_duration_ms"] or 0 for r in rows) > 0
    assert sum(r["rows_per_sec"] for r in rows) > 0


def test_progress_reads_a_registry_streaming_run(spark):
    """A registry streaming run has no query handle to pull progress
    from (``run_query`` over ``io.run_bounded``); the listener reads it:
    its batches ingest every staged event."""
    with QueryEvents(spark) as events:
        run_query(spark, "q_stream_watermark", SF_SMOKE, lambda df: df.count())
    rows = events.batches()
    assert rows
    (run_id,) = {str(p.runId) for p in events.progress}
    assert events.batches(run_id) == rows and events.batches("no-such-run") == []
    events_rows = load(spark, SF_SMOKE, "events").count()
    assert sum(r["num_input_rows"] for r in rows) == events_rows


def test_cdc_apply_query_is_batching_invariant(spark, tmp_path):
    """The r9 ADVICE scenario end-to-end: q_stream_cdc_apply's returned
    serving table must be byte-identical whether the staged op log
    arrives as ONE availableNow micro-batch or as four files drip-fed
    with maxFilesPerTrigger=1 — the max-n_applied compaction must erase
    the batch boundaries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stateflow_flink_spark.io import load
    from stateflow_flink_spark.plans.registry import QUERIES, load_all_modules
    from stateflow_flink_spark.streaming.state import apply_cdc_stream

    load_all_modules()
    from .conftest import SF_SMOKE

    ops = (
        load(spark, SF_SMOKE, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    # Stage as four CONSECUTIVE chunks of the (ts, event_id)-ordered log
    # with ascending mtimes — a CDC log's files arrive in commit order
    # (a random repartition would interleave ops across batch
    # boundaries, which no order-sensitive apply can converge from).
    import glob
    import os
    import shutil

    import numpy as np

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    pdf = ops.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    for i, chunk in enumerate(np.array_split(pdf, 4)):
        # write via Spark so the parquet ts type matches ops.schema
        # (pandas' writer emits TIMESTAMP(NANOS), which the schema'd
        # file stream refuses — the TESTDATA.md fixture trap)
        wdir = str(tmp_path / f"w{i}")
        spark.createDataFrame(chunk, ops.schema).coalesce(1).write.parquet(wdir)
        p = os.path.join(staged, f"chunk-{i}.parquet")
        shutil.move(glob.glob(os.path.join(wdir, "part-*.parquet"))[0], p)
        os.utime(p, (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000))

    def run(max_files: int, name: str):
        result = apply_cdc_stream(
            spark.readStream.schema(ops.schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(staged)
        )
        latest = Window.partitionBy("user_id").orderBy(F.desc("n_applied"))
        return (
            run_bounded(spark, result, name)
            .withColumn("_r", F.row_number().over(latest))
            .filter(F.col("_r") == 1)
            .select("user_id", "balance", "is_present")
            .toPandas()
            .sort_values("user_id")
            .reset_index(drop=True)
        )

    multi = run(1, "sfs_cdc_multi")
    single = run(100, "sfs_cdc_single")
    assert len(multi) > 0
    assert multi.equals(single), "drip-fed vs single-batch serving tables differ"
    # the multi-batch append sink really saw MORE than one row per key
    # for at least one key (i.e. the compaction had work to do)
    raw = spark.table("sfs_cdc_multi").groupBy("user_id").count().toPandas()
    assert (raw["count"] > 1).any()
    # and both equal the registered query's own single-staged-file run
    official = (
        QUERIES["q_stream_cdc_apply"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert multi.equals(official)
