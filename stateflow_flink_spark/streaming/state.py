"""Keyed stateful processing — the Spark-native InvokeStatefulLambda.

Reference semantics (``InvokeStatefulLambda.java:35-116``): a keyed
operator holding one opaque state blob per (operator, key); per event it
reads the state (EMPTY on first touch, ``:75-77``), ships
``{event, state, operator_name}`` to an external function, overwrites
the state with the returned blob (``:109``) and emits the returned
event (``:114``).

Spark-native design decisions:

  * The external callable is **in-process by default** (a registry of
    Python functions) — paying a network hop per event inside a
    micro-batch is the anti-pattern the reference was forced into by
    its architecture; Spark lets the function travel to the data.  A
    remote invoker can be slotted into the same signature.
  * State lives in the Structured Streaming state store
    (``applyInPandasWithState`` + ``GroupState``) — checkpointed,
    exactly-once, per-key — which is strictly stronger than the
    reference's at-least-once ValueState (SURVEY.md §4.1).
  * :func:`keyed_fold` is that read-modify-write, once: every keyed
    stateful operator in the package (fold, SCD2, EWMA, HLL, anomaly,
    CDC here; sessionize, CEP and the MinHash stream beside it) is a
    per-key ``step`` over it.
  * Events for a key are applied in (ts, event_id) order within each
    micro-batch, making results deterministic and replay-stable.

The function contract mirrors ``EventRequestReply`` (event.proto:77-81):
``fn(event: dict, state: bytes) -> (event': dict, state': bytes)``.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import run_bounded, staged_stream
from ..numerics import half_up, sql_wsum
from ..plans.registry import query

# ---------------------------------------------------------------------------
# Callable registry — the in-process replacement for the AWS Lambda hop.
# Keyed by "namespace/name" like the reference's operator list
# (StateFlowFlinkJob.java:28-31).
# ---------------------------------------------------------------------------

StatefulFn = Callable[[dict, bytes], tuple[dict, bytes]]
# Vectorized twin: whole (ts, event_id)-sorted key-batch in, batch out —
# same state-blob contract.  MUST be observationally identical to
# folding the scalar fn event-by-event (asserted in tests and, for the
# built-in fold, by the streaming query's batch-window oracle).
VectorizedStatefulFn = Callable[[pd.DataFrame, bytes], tuple[pd.DataFrame, bytes]]
_REGISTRY: dict[str, StatefulFn] = {}
_VREGISTRY: dict[str, VectorizedStatefulFn] = {}


def register_stateful(
    operator_name: str,
    fn: StatefulFn,
    vectorized: VectorizedStatefulFn | None = None,
) -> None:
    """Register a stateful callable; optionally its vectorized twin.

    The scalar form is the reference contract (one external call per
    event, InvokeStatefulLambda.java:86-92).  The vectorized twin is
    the Spark-native fast path: the processor hands it the whole sorted
    micro-batch slice for a key, so a fold over k events is one pandas/
    NumPy pass instead of k Python iterations — at 100 TB the per-event
    interpreter loop, not the state store, is the bottleneck."""
    _REGISTRY[operator_name] = fn
    if vectorized is not None:
        _VREGISTRY[operator_name] = vectorized


def get_stateful(operator_name: str) -> StatefulFn:
    return _REGISTRY[operator_name]


def get_stateful_vectorized(operator_name: str) -> VectorizedStatefulFn | None:
    return _VREGISTRY.get(operator_name)


def fold_fn(event: dict, state: bytes) -> tuple[dict, bytes]:
    """Built-in demo function: running count/sum/last fold.

    State is an opaque JSON blob (the engine never interprets it —
    parity with event.proto:79's opaque bytes contract); sums are kept
    as scaled integers so streaming and batch agree bit-for-bit.
    """
    st = json.loads(state) if state else {"n": 0, "total_scaled": 0}
    st["n"] += 1
    st["total_scaled"] += int(round(event["value"] * 1_000_000))
    out = {
        "event_id": event["event_id"],
        "user_id": event["user_id"],
        "running_n": st["n"],
        "running_sum": float(st["total_scaled"]) / 1_000_000,
        "last_type": event["event_type"],
    }
    return out, json.dumps(st).encode()


def fold_fn_vectorized(pdf: pd.DataFrame, state: bytes) -> tuple[pd.DataFrame, bytes]:
    """Vectorized twin of :func:`fold_fn` — one cumsum pass per batch.

    Bit-identical to the scalar loop: ``Series.round`` and Python
    ``round`` both round half-to-even, the scaled totals are exact
    int64 arithmetic, and the final division by 1e6 is the same single
    IEEE op per row the scalar path performs."""
    st = json.loads(state) if state else {"n": 0, "total_scaled": 0}
    scaled = (pdf["value"] * 1_000_000).round().astype("int64")
    cum = scaled.cumsum() + st["total_scaled"]
    out = pd.DataFrame(
        {
            "event_id": pdf["event_id"].to_numpy(),
            "user_id": pdf["user_id"].to_numpy(),
            "running_n": st["n"] + pd.RangeIndex(1, len(pdf) + 1),
            "running_sum": cum.to_numpy().astype("float64") / 1_000_000,
            "last_type": pdf["event_type"].to_numpy(),
        }
    )
    st = {"n": st["n"] + len(pdf), "total_scaled": int(cum.iloc[-1]) if len(pdf) else st["total_scaled"]}
    return out, json.dumps(st).encode()


register_stateful("engine/Fold", fold_fn, vectorized=fold_fn_vectorized)

_FOLD_OUTPUT = (
    "event_id bigint, user_id bigint, running_n bigint, "
    "running_sum double, last_type string"
)


# step(key value, the key's sorted batch, stored state or None) ->
# (rows to emit or None, new state or None)
FoldStep = Callable[
    [object, pd.DataFrame, tuple | None], tuple[pd.DataFrame | None, tuple | None]
]


def keyed_fold(
    events: DataFrame,
    key: str,
    step: FoldStep,
    output: str,
    state_schema: str,
    order: tuple[str, ...] | None = ("ts", "event_id"),
) -> DataFrame:
    """The keyed read-modify-write of InvokeStatefulLambda.java:75-109,
    as the package's one ``applyInPandasWithState``.

    Per key and micro-batch: concatenate the key's frames, stable-sort
    them by ``order`` (``None`` keeps arrival order), call ``step`` with
    the stored state tuple (``None`` on first touch), write the state it
    returns — ``None`` removes the key's state — and emit its rows if
    there are any."""

    def fold_group(k, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if order is not None:
            pdf = pdf.sort_values(list(order), kind="mergesort")
        out, new = step(k[0], pdf, state.get if state.exists else None)
        if new is not None:
            state.update(new)
        elif state.exists:
            state.remove()
        if out is not None and len(out):
            yield out

    return events.groupBy(key).applyInPandasWithState(
        fold_group,
        outputStructType=output,
        stateStructType=state_schema,
        outputMode="Append",
        timeoutConf="NoTimeout",
    )


def apply_stateful(
    events: DataFrame,
    operator_name: str = "engine/Fold",
    ttl_ms: int | None = None,
    latency=None,
) -> DataFrame:
    """Keyed stateful apply over a streaming DataFrame — ref R9.

    One :func:`keyed_fold` over ``user_id``: one
    opaque blob per key (GroupState), events applied in (ts, event_id)
    order, state overwritten per event (InvokeStatefulLambda.java:75-109).

    ``ttl_ms`` bounds per-key state lifetime — the 100 TB hygiene knob:
    without it, every key ever seen lives in the store forever (the
    reference has the same unbounded-state problem).  A key idle past
    the TTL reads as EMPTY on its next event — first-touch semantics
    (``InvokeStatefulLambda.java:75-77``).  The blob is wrapped with its
    last-update timestamp and expiry is decided on read (exact); storage
    for a never-touched-again key is not reclaimed — GroupState's
    ProcessingTimeTimeout would evict it, but a registered timeout
    keeps an availableNow query alive past its data (measured: query
    never terminates), so this path trades idle-key eviction for
    bounded-run semantics.
    """
    fn = get_stateful(operator_name)
    vfn = get_stateful_vectorized(operator_name)
    if latency is not None:
        # Ref parity: InvokeStatefulLambda.java:56-59,112 wraps every
        # stateful invoke in the histogram.  The vectorized twin does
        # one invoke per (key, batch), so it records one sample per
        # call either way — the histogram counts INVOKES, not rows.
        fn = latency.timed(fn)
        if vfn is not None:
            vfn = latency.timed(vfn)

    def step(_, pdf: pd.DataFrame, stored):
        now_ms = int(time.time() * 1000)
        if stored is None:
            blob = b""
        elif ttl_ms is None:
            blob = stored[0]
        else:
            stored_ms, blob = stored
            if now_ms - stored_ms > ttl_ms:
                blob = b""  # expired -> EMPTY first-touch re-init
        if vfn is not None:
            out_pdf, blob = vfn(pdf, blob)
        else:
            outs = []
            for event in pdf.to_dict("records"):
                out, blob = fn(event, blob)
                outs.append(out)
            out_pdf = pd.DataFrame(outs)
        return out_pdf, ((blob,) if ttl_ms is None else (now_ms, blob))

    return keyed_fold(
        events,
        "user_id",
        step,
        _FOLD_OUTPUT,
        "blob binary" if ttl_ms is None else "ts_ms long, blob binary",
    )


@query(
    "q_stateful_fold_stream",
    f"""
    SELECT event_id, user_id,
           ROW_NUMBER() OVER w AS running_n,
           {sql_wsum("value", "OVER w")} AS running_sum,
           event_type AS last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_stateful_fold_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_stateful_fold (ref R9) — same oracle: the
    ValueState fold must agree exactly with the batch window fold."""
    with staged_stream(spark, sf_dir, "events") as events:
        return run_bounded(spark, apply_stateful(events), "sfs_stateful_fold_stream")


# ---------------------------------------------------------------------------
# Streaming SCD Type-2 (incremental CDC history, ref-R9 state semantics)
# ---------------------------------------------------------------------------

_SCD2_STREAM_OUTPUT = (
    "user_id long, event_type string, valid_from timestamp, "
    "valid_to timestamp, version int, is_clamped boolean"
)


def apply_scd2_stream(events: DataFrame) -> DataFrame:
    """Incremental SCD2: per user, ValueState holds the OPEN version
    (type, valid_from, version); an event of a different type CLOSES it
    — the closed interval streams out, the new open version replaces it
    in the state store.  Append-mode streaming can only emit facts that
    are final, so the output contract is exactly the CLOSED rows of
    `q_scd2_track`; open rows live in state (the state store IS the
    current-dimension table — at scale you snapshot it, you don't
    stream it).

    Within a micro-batch each key folds in (ts, event_id) order, so
    replays produce identical intervals; state is 3 scalar fields per
    key, the same footprint discipline as the R9 fold.

    Cross-batch ordering contract: an event whose ts precedes the OPEN
    version's valid_from (late arrival beyond the batch boundary) is
    clamped forward to valid_from, so no interval can invert
    (valid_to < valid_from) and versions stay monotone.  A clamped
    close produces a ZERO-WIDTH interval (valid_from == valid_to) —
    consumers that treat valid_to as exclusive would otherwise see a
    version that was never valid, so every emitted row carries an
    ``is_clamped`` flag (true iff the clamp adjusted this version's
    start or end) for interval-join consumers to filter or tolerate.
    The clamp is the bounded-damage guard, not the full fix — a
    deployment that expects heavy cross-batch disorder should feed
    this operator watermark-sorted input (buffer by `withWatermark` +
    event-time sort in the upstream batch) so the clamp never fires."""

    def step(user_id, pdf: pd.DataFrame, stored):
        if stored is not None:
            cur_type, cur_from_us, cur_ver, cur_clamped = stored
        else:
            cur_type, cur_from_us, cur_ver, cur_clamped = None, 0, 0, False
        out = []
        for row in pdf.itertuples():
            ts_us = row.ts.value // 1000  # pandas ns -> micros
            clamp_fired = False
            if cur_type is not None and ts_us < cur_from_us:
                # late event behind an OPEN version: clamp forward so
                # the closed interval cannot invert (see docstring
                # contract).  Guarded on an open version existing — a
                # key's FIRST event must keep its own ts even when it
                # is pre-epoch (cur_from_us initializes to 0).
                ts_us = cur_from_us
                clamp_fired = True
            if cur_type is None:
                cur_type, cur_from_us, cur_ver = row.event_type, ts_us, 1
                cur_clamped = False
            elif row.event_type != cur_type:
                out.append(
                    (
                        user_id,
                        cur_type,
                        pd.Timestamp(cur_from_us, unit="us"),
                        pd.Timestamp(ts_us, unit="us"),
                        cur_ver,
                        bool(cur_clamped or clamp_fired),
                    )
                )
                cur_type, cur_from_us, cur_ver = row.event_type, ts_us, cur_ver + 1
                cur_clamped = clamp_fired
        closed = pd.DataFrame(
            out,
            columns=[
                "user_id",
                "event_type",
                "valid_from",
                "valid_to",
                "version",
                "is_clamped",
            ],
        )
        return closed, (cur_type, cur_from_us, cur_ver, bool(cur_clamped))

    return keyed_fold(
        events,
        "user_id",
        step,
        _SCD2_STREAM_OUTPUT,
        "cur_type string, from_us long, version int, clamped boolean",
    )


@query(
    "q_scd2_stream",
    """
    WITH ordered AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               LAG(event_type) OVER
                   (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS prev_type
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    hist AS (
        SELECT user_id, event_type,
               ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS version
        FROM changes
    )
    SELECT user_id, event_type, valid_from, valid_to, version,
           FALSE AS is_clamped
    FROM hist WHERE valid_to IS NOT NULL
    """,
)
def q_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_scd2_track: the incremental CDC fold must
    emit exactly the batch query's CLOSED intervals (open versions stay
    in the state store — see apply_scd2_stream)."""
    with staged_stream(spark, sf_dir, "events") as events:
        result = apply_scd2_stream(
            events.select("user_id", "event_type", "ts", "event_id")
        )
        return run_bounded(spark, result, "sfs_scd2_stream")


# ---------------------------------------------------------------------------
# Streaming windowed EWMA — incremental recency-weighted rollup (ref R9)
# ---------------------------------------------------------------------------

_EWMA_STREAM_OUTPUT = (
    "user_id long, last_ts timestamp, last_event_id long, "
    "n_used long, ewma_value double"
)


def apply_ewma_stream(events: DataFrame) -> DataFrame:
    """Incremental twin of q_timeseries_ewma: per user, ValueState holds
    the newest EWMA_WINDOW (ts, event_id, scaled value) triples — O(K)
    state per key, the bounded-state property that makes the windowed
    EWMA streamable at all (an untruncated EWMA recurrence would need
    exact float replay of the full history).  Each micro-batch emits one
    summary row per touched user: the integer-exact weighted mean over
    the trailing window (weights 2^(K-rank), same arithmetic as the
    batch query — two final double divisions, bit-identical).

    Value scaling matches Spark's double->DECIMAL(38,0) cast exactly
    (``numerics.half_up``), so the state integers equal the batch
    query's `xs` column bit for bit.

    Arrival order never matters: the trailing window is "newest K by
    (ts, event_id) among events seen so far", so the final summary per
    user equals the batch answer under any batching/replay."""
    import pickle

    from ..operators.timeseries import EWMA_WINDOW

    def step(user_id, pdf: pd.DataFrame, stored):
        top: list = pickle.loads(stored[0]) if stored is not None else []
        for row in pdf.itertuples():
            xs = half_up(float(row.value) * 1_000_000)
            top.append((row.ts.value // 1000, int(row.event_id), xs))
        top.sort(key=lambda t: (-t[0], -t[1]))
        del top[EWMA_WINDOW:]
        num = sum(xs * (1 << (EWMA_WINDOW - rn)) for rn, (_, _, xs) in enumerate(top, 1))
        den = sum(1 << (EWMA_WINDOW - rn) for rn in range(1, len(top) + 1))
        summary = pd.DataFrame(
            {
                "user_id": [user_id],
                "last_ts": [pd.Timestamp(top[0][0], unit="us")],
                "last_event_id": [top[0][1]],
                "n_used": [len(top)],
                "ewma_value": [float(num) / float(den) / 1_000_000],
            }
        )
        return summary, (pickle.dumps(top),)

    return keyed_fold(
        events, "user_id", step, _EWMA_STREAM_OUTPUT, "blob binary", order=None
    )


@query(
    "q_stream_ewma",
    f"""
    WITH ranked AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events
    ),
    recent AS (SELECT * FROM ranked WHERE rn <= 16)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_used,
           CAST(SUM(CAST(CAST(value * 1000000 AS DECIMAL(38,0)) AS BIGINT)
                    * (CAST(1 AS BIGINT) << (16 - rn))) AS DOUBLE)
               / CAST(SUM(CAST(1 AS BIGINT) << (16 - rn)) AS DOUBLE)
               / 1000000 AS ewma_value
    FROM recent GROUP BY user_id
    """,
)
def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_timeseries_ewma (same oracle): per-user
    bounded-window EWMA maintained incrementally in keyed state; the
    latest per-user summary must equal the batch window aggregate
    bit for bit (see apply_ewma_stream)."""
    with staged_stream(spark, sf_dir, "events") as events:
        result = apply_ewma_stream(
            events.select("user_id", "ts", "event_id", "value")
        )
        summaries = run_bounded(spark, result, "sfs_stream_ewma")
    latest = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts"), F.desc("last_event_id")
    )
    return (
        summaries
        .withColumn("_r", F.row_number().over(latest))
        .filter(F.col("_r") == 1)
        .select("user_id", "n_used", "ewma_value")
    )


# ---------------------------------------------------------------------------
# Streaming HLL-style distinct count — mergeable sketch state (ref R9)
# ---------------------------------------------------------------------------

_HLL_M = 1024  # registers per key; linear-counting regime at test SFs

# trailing-zero count of one hex digit (0 handled by the rstrip walk)
_HEX_TZ = {
    "1": 0, "3": 0, "5": 0, "7": 0, "9": 0, "b": 0, "d": 0, "f": 0,
    "2": 1, "6": 1, "a": 1, "e": 1,
    "4": 2, "c": 2,
    "8": 3,
}

_HLL_STREAM_ORACLE = f"""
    WITH h AS (
        SELECT DISTINCT event_type, MD5(CAST(user_id AS VARCHAR)) AS hx
        FROM events
    ),
    p AS (
        SELECT event_type,
               CAST(('0x' || SUBSTRING(hx, 1, 8))::UBIGINT AS BIGINT)
                   % {_HLL_M} AS j,
               CASE WHEN RTRIM(SUBSTRING(hx, 1, 16), '0') = '' THEN 65
                    ELSE 4 * (16 - LENGTH(RTRIM(SUBSTRING(hx, 1, 16), '0')))
                         + CASE RIGHT(RTRIM(SUBSTRING(hx, 1, 16), '0'), 1)
                               WHEN '2' THEN 1 WHEN '6' THEN 1
                               WHEN 'a' THEN 1 WHEN 'e' THEN 1
                               WHEN '4' THEN 2 WHEN 'c' THEN 2
                               WHEN '8' THEN 3 ELSE 0 END
                         + 1 END AS rho
        FROM h
    ),
    reg AS (SELECT event_type, j, MAX(rho) AS r FROM p GROUP BY 1, 2)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS reg_nonzero,
           CAST(SUM(r) AS BIGINT) AS reg_sum,
           CASE WHEN COUNT(*) < {_HLL_M}
                THEN CAST(ROUND({_HLL_M} * LN({_HLL_M}.0
                                / ({_HLL_M} - COUNT(*)))) AS BIGINT)
                ELSE NULL END AS est_users
    FROM reg GROUP BY event_type
"""


def apply_hll_stream(events: DataFrame) -> DataFrame:
    """Per-key streaming distinct-count sketch: ValueState holds _HLL_M
    one-byte max-rank registers — O(1 KB) per key FOREVER, the bounded
    state an exact streaming distinct (dropDuplicates) cannot offer.
    Register updates are MAX-merges, so the sketch is order-free and
    replay/batching-invariant, and two keys' (or two days') registers
    union losslessly by elementwise max — the DataSketches
    mergeability contract, here with an ENGINE-EXACT md5 rank so the
    SQL oracle reproduces every register bit for bit (same discipline
    as the integer LSH projections).

    rho = trailing-zero run of the 64-bit md5 prefix + 1 (geometric,
    P(rho >= k) = 2^-(k-1)), computed by hex-string walk in both
    engines — no float log2 near an exact power, no cross-libm risk.
    The estimate is linear counting over empty registers (the
    HyperLogLog small-range regime all test SFs sit in)."""
    import hashlib

    import numpy as np

    def step(event_type, pdf: pd.DataFrame, stored):
        reg = (
            np.frombuffer(stored[0], dtype=np.uint8).copy()
            if stored is not None
            else np.zeros(_HLL_M, dtype=np.uint8)
        )
        for uid in pdf["user_id"].unique():
            hx = hashlib.md5(str(int(uid)).encode()).hexdigest()
            j = int(hx[:8], 16) % _HLL_M
            stripped = hx[:16].rstrip("0")
            rho = (
                4 * (16 - len(stripped)) + _HEX_TZ[stripped[-1]] + 1
                if stripped
                else 65
            )
            if rho > reg[j]:
                reg[j] = rho
        nz = int((reg > 0).sum())
        v = _HLL_M - nz
        if v > 0:
            import math

            est = half_up(_HLL_M * math.log(_HLL_M / v))
        else:
            est = None
        summary = pd.DataFrame(
            {
                "event_type": [event_type],
                "reg_nonzero": [nz],
                "reg_sum": [int(reg.sum())],
                "est_users": [est],
            }
        )
        return summary, (reg.tobytes(),)

    return keyed_fold(
        events,
        "event_type",
        step,
        "event_type string, reg_nonzero long, reg_sum long, est_users long",
        "blob binary",
        order=None,
    )


@query("q_stream_hll", _HLL_STREAM_ORACLE)
def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct users per event_type via keyed HLL-style
    register state (see apply_hll_stream).  The per-batch summaries are
    monotone (registers only grow), so the newest summary per key is
    the one with the maximal (reg_sum, reg_nonzero) — no timestamp
    bookkeeping needed to pick it."""
    with staged_stream(spark, sf_dir, "events") as events:
        result = apply_hll_stream(events.select("event_type", "user_id"))
        summaries = run_bounded(spark, result, "sfs_stream_hll")
    latest = Window.partitionBy("event_type").orderBy(
        F.desc("reg_sum"), F.desc("reg_nonzero")
    )
    return (
        summaries
        .withColumn("_r", F.row_number().over(latest))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )


# ---------------------------------------------------------------------------
# Streaming prefix z-score anomaly — per-event flags from keyed
# sufficient statistics (ref R9: per-key fold, emit per event)
# ---------------------------------------------------------------------------

_ANOM_MIN_N = 8  # no flagging until this many prior observations
_ANOM_Z2 = 9  # |z| > 3

_ANOM_STREAM_ORACLE = f"""
    WITH xs AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
               CAST(CAST(value * 1000000 AS DECIMAL(38,0)) AS HUGEINT) AS x
        FROM events
    ),
    pre AS (
        SELECT user_id, event_id, x,
               COUNT(x) OVER w AS n_prior,
               COALESCE(SUM(x) OVER w, 0) AS s,
               COALESCE(SUM(x * x) OVER w, 0) AS ssq
        FROM xs
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           CAST(n_prior AS BIGINT) AS n_prior,
           n_prior >= {_ANOM_MIN_N}
               AND (n_prior * x - s) * (n_prior * x - s)
                   > {_ANOM_Z2} * (n_prior * ssq - s * s) AS is_anomaly
    FROM pre
"""


def apply_anomaly_stream(events: DataFrame) -> DataFrame:
    """Per-key streaming z-score anomaly flags: ValueState holds the
    THREE sufficient statistics (n, sum, sum-of-squares) of all prior
    values — O(1) state per key forever, the bounded-state property
    that makes per-event anomaly scoring streamable (a replayed-window
    z-score would hold the history).

    Each event is flagged against the statistics of STRICTLY EARLIER
    events of its key ((ts, event_id) order — within a batch by
    explicit sort, across batches because arrival order is event order,
    the dedup_stream seniority contract), then folded in.  Flags are
    final on emission (prefix stats never change retroactively), so
    Append mode needs no latest-pick.

    Integer-exact across engines: values scale by 1e6 through the
    shared ``numerics.half_up`` cast, the flag inequality
    (n*x - s)^2 > Z2 * (n*ssq - s^2) is pure integer arithmetic —
    Python ints are unbounded, the oracle computes in HUGEINT — so no
    sqrt, no division, no float ever enters the comparison."""
    import pickle

    def step(user_id, pdf: pd.DataFrame, stored):
        n, s, ssq = pickle.loads(stored[0]) if stored is not None else (0, 0, 0)
        out_e, out_n, out_f = [], [], []
        for row in pdf.itertuples():
            x = half_up(float(row.value) * 1_000_000)
            flag = n >= _ANOM_MIN_N and (n * x - s) ** 2 > _ANOM_Z2 * (
                n * ssq - s * s
            )
            out_e.append(int(row.event_id))
            out_n.append(n)
            out_f.append(bool(flag))
            n, s, ssq = n + 1, s + x, ssq + x * x
        flags = pd.DataFrame(
            {
                "user_id": [user_id] * len(out_e),
                "event_id": out_e,
                "n_prior": out_n,
                "is_anomaly": out_f,
            }
        )
        return flags, (pickle.dumps((n, s, ssq)),)

    return keyed_fold(
        events,
        "user_id",
        step,
        "user_id long, event_id long, n_prior long, is_anomaly boolean",
        "blob binary",
    )


@query("q_stream_anomaly", _ANOM_STREAM_ORACLE)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-event anomaly flags: each event z-scored against
    its user's PRIOR history via O(1) keyed sufficient statistics (see
    apply_anomaly_stream); the oracle is the batch prefix-window
    formulation — every emitted flag must match it exactly."""
    with staged_stream(spark, sf_dir, "events") as events:
        result = apply_anomaly_stream(
            events.select("user_id", "ts", "event_id", "value")
        )
        return run_bounded(spark, result, "sfs_stream_anomaly")


# ---------------------------------------------------------------------------
# Streaming CDC apply — the Debezium→serving-table fold (ref R9 state)
# ---------------------------------------------------------------------------

_CDC_APPLY_OUTPUT = (
    "user_id long, balance double, is_present boolean, n_applied long"
)

_CDC_APPLY_ORACLE = """
    WITH ops AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
               CAST(CAST(value * 100 AS DECIMAL(38,0)) AS BIGINT) AS cents
        FROM events
        WHERE event_type IN ('purchase', 'error')
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
        FROM ops
    ),
    lastd AS (
        SELECT user_id, MAX(rn) AS drn FROM ranked WHERE op = 'd'
        GROUP BY user_id
    ),
    agg AS (
        SELECT r.user_id,
               SUM(CASE WHEN r.op = 'u' AND r.rn > COALESCE(d.drn, 0)
                        THEN r.cents END) AS cents
        FROM ranked r LEFT JOIN lastd d USING (user_id)
        GROUP BY r.user_id
    )
    SELECT user_id,
           CAST(cents AS DOUBLE) / 100 AS balance,
           cents IS NOT NULL AS is_present
    FROM agg
"""


def apply_cdc_stream(events: DataFrame) -> DataFrame:
    """Incremental CDC apply: per key, ValueState holds the CURRENT row
    of the serving table (balance cents + liveness); each 'purchase' is
    an upsert-accumulate, each 'error' a tombstone that deletes the key
    (later upserts re-insert it).  This is q_merge_cdc_delete's apply
    step run AS the reference's R9 fold — one opaque state blob per
    key, read-modify-write per change event — instead of a batch MERGE:
    the op log is never compacted ahead of time because the state store
    IS the compaction.

    Per micro-batch each touched key emits its post-batch current row;
    deleted keys emit an explicit (NULL, false) tombstone row so
    downstream sinks can retract — the Debezium consumer contract.
    Within a batch keys fold in (ts, event_id) order; across batches
    the state carries, so any batching of the same log converges to the
    same serving table.  Each emission carries ``n_applied`` — the
    per-key count of ops folded so far, a monotone version stamp — so
    an append sink that accumulated one row per (key, batch) compacts
    to the serving table by keeping the max-``n_applied`` row per key,
    batching-invariantly (a multi-file staging or maxFilesPerTrigger
    run produces the same final table as the single-batch run).

    Cents conversion matches Spark's double→DECIMAL(38,0) cast exactly
    (``numerics.half_up``), so the fold is bit-identical to the batch
    oracle's arithmetic."""

    def step(user_id, pdf: pd.DataFrame, stored):
        bal, present, n_applied = stored if stored is not None else (0, False, 0)
        for row in pdf.itertuples():
            if row.event_type == "error":
                bal, present = 0, False
            else:
                cents = half_up(float(row.value) * 100)
                bal, present = (bal if present else 0) + cents, True
            n_applied += 1
        current = pd.DataFrame(
            {
                "user_id": [user_id],
                "balance": [bal / 100.0 if present else None],
                "is_present": [bool(present)],
                "n_applied": [n_applied],
            }
        )
        return current, (bal, bool(present), n_applied)

    return keyed_fold(
        events,
        "user_id",
        step,
        _CDC_APPLY_OUTPUT,
        "bal long, present boolean, n_applied long",
    )


@query("q_stream_cdc_apply", _CDC_APPLY_ORACLE)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_merge_cdc_delete's apply step: the CDC op
    log ('purchase' upserts, 'error' tombstones) folds through per-key
    state into the current serving table; the oracle is the batch
    last-tombstone compaction over the same log.  Deleted keys are
    observable as explicit (NULL, false) rows.

    The append memory sink holds one row per (key, micro-batch); the
    final select keeps the max-``n_applied`` row per key, so the result
    is the current serving table whether the staged log arrived as one
    availableNow batch or many (maxFilesPerTrigger-proof)."""
    with staged_stream(spark, sf_dir, "events") as events:
        ops = events.filter(F.col("event_type").isin("purchase", "error")).select(
            "user_id", "ts", "event_id", "event_type", "value"
        )
        rows = run_bounded(spark, apply_cdc_stream(ops), "sfs_stream_cdc_apply")
    latest = Window.partitionBy("user_id").orderBy(F.desc("n_applied"))
    return (
        rows
        .withColumn("_r", F.row_number().over(latest))
        .filter(F.col("_r") == 1)
        .select("user_id", "balance", "is_present")
    )
