"""Proto wire round-trip (ref R2) + Kafka framing (ref R1/R12/R13).

Broker-free: the codec is pure Python, the framing projections run on
static DataFrames with the public Kafka record schema."""

from __future__ import annotations

import textwrap

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from stateflow_flink_spark.schemas import EVENT_ENVELOPE, REPLIES, REQUESTS
from stateflow_flink_spark.sources.kafka import (
    KAFKA_RECORD,
    TOPIC_INTERNAL,
    decode_frames,
    encode_frames,
)
from stateflow_flink_spark.sources.proto import (
    decode_event,
    decode_event_request_reply,
    encode_event,
    encode_event_request_reply,
)

from .helpers import run_script

_COLS = [f.name for f in EVENT_ENVELOPE.fields]


def _canon(**kw) -> dict:
    """A canonical envelope: proto3 defaults everywhere, overridden by kw."""
    ev = {
        "event_id": "",
        "fun_namespace": "",
        "fun_name": "",
        "fun_stateful": False,
        "fun_key": "",
        "request": None,
        "reply": None,
        "payload": b"",
        "current_fun_namespace": "",
        "current_fun_name": "",
        "current_fun_key": "",
        "current_node_type": "",
    }
    ev.update(kw)
    return ev


# ---------------------------------------------------------------------------
# golden wire bytes — conformance to the proto3 spec itself, not just
# self-consistency (a conformant encoder, e.g. protobuf-java writing
# event.proto:49-58, produces exactly these bytes)
# ---------------------------------------------------------------------------


def test_golden_wire_bytes_reply_pong():
    # Event{event_id: "e1", reply: Pong}:
    #   field 1 (LEN): 0x0A 0x02 'e' '1' ; field 4 (VARINT): 0x20 0x06
    ev = _canon(event_id="e1", reply="Pong")
    assert encode_event(ev) == b"\x0a\x02e1\x20\x06"


def test_golden_wire_bytes_full_event():
    # Event{event_id:"e", fun_address{fun_type{namespace:"ns", name:"Fun",
    # stateful:true}, key:"k"}, request:InvokeStateful(=1), payload:"p"}
    fun_type = b"\x0a\x02ns" + b"\x12\x03Fun" + b"\x18\x01"
    fun_addr = b"\x0a" + bytes([len(fun_type)]) + fun_type + b"\x12\x01k"
    want = (
        b"\x0a\x01e"
        + b"\x12"
        + bytes([len(fun_addr)])
        + fun_addr
        + b"\x18\x01"
        + b"\x2a\x01p"
    )
    ev = _canon(
        event_id="e",
        fun_namespace="ns",
        fun_name="Fun",
        fun_stateful=True,
        fun_key="k",
        request="InvokeStateful",
        payload=b"p",
    )
    assert encode_event(ev) == want


def test_golden_request_zero_is_serialized():
    # oneof presence: request=InvokeStateless is enum 0 but MUST hit the
    # wire (proto3 serializes a set oneof member even at default value)
    ev = _canon(request="InvokeStateless")
    assert encode_event(ev) == b"\x18\x00"
    assert decode_event(b"\x18\x00")["request"] == "InvokeStateless"


def test_flow_node_round_trip():
    ev = _canon(
        event_id="f1",
        request="EventFlow",
        current_fun_namespace="ns",
        current_fun_name="Fun",
        current_fun_key="k9",
        current_node_type="RETURN",
    )
    assert decode_event(encode_event(ev)) == ev


@given(
    st.fixed_dictionaries(
        {
            "event_id": st.text(max_size=12),
            "fun_namespace": st.text(max_size=8),
            "fun_name": st.text(max_size=8),
            "fun_stateful": st.booleans(),
            "fun_key": st.text(max_size=8),
            "payload": st.binary(max_size=64),
            "current_fun_namespace": st.text(max_size=8),
            "current_fun_name": st.text(max_size=8),
            "current_fun_key": st.text(max_size=8),
            "current_node_type": st.sampled_from(["", "RETURN", "step"]),
        }
    ),
    st.sampled_from([("request", r) for r in REQUESTS] + [("reply", r) for r in REPLIES] + [(None, None)]),
)
@settings(max_examples=200, deadline=None)
def test_codec_round_trip_property(base, oneof):
    ev = _canon(**base)
    kind, val = oneof
    if kind:
        ev[kind] = val
    out = decode_event(encode_event(ev))
    assert out == ev
    # bytes -> dict -> bytes identity (canonical field order)
    assert encode_event(out) == encode_event(ev)


def test_event_request_reply_round_trip():
    ev = _canon(event_id="rq", request="InvokeStateful", payload=b"\x00\x01")
    wire = encode_event_request_reply(ev, b"STATE", "engine/Fold")
    ev2, state, op = decode_event_request_reply(wire)
    assert (ev2, state, op) == (ev, b"STATE", "engine/Fold")


def test_event_request_reply_empty_state_elided():
    # ByteString.EMPTY state (first touch, InvokeStatefulLambda.java:75-77)
    # is elided on the wire and decodes back to b""
    ev = _canon(event_id="x")
    wire = encode_event_request_reply(ev, b"", "op")
    ev_bytes = encode_event(ev)
    assert wire == b"\x0a" + bytes([len(ev_bytes)]) + ev_bytes + b"\x1a\x02op"
    assert decode_event_request_reply(wire)[1] == b""


# ---------------------------------------------------------------------------
# Spark framing projections
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def envelopes():
    return [
        _canon(event_id="a1", request="Ping"),
        _canon(
            event_id="b2",
            fun_namespace="engine",
            fun_name="Fold",
            fun_stateful=True,
            fun_key="k1",
            request="InvokeStateful",
            payload=b"{}",
        ),
        _canon(event_id="c3", reply="SuccessfulInvocation"),
        _canon(
            event_id="d4",
            request="EventFlow",
            current_fun_namespace="engine",
            current_fun_name="Fold",
            current_fun_key="k2",
            current_node_type="step",
        ),
    ]


def test_encode_decode_frames_spark(spark, envelopes):
    df = spark.createDataFrame(envelopes, EVENT_ENVELOPE)
    frames = encode_frames(df, TOPIC_INTERNAL).collect()
    by_key = {bytes(r.key).decode(): r for r in frames}
    # key = UTF-8 event_id (KafkaSerializeProto.java:27-29)
    assert set(by_key) == {"a1", "b2", "c3", "d4"}
    assert all(r.topic == TOPIC_INTERNAL for r in frames)
    # value bytes match the pure-python encoder exactly
    for ev in envelopes:
        assert bytes(by_key[ev["event_id"]].value) == encode_event(ev)

    # decode path: synth kafka records -> envelope columns
    records = pd.DataFrame(
        {
            "key": [bytes(r.key) for r in frames],
            "value": [bytes(r.value) for r in frames],
            "topic": [r.topic for r in frames],
            "partition": [0] * len(frames),
            "offset": list(range(len(frames))),
            "timestamp": pd.to_datetime(["2026-01-01"] * len(frames)),
            "timestampType": [0] * len(frames),
        }
    )
    raw = spark.createDataFrame(records, KAFKA_RECORD)
    decoded = decode_frames(raw).collect()
    got = {
        r.event_id: {c: getattr(r, c) for c in _COLS} for r in decoded
    }
    for ev in envelopes:
        d = got[ev["event_id"]]
        d["payload"] = bytes(d["payload"]) if d["payload"] is not None else None
        assert d == ev


def test_decode_null_value_tombstone(spark):
    records = pd.DataFrame(
        {
            "key": [b"t1"],
            "value": [None],
            "topic": [TOPIC_INTERNAL],
            "partition": [0],
            "offset": [0],
            "timestamp": pd.to_datetime(["2026-01-01"]),
            "timestampType": [0],
        }
    )
    row = decode_frames(spark.createDataFrame(records, KAFKA_RECORD)).collect()[0]
    assert row.event_id is None and row.payload is None


_RESTART = textwrap.dedent(
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from stateflow_flink_spark.schemas import EVENT_ENVELOPE
    from stateflow_flink_spark.session import configure
    from stateflow_flink_spark.sources.kafka import (
        TOPIC_CLIENT_REQUEST, decode_frames, encode_frames,
    )

    rows = [
        {"event_id": str(i), "request": "Ping" if i % 2 else "EventFlow"}
        for i in range(10)
    ]
    for _ in range(2):
        spark = configure(
            SparkSession.builder.master("local[2]").appName("codec-restart")
        ).getOrCreate()
        frames = encode_frames(
            spark.createDataFrame(rows, EVENT_ENVELOPE), TOPIC_CLIENT_REQUEST
        ).withColumns({"partition": F.lit(0), "offset": F.lit(0).cast("long")})
        pings = decode_frames(frames).filter(F.col("request") == "Ping")
        print("pings", pings.count(), flush=True)
        spark.stop()
    """
)


def test_codec_survives_a_session_restart(tmp_path):
    """A second session in the same process runs the codec as cleanly as
    the first: nothing codec-side may stay bound to the stopped
    context, whose accumulator channel is closed (Spark logs ``Failed
    to update accumulator`` for every task that reports into it)."""
    done = run_script(_RESTART, tmp_path)
    assert done.returncode == 0, done.stderr[-4000:]
    assert done.stdout.split("\n").count("pings 5") == 2, done.stdout
    assert "Failed to update accumulator" not in done.stderr, done.stderr[-4000:]


_UDF_RESTART = textwrap.dedent(
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from stateflow_flink_spark.operators.similarity import (
        DIM, cosine_arrow, emb_lsh_buckets, lsh_features,
    )
    from stateflow_flink_spark.session import configure

    for _ in range(2):
        spark = configure(
            SparkSession.builder.master("local[2]").appName("udf-restart")
        ).getOrCreate()
        e = F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: ((i * (F.col("id") + 1)) % 7 - 3).cast("float"),
        )
        vecs = spark.range(8).select(e.alias("e"))
        rows = vecs.select(
            cosine_arrow(F.col("e"), F.col("e")).alias("c"),
            lsh_features(F.col("e")).alias("f"),
            emb_lsh_buckets(F.col("e")).alias("b"),
        ).collect()
        print("rows", len(rows), flush=True)
        spark.stop()
    """
)


def test_similarity_udfs_survive_a_session_restart(tmp_path):
    """The similarity module's Arrow UDFs (``cosine_arrow``,
    ``lsh_features``, ``emb_lsh_buckets``) run as cleanly in a second
    session of the same process as in the first: none may stay bound to
    the stopped context's accumulator channel."""
    done = run_script(_UDF_RESTART, tmp_path)
    assert done.returncode == 0, done.stderr[-4000:]
    assert done.stdout.split("\n").count("rows 8") == 2, done.stdout
    assert "Failed to update accumulator" not in done.stderr, done.stderr[-4000:]
