"""Routing property tests — reference semantics (SURVEY.md §5.2.3).

Mirrors IngressRouter.java:25-71 / EgressRouter.java:32-47 over
synthetic envelope batches: the routing projection must be a total,
disjoint partition of the input, with the reference's per-case
behavior.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from stateflow_flink_spark.schemas import EVENT_ENVELOPE, REPLIES, REQUESTS
from stateflow_flink_spark.streaming.routing import (
    ERROR,
    egress_topic,
    ingress,
    route_egress,
    route_ingress,
)

KEYS = ["k1", "k2", "k3", ""]


def _mk_event(rng: random.Random, i: int) -> tuple:
    roll = rng.random()
    request = reply = None
    node_type = None
    if roll < 0.05:
        request = "Ping"
    elif roll < 0.20:
        request = "EventFlow"
        node_type = "RETURN" if rng.random() < 0.4 else "step"
    elif roll < 0.30:
        reply = rng.choice(REPLIES)  # non-request: ingress must reject
    elif roll < 0.45:
        request = "InitClass"  # create path (no key)
    else:
        request = rng.choice([r for r in REQUESTS if r not in ("Ping", "EventFlow")])
    key = "" if request == "InitClass" else rng.choice(KEYS[:3])
    return (
        f"ev-{i}",
        "ns",
        "Fun",
        True,
        key,
        request,
        reply,
        None,
        "ns" if request == "EventFlow" else None,
        "Next" if request == "EventFlow" else None,
        "fk" if request == "EventFlow" else None,
        node_type,
    )


@pytest.fixture(scope="module")
def envelope_df(spark):
    rng = random.Random(42)
    rows = [_mk_event(rng, i) for i in range(500)]
    df = spark.createDataFrame(rows, EVENT_ENVELOPE).cache()
    yield df
    df.unpersist()


def test_ingress_total_and_disjoint(spark, envelope_df):
    routed = route_ingress(envelope_df)
    n = envelope_df.count()
    assert routed.count() == n  # projection: nothing dropped or duplicated
    by_dir = dict(
        routed.groupBy("direction").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    assert sum(by_dir.values()) == n
    assert set(by_dir) <= {"EGRESS", "INTERNAL", ERROR}


def test_ingress_rejects_non_requests(spark, envelope_df):
    routed = route_ingress(envelope_df)
    bad = routed.filter(F.col("request").isNull())
    assert bad.count() > 0
    assert bad.filter(F.col("direction") != ERROR).count() == 0


def test_ping_pong(spark, envelope_df):
    routed = route_ingress(envelope_df)
    pings = routed.filter(F.col("request") == "Ping")
    assert pings.count() > 0
    assert (
        pings.filter(
            (F.col("direction") == "EGRESS") & (F.col("out_reply") == "Pong")
        ).count()
        == pings.count()
    )


def test_flow_return_short_circuits(spark, envelope_df):
    routed = route_ingress(envelope_df)
    done = routed.filter(
        (F.col("request") == "EventFlow") & (F.col("current_node_type") == "RETURN")
    )
    assert done.count() > 0
    assert (
        done.filter(
            (F.col("direction") == "EGRESS")
            & (F.col("out_reply") == "SuccessfulInvocation")
        ).count()
        == done.count()
    )
    midflow = routed.filter(
        (F.col("request") == "EventFlow") & (F.col("current_node_type") != "RETURN")
    )
    assert midflow.count() > 0
    assert (
        midflow.filter(
            (F.col("direction") == "INTERNAL")
            & (F.col("route_name") == "ns/Next")
            & (F.col("route_key") == "fk")
        ).count()
        == midflow.count()
    )


def test_keyed_vs_create_split(spark, envelope_df):
    routed = route_ingress(envelope_df).filter(
        F.col("request").isin(
            [r for r in REQUESTS if r not in ("Ping", "EventFlow")]
        )
    )
    keyed = routed.filter(F.col("fun_key") != "")
    create = routed.filter(F.col("fun_key") == "")
    assert keyed.count() > 0 and create.count() > 0
    assert (
        keyed.filter(
            (F.col("route_name") == "ns/Fun") & (F.col("route_key") == F.col("fun_key"))
        ).count()
        == keyed.count()
    )
    assert (
        create.filter(
            (F.col("route_name") == "ns/Fun-create") & F.col("route_key").isNull()
        ).count()
        == create.count()
    )
    # side outputs are disjoint filtered views
    routed = route_ingress(envelope_df)
    assert routed.filter(F.col("route_name") == "ns/Fun").count() == keyed.count()


def test_egress_decision_table(spark, envelope_df):
    routed = route_egress(envelope_df)
    n_reply = envelope_df.filter(F.col("reply").isNotNull()).count()
    n_flow = envelope_df.filter(
        F.col("reply").isNull() & (F.col("request") == "EventFlow")
    ).count()
    assert routed.filter(F.col("direction") == "CLIENT").count() == n_reply
    assert routed.filter(F.col("direction") == "INTERNAL").count() == n_flow
    assert (
        routed.filter(F.col("direction") == ERROR).count()
        == envelope_df.count() - n_reply - n_flow
    )


def test_per_event_routers_match_the_projections(spark, envelope_df):
    """The per-event routers the event loop runs (``ingress``,
    ``egress_topic``) and the Column projections are one decision table
    each: on every row, ERROR <=> None, EGRESS <=> the reply stamped
    from ``out_reply`` with the request cleared, and CLIENT / INTERNAL
    <=> the ``client_reply`` / ``internal`` topic."""
    cols = EVENT_ENVELOPE.fieldNames()
    rows = route_egress(
        route_ingress(envelope_df).withColumnsRenamed(
            {"direction": "in_direction", "route_name": "in_route_name"}
        )
    ).collect()
    assert len(rows) == 500
    seen = set()
    for r in rows:
        event = {c: r[c] for c in cols}
        routed = ingress(event)
        assert (routed is None) == (r.in_direction == ERROR), r
        if r.in_direction == "EGRESS":
            assert routed == {**event, "reply": r.out_reply, "request": None}, r
        elif r.in_direction == "INTERNAL":
            assert routed == event, r
        assert egress_topic(event) == {
            "CLIENT": "client_reply",
            "INTERNAL": "internal",
        }.get(r.direction), r
        seen.add((r.in_direction, r.direction))
    # every ingress outcome and every egress outcome occurs
    assert {d for d, _ in seen} == {"EGRESS", "INTERNAL", ERROR}
    assert {d for _, d in seen} == {"CLIENT", "INTERNAL", ERROR}
