"""Protobuf wire codec for the reference Event envelope (ref R2/R12).

The reference moves every event over Kafka as proto3 bytes:
``KafkaDeserializeProto.java:11-13`` (``Event.parseFrom``) on the way in,
``KafkaSerializeProto.java:24-30`` (``event.toByteString()``) on the way
out, with the message shapes in ``event.proto:49-58`` (Event),
``:1-12`` (FunctionType/FunctionAddress), ``:44-47`` (EventFlowNode) and
``:77-81`` (EventRequestReply, the lambda-invocation envelope).

This container has neither ``protoc`` nor the ``google.protobuf``
runtime, and Spark's protobuf functions (``pyspark.sql.protobuf``) need a
compiled descriptor set — so the codec below implements the (public, stable)
proto3 wire format directly: varints, tag = (field_number << 3) | wire
type, length-delimited submessages.  That is ~100 lines for the four
message shapes, gives bytes→Event→bytes identity against any conformant
proto3 serializer that writes fields in field-number order (protobuf-java
does), and needs no codegen.

Spark surface: none here.  ``sources.kafka.encode_frames`` /
``decode_frames`` and ``streaming.flow.hop_frames`` call
:func:`encode_event` / :func:`decode_event` per record inside one
``mapInPandas`` stage each, where Spark's protobuf functions would
sit in the plan.

Canonical flat-envelope conventions (proto3 semantics):
  * absent scalar fields decode to proto3 defaults ("" / False / b"");
  * the ``oneof event_type`` discriminator decodes to the enum *name* in
    exactly one of ``request`` / ``reply`` — the other is None; an unset
    oneof leaves both None (proto3 oneof tracks presence even for 0);
  * encoders elide default values, mirroring canonical proto3 output.
"""

from __future__ import annotations

from collections.abc import Iterator

from ..schemas import REPLIES, REQUESTS

# wire types (proto3 encoding spec)
_VARINT = 0
_LEN = 2


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def _put_varint(out: bytearray, n: int) -> None:
    if n < 0:
        raise ValueError("negative varint not used by these messages")
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _put_tag(out: bytearray, field: int, wire: int) -> None:
    _put_varint(out, (field << 3) | wire)


def _put_len(out: bytearray, field: int, payload: bytes) -> None:
    _put_tag(out, field, _LEN)
    _put_varint(out, len(payload))
    out += payload


def _put_str(out: bytearray, field: int, s: str | None) -> None:
    if s:
        _put_len(out, field, s.encode("utf-8"))


def _put_enum(out: bytearray, field: int, n: int) -> None:
    _put_tag(out, field, _VARINT)
    _put_varint(out, n)


def _fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Iterate (field_number, wire_type, value) over a message; skips
    unknown wire types it can still frame (varint / length-delimited /
    fixed32 / fixed64)."""
    i = 0
    n = len(buf)
    while i < n:
        tag, i = _read_varint(buf, i)
        field, wire = tag >> 3, tag & 0x7
        if wire == _VARINT:
            val, i = _read_varint(buf, i)
        elif wire == _LEN:
            ln, i = _read_varint(buf, i)
            val = buf[i : i + ln]
            if len(val) != ln:
                raise ValueError("truncated length-delimited field")
            i += ln
        elif wire == 5:  # fixed32
            val = int.from_bytes(buf[i : i + 4], "little")
            i += 4
        elif wire == 1:  # fixed64
            val = int.from_bytes(buf[i : i + 8], "little")
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


# ---------------------------------------------------------------------------
# message codecs (field numbers per event.proto)
# ---------------------------------------------------------------------------


def _encode_fun_address(ns: str | None, name: str | None, stateful, key: str | None) -> bytes:
    ft = bytearray()
    _put_str(ft, 1, ns)
    _put_str(ft, 2, name)
    if stateful:
        _put_enum(ft, 3, 1)
    out = bytearray()
    if ft:
        _put_len(out, 1, bytes(ft))
    _put_str(out, 2, key)
    return bytes(out)


def _decode_fun_address(buf: bytes) -> tuple[str, str, bool, str]:
    ns = name = key = ""
    stateful = False
    for field, _, val in _fields(buf):
        if field == 1:  # FunctionType
            for f2, _, v2 in _fields(val):
                if f2 == 1:
                    ns = v2.decode("utf-8")
                elif f2 == 2:
                    name = v2.decode("utf-8")
                elif f2 == 3:
                    stateful = bool(v2)
        elif field == 2:
            key = val.decode("utf-8")
    return ns, name, stateful, key


def encode_event(ev: dict) -> bytes:
    """Flat EVENT_ENVELOPE dict -> Event wire bytes (event.proto:49-58)."""
    out = bytearray()
    _put_str(out, 1, ev.get("event_id"))
    fa = _encode_fun_address(
        ev.get("fun_namespace"), ev.get("fun_name"), ev.get("fun_stateful"), ev.get("fun_key")
    )
    if fa:
        _put_len(out, 2, fa)
    req, rep = ev.get("request"), ev.get("reply")
    if req is not None:
        _put_enum(out, 3, REQUESTS.index(req))
    elif rep is not None:
        _put_enum(out, 4, REPLIES.index(rep))
    payload = ev.get("payload")
    if payload:
        _put_len(out, 5, bytes(payload))
    cur = bytearray()
    cfa = _encode_fun_address(
        ev.get("current_fun_namespace"),
        ev.get("current_fun_name"),
        False,
        ev.get("current_fun_key"),
    )
    if cfa:
        _put_len(cur, 5, cfa)  # EventFlowNode.current_fun = 5
    _put_str(cur, 6, ev.get("current_node_type"))  # EventFlowNode.current_node_type = 6
    if cur:
        _put_len(out, 6, bytes(cur))
    return bytes(out)


def decode_event(buf: bytes) -> dict:
    """Event wire bytes -> flat EVENT_ENVELOPE dict (proto3 defaults)."""
    ev: dict = {
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
    for field, _, val in _fields(buf):
        if field == 1:
            ev["event_id"] = val.decode("utf-8")
        elif field == 2:
            ns, name, st, key = _decode_fun_address(val)
            ev.update(fun_namespace=ns, fun_name=name, fun_stateful=st, fun_key=key)
        elif field == 3:  # oneof: last one wins (proto3)
            ev["request"] = REQUESTS[val] if 0 <= val < len(REQUESTS) else None
            ev["reply"] = None
        elif field == 4:
            ev["reply"] = REPLIES[val] if 0 <= val < len(REPLIES) else None
            ev["request"] = None
        elif field == 5:
            ev["payload"] = bytes(val)
        elif field == 6:
            for f2, _, v2 in _fields(val):
                if f2 == 5:
                    ns, name, _, key = _decode_fun_address(v2)
                    ev.update(
                        current_fun_namespace=ns,
                        current_fun_name=name,
                        current_fun_key=key,
                    )
                elif f2 == 6:
                    ev["current_node_type"] = v2.decode("utf-8")
    return ev


def encode_event_request_reply(event: dict | None, state: bytes, operator_name: str) -> bytes:
    """EventRequestReply (event.proto:77-81) — the lambda-invocation
    envelope: InvokeStatefulLambda.java:79-84 builds it with the current
    event + opaque state blob + operator name."""
    out = bytearray()
    if event is not None:
        _put_len(out, 1, encode_event(event))
    if state:
        _put_len(out, 2, bytes(state))
    _put_str(out, 3, operator_name)
    return bytes(out)


def decode_event_request_reply(buf: bytes) -> tuple[dict | None, bytes, str]:
    event = None
    state = b""
    operator_name = ""
    for field, _, val in _fields(buf):
        if field == 1:
            event = decode_event(val)
        elif field == 2:
            state = bytes(val)
        elif field == 3:
            operator_name = val.decode("utf-8")
    return event, state, operator_name

