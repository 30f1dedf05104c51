"""AMQP 1.0 wire protocol + omamqp1 / omazureeventhubs message shapes.

Hand-rolled from the PUBLIC OASIS AMQP 1.0 specification
(docs.oasis-open.org/amqp/core/v1.0): the typed primitive encoding
(§1.6), described types (§1.2), the bare-message sections (§3.2),
and the transport performatives open/begin/attach/flow/transfer/
disposition/close (§2.7) with the 4-byte-size/DOFF frame header
(§2.3.1). The sandbox has no proton library or broker, so the
encoder AND decoder are implemented directly and exercised against a
loopback mini-broker in tests.

Reference semantics carried over:

- contrib/omamqp1/omamqp1.c — the message body is an AMQP-value
  section: a LIST of strings in batch mode (beginTransaction puts a
  list, each message appends one string, omamqp1.c:251-281) or a
  single string otherwise;
- plugins/omazureeventhubs/omazureeventhubs.c
  proton_encode_message():297-338 — content-type
  ``application/octet-stream``, creation-time, inferred, a string
  message-id, optional application-properties (string→string map),
  and the payload as ONE binary in the body (inferred ⇒ a data
  section).

Spark-first shape: messages are rendered/encoded executor-side per
partition; the delivery link is a per-partition resource opened and
closed by :func:`rsyslog_spark.net.partition_sender`.
"""

from __future__ import annotations

import socket
import struct
from typing import Any

from rsyslog_spark.net import _close_drained, send_partitions

# §1.6 primitive format codes
_NULL, _TRUE, _FALSE, _BOOL = 0x40, 0x41, 0x42, 0x56
_UINT0, _SMALLUINT, _UINT = 0x43, 0x52, 0x70
_ULONG0, _SMALLULONG, _ULONG = 0x44, 0x53, 0x80
_SMALLINT, _INT, _SMALLLONG, _LONG = 0x54, 0x71, 0x55, 0x81
_TIMESTAMP = 0x83
_VBIN8, _VBIN32 = 0xA0, 0xB0
_STR8, _STR32 = 0xA1, 0xB1
_SYM8, _SYM32 = 0xA3, 0xB3
_LIST0, _LIST8, _LIST32 = 0x45, 0xC0, 0xD0
_MAP8, _MAP32 = 0xC1, 0xD1
_DESCRIBED = 0x00

# §3.2 message-section descriptors / §2.7 performative descriptors
HEADER, DELIVERY_ANN, MESSAGE_ANN = 0x70, 0x71, 0x72
PROPERTIES, APP_PROPERTIES = 0x73, 0x74
DATA, AMQP_SEQUENCE, AMQP_VALUE, FOOTER = 0x75, 0x76, 0x77, 0x78
P_OPEN, P_BEGIN, P_ATTACH, P_FLOW = 0x10, 0x11, 0x12, 0x13
P_TRANSFER, P_DISPOSITION, P_DETACH = 0x14, 0x15, 0x16
P_END, P_CLOSE = 0x17, 0x18
D_ACCEPTED = 0x24

PROTO_HEADER = b"AMQP\x00\x01\x00\x00"


class Described:
    """A described value: numeric (ulong) descriptor + described."""

    __slots__ = ("descriptor", "value")

    def __init__(self, descriptor: int, value: Any):
        self.descriptor = descriptor
        self.value = value

    def __eq__(self, other):
        return (
            isinstance(other, Described)
            and other.descriptor == self.descriptor
            and other.value == self.value
        )

    def __repr__(self):
        return f"Described(0x{self.descriptor:02x}, {self.value!r})"


class Symbol(str):
    """AMQP symbol (ASCII token) — distinct from string on the wire."""


class Binary(bytes):
    """Tag for vbin encoding (plain str encodes as utf8 string)."""


class Timestamp(int):
    """Milliseconds since the epoch (§1.6.18, 64-bit signed)."""


def encode_value(v: Any) -> bytes:
    """One AMQP 1.0 typed value (§1.6 encodings, canonical sizes)."""
    if isinstance(v, Described):
        return (
            bytes([_DESCRIBED])
            + encode_value(_ulong(v.descriptor))
            + encode_value(v.value)
        )
    if v is None:
        return bytes([_NULL])
    if isinstance(v, bool):
        return bytes([_TRUE if v else _FALSE])
    if isinstance(v, Timestamp):
        return bytes([_TIMESTAMP]) + struct.pack(">q", int(v))
    if isinstance(v, Symbol):
        b = v.encode("ascii")
        if len(b) < 256:
            return bytes([_SYM8, len(b)]) + b
        return bytes([_SYM32]) + struct.pack(">I", len(b)) + b
    if isinstance(v, _U):
        return _enc_uint_family(int(v), v.kind)
    if isinstance(v, int):
        if -128 <= v <= 127:
            return bytes([_SMALLLONG]) + struct.pack(">b", v)
        return bytes([_LONG]) + struct.pack(">q", v)
    if isinstance(v, (Binary, bytes, bytearray)):
        b = bytes(v)
        if len(b) < 256:
            return bytes([_VBIN8, len(b)]) + b
        return bytes([_VBIN32]) + struct.pack(">I", len(b)) + b
    if isinstance(v, str):
        b = v.encode("utf-8")
        if len(b) < 256:
            return bytes([_STR8, len(b)]) + b
        return bytes([_STR32]) + struct.pack(">I", len(b)) + b
    if isinstance(v, (list, tuple)):
        if not v:
            return bytes([_LIST0])
        body = b"".join(encode_value(x) for x in v)
        return _compound(_LIST8, _LIST32, len(v), body)
    if isinstance(v, dict):
        body = b"".join(
            encode_value(k) + encode_value(val) for k, val in v.items()
        )
        return _compound(_MAP8, _MAP32, 2 * len(v), body)
    raise TypeError(f"amqp1 encode: unsupported {type(v).__name__}")


class _U(int):
    kind = "uint"


class UInt(_U):
    kind = "uint"


class ULong(_U):
    kind = "ulong"


def _ulong(n: int) -> "ULong":
    return ULong(n)


def _enc_uint_family(n: int, kind: str) -> bytes:
    if n < 0:
        raise ValueError("unsigned value below zero")
    if kind == "uint":
        if n == 0:
            return bytes([_UINT0])
        if n < 256:
            return bytes([_SMALLUINT, n])
        return bytes([_UINT]) + struct.pack(">I", n)
    if n == 0:
        return bytes([_ULONG0])
    if n < 256:
        return bytes([_SMALLULONG, n])
    return bytes([_ULONG]) + struct.pack(">Q", n)


def _compound(code8: int, code32: int, count: int, body: bytes) -> bytes:
    if len(body) + 1 < 256 and count < 256:
        return bytes([code8, len(body) + 1, count]) + body
    return (
        bytes([code32])
        + struct.pack(">II", len(body) + 4, count)
        + body
    )


def decode_value(buf: bytes, off: int = 0) -> tuple[Any, int]:
    """Inverse of :func:`encode_value`; returns (value, next_off)."""
    code = buf[off]
    off += 1
    if code == _DESCRIBED:
        desc, off = decode_value(buf, off)
        val, off = decode_value(buf, off)
        return Described(int(desc), val), off
    if code == _NULL:
        return None, off
    if code == _TRUE:
        return True, off
    if code == _FALSE:
        return False, off
    if code == _BOOL:
        return buf[off] != 0, off + 1
    if code == _UINT0:
        return UInt(0), off
    if code == _SMALLUINT:
        return UInt(buf[off]), off + 1
    if code == _UINT:
        return UInt(struct.unpack_from(">I", buf, off)[0]), off + 4
    if code == _ULONG0:
        return ULong(0), off
    if code == _SMALLULONG:
        return ULong(buf[off]), off + 1
    if code == _ULONG:
        return ULong(struct.unpack_from(">Q", buf, off)[0]), off + 8
    if code == _SMALLINT:
        return struct.unpack_from(">b", buf, off)[0], off + 1
    if code == _INT:
        return struct.unpack_from(">i", buf, off)[0], off + 4
    if code == _SMALLLONG:
        return struct.unpack_from(">b", buf, off)[0], off + 1
    if code == _LONG:
        return struct.unpack_from(">q", buf, off)[0], off + 8
    if code == _TIMESTAMP:
        return Timestamp(struct.unpack_from(">q", buf, off)[0]), off + 8
    if code in (_VBIN8, _STR8, _SYM8):
        n = buf[off]
        off += 1
        raw = buf[off:off + n]
        off += n
        if code == _VBIN8:
            return Binary(raw), off
        if code == _SYM8:
            return Symbol(raw.decode("ascii")), off
        return raw.decode("utf-8"), off
    if code in (_VBIN32, _STR32, _SYM32):
        n = struct.unpack_from(">I", buf, off)[0]
        off += 4
        raw = buf[off:off + n]
        off += n
        if code == _VBIN32:
            return Binary(raw), off
        if code == _SYM32:
            return Symbol(raw.decode("ascii")), off
        return raw.decode("utf-8"), off
    if code == _LIST0:
        return [], off
    if code in (_LIST8, _LIST32, _MAP8, _MAP32):
        if code in (_LIST8, _MAP8):
            count = buf[off + 1]
            body_end = off + 1 + buf[off]
            off += 2
        else:
            size, count = struct.unpack_from(">II", buf, off)
            body_end = off + 4 + size
            off += 8
        items = []
        while off < body_end:
            v, off = decode_value(buf, off)
            items.append(v)
        if len(items) != count:
            raise ValueError("amqp1 decode: compound count mismatch")
        if code in (_MAP8, _MAP32):
            return dict(zip(items[0::2], items[1::2])), off
        return items, off
    raise ValueError(f"amqp1 decode: unsupported code 0x{code:02x}")


# ---------------------------------------------------------------------------
# bare message (§3.2) — the omamqp1 / omazureeventhubs shapes
# ---------------------------------------------------------------------------


def message_properties(
    message_id: str | None = None,
    content_type: str | None = None,
    creation_time: int | None = None,
) -> Described:
    """Properties section list (§3.2.4, fields in spec order)."""
    fields: list[Any] = [
        message_id, None, None, None, None, None,
        Symbol(content_type) if content_type else None,
        None, None,
        Timestamp(creation_time) if creation_time is not None else None,
    ]
    while fields and fields[-1] is None:
        fields.pop()
    return Described(PROPERTIES, fields)


def omamqp1_message(msgs: list[str]) -> bytes:
    """omamqp1 body shape (omamqp1.c:251-281): an amqp-value section
    holding the LIST of template-rendered strings (batch mode; a
    1-element list is the non-batch degenerate form the broker sees
    identically)."""
    return encode_value(Described(AMQP_VALUE, list(msgs)))


def omazure_message(
    payload: bytes,
    message_id: str,
    creation_time_ms: int,
    event_properties: dict[str, str] | None = None,
) -> bytes:
    """omazureeventhubs message (proton_encode_message:297-338):
    properties (string message-id, content-type
    application/octet-stream, creation-time) + optional
    application-properties (string→string) + the payload as one DATA
    section (inferred + binary body)."""
    out = encode_value(message_properties(
        message_id, "application/octet-stream", creation_time_ms
    ))
    if event_properties:
        out += encode_value(Described(
            APP_PROPERTIES, dict(event_properties)
        ))
    out += encode_value(Described(DATA, Binary(payload)))
    return out


def decode_message(buf: bytes) -> dict[str, Any]:
    """Split an encoded bare message into its sections."""
    out: dict[str, Any] = {}
    names = {
        HEADER: "header", DELIVERY_ANN: "delivery_annotations",
        MESSAGE_ANN: "message_annotations", PROPERTIES: "properties",
        APP_PROPERTIES: "application_properties", DATA: "data",
        AMQP_SEQUENCE: "amqp_sequence", AMQP_VALUE: "amqp_value",
        FOOTER: "footer",
    }
    off = 0
    while off < len(buf):
        v, off = decode_value(buf, off)
        if not isinstance(v, Described) or v.descriptor not in names:
            raise ValueError("amqp1: not a message section")
        out[names[v.descriptor]] = v.value
    return out


# ---------------------------------------------------------------------------
# transport framing + performatives (§2.3.1, §2.7)
# ---------------------------------------------------------------------------


def frame(channel: int, performative: Described,
          payload: bytes = b"") -> bytes:
    body = encode_value(performative) + payload
    return struct.pack(">IBBH", 8 + len(body), 2, 0, channel) + body


def read_frame(sock: socket.socket, buf: bytearray):
    """→ (channel, performative, payload) or None on EOF."""
    while len(buf) < 8:
        data = sock.recv(65536)
        if not data:
            return None
        buf += data
    size = struct.unpack_from(">I", buf, 0)[0]
    while len(buf) < size:
        data = sock.recv(65536)
        if not data:
            return None
        buf += data
    doff = buf[4]
    body = bytes(buf[doff * 4:size])
    channel = struct.unpack_from(">H", buf, 6)[0]
    del buf[:size]
    if not body:  # empty frame = keepalive
        return channel, None, b""
    perf, off = decode_value(body, 0)
    return channel, perf, body[off:]


def _open(container_id: str) -> Described:
    return Described(P_OPEN, [container_id])


def _begin(next_out: int = 0, in_window: int = 2048,
           out_window: int = 2048) -> Described:
    return Described(
        P_BEGIN, [None, UInt(next_out), UInt(in_window), UInt(out_window)]
    )


def _attach(name: str, handle: int, role_receiver: bool,
            source: str, target: str) -> Described:
    # source/target as their described list types (0x28/0x29)
    return Described(P_ATTACH, [
        name, UInt(handle), role_receiver,
        None, None,
        Described(0x28, [source]), Described(0x29, [target]),
    ])


def _flow(next_in: int, in_window: int, next_out: int, out_window: int,
          handle: int | None = None, credit: int | None = None) -> Described:
    fields: list[Any] = [
        UInt(next_in), UInt(in_window), UInt(next_out), UInt(out_window)
    ]
    if handle is not None:
        fields += [UInt(handle), UInt(0), UInt(credit or 0)]
    return Described(P_FLOW, fields)


def _transfer(handle: int, delivery_id: int, tag: bytes,
              settled: bool = False) -> Described:
    return Described(P_TRANSFER, [
        UInt(handle), UInt(delivery_id), Binary(tag), UInt(0), settled,
    ])


def _disposition(first: int, settled: bool = True) -> Described:
    return Described(P_DISPOSITION, [
        True, UInt(first), UInt(first), settled,
        Described(D_ACCEPTED, []),
    ])


class Amqp1Sender:
    """Minimal sending endpoint: protocol header exchange, open,
    begin, attach (sender role), wait for flow credit, then settled-
    by-disposition transfers — the same conversation proton runs for
    omamqp1/omazureeventhubs. One instance per partition at scale."""

    def __init__(self, host: str, port: int,
                 container_id: str = "rsyslog-spark",
                 target: str = "amq.topic") -> None:
        self.sock = socket.create_connection((host, port))
        self.buf = bytearray()
        self.sock.sendall(PROTO_HEADER)
        hdr = self._recv_exact(8)
        if hdr != PROTO_HEADER:
            raise ValueError(f"amqp1: bad protocol header {hdr!r}")
        self.sock.sendall(frame(0, _open(container_id)))
        self._expect(P_OPEN)
        self.sock.sendall(frame(0, _begin()))
        self._expect(P_BEGIN)
        self.sock.sendall(frame(
            0, _attach("rsyslog-spark-link", 0, False, "", target)
        ))
        self._expect(P_ATTACH)
        flow = self._expect(P_FLOW)
        self.credit = int(flow.value[6]) if len(flow.value) > 6 else 0
        self.delivery_id = 0
        self.unsettled: set[int] = set()

    def _recv_exact(self, n: int) -> bytes:
        while len(self.buf) < n:
            data = self.sock.recv(65536)
            if not data:
                raise ConnectionError("amqp1: peer closed")
            self.buf += data
        out = bytes(self.buf[:n])
        del self.buf[:n]
        return out

    def _next(self):
        got = read_frame(self.sock, self.buf)
        if got is None:
            raise ConnectionError("amqp1: peer closed")
        return got

    def _expect(self, descriptor: int) -> Described:
        while True:
            _, perf, _ = self._next()
            if perf is None:
                continue
            if perf.descriptor == descriptor:
                return perf
            if perf.descriptor == P_CLOSE:
                raise ConnectionError(f"amqp1: peer closed: {perf.value}")

    def send_message(self, encoded: bytes) -> int:
        """One transfer; blocks until the broker's accepting
        disposition settles it (omamqp1's commit semantics)."""
        if self.credit <= 0:
            flow = self._expect(P_FLOW)
            self.credit = int(flow.value[6])
        did = self.delivery_id
        self.delivery_id += 1
        self.credit -= 1
        tag = struct.pack(">I", did)
        self.sock.sendall(frame(0, _transfer(0, did, tag), encoded))
        self.unsettled.add(did)
        while did in self.unsettled:
            _, perf, _ = self._next()
            if perf is None:
                continue
            if perf.descriptor == P_DISPOSITION:
                first = int(perf.value[1])
                last = int(perf.value[2]) if len(perf.value) > 2 and \
                    perf.value[2] is not None else first
                state = perf.value[4] if len(perf.value) > 4 else None
                if not (isinstance(state, Described)
                        and state.descriptor == D_ACCEPTED):
                    raise ValueError(f"amqp1: delivery rejected: {state}")
                for d in range(first, last + 1):
                    self.unsettled.discard(d)
            elif perf.descriptor == P_FLOW and len(perf.value) > 6:
                self.credit = int(perf.value[6])
        return did

    def close(self) -> None:
        try:
            self.sock.sendall(frame(0, Described(P_CLOSE, [])))
        except OSError:
            pass
        _close_drained(self.sock)  # its close and flow frames sit unread


def omamqp1_deliver(
    df,
    host: str,
    port: int,
    target: str = "amq.topic",
    value_col: str = "value",
    batch_size: int | None = None,
    container_id: str = "rsyslog-spark",
):
    """omamqp1's doAction/commitTransaction: one AMQP 1.0 link per
    partition (:func:`rsyslog_spark.net.partition_sender`); in batch
    mode (omamqp1.c beginTransaction:251-256) every ``batch_size``
    rendered lines travel as ONE message whose body is the amqp-value
    LIST, settled by the broker's accepting disposition before the
    next send; ``batch_size=None`` sends 1-element lists (the
    non-batch form). Returns a DataFrame of per-partition delivery
    counts."""

    def open_conn() -> Amqp1Sender:
        sender = Amqp1Sender(
            host, port, container_id=container_id, target=target
        )
        sender.pending = []  # lines of the open batch message
        return sender

    def flush(sender: Amqp1Sender) -> tuple[int, int]:
        if not sender.pending:
            return 0, 0
        sender.send_message(omamqp1_message(sender.pending))
        n_lines = len(sender.pending)
        sender.pending = []
        return 1, n_lines

    def send(sender: Amqp1Sender, pdf) -> tuple[int, int]:
        n_msgs = n_lines = 0
        for v in pdf[value_col].tolist():
            sender.pending.append(str(v))
            if batch_size is None or len(sender.pending) >= (
                batch_size or 1
            ):
                m, k = flush(sender)
                n_msgs, n_lines = n_msgs + m, n_lines + k
        return n_msgs, n_lines

    return send_partitions(
        df, open_conn, send, "n_messages long, n_lines long", finish=flush
    )
