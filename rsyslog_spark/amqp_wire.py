"""AMQP 0-9-1 wire protocol + omrabbitmq delivery.

Hand-rolled from the PUBLIC AMQP 0-9-1 specification (amqp.org,
section 4.2 framing / section 1 class grammar) — the sandbox has no
broker or client library, so framing, the connection handshake
(Start/Tune/Open), channel open, exchange declare and Basic.Publish
(method + content header + body frames) are implemented directly and
exercised against a loopback mini-broker in tests.

Reference semantics: contrib/omrabbitmq/omrabbitmq.c — fixed or
templated routing key, optional exchange declaration, and
populate_properties mapping (timestamp + app_id from the syslog TAG
+ content_type + delivery_mode, omrabbitmq.c:833-913).
"""

from __future__ import annotations

import socket
import struct

from pyspark.sql import DataFrame

from rsyslog_spark.net import send_partitions

FRAME_METHOD, FRAME_HEADER, FRAME_BODY, FRAME_HEARTBEAT = 1, 2, 3, 8
FRAME_END = 0xCE

CONNECTION, CHANNEL, EXCHANGE, BASIC = 10, 20, 40, 60
CONN_START, CONN_START_OK, CONN_TUNE, CONN_TUNE_OK = 10, 11, 30, 31
CONN_OPEN, CONN_OPEN_OK = 40, 41
CHAN_OPEN, CHAN_OPEN_OK = 10, 11
EXCH_DECLARE, EXCH_DECLARE_OK = 10, 11
BASIC_PUBLISH = 40

# content-header property-flag bits (spec section 1.8.1, MSB-first)
FLAG_CONTENT_TYPE = 1 << 15
FLAG_HEADERS = 1 << 13
FLAG_DELIVERY_MODE = 1 << 12
FLAG_TIMESTAMP = 1 << 6
FLAG_APP_ID = 1 << 3


# ---------------------------------------------------------------------------
# field encodings (spec 4.2.5)
# ---------------------------------------------------------------------------

def shortstr(s: str) -> bytes:
    b = s.encode("utf-8")
    if len(b) > 255:
        raise ValueError("shortstr > 255 bytes")
    return bytes([len(b)]) + b


def longstr(b: bytes | str) -> bytes:
    if isinstance(b, str):
        b = b.encode("utf-8")
    return struct.pack(">I", len(b)) + b


def field_table(d: dict) -> bytes:
    body = b""
    for k, v in d.items():
        body += shortstr(k)
        if isinstance(v, bool):
            body += b"t" + bytes([int(v)])
        elif isinstance(v, int):
            body += b"l" + struct.pack(">q", v)
        elif isinstance(v, dict):
            body += b"F" + field_table(v)
        else:
            body += b"S" + longstr(v)
    return longstr(body)


def parse_field_table(buf: bytes, pos: int) -> tuple[dict, int]:
    (n,) = struct.unpack_from(">I", buf, pos)
    pos += 4
    end = pos + n
    out: dict = {}
    while pos < end:
        klen = buf[pos]
        key = buf[pos + 1:pos + 1 + klen].decode("utf-8")
        pos += 1 + klen
        t = buf[pos:pos + 1]
        pos += 1
        if t == b"t":
            out[key] = bool(buf[pos]); pos += 1
        elif t == b"l":
            (out[key],) = struct.unpack_from(">q", buf, pos); pos += 8
        elif t == b"F":
            out[key], pos = parse_field_table(buf, pos)
        elif t == b"S":
            (sl,) = struct.unpack_from(">I", buf, pos)
            out[key] = buf[pos + 4:pos + 4 + sl].decode("utf-8")
            pos += 4 + sl
        else:
            raise ValueError(f"field type {t!r} unsupported")
    return out, pos


# ---------------------------------------------------------------------------
# framing
# ---------------------------------------------------------------------------

def frame(ftype: int, channel: int, payload: bytes) -> bytes:
    return (
        struct.pack(">BHI", ftype, channel, len(payload))
        + payload
        + bytes([FRAME_END])
    )


def method_frame(
    channel: int, class_id: int, method_id: int, args: bytes = b""
) -> bytes:
    return frame(
        FRAME_METHOD, channel, struct.pack(">HH", class_id, method_id) + args
    )


def read_frame(sock: socket.socket, buf: bytearray):
    """One frame → (type, channel, payload)."""
    while True:
        if len(buf) >= 7:
            ftype, channel, size = struct.unpack_from(">BHI", buf, 0)
            if len(buf) >= 7 + size + 1:
                payload = bytes(buf[7:7 + size])
                if buf[7 + size] != FRAME_END:
                    raise ValueError("missing AMQP frame-end octet")
                del buf[:7 + size + 1]
                return ftype, channel, payload
        chunk = sock.recv(65536)
        if not chunk:
            raise ConnectionError("amqp peer closed mid-frame")
        buf.extend(chunk)


def expect_method(sock, buf, class_id, method_id) -> bytes:
    while True:
        ftype, _ch, payload = read_frame(sock, buf)
        if ftype == FRAME_HEARTBEAT:
            continue
        if ftype != FRAME_METHOD:
            raise ValueError(f"expected method frame, got type {ftype}")
        cid, mid = struct.unpack_from(">HH", payload, 0)
        if (cid, mid) != (class_id, method_id):
            raise ValueError(
                f"expected method {class_id}.{method_id}, got {cid}.{mid}"
            )
        return payload[4:]


# ---------------------------------------------------------------------------
# client (connection handshake + publish)
# ---------------------------------------------------------------------------

class AmqpPublisher:
    """Minimal 0-9-1 publisher: PLAIN auth handshake, channel 1,
    optional exchange declaration, Basic.Publish with content header
    properties — the omrabbitmq connection lifecycle."""

    def __init__(
        self,
        host: str,
        port: int = 5672,
        user: str = "guest",
        password: str = "guest",
        vhost: str = "/",
        exchange_declare: tuple[str, str] | None = None,
    ):
        self.sock = socket.create_connection((host, port), timeout=10.0)
        self.buf = bytearray()
        self.sock.sendall(b"AMQP\x00\x00\x09\x01")
        expect_method(self.sock, self.buf, CONNECTION, CONN_START)
        props = field_table({"product": "rsyslog_spark"})
        start_ok = (
            props
            + shortstr("PLAIN")
            + longstr(b"\x00" + user.encode() + b"\x00" + password.encode())
            + shortstr("en_US")
        )
        self.sock.sendall(
            method_frame(0, CONNECTION, CONN_START_OK, start_ok)
        )
        tune = expect_method(self.sock, self.buf, CONNECTION, CONN_TUNE)
        chan_max, frame_max, heartbeat = struct.unpack_from(">HIH", tune, 0)
        self.frame_max = frame_max or 131072
        self.sock.sendall(
            method_frame(
                0, CONNECTION, CONN_TUNE_OK,
                struct.pack(">HIH", chan_max, self.frame_max, 0),
            )
        )
        self.sock.sendall(
            method_frame(
                0, CONNECTION, CONN_OPEN,
                shortstr(vhost) + shortstr("") + b"\x00",
            )
        )
        expect_method(self.sock, self.buf, CONNECTION, CONN_OPEN_OK)
        self.sock.sendall(
            method_frame(1, CHANNEL, CHAN_OPEN, shortstr(""))
        )
        expect_method(self.sock, self.buf, CHANNEL, CHAN_OPEN_OK)
        if exchange_declare is not None:
            name, etype = exchange_declare
            args = (
                struct.pack(">H", 0) + shortstr(name) + shortstr(etype)
                + b"\x02"  # durable, not passive/auto-delete/internal
                + field_table({})
            )
            self.sock.sendall(
                method_frame(1, EXCHANGE, EXCH_DECLARE, args)
            )
            expect_method(self.sock, self.buf, EXCHANGE, EXCH_DECLARE_OK)

    def publish(
        self,
        body: bytes | str,
        exchange: str = "",
        routing_key: str = "",
        content_type: str | None = None,
        delivery_mode: int | None = None,
        timestamp: int | None = None,
        app_id: str | None = None,
        headers: dict | None = None,
    ) -> None:
        if isinstance(body, str):
            body = body.encode("utf-8")
        self.sock.sendall(
            method_frame(
                1, BASIC, BASIC_PUBLISH,
                struct.pack(">H", 0) + shortstr(exchange)
                + shortstr(routing_key) + b"\x00",
            )
        )
        flags = 0
        props = b""
        if content_type is not None:
            flags |= FLAG_CONTENT_TYPE
            props += shortstr(content_type)
        if headers:
            flags |= FLAG_HEADERS
            props += field_table(headers)
        if delivery_mode is not None:
            flags |= FLAG_DELIVERY_MODE
            props += bytes([delivery_mode])
        if timestamp is not None:
            flags |= FLAG_TIMESTAMP
            props += struct.pack(">Q", timestamp)
        if app_id is not None:
            flags |= FLAG_APP_ID
            props += shortstr(app_id)
        header = (
            struct.pack(">HHQH", BASIC, 0, len(body), flags) + props
        )
        self.sock.sendall(frame(FRAME_HEADER, 1, header))
        limit = self.frame_max - 8
        if body:
            for i in range(0, len(body), limit):
                self.sock.sendall(frame(FRAME_BODY, 1, body[i:i + limit]))
        # zero-length content: header's body-size 0 says it all — the
        # spec sends no body frame (4.2.6)

    def close(self) -> None:
        self.sock.close()


def omrabbitmq_deliver(
    df: DataFrame,
    host: str,
    port: int,
    exchange: str = "",
    routing_key: str | None = "rsyslog",
    routing_key_col: str | None = None,
    value_col: str = "value",
    user: str = "guest",
    password: str = "guest",
    vhost: str = "/",
    content_type: str | None = None,
    delivery_mode: int = 1,
    populate_properties: bool = False,
    tag_col: str = "syslogtag",
    ts_col: str | None = None,
    exchange_declare: tuple[str, str] | None = None,
) -> DataFrame:
    """omrabbitmq's doAction: one AMQP connection per partition
    (:func:`rsyslog_spark.net.partition_sender`), Basic.Publish per
    message with fixed or per-row routing key; populate_properties
    maps the syslog TAG to app_id and the message time to the
    timestamp property (omrabbitmq.c:879-913)."""
    import pandas as pd

    def open_conn() -> AmqpPublisher:
        return AmqpPublisher(
            host, port, user=user, password=password,
            vhost=vhost, exchange_declare=exchange_declare,
        )

    def send(pub: AmqpPublisher, pdf: pd.DataFrame) -> tuple[int]:
        rks = (
            pdf[routing_key_col].tolist()
            if routing_key_col else [routing_key] * len(pdf)
        )
        tags = (
            pdf[tag_col].tolist()
            if populate_properties and tag_col in pdf.columns
            else [None] * len(pdf)
        )
        tss = (
            pdf[ts_col].tolist()
            if populate_properties and ts_col else [None] * len(pdf)
        )
        for v, rk, tag, ts in zip(pdf[value_col].tolist(), rks, tags, tss):
            pub.publish(
                v, exchange=exchange, routing_key=rk or "",
                content_type=content_type,
                delivery_mode=(
                    delivery_mode if populate_properties
                    or content_type else None
                ),
                timestamp=(
                    int(pd.Timestamp(ts).timestamp())
                    if ts is not None else None
                ),
                app_id=tag if tag is not None else None,
            )
        return (len(pdf),)

    return send_partitions(df, open_conn, send, "n_sent long")
