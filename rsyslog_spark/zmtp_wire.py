"""ZMTP 3.0 wire protocol + omczmq / imczmq seams.

Hand-rolled from the PUBLIC ZMTP 3.0 specification
(rfc.zeromq.org/spec/23): 64-byte greeting, NULL-mechanism READY
handshake with Socket-Type metadata, short/long data frames with the
MORE/LONG/COMMAND flag bits. No libzmq in the sandbox, so both peer
roles are implemented and round-tripped in tests.

Reference semantics: contrib/omczmq/omczmq.c:214-300 (PUB topics —
separate topic frame when topicFrame, else prefix-concatenated; PUSH
plain sends) and contrib/imczmq/imczmq.c:236-280 (SUB topic filters,
zero-length topic subscribes to everything; PULL collects).
"""

from __future__ import annotations

import socket
import struct

from pyspark.sql import DataFrame

from rsyslog_spark.net import _recv_exact, send_partitions

FLAG_MORE, FLAG_LONG, FLAG_COMMAND = 0x01, 0x02, 0x04


# ---------------------------------------------------------------------------
# greeting + handshake (spec: greeting = signature, version,
# mechanism, as-server, filler)
# ---------------------------------------------------------------------------

def greeting(as_server: bool = False) -> bytes:
    return (
        b"\xff" + b"\x00" * 8 + b"\x7f"      # signature
        + bytes([3, 0])                       # version 3.0
        + b"NULL" + b"\x00" * 16              # mechanism, 20 bytes
        + bytes([1 if as_server else 0])
        + b"\x00" * 31                        # filler
    )


def send_frame(
    sock: socket.socket, body: bytes, more: bool = False,
    command: bool = False,
) -> None:
    flags = (FLAG_MORE if more else 0) | (FLAG_COMMAND if command else 0)
    if len(body) > 255:
        sock.sendall(
            bytes([flags | FLAG_LONG]) + struct.pack(">Q", len(body)) + body
        )
    else:
        sock.sendall(bytes([flags, len(body)]) + body)


def recv_frame(sock: socket.socket, buf: bytearray):
    """One frame → (flags, body)."""
    while True:
        if len(buf) >= 2:
            flags = buf[0]
            if flags & FLAG_LONG:
                if len(buf) >= 9:
                    (size,) = struct.unpack_from(">Q", buf, 1)
                    if len(buf) >= 9 + size:
                        body = bytes(buf[9:9 + size])
                        del buf[:9 + size]
                        return flags, body
            else:
                size = buf[1]
                if len(buf) >= 2 + size:
                    body = bytes(buf[2:2 + size])
                    del buf[:2 + size]
                    return flags, body
        chunk = sock.recv(65536)
        if not chunk:
            raise ConnectionError("zmtp peer closed mid-frame")
        buf.extend(chunk)


def ready_command(socket_type: str, **metadata: str) -> bytes:
    body = b"\x05READY"
    meta = {"Socket-Type": socket_type, **metadata}
    for k, v in meta.items():
        kb, vb = k.encode(), v.encode()
        body += bytes([len(kb)]) + kb + struct.pack(">I", len(vb)) + vb
    return body


def parse_ready(body: bytes) -> dict[str, str]:
    nlen = body[0]
    name = body[1:1 + nlen].decode()
    if name != "READY":
        raise ValueError(f"expected READY, got {name!r}")
    pos = 1 + nlen
    out: dict[str, str] = {}
    while pos < len(body):
        klen = body[pos]
        k = body[pos + 1:pos + 1 + klen].decode()
        pos += 1 + klen
        (vlen,) = struct.unpack_from(">I", body, pos)
        out[k] = body[pos + 4:pos + 4 + vlen].decode()
        pos += 4 + vlen
    return out


class ZmtpSocket:
    """One ZMTP 3.0 NULL-mechanism peer over an existing TCP socket.
    ``connect()``/``accept()`` run greeting + READY exchange and
    check socket-type compatibility (PUSH↔PULL, PUB↔SUB)."""

    _COMPAT = {
        "PUSH": {"PULL"}, "PULL": {"PUSH"},
        "PUB": {"SUB"}, "SUB": {"PUB"},
        "PAIR": {"PAIR"},
    }

    def __init__(self, sock: socket.socket, socket_type: str,
                 as_server: bool = False):
        self.sock = sock
        self.buf = bytearray()
        self.socket_type = socket_type
        self.subscriptions: list[bytes] = []
        sock.sendall(greeting(as_server))
        g = _recv_exact(sock, 64)
        if g[0] != 0xFF or g[9] != 0x7F:
            raise ValueError("bad ZMTP signature")
        mech = g[12:32].rstrip(b"\x00").decode()
        if mech != "NULL":
            raise ValueError(f"only NULL mechanism supported, got {mech}")
        send_frame(sock, ready_command(socket_type), command=True)
        flags, body = recv_frame(sock, self.buf)
        if not flags & FLAG_COMMAND:
            raise ValueError("expected READY command")
        self.peer_meta = parse_ready(body)
        peer_type = self.peer_meta.get("Socket-Type", "")
        if peer_type not in self._COMPAT.get(socket_type, set()):
            raise ValueError(
                f"socket types incompatible: {socket_type} vs {peer_type}"
            )

    def send_multipart(self, parts: list[bytes]) -> None:
        for p in parts[:-1]:
            send_frame(self.sock, p, more=True)
        send_frame(self.sock, parts[-1])

    def recv_multipart(self) -> list[bytes]:
        parts: list[bytes] = []
        while True:
            flags, body = recv_frame(self.sock, self.buf)
            if flags & FLAG_COMMAND:
                if body[:10] == b"\x09SUBSCRIBE":
                    self.subscriptions.append(body[10:])
                continue
            parts.append(body)
            if not flags & FLAG_MORE:
                return parts

    def close(self) -> None:
        self.sock.close()


# ---------------------------------------------------------------------------
# omczmq / imczmq
# ---------------------------------------------------------------------------

def omczmq_parts(
    message: str,
    socket_type: str = "PUSH",
    topic: str | None = None,
    topic_frame: bool = True,
) -> list[bytes]:
    """omczmq's send shaping (omczmq.c:240-265): PUB with topicFrame
    sends [topic, message]; PUB without concatenates topic+message in
    ONE frame; PUSH ignores topics."""
    if socket_type == "PUB" and topic is not None:
        if topic_frame:
            return [topic.encode(), message.encode()]
        return [(topic + message).encode()]
    return [message.encode()]


def omczmq_deliver(
    df: DataFrame,
    host: str,
    port: int,
    value_col: str = "value",
    socket_type: str = "PUSH",
    topic: str | None = None,
    topic_col: str | None = None,
    topic_frame: bool = True,
) -> DataFrame:
    """Executor-side delivery: one ZMTP connection per partition
    (:func:`rsyslog_spark.net.partition_sender`), multipart sends
    shaped per omczmq. dynaTopic maps to ``topic_col`` (per-row
    template result, omczmq.c:251)."""

    def open_conn() -> ZmtpSocket:
        return ZmtpSocket(
            socket.create_connection((host, port), timeout=10), socket_type
        )

    def send(z: ZmtpSocket, pdf) -> tuple[int]:
        topics = pdf[topic_col].tolist() if topic_col else [topic] * len(pdf)
        for v, t in zip(pdf[value_col].tolist(), topics):
            z.send_multipart(omczmq_parts(
                v, socket_type=socket_type, topic=t, topic_frame=topic_frame,
            ))
        return (len(pdf),)

    return send_partitions(df, open_conn, send, "n_sent long")


def imczmq_pull(
    spark,
    listener: socket.socket,
    socket_type: str = "PULL",
    max_messages: int = 1000,
    topics: list[str] | None = None,
) -> DataFrame:
    """imczmq's PULL/SUB ingest: accept one peer, collect up to
    ``max_messages`` multipart messages into a DataFrame. SUB-type
    filtering applies the topic prefixes (imczmq.c:261-280 — a
    zero-length topic matches everything); topic-frame messages keep
    (topic, msg), single-frame keep ('' topic)."""
    conn, _ = listener.accept()
    z = ZmtpSocket(conn, socket_type, as_server=True)
    prefixes = [t.encode() for t in (topics or [])]
    rows: list[tuple[str, str]] = []
    try:
        while len(rows) < max_messages:
            parts = z.recv_multipart()
            if len(parts) >= 2:
                t, m = parts[0], b"".join(parts[1:])
            else:
                t, m = b"", parts[0]
            if socket_type == "SUB" and prefixes:
                probe = t if t else m
                if not any(
                    p == b"" or probe.startswith(p) for p in prefixes
                ):
                    continue
            rows.append(
                (t.decode("utf-8", "replace"),
                 m.decode("utf-8", "replace"))
            )
    except ConnectionError:
        pass  # peer done
    finally:
        z.close()
    return spark.createDataFrame(
        rows or [], "topic string, value string"
    ) if rows else spark.createDataFrame([], "topic string, value string")
