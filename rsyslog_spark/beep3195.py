"""im3195 — syslog over BEEP (RFC 3195 RAW profile).

The reference's plugins/im3195/im3195.c delegates the whole protocol
to liblogging (srAPI.h); here the protocol itself is implemented from
the PUBLIC RFCs — 3080 (BEEP core: frame syntax, channel 0 greeting /
start exchange), 3081 (TCP mapping: SEQ window frames), and 3195 §3
(the RAW profile: after channel start the COLLECTOR sends one MSG and
the device answers with a stream of ANS frames, one syslog message
per frame, closed by NUL). Obsolete in practice, but it is the last
reference input module with a specifiable wire format.

Frame syntax (RFC 3080 §2.2.1):

    header  = keyword SP channel SP msgno SP more SP seqno SP size
              [SP ansno] CRLF          ; keyword MSG/RPY/ERR/ANS/NUL
    payload = size octets
    trailer = "END" CRLF

plus the TCP mapping's ``SEQ channel ackno window CRLF`` frames.

Spark-first shape: the listener spools each ANS payload line
write-first (socket→spool→stream bridge, as for imtcp/imrelp/
imbeats); the parse stage downstream is the ordinary pipeline."""

from __future__ import annotations

import socket

from rsyslog_spark.net import _close_drained, _TcpListener

RAW_PROFILE_URI = "http://iana.org/beep/SYSLOG/RAW"
_BEEP_CT = b"Content-Type: application/beep+xml\r\n\r\n"


def beep_frame(
    keyword: str, channel: int, msgno: int, seqno: int,
    payload: bytes, more: bool = False, ansno: int | None = None,
) -> bytes:
    head = (
        f"{keyword} {channel} {msgno} {'*' if more else '.'} "
        f"{seqno} {len(payload)}"
    )
    if ansno is not None:
        head += f" {ansno}"
    return head.encode() + b"\r\n" + payload + b"END\r\n"


def seq_frame(channel: int, ackno: int, window: int = 65536) -> bytes:
    return f"SEQ {channel} {ackno} {window}\r\n".encode()


class BeepParser:
    """Incremental RFC 3080 frame parser (+ RFC 3081 SEQ frames).
    feed() → list of dicts: {kind: 'SEQ', channel, ackno, window} or
    {kind: keyword, channel, msgno, more, seqno, payload[, ansno]}."""

    def __init__(self, max_frame: int = 1 << 20) -> None:
        self.buf = b""
        self.max_frame = max_frame

    def feed(self, data: bytes) -> list[dict]:
        self.buf += data
        out = []
        while True:
            nl = self.buf.find(b"\r\n")
            if nl < 0:
                return out
            header = self.buf[:nl].decode("ascii", "strict")
            parts = header.split(" ")
            if parts[0] == "SEQ":
                if len(parts) != 4:
                    raise ValueError(f"beep: bad SEQ header {header!r}")
                self.buf = self.buf[nl + 2:]
                out.append({
                    "kind": "SEQ", "channel": int(parts[1]),
                    "ackno": int(parts[2]), "window": int(parts[3]),
                })
                continue
            if parts[0] not in ("MSG", "RPY", "ERR", "ANS", "NUL"):
                raise ValueError(f"beep: bad keyword in {header!r}")
            want_ans = parts[0] == "ANS"
            if len(parts) != (7 if want_ans else 6):
                raise ValueError(f"beep: bad header {header!r}")
            size = int(parts[5])
            if size > self.max_frame:
                raise ValueError(f"beep: frame size {size} over limit")
            total = nl + 2 + size + 5  # payload + END\r\n
            if len(self.buf) < total:
                return out
            payload = self.buf[nl + 2:nl + 2 + size]
            if self.buf[nl + 2 + size:total] != b"END\r\n":
                raise ValueError("beep: missing END trailer")
            self.buf = self.buf[total:]
            fr = {
                "kind": parts[0], "channel": int(parts[1]),
                "msgno": int(parts[2]), "more": parts[3] == "*",
                "seqno": int(parts[4]), "payload": payload,
            }
            if want_ans:
                fr["ansno"] = int(parts[6])
            out.append(fr)


class Im3195Listener(_TcpListener):
    """RFC 3195 RAW collector: greeting → channel start (RAW profile)
    → collector MSG → device ANS stream (one syslog message per
    frame, spooled write-first) → NUL completes the exchange;
    ``n_incomplete`` counts sessions that end before it (EOF, reset or
    ``close()``), so a lost tail shows. Accept, session threads and the
    per-session spool come from :class:`rsyslog_spark.net._TcpListener`."""

    spool_prefix = "beep"

    def __init__(self, spool_dir: str, host: str = "127.0.0.1",
                 port: int = 0) -> None:
        self.n_incomplete = 0
        super().__init__(spool_dir, host, port, rotate_every=10_000)

    n_messages = property(lambda self: self.n_received)

    def _session(self, conn: socket.socket, peer, spool) -> None:
        parser = BeepParser()
        greeting = _BEEP_CT + (
            f'<greeting><profile uri="{RAW_PROFILE_URI}"/>'
            "</greeting>"
        ).encode()
        conn.sendall(beep_frame("RPY", 0, 0, 0, greeting))
        seq0 = len(greeting)  # our next seqno on channel 0
        raw_channel = None
        seq_raw = 0
        for data in self._chunks(conn):
            for fr in parser.feed(data):
                if fr["kind"] == "SEQ":
                    continue
                if fr["kind"] == "MSG" and fr["channel"] == 0:
                    body = fr["payload"]
                    if (b"<start" not in body
                            or RAW_PROFILE_URI.encode() not in body):
                        err = _BEEP_CT + b'<error code="550"/>'
                        conn.sendall(beep_frame(
                            "ERR", 0, fr["msgno"], seq0, err))
                        seq0 += len(err)
                        continue
                    num = body.split(b'number="', 1)[1]
                    raw_channel = int(num.split(b'"', 1)[0])
                    ok = _BEEP_CT + (
                        f'<profile uri="{RAW_PROFILE_URI}"/>'
                    ).encode()
                    conn.sendall(beep_frame(
                        "RPY", 0, fr["msgno"], seq0, ok))
                    seq0 += len(ok)
                    # RAW §3.3: the collector opens with MSG 0
                    hello = b"collector ready"
                    conn.sendall(beep_frame(
                        "MSG", raw_channel, 0, seq_raw, hello))
                    seq_raw += len(hello)
                elif (fr["kind"] == "ANS"
                        and fr["channel"] == raw_channel):
                    # one syslog message per ANS payload
                    spool.write(fr["payload"])
                    self._count()
                    try:
                        # window update is advisory — the peer may
                        # already have sent NUL and closed
                        conn.sendall(seq_frame(
                            raw_channel,
                            fr["seqno"] + len(fr["payload"]),
                        ))
                    except OSError:
                        pass
                elif (fr["kind"] == "NUL"
                        and fr["channel"] == raw_channel):
                    return  # exchange complete
        with self._lock:  # EOF, reset or close() before NUL
            self.n_incomplete += 1


def send_3195_raw(host: str, port: int, msgs: list[bytes],
                  channel: int = 1) -> int:
    """Device/relay side of the RAW dialog (the liblogging sender
    analog, for tests and loopback delivery): greeting exchange,
    channel start, then one ANS per message answering the collector's
    MSG, closed with NUL, then a drained close
    (:func:`rsyslog_spark.net._close_drained`), since the collector's
    SEQ frames are still unread. Returns the number of messages
    sent."""
    parser = BeepParser()
    with socket.create_connection((host, port)) as s:
        seq0 = 0
        frames: list[dict] = []

        def wait_for(kind: str, ch: int) -> dict:
            while True:
                for i, fr in enumerate(frames):
                    if fr["kind"] == kind and fr["channel"] == ch:
                        return frames.pop(i)
                data = s.recv(65536)
                if not data:
                    raise ConnectionError("beep: peer closed")
                frames.extend(
                    fr for fr in parser.feed(data)
                    if fr["kind"] != "SEQ"
                )

        wait_for("RPY", 0)  # greeting
        start = _BEEP_CT + (
            f'<start number="{channel}">'
            f'<profile uri="{RAW_PROFILE_URI}"/></start>'
        ).encode()
        s.sendall(beep_frame("MSG", 0, 1, seq0, start))
        seq0 += len(start)
        rpy = wait_for("RPY", 0)
        if b"<profile" not in rpy["payload"]:
            raise ValueError(f"beep: start refused: {rpy['payload']!r}")
        collector_msg = wait_for("MSG", channel)
        seq = 0
        for i, m in enumerate(msgs):
            s.sendall(beep_frame(
                "ANS", channel, collector_msg["msgno"], seq, m,
                ansno=i,
            ))
            seq += len(m)
        s.sendall(beep_frame(
            "NUL", channel, collector_msg["msgno"], seq, b""))
        _close_drained(s)
    return len(msgs)
