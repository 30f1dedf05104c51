"""imbeats — Elastic Beats / Lumberjack v2 wire protocol.

The reference's plugins/imbeats (imbeats.c + lj_parser.c) implements
the Lumberjack v2 protocol (the public elastic/go-lumber spec):

- every frame starts ``'2'`` (version) + a type byte;
- ``2W`` + uint32 window size opens a batch (the sender promises that
  many events before expecting an ACK);
- ``2J`` + uint32 seq + uint32 len + payload carries one JSON event;
- ``2C`` + uint32 len + zlib payload wraps a run of ``2J`` frames
  (nested ``2C`` is invalid — lj_parser.c:217-222);
- the receiver answers ``2A`` + uint32 seq of the LAST event once the
  whole window has been received, validated, and durably handled
  (imbeats.c sessionPrepareAck:817-833).

Validation mirrors the reference exactly:

- the batch is validated AS A WHOLE before anything is submitted
  (imbeats.c sessionValidateBatch:789-815): sequence numbers must be
  exactly lastAckedSeq+idx+1 with uint32 wraparound (seqnum.h:28-35),
  and every payload must parse as ONE JSON OBJECT with nothing but
  trailing whitespace after it (parseJsonEvent:635-660);
- zero-length / over-limit frames are rejected; decompression is
  capped by max_compression_ratio × payload_len AND
  max_decompressed_size (zip-bomb guard, lj_parser.c:230+); an empty
  or non-advancing compressed frame is malformed.

Spark-first shape: the socket is NOT a replayable source, so the
listener spools each acked batch as NDJSON (write-THEN-ack, the same
durability ordering the reference gets from submitting into the main
queue before ACKing) and Structured Streaming tails the spool — the
same socket→spool→stream bridge as imtcp/imrelp. Each spooled line
carries the event under ``event`` and the reference's
``$!metadata!imbeats`` fields under ``metadata``.
"""

from __future__ import annotations

import json
import struct
import zlib

from pyspark.sql import Column, functions as F

from rsyslog_spark.net import _TcpListener

_V2 = ord("2")
_W, _J, _C, _A = ord("W"), ord("J"), ord("C"), ord("A")


# ---------------------------------------------------------------------------
# client-side frame construction (the beats/go-lumber sender shape)
# ---------------------------------------------------------------------------


def lumberjack_window(
    events: list[dict | bytes], seq_start: int = 1, compress: bool = False
) -> bytes:
    """One complete window: ``2W`` header + per-event ``2J`` frames,
    optionally wrapped in a single ``2C`` deflate frame. ``seq_start``
    must be lastAcked+1 for the receiving side to accept."""
    frames = b""
    for i, ev in enumerate(events):
        payload = (
            ev if isinstance(ev, bytes)
            else json.dumps(ev, separators=(",", ":")).encode()
        )
        frames += (
            bytes([_V2, _J])
            + struct.pack(">II", (seq_start + i) & 0xFFFFFFFF, len(payload))
            + payload
        )
    if compress:
        z = zlib.compress(frames)
        frames = bytes([_V2, _C]) + struct.pack(">I", len(z)) + z
    return bytes([_V2, _W]) + struct.pack(">I", len(events)) + frames


def parse_ack(buf: bytes) -> int:
    if len(buf) != 6 or buf[0] != _V2 or buf[1] != _A:
        raise ValueError("not a lumberjack v2 ACK")
    return struct.unpack(">I", buf[2:])[0]


# ---------------------------------------------------------------------------
# receiver state machine
# ---------------------------------------------------------------------------


class LumberjackError(ValueError):
    """Protocol violation — the reference aborts the session
    (ABORT_FINALIZE(RS_RET_INVALID_VALUE))."""


class LumberjackParser:
    """Incremental v2 receiver: feed() bytes, collect completed
    batches and the ACK bytes to send for each. State machine mirrors
    imbeats.c sessionProcess (window hdr → window size → frame hdr →
    json seq/len/payload | comp len/payload → validate+ack)."""

    def __init__(
        self,
        max_window_size: int = 4096,
        max_frame_size: int = 1 << 20,
        max_decompressed_size: int = 8 << 20,
        max_compression_ratio: int = 100,
    ) -> None:
        self.max_window_size = max_window_size
        self.max_frame_size = max_frame_size
        self.max_decompressed_size = max_decompressed_size
        self.max_compression_ratio = max_compression_ratio
        self.last_acked_seq = 0
        self._buf = b""
        self._window: int | None = None
        self._events: list[tuple[int, bytes]] = []

    # -- wire helpers ------------------------------------------------------

    def _take(self, n: int) -> bytes | None:
        if len(self._buf) < n:
            return None
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def feed(self, data: bytes) -> list[tuple[list[dict], bytes]]:
        """Returns [(validated_events, ack_bytes)] for every window
        completed by this chunk. Raises LumberjackError on protocol
        violations (caller closes the session, as the reference does)."""
        self._buf += data
        out = []
        while True:
            if self._window is None:
                hdr = self._take(6)
                if hdr is None:
                    return out
                if hdr[0] != _V2 or hdr[1] != _W:
                    raise LumberjackError("expected 2W window frame")
                size = struct.unpack(">I", hdr[2:])[0]
                if size == 0 or size > self.max_window_size:
                    raise LumberjackError(f"window size {size} rejected")
                self._window, self._events = size, []
                continue
            frame = self._parse_one_frame()
            if frame is None:
                return out
            if len(self._events) == self._window:
                batch = self._validate_batch()
                last = self._events[-1][0]
                ack = bytes([_V2, _A]) + struct.pack(">I", last)
                self.last_acked_seq = last
                self._window, self._events = None, []
                out.append((batch, ack))

    def _parse_one_frame(self) -> bool | None:
        if len(self._buf) < 2:
            return None
        ver, typ = self._buf[0], self._buf[1]
        if ver != _V2:
            raise LumberjackError(f"bad version byte {ver}")
        if typ == _J:
            if len(self._buf) < 10:
                return None
            seq, plen = struct.unpack(">II", self._buf[2:10])
            if plen == 0 or plen > self.max_frame_size:
                raise LumberjackError(f"json frame len {plen} rejected")
            if len(self._buf) < 10 + plen:
                return None
            payload = self._buf[10:10 + plen]
            self._buf = self._buf[10 + plen:]
            self._append(seq, payload)
            return True
        if typ == _C:
            if len(self._buf) < 6:
                return None
            plen = struct.unpack(">I", self._buf[2:6])[0]
            if plen == 0 or plen > self.max_frame_size:
                raise LumberjackError(f"compressed len {plen} rejected")
            if len(self._buf) < 6 + plen:
                return None
            blob = self._buf[6:6 + plen]
            self._buf = self._buf[6 + plen:]
            self._inflate_frames(blob)
            return True
        raise LumberjackError(f"unexpected frame type {chr(typ)!r}")

    def _append(self, seq: int, payload: bytes) -> None:
        assert self._window is not None
        if len(self._events) >= self._window:
            raise LumberjackError("more frames than the window promised")
        self._events.append((seq, payload))

    def _inflate_frames(self, blob: bytes) -> None:
        """2C body: inflate under the expansion caps, then parse the
        plain frames — JSON only, nested 2C invalid, trailing bytes
        invalid, no-progress payload invalid (lj_parser.c:200-364)."""
        limit = min(
            len(blob) * self.max_compression_ratio,
            self.max_decompressed_size,
        )
        d = zlib.decompressobj()
        try:
            buf = d.decompress(blob, limit)
        except zlib.error as e:
            raise LumberjackError(f"zlib: {e}") from e
        if d.unconsumed_tail:
            raise LumberjackError("decompressed size over limit")
        if not d.eof or d.unused_data:
            raise LumberjackError("trailing or truncated deflate stream")
        if not buf:
            raise LumberjackError("empty deflate stream")
        before = len(self._events)
        off = 0
        while off < len(buf):
            if len(buf) - off < 2 or buf[off] != _V2:
                raise LumberjackError("bad inner frame header")
            typ = buf[off + 1]
            if typ != _J:  # nested 2C (or anything else) is invalid
                raise LumberjackError(
                    f"inner frame type {chr(typ)!r} invalid"
                )
            if len(buf) - off < 10:
                raise LumberjackError("truncated inner frame")
            seq, plen = struct.unpack(">II", buf[off + 2:off + 10])
            off += 10
            if plen == 0 or plen > self.max_frame_size \
                    or plen > len(buf) - off:
                raise LumberjackError("inner frame length invalid")
            self._append(seq, buf[off:off + plen])
            off += plen
        if len(self._events) == before:
            raise LumberjackError("compressed frame advanced nothing")

    def _validate_batch(self) -> list[dict]:
        """Whole-batch validation BEFORE anything is acked: strict
        consecutive sequence numbers (uint32 wrap) and one-JSON-object
        payloads with only trailing whitespace allowed."""
        parsed = []
        for idx, (seq, payload) in enumerate(self._events):
            expected = (self.last_acked_seq + idx + 1) & 0xFFFFFFFF
            if seq != expected:
                raise LumberjackError(
                    f"seq {seq} at index {idx}, expected {expected}"
                )
            try:
                text = payload.decode("utf-8")
                obj, end = json.JSONDecoder().raw_decode(text)
            except (ValueError, UnicodeDecodeError) as e:
                raise LumberjackError(f"event JSON: {e}") from e
            if text[end:].strip():
                raise LumberjackError("trailing bytes after event JSON")
            if not isinstance(obj, dict):
                raise LumberjackError("event is not a JSON object")
            parsed.append({"seq": seq, "event": obj, "raw": payload})
        return parsed


# ---------------------------------------------------------------------------
# listener: socket → spool → stream bridge
# ---------------------------------------------------------------------------


class BeatsListener(_TcpListener):
    """Accept Beats connections, ACK each window only after its batch
    is durably spooled (write-then-ack — the reference submits into
    the main queue before preparing the ACK). Accept, session threads
    and the per-session spool come from
    :class:`rsyslog_spark.net._TcpListener`. Spool lines are NDJSON
    ``{"event": ..., "metadata": {...}}`` with the reference's
    $!metadata!imbeats fields (protocol, sequence, peer_ip,
    peer_port)."""

    spool_prefix = "beats"

    def __init__(self, spool_dir: str, host: str = "127.0.0.1",
                 port: int = 0, rotate_every: int = 10_000,
                 **parser_opts) -> None:
        self.parser_opts = parser_opts
        self.n_batches = 0
        super().__init__(spool_dir, host, port, rotate_every)

    n_events = property(lambda self: self.n_received)

    def _session(self, conn, peer, spool) -> None:
        parser = LumberjackParser(**self.parser_opts)
        for data in self._chunks(conn):
            try:
                done = parser.feed(data)
            except LumberjackError:
                return  # the reference aborts the session
            for batch, ack in done:
                for ev in batch:
                    spool.write(json.dumps({
                        "event": ev["event"],
                        "metadata": {
                            "protocol": "lumberjack-v2",
                            "sequence": ev["seq"],
                            "peer_ip": peer[0],
                            "peer_port": str(peer[1]),
                        },
                    }, separators=(",", ":")).encode())
                spool.sync()
                conn.sendall(ack)  # ack AFTER the durable write
                with self._lock:
                    self.n_batches += 1
                self._count(len(batch))


def beats_spool_columns(line: Column) -> list[Column]:
    """Project a spooled NDJSON line into the pipeline's columns:
    the event tree (``$!``-equivalent), the message field most Beats
    producers populate, and the imbeats metadata."""
    return [
        F.get_json_object(line, "$.event").alias("beats_event"),
        F.get_json_object(line, "$.event.message").alias("msg"),
        F.get_json_object(line, "$.metadata.sequence")
         .cast("long").alias("beats_seq"),
        F.get_json_object(line, "$.metadata.peer_ip").alias("peer_ip"),
        F.get_json_object(line, "$.metadata.protocol").alias("protocol"),
    ]
