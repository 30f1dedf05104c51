"""mmdarwin — enrich rows with scores from a Darwin filter socket.

Mirror of contrib/mmdarwin/mmdarwin.c (Advens' Darwin IDS scorer
client): for each message, extract the configured fields, frame them
in the Darwin body format, send a ``darwin_filter_packet_t`` header +
body over a ``AF_UNIX/SOCK_STREAM`` socket (openSocket,
mmdarwin.c:151-166), and read back a response packet whose
``certitude_list[0]`` is the score (doAction, mmdarwin.c:740-825).

Wire format (contrib/mmdarwin/protocol.h):

* header — C struct on LP64, little-endian, 56 bytes::

      enum  type;            // 4B  @0   DARWIN_PACKET_OTHER = 0
      enum  response;        // 4B  @4   no=0 back=1 darwin=2 both=3
      long  filter_code;     // 8B  @8
      size_t body_size;      // 8B  @16  includes the trailing NUL
      unsigned char evt_id[16];  //  @24
      size_t certitude_size; // 8B  @40
      unsigned int certitude_list[1];  // 4B @48 (+4B tail padding)

* body — ``[["v1","v2",...]]\\0`` built by add_field_to_body /
  end_body (mmdarwin.c:343-431). Values are copied RAW between the
  quotes (memcpy, no JSON escaping) — mirrored faithfully, quotes in
  field values corrupt the frame exactly like the reference.

Spark mapping (100 TB shape): each partition opens ONE persistent
connection (wrkrInstanceData socket reuse) and streams its rows
through it; ``socket_max_use`` rotates the connection after N packets
(mmdarwin.c:767-775). The open / send / close loop is the shared
per-row sender (:func:`rsyslog_spark.net.send_rows`); this module only
frames packets. No driver round-trips, no shuffle; the output schema
is input + certitude + uuid columns.

Divergences (documented):

* event UUIDs are DETERMINISTIC (UUIDv5-style over the body + row
  ordinal) instead of uuid_generate()'s random — Spark retries replay
  partitions, and a replayed row must re-send the same evt_id;
* a connection error fails the partition (Spark retries it) instead
  of the reference's action suspension.
"""

from __future__ import annotations

import struct
import uuid

import pandas as pd
from pyspark.sql import DataFrame

from rsyslog_spark.net import _recv_exact, send_rows

DARWIN_PACKET_OTHER = 0
DARWIN_PACKET_FILTER = 1
RESPONSE_TYPES = {"no": 0, "back": 1, "darwin": 2, "both": 3}

#: darwin_filter_packet_t on x86-64: 4+4+8+8+16+8+4+4(pad) = 56
_PACKET = struct.Struct("<iiqq16sqI4x")
PACKET_SIZE = _PACKET.size  # 56


def pack_packet(
    response: int,
    filter_code: int,
    body_size: int,
    evt_id: bytes,
    certitude: int = 0,
    certitude_size: int = 0,
    ptype: int = DARWIN_PACKET_OTHER,
) -> bytes:
    return _PACKET.pack(
        ptype, response, filter_code, body_size, evt_id,
        certitude_size, certitude,
    )


def unpack_packet(buf: bytes) -> dict:
    t, resp, fc, bs, evt, cs, cert = _PACKET.unpack(buf)
    return {
        "type": t, "response": resp, "filter_code": fc,
        "body_size": bs, "evt_id": evt, "certitude_size": cs,
        "certitude": cert,
    }


def darwin_body(values: list[str]) -> bytes:
    """add_field_to_body + end_body byte-for-byte: ``[["v1","v2"]]\\0``
    with RAW (unescaped) values between the quotes."""
    inner = ",".join('"' + v + '"' for v in values)
    return ("[[" + inner + "]]").encode("utf-8", "surrogateescape") + b"\0"


def _det_uuid(body: bytes, ordinal: int) -> uuid.UUID:
    """Deterministic evt_id (divergence note above): UUIDv5 over the
    frame body + partition ordinal in a fixed app namespace."""
    return uuid.uuid5(uuid.NAMESPACE_OID, f"{ordinal}:" + body.hex())


class _DarwinConn:
    """One partition's filter connection (wrkrInstanceData socket
    reuse): connects on the first packet sent, reconnects after
    ``max_use`` packets (socket_max_use, mmdarwin.c:767-775), and
    numbers the partition's rows for the deterministic evt_id."""

    def __init__(self, path: str, max_use: int) -> None:
        self.path = path
        self.max_use = max_use
        self.ordinal = 0
        self._sock = None
        self._n_sent = 0

    def socket(self):
        if self._sock is None:
            import socket as socketlib

            self._sock = socketlib.socket(
                socketlib.AF_UNIX, socketlib.SOCK_STREAM
            )
            self._sock.connect(self.path)
            self._n_sent = 0
        return self._sock

    def sent(self) -> None:
        """One packet went out (and its reply, if any, was read)."""
        self._n_sent += 1
        if self.max_use and self._n_sent >= self.max_use:
            self.close()

    def close(self) -> None:
        if self._sock is not None:
            self._sock.close()
            self._sock = None


def mmdarwin(
    df: DataFrame,
    socketpath: str,
    fields: list[str],
    key: str = "certitude",
    filtercode: int | str = 0,
    response: str = "back",
    send_partial: bool = False,
    socket_max_use: int = 0,
    uuid_key: str = "darwin_uuid",
    uuid_col: str | None = None,
) -> DataFrame:
    """Score rows through a live Darwin filter (mmdarwin.c doAction).

    ``fields`` are column names whose stringified values form the
    frame body in order (the reference's fieldList over the message
    JSON). A null field is a get_field miss: with
    ``send_partial=False`` the whole row is skipped (no send,
    certitude null), else the non-null prefix is sent
    (mmdarwin.c:753-757). ``filtercode`` accepts the int or the hex
    string form ("0x62616C66"). ``response`` ∈ no/back/darwin/both;
    only back/both read a response packet — no/darwin fire-and-forget
    (certitude null, mmdarwin.c:803-808). ``uuid_col`` reuses an
    existing UUID column (get_uuid_object) instead of deriving one.

    Returns the input plus ``key`` (long, null when skipped/no-reply)
    and ``uuid_key`` (string) columns."""
    if response not in RESPONSE_TYPES:
        raise ValueError(
            f"response must be one of {sorted(RESPONSE_TYPES)}"
        )
    resp_code = RESPONSE_TYPES[response]
    wants_reply = response in ("back", "both")
    fcode = (
        int(filtercode, 16)
        if isinstance(filtercode, str) else int(filtercode)
    )

    def send(conn: _DarwinConn, pdf: pd.DataFrame) -> dict:
        certs: list = []
        uuids: list = []
        field_cols = [pdf[f].tolist() for f in fields]
        uuid_vals = pdf[uuid_col].tolist() if uuid_col is not None else None
        for r in range(len(pdf)):
            ordinal = conn.ordinal
            conn.ordinal += 1
            vals = []
            missing = False
            for fc in field_cols:
                v = fc[r]
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    missing = True
                    continue
                vals.append(str(v))
            if not vals or (missing and not send_partial):
                certs.append(None)
                uuids.append(None)
                continue
            body = darwin_body(vals)
            if uuid_vals is not None:
                evt = uuid.UUID(str(uuid_vals[r]))
            else:
                evt = _det_uuid(body, ordinal)
            sock = conn.socket()
            sock.sendall(
                pack_packet(resp_code, fcode, len(body), evt.bytes) + body
            )
            if wants_reply:
                rp = unpack_packet(_recv_exact(sock, PACKET_SIZE))
                # protocol.h declares certitude_list as a flexible
                # array; a filter replying with certitude_size > 1
                # ships extra 4-byte certitudes BEYOND the fixed struct
                # — drain them so the persistent connection stays
                # frame-aligned (the reference would desync here)
                extra = max(0, rp["certitude_size"] - 1)
                if extra:
                    _recv_exact(sock, 4 * extra)
                certs.append(rp["certitude"])
            else:
                certs.append(None)
            uuids.append(str(evt))
            conn.sent()
        return {key: pd.array(certs, dtype="Int64"), uuid_key: uuids}

    return send_rows(
        df, lambda: _DarwinConn(socketpath, socket_max_use), send,
        f"`{key}` long, `{uuid_key}` string",
    )
