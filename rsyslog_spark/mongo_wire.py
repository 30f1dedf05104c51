"""ommongodb — BSON + MongoDB OP_MSG wire protocol.

Hand-rolled from the PUBLIC specs (bsonspec.org; MongoDB wire
protocol OP_MSG, opcode 2013) — the sandbox has no mongo server or
client library, so document encoding, the insert command, and reply
parsing are implemented directly and exercised against a loopback
mini-mongod in tests.

Reference semantics (plugins/ommongodb/ommongodb.c):

- default document (getDefaultBSON:274-360): _id ObjectId, sys,
  time / time_rcvd as UTC-datetime milliseconds, msg, syslog_fac /
  syslog_sever int32, syslog_tag, procid, pid, and the lumberjack
  ``level`` string (getLumberjackLevel:243-262);
- template mode (BSONAppendJSONObject:368-420): null/bool/double
  pass through, ints narrow to int32 when they fit (else int64),
  nested objects recurse, ARRAYS ARE APPENDED AS DOCUMENTS with
  numeric keys (the reference calls BSON_APPEND_DOCUMENT on the
  array conversion — mirrored, documented quirk), and a string field
  named exactly ``date`` or ``time`` is parsed to a UTC datetime —
  an unparsable one is DROPPED from the document (the C falls out of
  the case without appending);
- one insert per batch via the ``insert`` command (the modern
  equivalent of the deprecated mongoc_collection_insert call path).

Spark-first shape: documents are encoded executor-side per partition;
the socket is a per-partition resource opened and closed by
:func:`rsyslog_spark.net.partition_sender`.
"""

from __future__ import annotations

import datetime as _dt
import socket
import struct
from typing import Any

from rsyslog_spark.net import send_partitions

OP_MSG = 2013


class ObjectId(bytes):
    """12-byte BSON ObjectId. The reference generates one per message
    (bson_oid_init); pass ``oid_fn`` for deterministic tests."""

    def __new__(cls, raw: bytes):
        if len(raw) != 12:
            raise ValueError("ObjectId must be 12 bytes")
        return super().__new__(cls, raw)


class UTCDateTime(int):
    """BSON UTC datetime: milliseconds since the epoch (type 0x09)."""


class Int64(int):
    """Force int64 encoding regardless of magnitude."""


def _cstring(s: str) -> bytes:
    b = s.encode("utf-8")
    if b"\x00" in b:
        raise ValueError("BSON element name contains NUL")
    return b + b"\x00"


def _parse_iso_ms(s: str) -> int | None:
    """ommongodbParseIsoDateMs analog: ISO8601 → epoch ms, else None."""
    try:
        txt = s.strip()
        if txt.endswith("Z"):
            txt = txt[:-1] + "+00:00"
        dt = _dt.datetime.fromisoformat(txt)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        return int(dt.timestamp() * 1000)
    except ValueError:
        return None


def encode_document(doc: dict[str, Any]) -> bytes:
    """One BSON document with the reference's type dispatch."""
    body = b""
    for name, v in doc.items():
        body += _encode_element(name, v)
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


def _encode_element(name: str, v: Any) -> bytes:
    n = _cstring(name)
    if v is None:
        return b"\x0a" + n
    if isinstance(v, bool):
        return b"\x08" + n + (b"\x01" if v else b"\x00")
    if isinstance(v, ObjectId):
        return b"\x07" + n + bytes(v)
    if isinstance(v, UTCDateTime):
        return b"\x09" + n + struct.pack("<q", int(v))
    if isinstance(v, Int64):
        return b"\x12" + n + struct.pack("<q", int(v))
    if isinstance(v, float):
        return b"\x01" + n + struct.pack("<d", v)
    if isinstance(v, int):
        if -(1 << 31) <= v < (1 << 31):
            return b"\x10" + n + struct.pack("<i", v)
        return b"\x12" + n + struct.pack("<q", v)
    if isinstance(v, str):
        # getDefaultBSON appends plain strings; the TEMPLATE path's
        # date/time special case lives in template_doc() below
        b = v.encode("utf-8")
        return b"\x02" + n + struct.pack("<i", len(b) + 1) + b + b"\x00"
    if isinstance(v, (bytes, bytearray)):
        return (
            b"\x05" + n + struct.pack("<i", len(v)) + b"\x00" + bytes(v)
        )
    if isinstance(v, dict):
        return b"\x03" + n + encode_document(v)
    if isinstance(v, (list, tuple)):
        sub = {str(i): x for i, x in enumerate(v)}
        # true BSON arrays are type 0x04; exposed for wire users
        return b"\x04" + n + encode_document(sub)
    raise TypeError(f"bson: unsupported {type(v).__name__} for {name!r}")


def decode_document(buf: bytes, off: int = 0) -> tuple[dict, int]:
    total = struct.unpack_from("<i", buf, off)[0]
    end = off + total - 1  # position of the trailing NUL
    off += 4
    out: dict[str, Any] = {}
    while off < end:
        t = buf[off]
        off += 1
        nul = buf.index(b"\x00", off)
        name = buf[off:nul].decode("utf-8")
        off = nul + 1
        if t == 0x0A:
            out[name] = None
        elif t == 0x08:
            out[name] = buf[off] != 0
            off += 1
        elif t == 0x07:
            out[name] = ObjectId(buf[off:off + 12])
            off += 12
        elif t == 0x09:
            out[name] = UTCDateTime(struct.unpack_from("<q", buf, off)[0])
            off += 8
        elif t == 0x01:
            out[name] = struct.unpack_from("<d", buf, off)[0]
            off += 8
        elif t == 0x10:
            out[name] = struct.unpack_from("<i", buf, off)[0]
            off += 4
        elif t == 0x12:
            out[name] = Int64(struct.unpack_from("<q", buf, off)[0])
            off += 8
        elif t == 0x02:
            slen = struct.unpack_from("<i", buf, off)[0]
            out[name] = buf[off + 4:off + 4 + slen - 1].decode("utf-8")
            off += 4 + slen
        elif t == 0x05:
            blen = struct.unpack_from("<i", buf, off)[0]
            out[name] = bytes(buf[off + 5:off + 5 + blen])
            off += 5 + blen
        elif t in (0x03, 0x04):
            sub, off = decode_document(buf, off)
            out[name] = list(sub.values()) if t == 0x04 else sub
        else:
            raise ValueError(f"bson: unsupported type 0x{t:02x}")
    if buf[end] != 0:
        raise ValueError("bson: missing document terminator")
    return out, end + 1


# ---------------------------------------------------------------------------
# reference document shapes
# ---------------------------------------------------------------------------

def lumberjack_level(severity: int) -> str:
    """getLumberjackLevel (ommongodb.c:243-262)."""
    if severity == 0:
        return "FATAL"
    if severity in (1, 2, 3):
        return "ERROR"
    if severity == 4:
        return "WARN"
    if severity in (5, 6):
        return "INFO"
    if severity == 7:
        return "DEBUG"
    return "INVLD"


def default_doc(
    oid: ObjectId,
    hostname: str,
    ts_ms: int,
    ts_rcvd_ms: int,
    msg: str,
    facility: int,
    severity: int,
    syslogtag: str,
    programname: str,
    procid: str,
) -> dict[str, Any]:
    """getDefaultBSON (ommongodb.c:274-360) field-for-field: note the
    reference's naming — ``procid`` carries PROGRAMNAME and ``pid``
    carries PROCID (the lumberjack-era mapping, kept for backward
    compatibility as the code comment says)."""
    return {
        "_id": oid,
        "sys": hostname,
        "time": UTCDateTime(ts_ms),
        "time_rcvd": UTCDateTime(ts_rcvd_ms),
        "msg": msg,
        "syslog_fac": int(facility),
        "syslog_sever": int(severity),
        "syslog_tag": syslogtag,
        "procid": programname,
        "pid": procid,
        "level": lumberjack_level(int(severity)),
    }


def template_doc(obj: Any) -> Any:
    """BSONAppendJSONObject (ommongodb.c:368-420) over a parsed JSON
    template: ints narrow naturally (encode_document handles it),
    ARRAYS become documents with numeric keys (the reference's
    BSON_APPEND_DOCUMENT quirk), and string fields named exactly
    ``date``/``time`` parse to UTC datetimes — unparsable ones are
    DROPPED (the C appends nothing on that path)."""
    if isinstance(obj, dict):
        out = {}
        for k, v in obj.items():
            if k in ("date", "time") and isinstance(v, str):
                ms = _parse_iso_ms(v)
                if ms is None:
                    continue  # dropped, as in the reference
                out[k] = UTCDateTime(ms)
            else:
                out[k] = template_doc(v)
        return out
    if isinstance(obj, list):
        return {str(i): template_doc(v) for i, v in enumerate(obj)}
    return obj


# ---------------------------------------------------------------------------
# OP_MSG framing
# ---------------------------------------------------------------------------


def op_msg(request_id: int, body: dict[str, Any],
           response_to: int = 0, flags: int = 0) -> bytes:
    payload = struct.pack("<I", flags) + b"\x00" + encode_document(body)
    return struct.pack(
        "<iiii", 16 + len(payload), request_id, response_to, OP_MSG
    ) + payload


def read_op_msg(sock: socket.socket, buf: bytearray):
    """→ (request_id, response_to, flags, body_doc) or None on EOF."""
    while len(buf) < 16:
        data = sock.recv(65536)
        if not data:
            return None
        buf += data
    mlen, req, resp, opcode = struct.unpack_from("<iiii", buf, 0)
    if opcode != OP_MSG:
        raise ValueError(f"mongo: unexpected opcode {opcode}")
    while len(buf) < mlen:
        data = sock.recv(65536)
        if not data:
            return None
        buf += data
    flags = struct.unpack_from("<I", buf, 16)[0]
    off = 20
    body = None
    extra_docs: dict[str, list] = {}
    while off < mlen:
        kind = buf[off]
        off += 1
        if kind == 0:
            body, off = decode_document(bytes(buf), off)
        elif kind == 1:
            size = struct.unpack_from("<i", buf, off)[0]
            end = off + size
            p = off + 4
            nul = buf.index(b"\x00", p)
            ident = bytes(buf[p:nul]).decode()
            p = nul + 1
            docs = []
            while p < end:
                d, p = decode_document(bytes(buf), p)
                docs.append(d)
            extra_docs[ident] = docs
            off = end
        else:
            raise ValueError(f"mongo: unknown section kind {kind}")
    del buf[:mlen]
    if body is None:
        raise ValueError("mongo: OP_MSG without a body section")
    for ident, docs in extra_docs.items():
        body.setdefault(ident, docs)
    return req, resp, flags, body


class MongoInserter:
    """Insert-command client: one socket per partition; every batch is
    one ``insert`` OP_MSG, the ``ok`` field of the reply gates success
    (the reference suspends the action on insert failure)."""

    def __init__(self, host: str, port: int, db: str,
                 collection: str) -> None:
        self.sock = socket.create_connection((host, port))
        self.buf = bytearray()
        self.db, self.collection = db, collection
        self._req = 0

    def insert(self, docs: list[dict[str, Any]]) -> int:
        self._req += 1
        body = {
            "insert": self.collection,
            "$db": self.db,
            "documents": list(docs),
        }
        self.sock.sendall(op_msg(self._req, body))
        got = read_op_msg(self.sock, self.buf)
        if got is None:
            raise ConnectionError("mongo: peer closed")
        _, resp, _, reply = got
        if resp != self._req:
            raise ValueError("mongo: responseTo mismatch")
        if reply.get("ok") != 1.0:
            raise ValueError(f"mongo: insert failed: {reply}")
        return int(reply.get("n", len(docs)))

    def close(self) -> None:
        self.sock.close()


def ommongodb_deliver(
    df,
    host: str,
    port: int,
    db: str = "logs",
    collection: str = "syslog",
    batch_size: int = 100,
    oid_fn=None,
    msg_col: str = "msg",
    host_col: str = "hostname",
    tag_col: str = "syslogtag",
    prog_col: str = "programname",
    procid_col: str = "procid",
    fac_col: str = "facility",
    sev_col: str = "severity",
    ts_col: str | None = None,
):
    """ommongodb doAction over the default document: render each row
    with :func:`default_doc`, insert in batches over one connection
    per partition (:func:`rsyslog_spark.net.partition_sender`).
    ``oid_fn(key)`` supplies ObjectIds — ``key`` is globally unique per row
    (partition_id << 40 | running row counter; the pandas index would
    restart per Arrow batch and collide). Default: random 12 bytes
    per message, like bson_oid_init."""
    import os

    import pandas as pd

    def open_conn() -> MongoInserter:
        from pyspark import TaskContext

        ins = MongoInserter(host, port, db, collection)
        ctx = TaskContext.get()
        ins.key_base = (ctx.partitionId() if ctx else 0) << 40
        ins.row_no = 0
        return ins

    def send(ins: MongoInserter, pdf: pd.DataFrame) -> tuple[int]:
        n = 0
        docs = []
        for _, row in pdf.iterrows():
            key = ins.key_base | ins.row_no
            ins.row_no += 1
            oid = (
                ObjectId(oid_fn(key)) if oid_fn
                else ObjectId(os.urandom(12))
            )
            ts = (
                int(pd.Timestamp(row[ts_col]).timestamp() * 1000)
                if ts_col else 0
            )
            docs.append(default_doc(
                oid, str(row[host_col]), ts, ts,
                str(row[msg_col]), int(row[fac_col]),
                int(row[sev_col]), str(row[tag_col]),
                str(row[prog_col]), str(row[procid_col]),
            ))
            if len(docs) >= batch_size:
                n += ins.insert(docs)
                docs = []
        if docs:
            n += ins.insert(docs)
        return (n,)

    return send_partitions(df, open_conn, send, "n_inserted long")
