"""RELP — the Reliable Event Logging Protocol, from its public spec.

The reference's omrelp/imrelp delegate the wire work to librelp
(plugins/omrelp/omrelp.c:46); this module implements the protocol
itself (RELP specification, librelp documentation):

frame   := TXNR SP COMMAND SP DATALEN [SP DATA] TRAILER
TXNR    := decimal 1..999999999 (wraps; rsp echoes the request's)
COMMAND := open | close | syslog | rsp | serverclose | abort
TRAILER := LF

A session opens with an ``open`` frame carrying offer lines
(relp_version / relp_software / commands); the server's ``rsp`` data
starts with a status line ("200 OK" / "500 ...") followed by the
negotiated offers. Each ``syslog`` frame is acknowledged by a ``rsp``
with matching TXNR — THAT ack is the reliability RELP adds over plain
TCP syslog: a message is known-delivered, not just known-sent.

Spark mapping: :func:`omrelp` ships each partition through ONE
persistent RELP session (window-pipelined sends) and returns per-row
ack status — the engine-side image of omrelp's action-suspension/resume
on NACK. The open / send / close loop is the shared per-row sender
(:func:`rsyslog_spark.net.send_rows`); this module only speaks RELP.
No TLS (the tests peer over loopback; librelp's TLS wraps the same
framing).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from rsyslog_spark.net import _TcpListener, send_rows

RELP_VERSION = 0
MAX_TXNR = 999_999_999
SOFTWARE = "rsyslog_spark,1.0,https://spark.apache.org"


def relp_frame(txnr: int, command: str, data: bytes = b"") -> bytes:
    """Serialize one RELP frame (spec: HDR [SP DATA] LF)."""
    hdr = f"{txnr} {command} {len(data)}".encode("ascii")
    return hdr + (b" " + data if data else b"") + b"\n"


class RelpParser:
    """Incremental frame parser (frames may split across TCP reads)."""

    def __init__(self) -> None:
        self._buf = b""

    def feed(self, data: bytes) -> list[tuple[int, str, bytes]]:
        self._buf += data
        out = []
        while True:
            frame = self._try_parse()
            if frame is None:
                return out
            out.append(frame)

    def _try_parse(self):
        buf = self._buf
        # header = three space-separated ASCII tokens
        p1 = buf.find(b" ")
        if p1 < 0:
            return None
        p2 = buf.find(b" ", p1 + 1)
        if p2 < 0:
            return None
        p3_sp = buf.find(b" ", p2 + 1)
        p3_nl = buf.find(b"\n", p2 + 1)
        if p3_nl < 0 and p3_sp < 0:
            return None
        end_len = min(x for x in (p3_sp, p3_nl) if x >= 0)
        try:
            txnr = int(buf[:p1])
            datalen = int(buf[p2 + 1 : end_len])
        except ValueError as e:
            raise ValueError(f"malformed RELP header: {buf[:40]!r}") from e
        command = buf[p1 + 1 : p2].decode("ascii")
        if datalen == 0:
            if p3_nl < 0 or (p3_sp >= 0 and p3_sp < p3_nl):
                raise ValueError("RELP frame with datalen 0 carries data")
            self._buf = buf[p3_nl + 1 :]
            return txnr, command, b""
        data_start = end_len + 1  # the SP before DATA
        need = data_start + datalen + 1  # + trailer LF
        if len(buf) < need:
            return None
        data = buf[data_start : data_start + datalen]
        if buf[data_start + datalen : need] != b"\n":
            raise ValueError("RELP frame missing LF trailer")
        self._buf = buf[need:]
        return txnr, command, data


def parse_rsp(data: bytes) -> tuple[int, str]:
    """rsp data → (status_code, rest). Status line is 'CODE [text]'."""
    head, _, _tail = data.partition(b"\n")
    code_s, _, text = head.partition(b" ")
    return int(code_s or b"500"), text.decode("utf-8", "replace")


class RelpClient:
    """One RELP session over a socket: open-negotiate, pipelined
    syslog sends with ack tracking, close."""

    def __init__(self, host: str, port: int, window: int = 128,
                 timeout: float = 10.0) -> None:
        import socket as socketlib

        self.sock = socketlib.create_connection((host, port),
                                                timeout=timeout)
        self.parser = RelpParser()
        self.txnr = 0
        self.pending: dict[int, int] = {}   # txnr → row ordinal
        self.acks: dict[int, tuple[int, str]] = {}
        self.window = window
        offers = (
            f"relp_version={RELP_VERSION}\n"
            f"relp_software={SOFTWARE}\ncommands=syslog"
        ).encode("ascii")
        t = self._next_txnr()
        self.sock.sendall(relp_frame(t, "open", offers))
        code, text = self._wait_rsp(t)
        if code != 200:
            raise ConnectionError(f"RELP open rejected: {code} {text}")

    def _next_txnr(self) -> int:
        self.txnr = self.txnr % MAX_TXNR + 1
        return self.txnr

    def _pump(self, block: bool) -> None:
        if block:
            data = self.sock.recv(65536)
            if not data:
                raise ConnectionError("RELP peer closed mid-session")
            frames = self.parser.feed(data)
        else:
            frames = []
        for txnr, command, payload in frames:
            if command == "rsp":
                self.acks[txnr] = parse_rsp(payload)
            elif command == "serverclose":
                pass  # session teardown marker
            else:
                raise ValueError(f"unexpected RELP command {command!r}")

    def _wait_rsp(self, txnr: int) -> tuple[int, str]:
        while txnr not in self.acks:
            self._pump(block=True)
        return self.acks.pop(txnr)

    def send_syslog(self, msg: bytes, ordinal: int) -> int:
        """Pipeline one syslog frame; returns its txnr. Blocks only
        when the unacked window is full."""
        while len(self.pending) >= self.window:
            self._drain_one()
        t = self._next_txnr()
        self.sock.sendall(relp_frame(t, "syslog", msg))
        self.pending[t] = ordinal
        return t

    def _drain_one(self) -> None:
        self._pump(block=True)
        for t in [t for t in self.pending if t in self.acks]:
            code, _ = self.acks[t]
            self.results[self.pending.pop(t)] = code
            del self.acks[t]

    def drain(self) -> None:
        while self.pending:
            self._drain_one()

    def close(self) -> None:
        try:
            t = self._next_txnr()
            self.sock.sendall(relp_frame(t, "close", b""))
            self._wait_rsp(t)
        except (OSError, ConnectionError, ValueError):
            pass
        finally:
            self.sock.close()

    # filled externally: ordinal → status code
    results: dict


def omrelp(
    df: DataFrame,
    host: str,
    port: int,
    msg_col: str = "line",
    window: int = 128,
) -> DataFrame:
    """Deliver each row's ``msg_col`` over RELP (omrelp.c's doAction →
    relpCltSendSyslog): one persistent session per partition, sends
    pipelined up to ``window`` unacked frames (librelp's window), every
    frame individually acknowledged. Returns the input plus
    ``relp_code`` (the rsp status; 200 = acknowledged-delivered) and
    ``relp_ok``. A transport failure fails the partition → Spark
    retries it (the reference suspends and retries the action)."""

    def send(client: RelpClient, pdf: pd.DataFrame) -> dict:
        client.results = results = {}
        msgs = pdf[msg_col].tolist()
        for i, m in enumerate(msgs):
            if m is not None:
                client.send_syslog(m.encode("utf-8", "surrogateescape"), i)
        client.drain()
        codes = [results.get(i, -1) for i in range(len(msgs))]
        return {
            "relp_code": pd.array(codes, dtype="Int64"),
            "relp_ok": [c == 200 for c in codes],
        }

    return send_rows(
        df, lambda: RelpClient(host, port, window=window), send,
        "relp_code long, relp_ok boolean",
    )


class RelpListener(_TcpListener):
    """imrelp (plugins/imrelp — librelp's relpSrv): accept RELP
    sessions, negotiate open, ACK each syslog frame ONLY AFTER its
    message is durably spooled — the write-then-ack ordering is what
    makes RELP lossless end to end (the sender retries anything
    unacked). Accept, session threads and the per-session spool
    (newline-delimited, rotated at ``rotate_every`` messages) come
    from :class:`rsyslog_spark.net._TcpListener`; pair the spool with
    ``spark.readStream.text(spool_dir)`` (or the imfile source) for
    the streaming pipeline — the standard socket→spool→stream bridge,
    since Structured Streaming sources must be replayable and a raw
    socket is not."""

    spool_prefix = "relp"

    def _session(self, conn, peer, spool) -> None:
        parser = RelpParser()
        for data in self._chunks(conn):
            for txnr, command, payload in parser.feed(data):
                if command == "open":
                    if b"commands=syslog" not in payload:
                        conn.sendall(relp_frame(
                            txnr, "rsp", b"500 no syslog command offered",
                        ))
                        return
                    conn.sendall(relp_frame(
                        txnr, "rsp",
                        b"200 OK\nrelp_version=0\ncommands=syslog",
                    ))
                elif command == "syslog":
                    spool.write(payload)
                    spool.sync()  # durably spooled BEFORE the ack
                    self._count()
                    conn.sendall(relp_frame(txnr, "rsp", b"200 OK"))
                elif command == "close":
                    conn.sendall(relp_frame(txnr, "rsp", b"200 OK"))
                    conn.sendall(relp_frame(0, "serverclose", b"0"))
                    return
                else:
                    conn.sendall(relp_frame(
                        txnr, "rsp", b"500 unknown command"
                    ))
