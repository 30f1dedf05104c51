"""Plain-TCP/UDP syslog transport: imtcp/imudp framing + omfwd send.

The framing state machine mirrors the reference's processDataRcvd
(runtime/tcps_sess.c:590-740): framing auto-detects PER FRAME — a
leading digit starts RFC 6587 octet counting (digits accumulate into
the length until a non-digit, which SHOULD be SP; a non-SP delimiter
or a zero count is a logged framing error, and processing continues),
anything else is octet stuffing (LF-terminated, the traditional
syslog/TCP framing). Both can interleave on one connection.

:class:`SyslogTcpListener` / :class:`SyslogUdpListener` are the
imtcp/imudp sockets with the spool-then-stream bridge (Structured
Streaming sources must be replayable; a raw socket is not — the spool
file is the replay log). :func:`omfwd_send` is omfwd's doAction made
real: per-partition persistent TCP connection (or UDP datagrams)
writing :func:`rsyslog_spark.sinks.omfwd_frame` bytes.

This module also holds the connection lifecycle the wire modules
share, so each protocol module only encodes:

- :class:`_SpoolWriter` — the thread-safe, rotating spool every input
  writes through;
- :class:`_SpooledSource` — the one input lifecycle: a spool, a
  counter, a pump thread and an idempotent close, for imudp, imuxsock,
  imhttp, improg, immark and imfifo, and through :class:`_TcpListener`
  (whose pump accepts and runs one thread and spool per session) for
  imtcp, imrelp, imbeats and im3195;
- :func:`_deliver` — the executor-side open / send / finish / close
  loop, with two report shapes: :func:`partition_sender` (one summed
  row per partition) behind omfwd, omuxsock, omsnmp, omczmq,
  omrabbitmq, omamqp1, ommongodb, omhiredis, ommail and omhttpfs, and
  :func:`row_sender` (columns appended to each row) behind omrelp,
  omprog, mmdarwin, omhttp and omelasticsearch;
- :func:`_recv_exact` — the exact-length socket read of the Darwin and
  ZMTP clients;
- :func:`_close_drained` — half-close, bounded drain, close: for a
  client whose peer writes replies it does not read (im3195's sender,
  omamqp1, omfwd over TLS).

Both TCP ends take a :class:`rsyslog_spark.tls.TlsConfig` to run the
reference's stream-driver TLS layer (StreamDriver.Mode=1 with
anon / x509/certvalid / x509/fingerprint / x509/name auth modes).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame

MAX_OCTET_COUNT = 200_000_000  # tcps_sess.c:713 cap


class SyslogFrameParser:
    """Incremental RFC 6587 frame extractor with the reference's
    per-frame auto-detection. ``feed`` returns (message, framing,
    error) tuples — error carries the reference's logged framing
    complaints (non-SP delimiter / invalid count), with the message
    still delivered like the reference does."""

    def __init__(self, max_line: int = 64 * 1024) -> None:
        self._buf = b""
        self.max_line = max_line

    def feed(self, data: bytes) -> list[tuple[bytes, str, str | None]]:
        self._buf += data
        out = []
        while True:
            got = self._try_frame()
            if got is None:
                return out
            out.append(got)

    def _try_frame(self):
        buf = self._buf
        if not buf:
            return None
        c = buf[0:1]
        if c == b" ":
            # Cisco ASA SP-after-LF fix (tcps_sess.c:614-620)
            self._buf = buf[1:]
            return self._try_frame()
        if c.isdigit():
            # octet counting: digits then SP then exactly N bytes
            i = 1
            while i < len(buf) and buf[i : i + 1].isdigit():
                i += 1
            if i >= len(buf):
                return None  # count still incomplete
            err = None
            n = int(buf[:i])
            if n > MAX_OCTET_COUNT:
                n = MAX_OCTET_COUNT
            delim = buf[i : i + 1]
            if delim != b" ":
                err = (
                    f"framing error: delimiter is not SP but ASCII "
                    f"{delim[0]}"
                )
                # reference continues with the count consumed and the
                # non-SP byte as message data
                start = i
            else:
                start = i + 1
            if n < 1:
                err = f"framing error: invalid octet count {n}"
                self._buf = buf[start:]
                return b"", "octet-counted", err
            if len(buf) - start < n:
                return None
            msg = buf[start : start + n]
            self._buf = buf[start + n :]
            return msg[: self.max_line], "octet-counted", err
        nl = buf.find(b"\n")
        if nl < 0:
            return None
        msg = buf[:nl]
        self._buf = buf[nl + 1 :]
        return msg[: self.max_line], "octet-stuffing", None

    def flush(self) -> bytes | None:
        """Connection closed: an unterminated stuffing frame is the
        final message (the reference submits the residual buffer on
        session close)."""
        if self._buf and not self._buf[0:1].isdigit():
            msg, self._buf = self._buf, b""
            return msg
        return None


def compress_message(msg: bytes, level: int = 6) -> bytes:
    """Sender side of the legacy syslog compression extension: 'z' +
    zlib stream (what uncompressMessage expects)."""
    import zlib

    return b"z" + zlib.compress(msg, level)


def uncompress_message(
    msg: bytes, max_line: int = 64 * 1024
) -> tuple[bytes | None, str | None]:
    """runtime/parser.c:262 uncompressMessage: a message whose first
    byte is 'z' is zlib-compressed; inflate it with a hard output cap
    (the reference refuses to inflate beyond iMaxLine — decompression
    bombs are a DoS vector). Returns (message, error): a failed or
    over-limit inflate drops the message (None) with the error noted,
    exactly the reference's log-and-ignore. Non-'z' messages pass
    through untouched."""
    import zlib

    if not msg or msg[0:1] != b"z":
        return msg, None
    try:
        d = zlib.decompressobj()
        out = d.decompress(msg[1:], max_line + 1)
        if len(out) > max_line or d.unconsumed_tail:
            return None, (
                f"uncompressed message exceeds max line {max_line} "
                "- message ignored"
            )
        return out, None
    except zlib.error as e:
        return None, f"uncompression of a message failed ({e}) - ignored"


class _SpoolWriter:
    """Newline-delimited spool files ``<prefix>-<n>.log``, rotated
    every ``rotate_every`` lines — the replay log behind every
    socket→spool→stream input. Thread-safe: one writer may serve many
    sessions (imhttp's request threads). A file is fsynced as it
    rotates out, so :meth:`sync` makes every line written so far
    durable (RELP and Beats call it before each ack)."""

    def __init__(self, spool_dir: str, prefix: str,
                 rotate_every: int) -> None:
        import os
        import threading

        os.makedirs(spool_dir, exist_ok=True)
        self.dir = spool_dir
        self.prefix = prefix
        self.rotate = rotate_every
        self._lock = threading.Lock()
        self._f = None
        self._n_file = 0
        self._n = 0

    def write(self, msg: bytes) -> None:
        import os

        with self._lock:
            if self._f is None:
                self._f = open(
                    os.path.join(
                        self.dir, f"{self.prefix}-{self._n_file:06d}.log"
                    ),
                    "ab",
                )
            self._f.write(msg.replace(b"\n", b" ") + b"\n")
            self._f.flush()
            self._n += 1
            if self._n >= self.rotate:
                os.fsync(self._f.fileno())
                self._f.close()
                self._f, self._n_file, self._n = None, self._n_file + 1, 0

    def sync(self) -> None:
        """flush + fsync: everything written is durable on return."""
        import os

        with self._lock:
            if self._f is not None:
                self._f.flush()
                os.fsync(self._f.fileno())

    def close(self) -> None:
        with self._lock:
            if self._f is not None:
                self._f.close()


class _SpooledSource:
    """The one input core (runInput on its own thread, ended by
    thrdTerminate and afterRun — runtime/threads.c): one
    :class:`_SpoolWriter`, a locked ``n_received`` bumped by
    :meth:`_count`, one daemon thread running the subclass's
    ``_pump()``, and :meth:`close`. A subclass sets up and validates
    its own state, then calls this ``__init__``."""

    spool_prefix = ""

    def __init__(self, spool_dir: str, rotate_every: int) -> None:
        import threading

        self.n_received = 0
        self._lock = threading.Lock()
        self._closed = False
        self._stopping = threading.Event()
        self._spool = _SpoolWriter(spool_dir, self.spool_prefix, rotate_every)
        self._thread = threading.Thread(target=self._pump, daemon=True)
        self._thread.start()

    def _count(self, n: int = 1) -> None:
        with self._lock:
            self.n_received += n

    def _emit(self, msg: bytes) -> None:
        self._spool.write(msg)
        self._count()

    def _ready(self, fd) -> Iterator[None]:
        """Yield each time ``fd`` is readable, until :meth:`close` sets
        ``_stopping`` (seen within 0.1 s)."""
        import select

        while not self._stopping.is_set():
            if select.select([fd], [], [], 0.1)[0]:
                yield

    def _lines(self, fd: int, max_line: int | None = None
               ) -> Iterator[bytes]:
        """Lines read from ``fd`` while :meth:`_ready`; bytes past
        ``max_line`` are dropped, not split (imfifo readFIFO:283-289).
        At EOF an unterminated last line counts too."""
        import os

        carry = b""  # current (possibly truncated) partial line
        for _ in self._ready(fd):
            try:
                data = os.read(fd, 4096)
            except BlockingIOError:
                continue
            except OSError:
                return
            if not data:
                if carry:
                    yield carry
                return
            *lines, carry = (carry + data).split(b"\n")
            for line in lines:
                yield line[:max_line]
            carry = carry[:max_line]

    def _stop(self) -> None:
        """Ends a pump that does not watch ``_stopping``."""

    def close(self) -> None:
        """Stop and join the pump, then close the spool. Idempotent."""
        with self._lock:
            if self._closed:
                return
            self._closed = True
        self._stop()
        self._stopping.set()
        self._thread.join()
        self._spool.close()


class _TcpListener(_SpooledSource):
    """The TCP pump of imtcp, imrelp, imbeats and im3195 (the
    reference's tcpsrv.c + runtime/tcps_sess.c): accept, and run each
    session on its own thread with its own spool
    ``<spool_prefix>-<sid>``. Once
    :meth:`close` begins it stops accepting and joins the sessions,
    which see the stop within their sockets' 0.1 s timeout and close
    their spools. A subclass implements only
    ``_session(conn, peer, spool)``, waiting through :meth:`_polled`."""

    spool_prefix = "tcp"

    def __init__(self, spool_dir: str, host: str = "127.0.0.1",
                 port: int = 0, rotate_every: int = 10_000) -> None:
        import socket as socketlib

        self._srv = socketlib.create_server((host, port), backlog=16)
        self.port = self._srv.getsockname()[1]
        super().__init__(spool_dir, rotate_every)

    def _pump(self) -> None:
        import threading

        sessions: list[threading.Thread] = []
        with self._srv:
            for sid, _ in enumerate(self._ready(self._srv), 1):
                try:
                    conn, peer = self._srv.accept()
                except OSError:
                    break
                t = threading.Thread(target=self._run_session,
                                     args=(conn, peer, sid), daemon=True)
                t.start()
                sessions = [s for s in sessions if s.is_alive()] + [t]
        for t in sessions:
            t.join()

    def _run_session(self, conn, peer, sid: int) -> None:
        spool = _SpoolWriter(
            self._spool.dir, f"{self.spool_prefix}-{sid:04d}",
            self._spool.rotate,
        )
        conn.settimeout(0.1)
        try:
            with conn:
                self._session(conn, peer, spool)
        finally:
            spool.close()

    def _polled(self, op, *args):
        """``op(*args)`` on a session socket, called again while it
        times out; once :meth:`close` begins the timeout is raised."""
        while True:
            try:
                return op(*args)
            except TimeoutError:
                if self._stopping.is_set():
                    raise

    def _chunks(self, conn) -> Iterator[bytes]:
        """Received bytes until the peer closes, the socket fails or
        :meth:`close` begins."""
        try:
            while data := self._polled(conn.recv, 65536):
                yield data
        except OSError:
            return


class SyslogTcpListener(_TcpListener):
    """imtcp: accept TCP connections, extract frames with the
    per-frame auto-detecting parser, spool newline-delimited messages
    for the streaming reader (accept and session threads live in
    :class:`_TcpListener`).

    ``tls`` enables the stream-driver TLS layer (imtcp
    StreamDriver.Mode=1): the handshake runs per session, and with
    fingerprint/name auth modes the session is terminated before any
    frame is processed when the client certificate is not authorized
    (osslChkPeerAuth semantics — see :mod:`rsyslog_spark.tls`).
    Rejections land in ``auth_errors``."""

    def __init__(self, spool_dir: str, host: str = "127.0.0.1",
                 port: int = 0, rotate_every: int = 10_000,
                 support_compression: bool = True,
                 tls=None) -> None:
        self.support_compression = support_compression
        self.framing_errors: list[str] = []
        self.auth_errors: list[str] = []
        self.tls = tls
        self._tls_ctx = None
        if tls is not None:
            from rsyslog_spark.tls import make_server_context

            self._tls_ctx = make_server_context(tls)
        super().__init__(spool_dir, host, port, rotate_every)

    def _session(self, conn, peer, spool: _SpoolWriter) -> None:
        if self._tls_ctx is not None:
            conn = self._tls_ctx.wrap_socket(
                conn, server_side=True, do_handshake_on_connect=False
            )
        parser = SyslogFrameParser()
        with conn:  # a TLS wrap owns the fd the core's socket gave up
            if self._tls_ctx is not None and not self._tls_ok(conn):
                return
            for data in self._chunks(conn):
                for msg, _framing, err in parser.feed(data):
                    if err:
                        with self._lock:
                            self.framing_errors.append(err)
                    if msg and self.support_compression:
                        msg, zerr = uncompress_message(msg)
                        if zerr:
                            with self._lock:
                                self.framing_errors.append(zerr)
                    if msg:
                        spool.write(msg)
                        self._count()
            tail = parser.flush()
            if tail is not None:
                spool.write(tail)
                self._count()

    def _tls_ok(self, conn) -> bool:
        """The handshake (polled: a silent client cannot hold
        :meth:`close`), then the peer check; a failure lands in
        ``auth_errors``."""
        from rsyslog_spark.tls import check_peer

        try:
            self._polled(conn.do_handshake)
            ok, detail = check_peer(conn.getpeercert(binary_form=True),
                                    conn.getpeercert(), self.tls)
            error = f"TLS session terminated: {detail}"
        except OSError as e:  # ssl.SSLError is an OSError
            ok, error = False, f"TLS handshake failed: {e}"
        if not ok:
            with self._lock:
                self.auth_errors.append(error)
        return ok


class SyslogUdpListener(_SpooledSource):
    """imudp: one datagram = one message (no framing)."""

    spool_prefix = "udp"

    def __init__(self, spool_dir: str, host: str = "127.0.0.1",
                 port: int = 0, rotate_every: int = 10_000) -> None:
        import socket as socketlib

        self._sock = socketlib.socket(
            socketlib.AF_INET, socketlib.SOCK_DGRAM
        )
        self._sock.bind((host, port))
        self.port = self._sock.getsockname()[1]
        super().__init__(spool_dir, rotate_every)

    def _pump(self) -> None:
        with self._sock:
            for _ in self._ready(self._sock):
                try:
                    data, _ = self._sock.recvfrom(65536)
                except OSError:
                    return
                self._emit(data.rstrip(b"\n"))


def _deliver(batches: Iterator[pd.DataFrame], open_conn, send,
             finish=None):
    """The executor-side lifecycle core every connection-per-partition
    sender shares (the reference's action worker: beginTx / doAction /
    commitTx in runtime/action.c). ``open_conn()`` runs on the
    partition's first non-empty batch; each non-empty batch yields
    ``(pdf, send(conn, pdf))``; ``finish(conn)``, when given, runs after
    the last batch and yields ``(None, finish(conn))``. The connection's
    ``close()`` always runs, and an error from open, send or finish
    fails the partition — Spark then retries it."""
    conn = None
    try:
        for pdf in batches:
            if pdf.empty:
                continue
            if conn is None:
                conn = open_conn()
            yield pdf, send(conn, pdf)
        if conn is not None and finish is not None:
            yield None, finish(conn)
    finally:
        if conn is not None:
            conn.close()


def partition_sender(open_conn, send, report: str, finish=None):
    """The summed report shape of :func:`_deliver`, as a
    ``mapInPandas`` function: ``send(conn, pdf)`` delivers one batch
    and returns one count per ``report`` column (a DDL string such as
    ``"n_sent long"``); ``finish(conn)`` (reply drains, pending
    flushes) returns counts too. Yields one report row of
    per-partition sums; a ``boolean`` column is their OR."""
    cols = [c.split() for c in report.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        totals = [0] * len(cols)
        for _pdf, counts in _deliver(batches, open_conn, send, finish):
            for i, c in enumerate(counts):
                totals[i] += c
        yield pd.DataFrame({
            name: [bool(t) if typ == "boolean" else t]
            for (name, typ), t in zip(cols, totals)
        })

    return run


def send_partitions(df: DataFrame, open_conn, send, report: str,
                    finish=None) -> DataFrame:
    """``df.mapInPandas`` over :func:`partition_sender`: one report
    row per partition."""
    return df.mapInPandas(
        partition_sender(open_conn, send, report, finish), report
    )


def row_sender(open_conn, send):
    """The per-row report shape of :func:`_deliver`, as a
    ``mapInPandas`` function: ``send(conn, pdf)`` returns a dict of new
    columns (lists or arrays, one value per row), appended to that
    batch in row order."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf, cols in _deliver(batches, open_conn, send):
            yield pdf.assign(**cols)

    return run


def send_rows(df: DataFrame, open_conn, send, report: str) -> DataFrame:
    """``df.mapInPandas`` over :func:`row_sender`: ``df``'s columns plus
    the ``report`` columns (a DDL string)."""
    from pyspark.sql.types import StructType

    schema = StructType(
        df.schema.fields + StructType.fromDDL(report).fields
    )

    return df.mapInPandas(row_sender(open_conn, send), schema)


class _NoConn:
    """``open_conn`` of a sender whose transport opens per request
    (urllib): nothing to open or close."""

    def close(self) -> None:
        pass


def total_sent(report: DataFrame) -> int:
    """Sum of a report's ``n_sent`` column over all partitions."""
    return int(report.agg({"n_sent": "sum"}).first()[0] or 0)


def _wire_bytes(v) -> bytes:
    return v.encode("utf-8") if isinstance(v, str) else v


def _recv_exact(sock, n: int) -> bytes:
    """Exactly ``n`` bytes from a stream socket; a peer that closes
    first raises ``ConnectionError``."""
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError(
                f"peer closed mid-read ({len(buf)}/{n} bytes)"
            )
        buf += chunk
    return bytes(buf)


_DRAIN_S = 5.0  # how long a drained close waits for the peer to close


def _close_drained(sock) -> None:
    """Half-close ``sock``, read what the peer still sends until it
    closes (at most ``_DRAIN_S``), then close. A close with replies
    unread makes the kernel reset the connection, and the reset drops
    what the peer has received but not yet read."""
    import socket as socketlib
    import time

    try:
        sock.shutdown(socketlib.SHUT_WR)
        deadline = time.monotonic() + _DRAIN_S
        while (left := deadline - time.monotonic()) > 0:
            sock.settimeout(left)
            if not sock.recv(65536):
                break
    except OSError:
        pass  # timed out or reset: nothing left to wait for
    finally:
        sock.close()


def omfwd_send(
    df: DataFrame,
    host: str,
    port: int,
    protocol: str = "tcp",
    value_col: str = "value",
    tls=None,
) -> int:
    """omfwd's doAction made real (tools/omfwd.c TCPSend/UDPSend):
    ship pre-framed wire bytes (see sinks.omfwd_frame) over one
    persistent TCP connection per partition, or as one UDP datagram
    per message (the loop is :func:`partition_sender`). Returns
    messages sent. A TCP transport error fails the partition →
    Spark retries (the reference suspends the action and replays from
    the queue).

    ``tls`` (a :class:`rsyslog_spark.tls.TlsConfig`) enables the
    omfwd StreamDriver TLS mode: the client also AUTHENTICATES the
    server per auth_mode/permitted_peers (the reference checks both
    directions — nsd_ossl.c osslChkPeerAuth runs in the client
    handshake too); an unauthorized server fails the partition."""
    if protocol not in ("tcp", "udp"):
        raise ValueError("protocol must be tcp|udp")
    if tls is not None and protocol != "tcp":
        raise ValueError("tls requires protocol='tcp'")

    def open_conn():
        import socket as socketlib

        if protocol == "udp":
            return socketlib.socket(socketlib.AF_INET, socketlib.SOCK_DGRAM)
        sock = socketlib.create_connection((host, port), timeout=10.0)
        if tls is not None:
            from rsyslog_spark.tls import check_peer, make_client_context

            sock = make_client_context(tls).wrap_socket(
                sock, server_hostname=host
            )
            ok, detail = check_peer(
                sock.getpeercert(binary_form=True), sock.getpeercert(), tls
            )
            if not ok:
                sock.close()
                raise RuntimeError(
                    "TLS session terminated with "
                    f"remote syslog server: {detail}"
                )
        return sock

    def send(sock, pdf: pd.DataFrame) -> tuple[int]:
        vals = pdf[value_col].tolist()
        for v in vals:
            if protocol == "tcp":
                sock.sendall(_wire_bytes(v))
            else:
                sock.sendto(_wire_bytes(v), (host, port))
        return (len(vals),)

    def finish(sock) -> tuple[int]:
        _close_drained(sock)  # the server's TLS 1.3 tickets sit unread
        return (0,)

    return total_sent(send_partitions(
        df, open_conn, send, "n_sent long",
        finish=None if tls is None else finish,
    ))


def omuxsock_send(
    df: DataFrame,
    path: str,
    value_col: str = "value",
    dgram: bool = True,
    abstract: bool = False,
) -> int:
    """omuxsock (plugins/omuxsock/omuxsock.c): ship each rendered
    message as one AF_UNIX datagram (sendMsg :441 — sendto per
    message, SOCK_DGRAM default :178; dgram=False uses a connected
    SOCK_STREAM like the module's STREAM option). ``abstract=True``
    maps the Linux abstract-namespace form (leading NUL, :389).
    One socket per partition (:func:`partition_sender`); returns
    messages sent."""
    addr = ("\0" + path) if abstract else path

    def open_conn():
        import socket as socketlib

        kind = socketlib.SOCK_DGRAM if dgram else socketlib.SOCK_STREAM
        sock = socketlib.socket(socketlib.AF_UNIX, kind)
        if not dgram:
            sock.connect(addr)
        return sock

    def send(sock, pdf: pd.DataFrame) -> tuple[int]:
        vals = pdf[value_col].tolist()
        for v in vals:
            if dgram:
                sock.sendto(_wire_bytes(v), addr)
            else:
                sock.sendall(_wire_bytes(v))
        return (len(vals),)

    return total_sent(send_partitions(
        df.select(value_col), open_conn, send, "n_sent long"
    ))


def _trusted_props(pid: int) -> dict[str, str]:
    """imuxsock's journald-inspired trusted properties from /proc
    (plugins/imuxsock/imuxsock.c getTrustedProp:793 / getTrustedExe:
    836): comm and cmdline read from /proc/<pid>/, control chars →
    space, truncated at first LF; exe via readlink. Missing entries
    (process gone, permission) are silently skipped, like the
    reference's RS_RET_ERR path."""
    import os

    out: dict[str, str] = {}
    for prop in ("comm", "cmdline"):
        try:
            with open(f"/proc/{pid}/{prop}", "rb") as fh:
                raw = fh.read(1023)
        except OSError:
            continue
        buf = []
        for b in raw:
            if b == 0x0A:
                break
            buf.append(" " if b < 0x20 or b == 0x7F else chr(b))
        # cmdline uses NUL separators — the ctrl-char rule turns them
        # into spaces (same visible behavior as the reference)
        out[prop] = "".join(buf).rstrip(" ")
    try:
        import os as _os

        out["exe"] = _os.readlink(f"/proc/{pid}/exe")
    except OSError:
        pass
    return out


def _escape_trusted(val: str) -> str:
    """copyescaped (imuxsock.c:861): quoted, with '"' and '\\'
    backslash-escaped."""
    return '"' + val.replace("\\", "\\\\").replace('"', '\\"') + '"'


def annotate_trusted(msg: bytes, pid: int, uid: int, gid: int) -> bytes:
    """The Annotate=on raw-message extension (imuxsock.c:1017-1082):
    append ``' @[_PID=p _UID=u _GID=g _COMM=c _EXE=e _CMDLINE="…"]'``
    — _COMM/_EXE plain, _CMDLINE quoted+escaped."""
    props = _trusted_props(pid)
    parts = [f"_PID={pid} _UID={uid} _GID={gid}"]
    if "comm" in props:
        parts.append(f"_COMM={props['comm']}")
    if "exe" in props:
        parts.append(f"_EXE={props['exe']}")
    if "cmdline" in props:
        parts.append(f"_CMDLINE={_escape_trusted(props['cmdline'])}")
    return msg + (" @[" + " ".join(parts) + "]").encode()


class SyslogUnixListener(_SpooledSource):
    """imuxsock (plugins/imuxsock/imuxsock.c): the classic Linux
    /dev/log source — AF_UNIX SOCK_DGRAM with SO_PASSCRED, one
    datagram per message, SCM_CREDENTIALS giving the sender's REAL
    (pid, uid, gid) as vouched by the kernel.

    ``annotate=True`` mirrors Annotate=on: the trusted properties are
    appended to the raw message as the ``@[_PID=… _UID=… …]`` block
    (imuxsock.c:1036) — parse it downstream with
    :func:`parse_trusted_props` (the ParseTrusted=on twin, which the
    reference applies at ingest into ``$!`` — here it is a pure
    Column op on the replayable spool, same fields).
    ``discard_own=True`` drops datagrams from this process's own pid
    (bDiscardOwnMsgs, imuxsock.c:1009)."""

    spool_prefix = "uxsock"

    def __init__(self, spool_dir: str, path: str,
                 rotate_every: int = 10_000, annotate: bool = True,
                 discard_own: bool = False) -> None:
        import os
        import socket as socketlib

        self.path = path
        self._own_pid = os.getpid()
        self._annotate = annotate
        self._discard_own = discard_own
        self._sock = socketlib.socket(
            socketlib.AF_UNIX, socketlib.SOCK_DGRAM
        )
        self._sock.bind(path)
        self._sock.setsockopt(
            socketlib.SOL_SOCKET, socketlib.SO_PASSCRED, 1
        )
        super().__init__(spool_dir, rotate_every)

    def _pump(self) -> None:
        import os
        import socket as socketlib
        import struct

        with self._sock:
            for _ in self._ready(self._sock):
                try:
                    data, ancdata, _flags, _addr = self._sock.recvmsg(
                        65536, socketlib.CMSG_SPACE(12)
                    )
                except OSError:
                    break
                cred = None
                for level, ctype, cdata in ancdata:
                    if (
                        level == socketlib.SOL_SOCKET
                        and ctype == socketlib.SCM_CREDENTIALS
                    ):
                        cred = struct.unpack("iII", cdata[:12])
                msg = data.rstrip(b"\n").rstrip(b"\x00")
                if cred is not None:
                    if self._discard_own and cred[0] == self._own_pid:
                        continue
                    if self._annotate:
                        msg = annotate_trusted(msg, *cred)
                self._emit(msg)
        try:
            os.unlink(self.path)
        except OSError:
            pass


def parse_trusted_props(msg: Column) -> Column:
    """ParseTrusted=on as a downstream Column op: split the
    ``@[_K=v …]`` trusted-property block off an annotated message
    into a struct (msg, pid, uid, gid, comm, exe, cmdline) carrying
    the reference's CEE field set (imuxsock.c:963-1005 puts
    pid/uid/gid/appname/exe/cmd into the JSON root; appname = comm).
    cmdline is unquoted and unescaped. Messages without a block pass
    through with null properties. Pure Column — the annotate-at-
    ingest + parse-downstream split keeps the spool the byte-exact
    replay log while $! gets the same fields the reference injects."""
    import pyspark.sql.functions as F

    block = F.regexp_extract(msg, r" @\[(_PID=.*)\]$", 1)
    has = block != ""
    base = F.when(
        has, F.regexp_replace(msg, r" @\[_PID=.*\]$", "")
    ).otherwise(msg)

    def num(key: str) -> Column:
        v = F.regexp_extract(block, key + r"=(\d+)", 1)
        return F.when(has & (v != ""), v).cast("long")

    def plain(key: str) -> Column:
        v = F.regexp_extract(block, key + r"=([^ ]+)", 1)
        return F.when(has & (v != ""), v)

    quoted = F.regexp_extract(
        block, r'_CMDLINE="((?:[^"\\]|\\.)*+)"', 1
    )
    cmdline = F.when(
        has & (quoted != ""),
        F.regexp_replace(quoted, r"\\(.)", "$1"),
    )
    return F.struct(
        base.alias("msg"),
        num("_PID").alias("pid"),
        num("_UID").alias("uid"),
        num("_GID").alias("gid"),
        plain("_COMM").alias("comm"),
        plain("_EXE").alias("exe"),
        cmdline.alias("cmdline"),
    )
