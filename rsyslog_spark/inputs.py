"""Remaining input modules: imhttp (HTTP push ingest), improg
(external-program source), immark (heartbeat marks) — real runtime
listeners over stdlib servers/processes, spooling to the same
replayable file bridge as :mod:`rsyslog_spark.net` /
:mod:`rsyslog_spark.relp`. Each listener is a
:class:`rsyslog_spark.net._SpooledSource` that keeps only its protocol
code; spool, counter, pump thread and ``close()`` live there.

imhttp (contrib/imhttp/imhttp.c): POST bodies to a configured
endpoint become messages — the body runs through the SAME RFC 6587
framing logic as imtcp (supportOctetCountedFraming, :584-672), gzip
Content-Encoding is inflated (:1319-1324), oversized bodies get 413
(:1334), non-POST 405 (:1300), and per-request metadata rides along
exactly where the reference puts it: ``$!metadata!httpheaders``
(lowercased header names, :442-487), ``$!metadata!queryparams``
(split on ``&``/``;``, :492-518), plus the remote address. Basic auth
and API-key auth return 401 (:1186-1203; the key is accepted from
``Authorization: ApiKey …`` or ``X-API-Key`` — Elastic sends either,
:966-987).

Because metadata is per-request, the imhttp spool is JSON-lines (one
object per message); :func:`imhttp_read` lifts it back into columns
(msg, headers map, query map, remote) for batch or readStream use.

improg (contrib/improg/improg.c): spawn a binary, each stdout line is
one message; with confirmMessages=on the module writes ``ACK\\n`` to
the child's stdin after each consumed line (:394-396) — back-pressure
by pipe buffer, exactly the reference's flow control.

immark (plugins/immark/immark.c): inject ``-- MARK --`` every
MarkMessagePeriod seconds (default 1200, :55) at LOG_SYSLOG|LOG_INFO
= PRI 46 (:283).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from rsyslog_spark.net import SyslogFrameParser, _SpooledSource

MAX_REQUEST_BODY = 64 * 1024 * 1024


class ImHttpListener(_SpooledSource):
    """HTTP push-ingest endpoint. ``basic_auth`` is a set of
    ``user:password`` strings (the htpasswd-file analog);
    ``api_keys`` a set of accepted keys. ``health_path`` answers 200
    unauthenticated (healthCheckPath)."""

    spool_prefix = "http"

    def __init__(self, spool_dir: str, endpoint: str = "/ingest",
                 host: str = "127.0.0.1", port: int = 0,
                 health_path: str = "/healthz",
                 basic_auth: set[str] | None = None,
                 api_keys: set[str] | None = None,
                 support_octet_counted: bool = True,
                 max_body: int = MAX_REQUEST_BODY,
                 rotate_every: int = 10_000) -> None:
        import http.server

        self.n_failed = 0
        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            timeout = 30.0  # so an idle client cannot hold close()

            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int) -> None:
                self.send_response(code)
                if code == 401 and basic_auth:
                    self.send_header(
                        "WWW-Authenticate", 'Basic realm="imhttp"'
                    )
                self.send_header("Content-Length", "0")
                if code != 200:
                    self.send_header("Connection", "close")
                self.end_headers()

            def _fail(self, code: int) -> None:
                with outer._lock:
                    outer.n_failed += 1
                self._reply(code)

            def _authorized(self) -> bool:
                if not basic_auth and not api_keys:
                    return True
                h = self.headers.get("Authorization", "")
                if basic_auth and h.startswith("Basic "):
                    import base64

                    try:
                        tok = base64.b64decode(
                            h[6:].strip()
                        ).decode("utf-8", "replace")
                    except Exception:
                        tok = ""
                    if tok in basic_auth:
                        return True
                if api_keys:
                    if h.startswith("ApiKey ") and h[7:].strip() in api_keys:
                        return True
                    if self.headers.get("X-API-Key", "").strip() in api_keys:
                        return True
                return False

            def do_GET(self):
                self._reply(200 if self.path == health_path else 405)

            def do_POST(self):
                if self.path.split("?", 1)[0] != endpoint:
                    self._reply(404)
                    return
                if not self._authorized():
                    self._reply(401)
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    n = 0
                if n > max_body:
                    self._fail(413)
                    return
                body = self.rfile.read(n)
                if self.headers.get(
                    "Content-Encoding", ""
                ).lower() == "gzip":
                    import gzip

                    try:
                        body = gzip.decompress(body)
                    except OSError:
                        self._fail(400)
                        return
                headers = {
                    k.lower(): v for k, v in self.headers.items()
                }
                query: dict[str, str] = {}
                if "?" in self.path:
                    import re

                    for kv in re.split(
                        "[&;]", self.path.split("?", 1)[1]
                    ):
                        if kv:
                            k, _, v = kv.partition("=")
                            query[k] = v
                if support_octet_counted:
                    p = SyslogFrameParser()
                    msgs = [m for m, _f, _e in p.feed(body) if m]
                    tail = p.flush()
                    if tail:
                        msgs.append(tail)
                else:
                    msgs = [ln for ln in body.split(b"\n") if ln]
                for m in msgs:
                    rec = {
                        "msg": m.decode("utf-8", "replace"),
                        "headers": headers,
                        "query": query,
                        "remote": self.client_address[0],
                    }
                    outer._emit(json.dumps(rec, sort_keys=True).encode())
                self._reply(200)

        self._srv = http.server.ThreadingHTTPServer(
            (host, port), Handler
        )
        self._srv.daemon_threads = False  # so server_close() joins them
        self.port = self._srv.server_address[1]
        super().__init__(spool_dir, rotate_every)

    def _pump(self) -> None:
        self._srv.serve_forever()

    def _stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()


def imhttp_read(spark, spool_dir: str, stream: bool = False) -> DataFrame:
    """Lift the imhttp JSONL spool into columns mirroring the
    reference's message shape: msg plus $!metadata!httpheaders /
    $!metadata!queryparams as map columns and the remote address."""
    import pyspark.sql.functions as F

    reader = (
        spark.readStream if stream else spark.read
    )
    df = reader.text(spool_dir + "/*.log")
    sch = (
        "msg string, headers map<string,string>, "
        "query map<string,string>, remote string"
    )
    j = F.from_json(F.col("value"), sch)
    return df.select(
        j.getField("msg").alias("msg"),
        j.getField("headers").alias("httpheaders"),
        j.getField("query").alias("queryparams"),
        j.getField("remote").alias("fromhost_ip"),
    )


class ImProgListener(_SpooledSource):
    """Run ``argv`` and turn each stdout line into one message.
    ``confirm_messages=True`` writes ``ACK\\n`` to the child's stdin
    after every consumed line (improg.c:394-396). ``close()`` closes
    stdin, waits ``close_timeout`` seconds, then kills when
    ``kill_unresponsive`` (improg.c:297 semantics), and reads what the
    child wrote for up to ``close_timeout`` more seconds."""

    spool_prefix = "prog"

    def __init__(self, spool_dir: str, argv: list[str],
                 confirm_messages: bool = False,
                 close_timeout: float = 5.0,
                 kill_unresponsive: bool = True,
                 rotate_every: int = 10_000) -> None:
        import subprocess

        self.confirm = confirm_messages
        self.close_timeout = close_timeout
        self.kill_unresponsive = kill_unresponsive
        self._proc = subprocess.Popen(
            argv,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
        )
        super().__init__(spool_dir, rotate_every)

    def _pump(self) -> None:
        with self._proc.stdout as out:
            for msg in self._lines(out.fileno()):
                if not msg:
                    continue
                self._emit(msg)
                if self.confirm:
                    try:
                        self._proc.stdin.write(b"ACK\n")
                        self._proc.stdin.flush()
                    except (BrokenPipeError, ValueError):
                        pass

    def _stop(self) -> None:
        import subprocess

        try:
            self._proc.stdin.close()
        except OSError:
            pass
        try:
            self._proc.wait(timeout=self.close_timeout)
        except subprocess.TimeoutExpired:
            if self.kill_unresponsive:
                self._proc.kill()
                self._proc.wait()
        self._thread.join(timeout=self.close_timeout)  # drain to EOF


class MarkEmitter(_SpooledSource):
    """immark: write ``<46>-- MARK --`` (LOG_SYSLOG|LOG_INFO) to the
    spool every ``period`` seconds until closed."""

    spool_prefix = "mark"

    def __init__(self, spool_dir: str, period: float = 1200.0,
                 mark_text: str = "-- MARK --",
                 rotate_every: int = 10_000) -> None:
        self._period = period
        self._line = f"<46>{mark_text}".encode()
        super().__init__(spool_dir, rotate_every)

    @property
    def n_emitted(self) -> int:
        return self.n_received

    def _pump(self) -> None:
        while not self._stopping.wait(self._period):
            self._emit(self._line)
