"""imhttp / improg / immark input-module tests (contrib/imhttp,
contrib/improg, plugins/immark) — real HTTP server, real child
processes, real timers."""

from __future__ import annotations

import gzip
import sys
import time
import urllib.request

import pyspark.sql.functions as F  # noqa: F401

from rsyslog_spark.inputs import (
    ImHttpListener,
    ImProgListener,
    MarkEmitter,
    imhttp_read,
)


def _post(url: str, body: bytes, headers: dict | None = None) -> int:
    req = urllib.request.Request(url, data=body, method="POST")
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


def _wait(pred, timeout=5.0):
    for _ in range(int(timeout / 0.05)):
        if pred():
            return True
        time.sleep(0.05)
    return pred()


def test_imhttp_framing_metadata_and_read(spark, tmp_path):
    """POST bodies run the RFC 6587 framing; headers/queryparams land
    in the metadata maps; imhttp_read lifts the spool to columns."""
    spool = str(tmp_path / "http")
    lst = ImHttpListener(spool, endpoint="/ingest")
    try:
        base = f"http://127.0.0.1:{lst.port}"
        # octet-counted + stuffing interleaved in one body
        body = b"3 one<13>two stuffed line\nthree\n"
        rc = _post(
            base + "/ingest?tenant=t1;shard=2",
            body,
            {"X-Custom": "abc", "Content-Type": "text/plain"},
        )
        assert rc == 200
        assert _wait(lambda: lst.n_received == 3)

        # gzip body
        rc = _post(base + "/ingest", gzip.compress(b"gz one\n"),
                   {"Content-Encoding": "gzip"})
        assert rc == 200
        assert _wait(lambda: lst.n_received == 4)

        # non-POST on the endpoint → 405; health path → 200
        assert _post(base + "/nope", b"x") == 404
        req = urllib.request.Request(base + "/healthz")
        assert urllib.request.urlopen(req).status == 200

        df = imhttp_read(spark, spool).orderBy("msg")
        rows = {r.msg: r for r in df.collect()}
        assert set(rows) == {
            "one", "<13>two stuffed line", "three", "gz one",
        }
        one = rows["one"]
        assert one.httpheaders["x-custom"] == "abc"
        assert one.queryparams == {"tenant": "t1", "shard": "2"}
        assert one.fromhost_ip == "127.0.0.1"
    finally:
        lst.close()


def test_imhttp_concurrent_posts_survive_spool_rotation(tmp_path):
    """Request threads share one spool writer: with a file rotation on
    every line, concurrent POSTs must all be answered 200, and every
    acknowledged message must be in the spool exactly once."""
    import glob
    from concurrent.futures import ThreadPoolExecutor

    spool = str(tmp_path / "rot")
    lst = ImHttpListener(spool, endpoint="/ingest", rotate_every=1)
    n_threads, per_thread = 8, 150
    url = f"http://127.0.0.1:{lst.port}/ingest"

    def worker(t: int) -> list[int]:
        codes = []
        for i in range(per_thread):
            try:
                codes.append(_post(url, f"t{t} m{i}\n".encode()))
            except Exception:
                codes.append(-1)  # dropped with no response
        return codes

    try:
        with ThreadPoolExecutor(n_threads) as ex:
            codes = [c for cs in ex.map(worker, range(n_threads)) for c in cs]
        sent = n_threads * per_thread
        assert codes.count(200) == sent, sorted(set(codes))
        lines = []
        for fp in glob.glob(spool + "/*.log"):
            with open(fp, "rb") as f:
                lines += f.read().splitlines()
        assert len(lines) == lst.n_received == sent
        assert len(set(lines)) == sent
    finally:
        lst.close()


def test_imhttp_auth_modes(tmp_path):
    """Basic auth and API-key auth (Authorization: ApiKey … or
    X-API-Key) gate the endpoint with 401."""
    import base64

    spool = str(tmp_path / "auth")
    lst = ImHttpListener(
        spool, basic_auth={"u:pw"}, api_keys={"sekrit"}
    )
    try:
        base = f"http://127.0.0.1:{lst.port}"
        assert _post(base + "/ingest", b"x\n") == 401
        tok = base64.b64encode(b"u:pw").decode()
        assert _post(base + "/ingest", b"x\n",
                     {"Authorization": f"Basic {tok}"}) == 200
        bad = base64.b64encode(b"u:wrong").decode()
        assert _post(base + "/ingest", b"x\n",
                     {"Authorization": f"Basic {bad}"}) == 401
        assert _post(base + "/ingest", b"x\n",
                     {"Authorization": "ApiKey sekrit"}) == 200
        assert _post(base + "/ingest", b"x\n",
                     {"X-API-Key": "sekrit"}) == 200
        assert _post(base + "/ingest", b"x\n",
                     {"X-API-Key": "nope"}) == 401
        assert lst.n_received == 3
    finally:
        lst.close()


def test_imhttp_payload_too_large(tmp_path):
    lst = ImHttpListener(str(tmp_path / "big"), max_body=64)
    try:
        base = f"http://127.0.0.1:{lst.port}"
        assert _post(base + "/ingest", b"x" * 100 + b"\n") == 413
        assert lst.n_received == 0 and lst.n_failed == 1
    finally:
        lst.close()


def test_improg_plain_and_confirm(tmp_path):
    """improg: child stdout lines become messages; confirmMessages=on
    sends ACK\\n after each line and the child really blocks on it."""
    spool = str(tmp_path / "prog")
    child = (
        "import sys\n"
        "print('<13>from child one', flush=True)\n"
        "print('<13>from child two', flush=True)\n"
    )
    lst = ImProgListener(spool, [sys.executable, "-c", child])
    try:
        assert _wait(lambda: lst.n_received == 2)
    finally:
        lst.close()

    # confirm mode: the child refuses to emit line 2 until it reads
    # the ACK for line 1 — delivery of both proves the ACK flowed
    spool2 = str(tmp_path / "prog2")
    child2 = (
        "import sys\n"
        "print('first', flush=True)\n"
        "ack = sys.stdin.readline()\n"
        "assert ack == 'ACK\\n', ack\n"
        "print('second', flush=True)\n"
        "assert sys.stdin.readline() == 'ACK\\n'\n"
    )
    lst2 = ImProgListener(
        spool2, [sys.executable, "-c", child2], confirm_messages=True
    )
    try:
        assert _wait(lambda: lst2.n_received == 2)
    finally:
        lst2.close()
    assert lst2._proc.returncode == 0  # child's ACK asserts held


def test_immark_heartbeat(tmp_path):
    import glob

    spool = str(tmp_path / "mark")
    m = MarkEmitter(spool, period=0.05)
    try:
        assert _wait(lambda: m.n_emitted >= 3)
    finally:
        m.close()
    lines = []
    for fp in glob.glob(spool + "/*.log"):
        with open(fp, "rb") as fh:
            lines += fh.read().splitlines()
    assert lines and set(lines) == {b"<46>-- MARK --"}
