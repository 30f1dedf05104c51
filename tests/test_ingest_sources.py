"""The lifecycle contract every spooled non-TCP input keeps.

Spark-free. Each source takes K messages over its real transport
(datagram, unix datagram, HTTP POST, child stdout, timer, named pipe);
after ``close()`` its count and its spool agree, no file under the test
directory is still open, and a second ``close()`` does nothing.
"""

from __future__ import annotations

import os
import socket
import sys
import time
import urllib.request

import pytest

from rsyslog_spark.inputs import ImHttpListener, ImProgListener, MarkEmitter
from rsyslog_spark.net import SyslogUdpListener, SyslogUnixListener
from rsyslog_spark.sources_os import FifoSource

K = 5


def _udp(tmp, spool):
    src = SyslogUdpListener(spool)
    with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as s:
        for i in range(K):
            s.sendto(f"<13>udp {i}".encode(), ("127.0.0.1", src.port))
    return src


def _uxsock(tmp, spool):
    path = str(tmp / "devlog")
    src = SyslogUnixListener(spool, path)
    with socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM) as s:
        for i in range(K):
            s.sendto(f"<13>ux {i}".encode(), path)
    return src


def _http(tmp, spool):
    src = ImHttpListener(spool)
    body = "".join(f"<13>http {i}\n" for i in range(K)).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{src.port}/ingest", data=body, method="POST"
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
    return src


def _prog(tmp, spool):
    child = (
        "import sys\n"
        f"for i in range({K}):\n"
        "    print(f'<13>prog {i}', flush=True)\n"
        "sys.stdin.read()\n"  # live until close() shuts stdin
    )
    return ImProgListener(spool, [sys.executable, "-c", child])


def _mark(tmp, spool):
    return MarkEmitter(spool, period=0.02)


def _fifo(tmp, spool):
    path = str(tmp / "pipe")
    os.mkfifo(path)
    src = FifoSource(path, spool)
    fd = os.open(path, os.O_WRONLY)
    try:
        os.write(fd, "".join(f"<13>fifo {i}\n" for i in range(K)).encode())
    finally:
        os.close(fd)
    return src


SOURCES = {
    "udp": _udp, "uxsock": _uxsock, "http": _http,
    "prog": _prog, "mark": _mark, "fifo": _fifo,
}


def _open_paths() -> list[str]:
    out = []
    for fd in os.listdir("/proc/self/fd"):
        try:
            out.append(os.readlink(f"/proc/self/fd/{fd}"))
        except OSError:
            pass  # the fd listdir itself used, already closed
    return out


@pytest.mark.parametrize("prefix", sorted(SOURCES))
def test_close_flushes_releases_and_is_idempotent(prefix, tmp_path):
    spool = str(tmp_path / "spool")
    src = SOURCES[prefix](tmp_path, spool)
    try:
        deadline = time.time() + 10
        while src.n_received < K and time.time() < deadline:
            time.sleep(0.02)
    finally:
        src.close()
    n = src.n_received
    # immark keeps its period until close(); every other source got K
    assert n >= K if prefix == "mark" else n == K

    names = sorted(os.listdir(spool))
    assert names and all(f.startswith(prefix + "-") for f in names)
    lines = []
    for name in names:
        with open(os.path.join(spool, name), "rb") as fh:
            lines += fh.read().splitlines()
    assert len(lines) == n

    held = [p for p in _open_paths() if p.startswith(str(tmp_path))]
    assert not held, held

    src.close()
    assert src.n_received == n
