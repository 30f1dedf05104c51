"""The lifecycle contract every spooled input keeps.

Spark-free. Each source takes K messages over its real transport
(datagram, unix datagram, HTTP POST, child stdout, timer, named pipe,
and the imtcp, imrelp, imbeats and im3195 TCP sessions); after
``close()`` its count and its spool agree, no file under the test
directory is still open, and a second ``close()`` does nothing. A TCP
listener also refuses new connections, ends the sessions still open
and leaves no thread behind. Two guards keep one lifecycle core, and
the drained close of the sending side is checked against a bare one.
"""

from __future__ import annotations

import ast
import os
import pathlib
import socket
import subprocess
import sys
import threading
import time
import urllib.request

import pytest

import rsyslog_spark
from rsyslog_spark.beats import BeatsListener, lumberjack_window
from rsyslog_spark.beep3195 import (
    RAW_PROFILE_URI,
    Im3195Listener,
    beep_frame,
)
from rsyslog_spark.inputs import ImHttpListener, ImProgListener, MarkEmitter
from rsyslog_spark.net import (
    SyslogTcpListener,
    SyslogUdpListener,
    SyslogUnixListener,
    _close_drained,
)
from rsyslog_spark.relp import RelpListener, relp_frame
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


def _spooled_lines(spool):
    lines = []
    for name in sorted(os.listdir(spool)):
        with open(os.path.join(spool, name), "rb") as fh:
            lines += fh.read().splitlines()
    return lines


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
    assert len(_spooled_lines(spool)) == n

    held = [p for p in _open_paths() if p.startswith(str(tmp_path))]
    assert not held, held

    src.close()
    assert src.n_received == n


# --- the TCP inputs: (listener, wire bytes of k messages, session end)


def _relp(k):
    frames = [relp_frame(1, "open", b"relp_version=0\ncommands=syslog")]
    frames += [relp_frame(2 + i, "syslog", b"<13>relp %d" % i)
               for i in range(k)]
    return b"".join(frames)


def _beep(k):
    start = (b"Content-Type: application/beep+xml\r\n\r\n"
             b'<start number="1"><profile uri="%s"/></start>'
             % RAW_PROFILE_URI.encode())
    return beep_frame("MSG", 0, 1, 0, start) + b"".join(
        beep_frame("ANS", 1, 0, 0, b"<13>beep %d" % i, ansno=i)
        for i in range(k)
    )


TCP_SOURCES = {
    "tcp": (SyslogTcpListener,
            lambda k: b"".join(b"<13>tcp %d\n" % i for i in range(k)),
            b""),
    "relp": (RelpListener, _relp, relp_frame(99, "close")),
    "beats": (BeatsListener,
              lambda k: lumberjack_window(
                  [{"message": f"beats {i}"} for i in range(k)]),
              b""),
    "beep": (Im3195Listener, _beep, beep_frame("NUL", 1, 0, 0, b"")),
}


def _wait(pred, timeout=10.0):
    deadline = time.time() + timeout
    while not pred() and time.time() < deadline:
        time.sleep(0.02)
    return pred()


def _new_threads(before):
    return [t for t in threading.enumerate() if t not in before]


def _assert_stopped(lst, before, tmp_path):
    """After ``close()``: connects are refused, no file under the test
    directory is open and no thread started since ``before`` lives."""
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", lst.port), timeout=2)
    held = [p for p in _open_paths() if p.startswith(str(tmp_path))]
    assert not held, held
    assert not _new_threads(before)


@pytest.mark.parametrize("prefix", sorted(TCP_SOURCES))
def test_tcp_close_stops_accepting_and_joins_sessions(prefix, tmp_path):
    cls, wire, end = TCP_SOURCES[prefix]
    spool = str(tmp_path / "spool")
    before = set(threading.enumerate())
    lst = cls(spool)
    try:
        c = socket.create_connection(("127.0.0.1", lst.port))
        c.sendall(wire(K) + end)
        _close_drained(c)  # the listener's replies stay unread
        _wait(lambda: lst.n_received >= K)
    finally:
        lst.close()
    assert lst.n_received == K == len(_spooled_lines(spool))
    assert all(f.startswith(prefix + "-") for f in os.listdir(spool))
    _assert_stopped(lst, before, tmp_path)
    lst.close()
    assert lst.n_received == K


@pytest.mark.parametrize("prefix", sorted(TCP_SOURCES))
def test_tcp_close_ends_a_session_left_open(prefix, tmp_path):
    """A client that sent one message and stays connected holds
    neither ``close()`` nor its session's spool file."""
    cls, wire, _end = TCP_SOURCES[prefix]
    spool = str(tmp_path / "spool")
    before = set(threading.enumerate())
    lst = cls(spool)
    with socket.create_connection(("127.0.0.1", lst.port)) as c:
        c.sendall(wire(1))
        assert _wait(lambda: lst.n_received == 1)
        t0 = time.monotonic()
        lst.close()
        assert time.monotonic() - t0 < 1
        _assert_stopped(lst, before, tmp_path)
    assert len(_spooled_lines(spool)) == 1


def test_tcp_count_holds_under_concurrent_sessions(tmp_path):
    """More sessions than cores, switching threads every microsecond:
    a lost update to the shared counter would show as a short count."""
    n_clients, per_client = 2 * len(os.sched_getaffinity(0)) + 2, 200
    spool = str(tmp_path / "spool")
    lst = SyslogTcpListener(spool)

    def client(i):
        with socket.create_connection(("127.0.0.1", lst.port)) as c:
            c.sendall(b"".join(b"<13>c%d m%d\n" % (i, j)
                               for j in range(per_client)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        clients = [threading.Thread(target=client, args=(i,))
                   for i in range(n_clients)]
        for t in clients:
            t.start()
        for t in clients:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in clients)
        _wait(lambda: lst.n_received >= n_clients * per_client)
    finally:
        sys.setswitchinterval(old)
        lst.close()
    assert lst.n_received == n_clients * per_client
    assert len(_spooled_lines(spool)) == n_clients * per_client


@pytest.fixture(scope="module")
def server_tls(tmp_path_factory):
    from rsyslog_spark.tls import TlsConfig

    tmp = tmp_path_factory.mktemp("tlscerts")
    key, crt = tmp / "server.key", tmp / "server.crt"
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(crt), "-subj", "/CN=server",
         "-days", "2"],
        check=True, capture_output=True,
    )
    return TlsConfig(str(crt), str(key), auth_mode="anon")


def test_tls_close_ends_a_handshake_never_started(server_tls, tmp_path):
    before = set(threading.enumerate())
    lst = SyslogTcpListener(str(tmp_path / "spool"), tls=server_tls)
    with socket.create_connection(("127.0.0.1", lst.port)):
        assert _wait(lambda: len(_new_threads(before)) >= 2)  # + session
        t0 = time.monotonic()
        lst.close()
        assert time.monotonic() - t0 < 1
        _assert_stopped(lst, before, tmp_path)
    assert lst.n_received == 0


def _counter_stores(node) -> int:
    """Assignments and increments of ``.n_received`` under ``node``."""
    return sum(
        isinstance(n, ast.Attribute) and n.attr == "n_received"
        and isinstance(n.ctx, ast.Store)
        for n in ast.walk(node)
    )


def test_one_lifecycle_core():
    """Only net.py starts threads, and only the core counts
    ``n_received``: every input stops and counts the same way."""
    root = pathlib.Path(rsyslog_spark.__file__).parent
    threads, counters = [], []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        if "threading.Thread(" in src and path.name != "net.py":
            threads.append(path.name)
        tree = ast.parse(src)
        core = [c for c in ast.walk(tree)
                if isinstance(c, ast.ClassDef) and c.name == "_SpooledSource"]
        if _counter_stores(tree) != sum(map(_counter_stores, core)):
            counters.append(path.name)
    assert not threads, threads
    assert not counters, counters


def _pair():
    with socket.create_server(("127.0.0.1", 0)) as srv:
        client = socket.create_connection(srv.getsockname())
        peer, _ = srv.accept()
    return client, peer


@pytest.mark.parametrize("drained", [False, True])
def test_close_with_unread_replies(drained):
    """A bare close with the peer's reply unread resets the connection,
    and the reset drops data the peer received but has not read yet; a
    drained close ends it with EOF and nothing lost."""
    client, peer = _pair()
    with peer:
        peer.sendall(b"reply the client never reads")
        client.sendall(b"<13>last message\n")
        closer = threading.Thread(
            target=_close_drained if drained else socket.socket.close,
            args=(client,),
        )
        closer.start()
        time.sleep(0.2)  # the peer reads only once the client closed
        got = b""
        try:
            while data := peer.recv(65536):
                got += data
        except ConnectionResetError:
            got = None
    closer.join(timeout=10)
    assert not closer.is_alive()
    assert got == (b"<13>last message\n" if drained else None)
