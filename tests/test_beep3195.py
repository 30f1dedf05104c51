"""im3195 / BEEP RAW profile: frame codec, channel-0 dialog, and the
device→collector message stream over a real socket."""

import os
import socket
import subprocess
import sys
import time

import pytest

from rsyslog_spark.beep3195 import (
    BeepParser,
    Im3195Listener,
    RAW_PROFILE_URI,
    beep_frame,
    send_3195_raw,
    seq_frame,
)


def test_frame_codec_round_trip():
    p = BeepParser()
    wire = (
        beep_frame("MSG", 0, 1, 0, b"hello")
        + seq_frame(0, 5)
        + beep_frame("ANS", 3, 0, 10, b"payload", ansno=7)
        + beep_frame("NUL", 3, 0, 17, b"")
    )
    frames = []
    for i in range(len(wire)):  # byte-at-a-time feed
        frames += p.feed(wire[i:i + 1])
    assert [f["kind"] for f in frames] == ["MSG", "SEQ", "ANS", "NUL"]
    assert frames[0]["payload"] == b"hello"
    assert frames[1] == {"kind": "SEQ", "channel": 0, "ackno": 5,
                         "window": 65536}
    assert frames[2]["ansno"] == 7 and frames[2]["seqno"] == 10


def test_frame_codec_rejects():
    with pytest.raises(ValueError, match="keyword"):
        BeepParser().feed(b"BOGUS 0 0 . 0 0\r\nEND\r\n")
    with pytest.raises(ValueError, match="END"):
        BeepParser().feed(b"MSG 0 0 . 0 2\r\nhiXXXXX")
    with pytest.raises(ValueError, match="over limit"):
        BeepParser(max_frame=10).feed(b"MSG 0 0 . 0 99\r\n")


def test_raw_profile_session(tmp_path, spark):
    spool = str(tmp_path / "beep_spool")
    lst = Im3195Listener(spool)
    try:
        n = send_3195_raw(
            "127.0.0.1", lst.port,
            [b"<13>Jan  1 00:00:01 h1 app: one",
             b"<14>Jan  1 00:00:02 h2 app: two",
             b"<15>msg three"],
        )
        assert n == 3
        deadline = time.time() + 5
        while lst.n_messages < 3 and time.time() < deadline:
            time.sleep(0.05)
        assert lst.n_messages == 3
        rows = sorted(r.value for r in spark.read.text(spool).collect())
        assert rows[0].startswith("<13>") and len(rows) == 3
    finally:
        lst.close()


def test_raw_profile_rejects_unknown_profile(tmp_path):
    lst = Im3195Listener(str(tmp_path / "s"))
    try:
        p = BeepParser()
        with socket.create_connection(("127.0.0.1", lst.port)) as s:
            # read greeting
            frames = []
            while not frames:
                frames = [f for f in p.feed(s.recv(65536))
                          if f["kind"] == "RPY"]
            assert RAW_PROFILE_URI.encode() in frames[0]["payload"]
            bad = (b"Content-Type: application/beep+xml\r\n\r\n"
                   b'<start number="1">'
                   b'<profile uri="http://example.org/other"/></start>')
            s.sendall(beep_frame("MSG", 0, 1, 0, bad))
            got = []
            while not got:
                got = [f for f in p.feed(s.recv(65536))
                       if f["kind"] == "ERR"]
            assert b'code="550"' in got[0]["payload"]
    finally:
        lst.close()


def test_sessions_ending_before_nul_are_counted(tmp_path):
    """``n_incomplete`` counts a session that ends without NUL, so a
    lost tail shows as a number; a full exchange does not count."""
    lst = Im3195Listener(str(tmp_path / "s"))
    try:
        send_3195_raw("127.0.0.1", lst.port, [b"<13>complete"])
        assert lst.n_messages == 1 and lst.n_incomplete == 0
        start = (b"Content-Type: application/beep+xml\r\n\r\n"
                 b'<start number="1"><profile uri="%s"/></start>'
                 % RAW_PROFILE_URI.encode())
        with socket.create_connection(("127.0.0.1", lst.port)) as s:
            s.sendall(beep_frame("MSG", 0, 1, 0, start)
                      + beep_frame("ANS", 1, 0, 0, b"<13>no nul", ansno=0))
            deadline = time.time() + 5
            while lst.n_messages < 2 and time.time() < deadline:
                time.sleep(0.05)
        deadline = time.time() + 5
        while lst.n_incomplete < 1 and time.time() < deadline:
            time.sleep(0.05)
        assert lst.n_messages == 2 and lst.n_incomplete == 1
    finally:
        lst.close()


def test_raw_sessions_lose_nothing_under_cpu_contention(tmp_path):
    """The sender half-closes after NUL and reads the collector's
    pending SEQ frames until EOF: closing with them unread makes the
    kernel reset the connection and drop the frames still unsent, which
    shows as lost messages once the CPUs are busy."""
    nproc = len(os.sched_getaffinity(0))
    busy = [
        subprocess.Popen([sys.executable, "-c", "while True: pass"])
        for _ in range(min(nproc + 2, 2 * nproc))
    ]
    lst = Im3195Listener(str(tmp_path / "s"))
    try:
        for i in range(100):
            send_3195_raw("127.0.0.1", lst.port, [
                f"<13>session {i} message {j}".encode() for j in range(3)
            ])
        deadline = time.time() + 10
        while lst.n_messages < 300 and time.time() < deadline:
            time.sleep(0.05)
        assert lst.n_messages == 300
    finally:
        lst.close()
        for p in busy:
            p.kill()
        for p in busy:
            p.wait()
