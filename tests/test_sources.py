"""Raw-file source (imfile analog) + batch incremental checkpointing."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from rsyslog_spark.parsing import parse
from rsyslog_spark.sources import incremental_batches, read_raw_lines


def test_read_raw_lines(spark, tmp_path):
    p = tmp_path / "app.log"
    p.write_text(
        "<13>Oct 11 22:14:15 h1 app[1]: first\n"
        "<14>Oct 11 22:14:16 h2 app[2]: second\n"
    )
    lt = read_raw_lines(spark, str(tmp_path), source="applog")
    assert lt.columns == ["doc_id", "tokens", "n_tok", "source"]
    parsed = parse(lt).orderBy("doc_id").collect()
    assert [r.hostname for r in parsed] == ["h1", "h2"]
    assert parsed[0].msg == " first"
    assert parsed[0].source == "applog"


def test_read_raw_lines_multiline(spark, tmp_path):
    p = tmp_path / "trace.log"
    p.write_text(
        "<11>Oct 11 22:14:15 h1 app: error happened\n"
        "  at frame one\n"
        "  at frame two\n"
        "<11>Oct 11 22:14:16 h1 app: next message\n"
    )
    lt = read_raw_lines(
        spark, str(tmp_path), startmsg_regex=r"^<\d+>"
    )
    rows = parse(lt).orderBy("doc_id").collect()
    assert len(rows) == 2
    # the parser's SanitizeMsg escapes the joined LFs, as the
    # reference's imfile (escapeLF, on by default) shows them
    assert rows[0].msg == " error happened#012  at frame one#012  at frame two"
    assert rows[1].msg == " next message"


def test_incremental_batches(spark, tmp_path):
    data = tmp_path / "in"
    data.mkdir()
    spark.range(5).toPandas().to_parquet(data / "a.parquet")
    inc = incremental_batches(spark, str(data), str(tmp_path / "state.log"))
    df, files = inc.read_pending()
    assert df.count() == 5 and len(files) == 1
    inc.commit(files)
    # nothing new → no work
    df2, files2 = inc.read_pending()
    assert df2 is None and files2 == []
    # new file arrives → only it is processed
    spark.range(3).toPandas().to_parquet(data / "b.parquet")
    df3, files3 = inc.read_pending()
    assert df3.count() == 3 and os.path.basename(files3[0]) == "b.parquet"
    inc.commit(files3)
    assert inc.pending() == []


def test_imrelp_listener_spool_to_stream(spark, tmp_path):
    """imrelp: a real RELP listener spools messages (ack strictly
    AFTER the durable write — RELP's lossless guarantee), and the
    spool directory feeds the standard streaming read."""
    from rsyslog_spark.relp import RelpClient, RelpListener

    spool = str(tmp_path / "spool")
    lst = RelpListener(spool, rotate_every=20)
    try:
        cl = RelpClient("127.0.0.1", lst.port, window=8)
        results: dict = {}
        cl.results = results
        msgs = [f"<13>Jan  1 00:00:00 h tag: ev {i}" for i in range(50)]
        for i, m in enumerate(msgs):
            cl.send_syslog(m.encode(), i)
        cl.drain()
        cl.close()
        assert all(results[i] == 200 for i in range(50))
        assert lst.n_received == 50
        # spool rotated and is batch/stream-readable
        got = sorted(
            r.value for r in spark.read.text(spool + "/*.log").collect()
        )
        assert got == sorted(msgs)
        import glob

        assert len(glob.glob(spool + "/*.log")) >= 3  # rotate_every=20
    finally:
        lst.close()


def test_syslog_frame_parser_rfc6587():
    """tcps_sess.c processDataRcvd semantics: per-frame auto-detect,
    interleaved octet-counted and LF frames, split reads, Cisco SP
    fix, framing-error tolerance, close-flush."""
    from rsyslog_spark.net import SyslogFrameParser

    p = SyslogFrameParser()
    # octet-counted + stuffing interleaved on one connection; the SP
    # before 'trailing' exercises the Cisco ASA skip
    wire = b"10 <13>hello!<14>world lf framed\n5 12345 trailing\n"
    got = p.feed(wire)
    assert got[0] == (b"<13>hello!", "octet-counted", None)
    assert got[1] == (b"<14>world lf framed", "octet-stuffing", None)
    assert got[2] == (b"12345", "octet-counted", None)
    assert got[3] == (b"trailing", "octet-stuffing", None)

    # frames split across arbitrary read boundaries
    p2 = SyslogFrameParser()
    frames = []
    for ch in (b"6", b" abc", b"def7 messag", b"e\nrest\n"):
        frames += p2.feed(ch)
    # the stray LF after the octet-counted frame yields an empty
    # stuffing frame (the reference submits-on-LF; listeners skip
    # empty messages)
    assert [f[0] for f in frames] == [b"abcdef", b"message", b"", b"rest"]

    # Cisco ASA SP before the next frame is swallowed
    p3 = SyslogFrameParser()
    assert [f[0] for f in p3.feed(b"3 abc 3 def")] == [b"abc", b"def"]

    # non-SP delimiter after the count: error recorded, stream continues
    p4 = SyslogFrameParser()
    out = p4.feed(b"0 \n")
    assert out[0][2] and "invalid octet count" in out[0][2]

    # close-flush: unterminated stuffing frame is the last message
    p5 = SyslogFrameParser()
    assert p5.feed(b"partial msg") == []
    assert p5.flush() == b"partial msg"


def test_imtcp_imudp_omfwd_roundtrip(spark, tmp_path):
    """omfwd_send → SyslogTcpListener/SyslogUdpListener over real
    sockets: both framings and UDP datagrams arrive byte-identical in
    the spool the streaming reader consumes."""
    from rsyslog_spark.net import (
        SyslogTcpListener, SyslogUdpListener, omfwd_send,
    )
    from rsyslog_spark.sinks import omfwd_frame
    import time

    msgs = [(13, f"host{i}", f"app{i}:", f" event {i}") for i in range(40)]
    df = spark.createDataFrame(
        msgs, "pri int, hostname string, syslogtag string, msg string"
    ).withColumns(
        {"facility": (F.col("pri") / 8).cast("int"),
         "severity": F.col("pri") % 8,
         "timereported_str": F.lit("2024-01-01T00:00:00Z")}
    ).coalesce(1)

    tcp_spool = str(tmp_path / "tcp")
    lst = SyslogTcpListener(tcp_spool)
    try:
        n1 = omfwd_send(
            omfwd_frame(df, framing="octet-counted"),
            "127.0.0.1", lst.port,
        )
        n2 = omfwd_send(
            omfwd_frame(df, framing="octet-stuffing"),
            "127.0.0.1", lst.port,
        )
        assert n1 == 40 and n2 == 40
        for _ in range(100):
            if lst.n_received >= 80:
                break
            time.sleep(0.05)
        assert lst.n_received == 80 and not lst.framing_errors
        got = [r.value for r in spark.read.text(tcp_spool + "/*.log").collect()]
        assert len(got) == 80
        assert sum("host7" in g and "event 7" in g for g in got) == 2
    finally:
        lst.close()

    udp_spool = str(tmp_path / "udp")
    ul = SyslogUdpListener(udp_spool)
    try:
        n3 = omfwd_send(
            omfwd_frame(df, framing="octet-stuffing"),
            "127.0.0.1", ul.port, protocol="udp",
        )
        assert n3 == 40
        for _ in range(100):
            if ul.n_received >= 40:
                break
            time.sleep(0.05)
        assert ul.n_received == 40
    finally:
        ul.close()


def test_uncompress_message_and_listener(tmp_path):
    """runtime/parser.c:262 legacy compression: 'z'+zlib messages
    inflate (with the DoS size cap); failures drop the message with
    the reference's log-and-ignore."""
    import socket
    import time
    import zlib

    from rsyslog_spark.net import (
        SyslogTcpListener, compress_message, uncompress_message,
    )

    msg = b"<13>Jan  1 00:00:00 h tag: compressed payload " + b"x" * 200
    z = compress_message(msg)
    assert z[0:1] == b"z"
    assert uncompress_message(z) == (msg, None)
    # pass-through for plain messages
    assert uncompress_message(b"plain") == (b"plain", None)
    # inflate bomb capped
    bomb = compress_message(b"A" * 100_000)
    out, err = uncompress_message(bomb, max_line=1024)
    assert out is None and "max line" in err
    # garbage after 'z' → dropped with error
    out2, err2 = uncompress_message(b"znot zlib at all")
    assert out2 is None and "failed" in err2

    spool = str(tmp_path / "ztcp")
    lst = SyslogTcpListener(spool)
    try:
        s = socket.create_connection(("127.0.0.1", lst.port))
        frame = str(len(z)).encode() + b" " + z
        s.sendall(frame + b"<14>plain one\n")
        s.close()
        for _ in range(100):
            if lst.n_received >= 2:
                break
            time.sleep(0.05)
        got = []
        import glob

        for fp in glob.glob(spool + "/*.log"):
            got += open(fp, "rb").read().splitlines()
        assert msg in got and b"<14>plain one" in got
    finally:
        lst.close()


def test_imuxsock_trusted_annotation(spark, tmp_path):
    """imuxsock (plugins/imuxsock): AF_UNIX datagram ingest with
    SO_PASSCRED — the kernel vouches the sender's (pid, uid, gid);
    Annotate=on appends the @[_PID=… _COMM=… _CMDLINE="…"] block
    (trusted props read from /proc), and parse_trusted_props recovers
    the fields downstream as a pure Column op."""
    import os
    import socket
    import time

    from rsyslog_spark.net import SyslogUnixListener, parse_trusted_props

    sock_path = str(tmp_path / "devlog")
    spool = str(tmp_path / "ux")
    lst = SyslogUnixListener(spool, sock_path)
    try:
        s = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
        s.sendto(b"<13>Jan  1 00:00:00 app[1]: via unix socket", sock_path)
        s.sendto(b"<14>plain two\n", sock_path)
        s.close()
        for _ in range(100):
            if lst.n_received >= 2:
                break
            time.sleep(0.05)
        assert lst.n_received == 2
    finally:
        lst.close()

    df = spark.read.text(spool + "/*.log")
    out = df.select(parse_trusted_props(F.col("value")).alias("t")) \
        .select("t.*").orderBy("msg")
    rows = {r.msg: r for r in out.collect()}
    r1 = rows["<13>Jan  1 00:00:00 app[1]: via unix socket"]
    # the kernel reported OUR pid/uid/gid — not sender-claimed values
    assert r1.pid == os.getpid()
    assert r1.uid == os.getuid() and r1.gid == os.getgid()
    # /proc-derived trusted props of this very process
    assert "python" in r1.comm
    assert r1.exe and "python" in r1.exe
    assert r1.cmdline and "python" in r1.cmdline
    r2 = rows["<14>plain two"]
    assert r2.pid == os.getpid()


def test_parse_trusted_props_unescape_and_passthrough(spark):
    """copyescaped round-trip: quotes/backslashes in _CMDLINE
    unescape; unannotated messages keep null properties."""
    from rsyslog_spark.net import annotate_trusted, parse_trusted_props

    line = ('msg body @[_PID=7 _UID=1 _GID=2 _COMM=c c2 _EXE=/bin/x '
            '_CMDLINE="say \\"hi\\" back\\\\slash"]')
    df = spark.createDataFrame(
        [(line,), ("no block here",)], "value string"
    )
    out = {r.msg: r for r in df.select(
        parse_trusted_props(F.col("value")).alias("t")
    ).select("t.*").collect()}
    a = out["msg body"]
    assert (a.pid, a.uid, a.gid) == (7, 1, 2)
    assert a.comm == "c"          # comm parses to the first SP token
    assert a.exe == "/bin/x"
    assert a.cmdline == 'say "hi" back\\slash'
    b = out["no block here"]
    assert b.pid is None and b.cmdline is None

    # annotate_trusted on this live process round-trips
    me = annotate_trusted(b"<13>x: y", 1, 0, 0)
    assert me.startswith(b"<13>x: y @[_PID=1 _UID=0 _GID=0")
