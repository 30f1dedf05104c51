"""Golden-vector parser tests, modeled on the reference's parsertest
suite (tests/parsertest-parse1.sh golden CSV pattern — our own
equivalent lines covering the same edge-case classes, original text).

Each vector: raw line → expected (pri, ts, hostname, tag, progname,
msg), through the executable spec ``parse_line`` and through the Spark
parser ``parse()``."""

from __future__ import annotations

import pytest

from rsyslog_spark.parsing.full import parse_line, sanitize

V = [
    # PIX-style: numeric host, %TAG-with-dashes ending ':'
    (
        "<167>Mar  6 16:57:54 172.20.245.8 %FW-7-710005: UDP request",
        dict(pri=167, timereported_str="Mar  6 16:57:54",
             hostname="172.20.245.8", syslogtag="%FW-7-710005:",
             msg=" UDP request"),
    ),
    # sshd with pid tag
    (
        "<38>Apr  4 03:06:12 gate sshd[21111]: Accepted publickey for root",
        dict(pri=38, hostname="gate", syslogtag="sshd[21111]:",
             msg=" Accepted publickey for root"),
    ),
    # HP-ProCurve-style leading space before timestamp
    (
        "<12> Dec 15 02:53:23 unit1 chassis: fan failed",
        dict(pri=12, timereported_str="Dec 15 02:53:23", hostname="unit1",
             syslogtag="chassis:", msg=" fan failed"),
    ),
    # year after timestamp (Cisco-ish)
    (
        "<165>Aug  7 10:01:02 2025 core1 proc: with year",
        dict(pri=165, timereported_str="Aug  7 10:01:02 2025",
             hostname="core1", syslogtag="proc:", msg=" with year"),
    ),
    # missing PRI → default 13
    (
        "Oct 11 22:14:15 myhost app: no pri here",
        dict(pri=13, hostname="myhost", syslogtag="app:",
             msg=" no pri here"),
    ),
    # MARK heartbeat (headerless tag parse after ts+host)
    (
        "<46>Nov  2 00:00:00 relay -- MARK --",
        dict(pri=46, hostname="relay", syslogtag="--", msg=" MARK --"),
    ),
    # RFC5424 with SD
    (
        '<34>1 2024-10-11T22:14:15.003Z mach su 1+2 ID47 '
        '[ex@32473 iut="3" eventSource="App"] BOMAn application log',
        dict(pri=34, protocol_version=1,
             timereported_str="2024-10-11T22:14:15.003Z",
             hostname="mach", syslogtag="su", procid="1+2", msgid="ID47",
             structured_data='[ex@32473 iut="3" eventSource="App"]',
             msg="BOMAn application log"),
    ),
    # RFC5424 without SD, nil fields
    (
        "<187>1 2024-01-01T00:00:00Z host9 app - - - message body",
        dict(pri=187, protocol_version=1, hostname="host9",
             syslogtag="app", procid=None, msgid=None,
             structured_data="-", msg="message body"),
    ),
    # RFC5424 with escaped bracket in SD
    (
        '<7>1 2024-01-01T00:00:00Z h a p m [x@1 k="v\\]w"] m',
        dict(pri=7, structured_data='[x@1 k="v\\]w"]', msg="m"),
    ),
    # empty MSG (3164)
    (
        "<14>Jan  1 00:00:00 h tag:",
        dict(pri=14, syslogtag="tag:", msg=""),
    ),
    # RFC3339 timestamp inside legacy frame
    (
        "<14>2024-01-05T10:20:30+01:00 hostx prog: ts3339 in 3164",
        dict(pri=14, timereported_str="2024-01-05T10:20:30+01:00",
             hostname="hostx", syslogtag="prog:", msg=" ts3339 in 3164"),
    ),
    # tag without colon: SP ends TAG, stays in MSG
    (
        "<14>Jan  1 00:00:00 h word rest of it",
        dict(pri=14, syslogtag="word", msg=" rest of it"),
    ),
    # invalid hostname charset → token belongs to TAG, no hostname
    (
        "<14>Jan  1 00:00:00 bad*host: stuff",
        dict(pri=14, hostname=None, syslogtag="bad*host:", msg=" stuff"),
    ),
    # headerless: no timestamp → no hostname, TAG from start
    (
        "<14>kernel: headerless message",
        dict(pri=14, timereported_str=None, hostname=None,
             syslogtag="kernel:", msg=" headerless message"),
    ),
    # oversized PRI → invalid
    (
        "<999>Jan  1 00:00:00 h t: x",
        dict(pri=None, parse_success=False),
    ),
    # 8-bit / unicode content
    (
        "<14>Jan  1 00:00:00 h t: café 中文",
        dict(pri=14, msg=" café 中文"),
    ),
    # 40-char tag: reference caps TAG at 32 chars
    (
        "<14>Jan  1 00:00:00 h " + "a" * 40 + ": longtag",
        dict(pri=14, syslogtag="a" * 32),
    ),
    # RFC5424 MSG holding ']': SD ends at the first block list's end
    (
        '<13>1 2024-01-01T00:00:00Z h a - - [a b="1"] user [x] logged in',
        dict(pri=13, structured_data='[a b="1"]', msg="user [x] logged in"),
    ),
    # control char inside MSG is escaped as #ooo, not a field separator
    (
        "<14>Jan  1 00:00:00 h t: a\x01b",
        dict(pri=14, hostname="h", syslogtag="t:", msg=" a#001b"),
    ),
    # Arabic-Indic digits are no PRI: the reference parses bytes, and a
    # multi-byte code point is never a digit
    (
        "<\u0661\u0663>Jan  1 00:00:00 h t: x",
        dict(pri=13, timereported_str=None, hostname=None,
             syslogtag="<\u0661\u0663>Jan", msg="  1 00:00:00 h t: x"),
    ),
]


def _parse_lines(spark, lines):
    """``parse()`` over raw lines, in input order. ASCII lines take the
    default JVM decode, the others ``decode_backend="arrow"`` (the JVM
    decode is exact for ASCII only)."""
    from pyspark.sql import functions as F

    from rsyslog_spark.parsing import parse

    df = spark.createDataFrame(
        [(i, [ord(c) for c in l]) for i, l in enumerate(lines)],
        "i int, tokens array<int>",
    )
    wide = F.exists("tokens", lambda t: t > 127)
    rows = parse(df.filter(~wide)).collect() + parse(
        df.filter(wide), decode_backend="arrow"
    ).collect()
    return sorted(rows, key=lambda r: r.i)


@pytest.mark.parametrize("line,expected", V, ids=[v[0][:28] for v in V])
def test_golden_vector(line, expected):
    got = parse_line(line)
    for k, v in expected.items():
        assert got[k] == v, f"{k}: {got[k]!r} != {v!r} for {line!r}"


def test_sanitize_goldens():
    # trailing NUL/LF/CR stripped (parser.c:330-535)
    assert sanitize("msg\n") == "msg"
    assert sanitize("msg\r\n\x00") == "msg"
    # control chars escaped as #ooo octal
    assert sanitize("a\x07b") == "a#007b"
    # tab preserved
    assert sanitize("a\tb") == "a\tb"


def test_goldens_through_spark(spark):
    """The same vectors, end-to-end through the Spark parser."""
    rows = _parse_lines(spark, [v[0] for v in V])
    for row, (line, expected) in zip(rows, V):
        for k, v in expected.items():
            assert getattr(row, k) == v, f"{k} for {line!r}"


def test_reference_testbench_vectors(spark):
    """Golden vectors lifted from the reference testbench scripts
    (tests/parsertest-parse-nodate.sh, parsertest-parse-3164-buggyday.sh,
    hostname-with-slash-pmrfc3164.sh)."""
    lines = [
        # headerless with tag (nodate.sh vector 1): tag parsed, no date
        "<27>xapi: [error|xen3] Connection to master died.",
        # stray space between '>' and the timestamp (buggyday.sh)
        "<38> Mar  7 19:06:53 example tag: testmessage",
        # slashes permitted in hostname (hostname-with-slash.sh)
        "<167>Mar  6 16:57:54 hostname1/hostname2 test: msgnum:0",
    ]
    r0, r1, r2 = _parse_lines(spark, lines)
    assert (r0.pri, r0.programname, r0.syslogtag) == (27, "xapi", "xapi:")
    assert r0.msg == " [error|xen3] Connection to master died."
    assert (r1.pri, r1.hostname, r1.syslogtag) == (38, "example", "tag:")
    assert r1.timereported_str == "Mar  7 19:06:53"
    assert r2.hostname == "hostname1/hostname2" and r2.programname == "test"


def test_buggyday_template_option(spark):
    from rsyslog_spark.templates import compile_template

    df = spark.createDataFrame(
        [("Mar  7 19:06:53",)], "timereported_str string"
    )
    got = df.select(
        compile_template("%timereported:::date-rfc3164-buggyday%").alias("r")
    ).first().r
    assert got == "Mar 07 19:06:53"  # zero-padded day


def test_headerless_hostname_steal_and_repair(spark):
    """Reference default: a headerless line's first charset-valid word
    becomes HOSTNAME ('This is a message!' → hostname=This, tag=is —
    parsertest-parse-nodate.sh golden); mmtaghostname repairs it."""
    from rsyslog_spark import mm
    from rsyslog_spark.parsing import parse

    line = "This is a message!"
    df = spark.createDataFrame(
        [(line, [ord(c) for c in line], "d0", "s")],
        "line string, tokens array<int>, doc_id string, source string",
    )
    r = parse(df).first()
    assert (r.pri, r.hostname, r.programname) == (13, "This", "is")
    assert r.msg == " a message!"
    # mmtaghostname: hostname was stolen from a headerless message →
    # restore it as the tag (the reference repair module's purpose)
    fixed = mm.mmtaghostname(
        parse(df).withColumn(
            "syslogtag", __import__("pyspark.sql.functions",
                                    fromlist=["lit"]).lit(None)
        )
    ).first()
    assert fixed.syslogtag == "This" and fixed.hostname is None


def test_parse_differential_fuzz(spark):
    """The Spark parser (one header regex per row + Column
    post-processing) must agree with parse_line on EVERY field for
    adversarial and random inputs — parse_line is the executable spec."""
    import random

    cols = list(parse_line("").keys())
    fixed = [
        "<34>Oct 11 22:14:15 mymachine su: 'su root' failed",
        "<013>Oct 11 22:14:15 padded pri: x",
        '<107>1 2024-01-01T00:09:58Z h13 err 0 ID0 [ex@1 k="87"] m:1',
        "<13>1 2024-01-01T00:00:00Z h app - - - no sd dash",
        '<13>1 2024-01-01T00:00:00Z h app 12 MID [a b="x\\]y"][c d="2"] two',
        "<13>1 2024-01-01T00:00:00Z h app - - [unterminated oops",
        "<13>1 2024-01-01T00:00:00Z h app - - nosd here",
        "This is a message!", "<999>too big pri", "<191>edge pri ok",
        " Oct 11 22:14:15 procurve leading space",
        "Oct 11 22:14:15 2024 host with year tag: msg",
        "Oct 11 22:14:15 bad_host! tag: msg",
        "2024-05-06T01:02:03.123+02:00 host tag: rfc3339 in legacy",
        "<13>no timestamp here", "", "<13>", "<13>1 ", "1", "1 x",
        "<13>1 - - - - - - msg after all dashes", "tagonly:", ":",
        "line with\x01ctrl and\nnewline inside\n",
        "<13>Oct 11 22:14:15 9999 hostlike year out of range",
        "<13>Oct 11 22:14:15 1975 : colon after year",
        "<13>1 2024-01-01T00:00:00Z h app - - [b] [next",
        "Oct 11 22:14:15host nospace after ts",
        "Oct 11 22:14:15 hostonly",
        "<13>1 2024-01-01T00:00:00Z h app - - -",
        "<13>1 2024-01-01T00:00:00Z h app - - -x",
        "<13>\x01not a header",
    ]
    random.seed(43)
    frag = [
        "<13>", "<191>", "<192>", "<999>", "<1>", "", "1 ", " ",
        "Oct 11 22:14:15", "Jan  1 00:00:01", "2024-01-01T00:00:00Z",
        "2024-01-01T00:00:00.5+01:00", " 1999", " 2150", "host",
        "ho_st!", "h.o-st", "tag:", "tag[1]:", "tag", "-",
        '[sd a="1"]', '[sd a="x\\]z"]', "[unterm", "msg body", ":",
        "::", "\x02", "\t", "x" * 40, "[a][b]", "mid dle", "1975 ",
        "Jan",
    ]
    cases = fixed + [
        "".join(
            random.choice(["", " "]) + random.choice(frag)
            for _ in range(random.randint(0, 7))
        )
        for _ in range(2500)
    ]
    rows = _parse_lines(spark, cases)
    for line, row in zip(cases, rows):
        exp = parse_line(line)
        for col in cols:
            assert getattr(row, col) == exp[col], (
                f"{col}: {getattr(row, col)!r} != {exp[col]!r} for {line!r}"
            )


def test_decode_arrow_buffer_reuse_paths():
    """r6 buffer-reuse decode (the body of the Column backend's
    arrow_udf): ASCII zero-copy path, latin-1 and wide-codepoint
    fallback, nulls, empty rows, sliced arrays, empty batches — all
    must equal the chr-join spec."""
    import pyarrow as pa

    from rsyslog_spark.parsing.core import _decode_arrow_impl

    def spec(ts):
        return [None if t is None else "".join(map(chr, t)) for t in ts]

    ascii_sets = [[], [104, 105], list(range(1, 128)), None, [60, 51, 62]]
    arr = pa.array(ascii_sets, type=pa.list_(pa.int32()))
    assert _decode_arrow_impl(arr).to_pylist() == spec(ascii_sets)
    # sliced input (non-zero offset) takes the fallback path
    assert _decode_arrow_impl(arr.slice(1)).to_pylist() == spec(
        ascii_sets[1:]
    )
    wide = ascii_sets + [[0x263A, 65], [255, 128]]
    arr2 = pa.array(wide, type=pa.list_(pa.int32()))
    assert _decode_arrow_impl(arr2).to_pylist() == spec(wide)
    # code points 128-255 alone (no wider one in the batch)
    latin = [[104, 105], [255, 128], [233, 0xA0, 65]]
    arr3 = pa.array(latin, type=pa.list_(pa.int32()))
    assert _decode_arrow_impl(arr3).to_pylist() == spec(latin)
    assert _decode_arrow_impl(
        pa.array([], type=pa.list_(pa.int32()))
    ).to_pylist() == []
    assert _decode_arrow_impl(
        pa.array([[], []], type=pa.list_(pa.int32()))
    ).to_pylist() == ["", ""]
    assert _decode_arrow_impl(
        pa.chunked_array([arr, arr2])
    ).to_pylist() == spec(ascii_sets + wide)
