"""Executable spec of the syslog header parse (the reference's heuristics).

:func:`parse_line` parses one line in plain Python; the Spark parser
``parsing.core.parse`` must equal it field for field (golden and fuzz
differential tests, tests/test_parser_goldens.py). It covers:

- message sanitization: strip trailing NUL/LF/CR, escape control chars
  as ``#ooo`` octal (runtime/parser.c:330-535)
- PRI default (13) and 3-digit-invalid handling (parser.c:543-605)
- RFC3164 heuristics (tools/pmrfc3164.c:295-516):
  HP-ProCurve leading space, RFC3339 timestamp inside legacy frame,
  optional year after the timestamp, hostname charset validation
  (alnum ``. _ -`` plus ``[] @ /``; invalid → token is the TAG),
  headerless messages (no timestamp → no hostname, TAG from start)
- RFC5424 structured data with ``\\]`` escapes
  (tools/pmrfc5424.c:75-185)

Digits are ASCII (``re.ASCII``): the reference parses bytes, so a
multi-byte code point is never a digit.
"""

from __future__ import annotations

import re

_TS3164 = re.compile(
    r"^(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) "
    r"( \d|\d\d) (\d\d:\d\d:\d\d)",
    re.ASCII,
)
_TS3339 = re.compile(
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:\d{2})?",
    re.ASCII,
)
_YEAR_AFTER = re.compile(r"^ (\d{4})(?=[ :])", re.ASCII)
_HOSTNAME_OK = re.compile(r"^[A-Za-z0-9._\-\[\]@/]+$")
_PRI = re.compile(r"^<(\d{1,3})>", re.ASCII)
_SD_BLOCKS = re.compile(r"\[(?:[^\]\\]|\\.)*\]")


def sanitize(s: str) -> str:
    """Reference SanitizeMsg (parser.c:330-535): strip trailing
    NUL/LF/CR; escape remaining control chars as #ooo octal."""
    while s and s[-1] in "\x00\n\r":
        s = s[:-1]
    if not any(ord(c) < 32 and c != "\t" for c in s):
        return s
    out = []
    for c in s:
        if ord(c) < 32 and c != "\t":
            out.append("#%03o" % ord(c))
        else:
            out.append(c)
    return "".join(out)


def _parse_tag(rest: str) -> tuple[str, str]:
    """TAG runs until ':' (kept, consumed) or SP (left in msg); 32-char
    cap per reference CONF_TAG_MAXSIZE. Returns (tag, msg)."""
    i = 0
    n = min(len(rest), 32)
    while i < n and rest[i] != ":" and rest[i] != " ":
        i += 1
    if i < len(rest) and rest[i] == ":":
        return rest[: i + 1], rest[i + 1 :]
    return rest[:i], rest[i:]


def parse_line(line: str) -> dict:
    """Parse one sanitized raw syslog line into header fields."""
    raw = sanitize(line)
    out = {
        "rawmsg": raw, "pri": None, "protocol_version": 0,
        "timereported_str": None, "hostname": None, "syslogtag": None,
        "procid": None, "msgid": None, "structured_data": None,
        "msg": None, "parse_success": True,
    }
    m = _PRI.match(raw)
    if m:
        pri = int(m.group(1))
        if pri > 191:
            out["parse_success"] = False
            pri = None
        rest = raw[m.end():]
    else:
        pri = 13  # parser.c:560 default when PRI missing
        rest = raw
    out["pri"] = pri

    if rest.startswith("1 "):  # RFC5424
        out["protocol_version"] = 1
        return _parse_5424(rest[2:], out)

    # --- RFC3164 heuristics ---
    if rest.startswith(" ") and (_TS3164.match(rest[1:]) or _TS3339.match(rest[1:])):
        rest = rest[1:]  # HP ProCurve leading space (pmrfc3164.c:330ff)

    ts = None
    m3339 = _TS3339.match(rest)
    m3164 = _TS3164.match(rest)
    if m3339:
        ts = m3339.group(0)
        rest = rest[m3339.end():]
    elif m3164:
        ts = m3164.group(0)
        rest = rest[m3164.end():]
        my = _YEAR_AFTER.match(rest)  # optional year after time
        if my and 1970 <= int(my.group(1)) <= 2099:
            ts = ts + my.group(0)
            rest = rest[my.end():]
    out["timereported_str"] = ts

    # hostname parse runs whether or not a timestamp was found — the
    # reference attempts HOSTNAME even on headerless messages, which is
    # exactly why it "steals" the first word of tag-less lines
    # (tests/parsertest-parse-nodate.sh expects hostname='This' for
    # 'This is a message!'; mmtaghostname exists to repair that)
    if (ts is None and rest) or (ts is not None and rest.startswith(" ")):
        if ts is not None:
            rest = rest[1:]
        sp = rest.find(" ")
        cand = rest[:sp] if sp >= 0 else rest
        # hostname charset validation (pmrfc3164.c:380-416): invalid
        # candidate (or a ':'-terminated TAG-looking token) means "no
        # hostname on wire", token belongs to TAG
        if cand and _HOSTNAME_OK.match(cand) and not cand.endswith(":"):
            out["hostname"] = cand
            rest = rest[sp + 1 :] if sp >= 0 else ""

    tag, msg = _parse_tag(rest)
    out["syslogtag"] = tag if tag else None
    out["msg"] = msg
    return out


def _parse_5424(rest: str, out: dict) -> dict:
    def take_word(s: str) -> tuple[str | None, str]:
        sp = s.find(" ")
        w = s[:sp] if sp >= 0 else s
        s = s[sp + 1 :] if sp >= 0 else ""
        return (None if w == "-" else w), s

    ts, rest = take_word(rest)
    host, rest = take_word(rest)
    app, rest = take_word(rest)
    procid, rest = take_word(rest)
    msgid, rest = take_word(rest)
    out["timereported_str"] = ts
    out["hostname"] = host
    out["syslogtag"] = app
    out["procid"] = procid
    out["msgid"] = msgid
    if rest.startswith("-"):
        out["structured_data"] = "-"
        rest = rest[1:]
        rest = rest[1:] if rest.startswith(" ") else rest
    elif rest.startswith("["):
        # consecutive SD blocks honoring \] escapes (pmrfc5424.c:100-150)
        i, blocks = 0, []
        while i < len(rest) and rest[i] == "[":
            m = _SD_BLOCKS.match(rest, i)
            if not m:
                out["parse_success"] = False
                break
            blocks.append(m.group(0))
            i = m.end()
        out["structured_data"] = "".join(blocks) or None
        rest = rest[i:]
        rest = rest[1:] if rest.startswith(" ") else rest
    else:
        out["parse_success"] = False
    out["msg"] = rest
    return out
