"""JVM-side (whole-stage-codegen) decode + syslog header parse.

One parser, :func:`parse`, built from Column expressions; its output
equals the executable spec ``parsing.full.parse_line`` field for field.
Semantics mirrored from the reference (cited per step):

- Sanitize: strip trailing NUL/LF/CR, escape the other control chars
  (TAB excepted) as ``#ooo`` octal (runtime/parser.c:330-535)
- PRI parse: ``<0..191>`` → facility = pri>>3, severity = pri&7;
  missing PRI → default 13; malformed → invalid.
  (runtime/parser.c:543-605)
- RFC3164 heuristics: HP-ProCurve leading space, RFC3339 timestamp in
  the legacy frame, optional year after the timestamp, hostname
  charset validation, headerless lines; TAG runs until ':' (kept) or
  SP (left in msg), at most 32 chars. (tools/pmrfc3164.c:295-516)
- RFC5424: ``<PRI>1 TS HOST APP PROCID MSGID SD MSG`` with ``\\]``
  escapes inside SD blocks. (tools/pmrfc5424.c:75-185)
- PROGNAME = TAG up to first ':' / '[' / SP
  (runtime/msg.c getProgramName, msg.h:279)

The default decode (``decode_backend="jvm"``) is exact for token values
< 128 (ASCII); the corpus generator guarantees this. Non-ASCII code
points need ``parse(df, decode_backend="arrow")``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# syslog facility/severity names, reference: runtime/msg.c syslog_fac_names /
# syslog_severity_names tables (also tools/syslogd.c f_*names).
FACILITY_TEXT = [
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clock",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7",
]
SEVERITY_TEXT = [
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug",
]

_ASCII_LUT = None


def _ascii_lut() -> Column:
    """Constant 128-entry array of single-char string literals: the
    per-token decode is then an O(1) index into one shared ArrayData —
    no per-token string allocation (char() builds a fresh UTF8String
    per call; measured 2.29 s → 1.68 s over 5M rows at local[32])."""
    global _ASCII_LUT
    if _ASCII_LUT is None:
        _ASCII_LUT = F.array(*[F.lit(chr(i)) for i in range(128)])
    return _ASCII_LUT


def decode_tokens(tokens: Column | str, backend: str = "jvm") -> Column:
    """array<int> code points → string.

    backend="jvm": array_join(transform(try_element_at(LUT))) — each
    token indexes a constant literal array instead of allocating a
    string (r6, ~25% faster than the char() join). ``transform`` is a
    ``CodegenFallback``: the stage around it is generated code, but the
    lambda runs interpreted, one ``ArrayTransform.nullSafeEval`` call
    per row and an expression-tree walk per token (in a JFR profile of
    four warm perfbench ``route_write`` iterations at ``local[4]``, 167
    of 1,448 JVM execution samples had that frame on the stack). Exact
    for ASCII (<128) tokens — the corpus guarantee; out-of-range tokens
    are skipped (char() formerly wrapped them mod 256 — both are
    outside the contract).
    backend="arrow": vectorized arrow_udf over Arrow batches — decode
    by re-wrapping the list array's buffers (see _decode_arrow_impl);
    fastest absolute (1.42 s at local[32]) and handles any code
    point, but routes the token payload through the Python worker.
    """
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    if backend == "arrow":
        return _decode_tokens_arrow(c)
    lut = _ascii_lut()
    return F.array_join(
        F.transform(c, lambda t: F.try_element_at(lut, t + 1)), ""
    )


def _decode_arrow_impl(lst):
    """r6: decode one Arrow batch by REUSING the list array's buffers
    (guide §4.2 — a list<int32> column is one contiguous values buffer
    plus an offsets array; a string column is one contiguous UTF-8
    buffer plus the SAME shape of offsets array). For an all-ASCII
    batch the whole decode is a vectorized int32→uint8 cast of the
    values buffer and a zero-copy re-wrap of the offsets — no per-row
    Python, no per-row allocation (measured 1.4 s vs 2.35 s for the
    JVM char-join over 5M rows at local[32]). Batches with wide code
    points (or exotic layouts: sliced arrays, nulls in the child) fall
    back to the exact per-row chr join."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(lst, pa.ChunkedArray):
        lst = lst.combine_chunks()
    n = len(lst)
    if n == 0:
        return pa.array([], type=pa.string())
    values = lst.values if lst.offset == 0 else None
    if values is not None and values.null_count == 0 and len(values):
        mm = pc.min_max(values)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is not None and 0 <= lo and hi < 128:
            # offsets are absolute into `values` (offset-0 array), so
            # both buffers can be re-wrapped as a string array as-is;
            # code points < 128 make the byte buffer valid UTF-8.
            data = values.cast(pa.uint8())
            return pa.Array.from_buffers(
                pa.string(),
                n,
                [lst.buffers()[0], lst.offsets.buffers()[1],
                 data.buffers()[1]],
                null_count=lst.null_count,
            )
    # exact fallback: any code point, any layout
    return pa.array(
        [
            "".join(map(chr, row.as_py())) if row.is_valid else None
            for row in lst
        ],
        type=pa.string(),
    )


def _decode_tokens_arrow(c: Column) -> Column:
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import StringType

    fn = arrow_udf(_decode_arrow_impl, StringType())
    return fn(c)


def facility_text(fac: Column) -> Column:
    """facility int → name (element_at is 1-indexed)."""
    return F.try_element_at(
        F.array(*[F.lit(x) for x in FACILITY_TEXT]), fac.cast("int") + 1
    )


def severity_text(sev: Column) -> Column:
    return F.try_element_at(
        F.array(*[F.lit(x) for x in SEVERITY_TEXT]), sev.cast("int") + 1
    )


# group-separator for single-pass extraction: a control char that can
# never appear in a sanitized syslog line (SanitizeMsg escapes all
# control chars, parser.c:330-535)
_SEP = "\x01"


def rewrite_groups(
    src: Column, rx: str, n_groups: int
) -> tuple[Column, Column]:
    """ONE regex pass for every capture group of the whole-string
    anchored ``rx``: regexp_replace rewrites the groups into a
    _SEP-joined string behind a leading _SEP sentinel. regexp_replace
    returns its input unchanged on no match and _SEP cannot occur in
    sanitized input, so the sentinel IS the match flag. Returns (hit,
    split); read the split with :func:`group_getter`. Per-group
    regexp_extract would re-run the whole regex once per group."""
    repl = _SEP + _SEP.join(f"${g}" for g in range(1, n_groups + 1))
    rew = F.regexp_replace(src, rx, repl)
    return rew.startswith(_SEP), F.split(rew, _SEP, -1)


def split_hit(parts: Column) -> Column:
    """:func:`rewrite_groups`' hit flag read off its split alone, for a
    caller that binds only the split: the rewrite starts with the _SEP
    sentinel exactly when its split has 2+ elements and the first is
    "" (a miss that holds _SEP elsewhere splits too, but not so)."""
    return (F.size(parts) > 1) & (F.element_at(parts, 1) == "")


def group_getter(parts: Column):
    """``g(i)`` → group i of a :func:`rewrite_groups` split, "" when
    absent (element 1 is the "" before the sentinel; a miss has one
    element, so every group reads "" like regexp_extract's)."""
    return lambda i: F.coalesce(
        F.try_element_at(parts, F.lit(i + 1)), F.lit("")
    )


_MONTHS = "Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec"
_P3339 = r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:\d{2})?"
_P3164 = rf"(?:{_MONTHS}) (?: \d|\d\d) \d\d:\d\d:\d\d"
# 1970..2099 spelled as a pattern so the year-range check needs no
# second pass (parse_line's `1970 <= int(yr) <= 2099`)
_PYEAR = r"(?: (?:19[7-9]\d|20\d{2})(?=[ :]))?"
_HOSTCH = r"[A-Za-z0-9._\-\[\]@/]+"
# SD blocks honoring \] escapes. java.util.regex recurses once per
# iteration of a backtracking group loop, so (?:[^\]\\]|\\.)* overflows
# the thread stack on an SD region with thousands of escapes or blocks;
# possessive loops iterate instead. Nothing is lost: a block ends at its
# first unescaped ']' and the (.*) after the blocks always matches, so
# the match never backtracks into them.
_SDBLK = r"(?:\[[^\]\\]*+(?:\\.[^\]\\]*+)*+\])++"

#: the PRI digits, read off the line's first five chars, so a query
#: that needs only pri/facility/severity runs no header regex
_PRI_RE = r"^<(\d{1,3})>"

#: ONE regex holding every other parse_line heuristic (it skips the PRI)
#: as ordered alternations/optional groups — one match per row. Greedy `?` groups
#: encode parse_line's if-chains: the engine tries the consuming path
#: first and only falls through when it cannot match, which is exactly
#: the imperative precedence. The pattern matches EVERY sanitized line
#: (all branches optional / catch-all). Branch outcomes ride on groups
#: whose pattern cannot match "" (the '1 ' marker, '-', sd blocks,
#: timestamps, hostnames), so an absent group's "" is decidable.
#: ``(?d)`` makes LF the only line terminator, as in Python's ``re``;
#: sanitized text holds none, so ``.*`` runs to the end.
#: Group map:
#:  1 RFC5424 marker ('1 ') | RFC5424: 2 ts 3 host 4 app 5 procid
#:  6 msgid 7 sd ('-' or blocks) 8 sd-space 9 msg
#:  | RFC3164: 10 ts(+year), 11 host-after-ts, 12 host-no-ts,
#:  13 tag 14 msg
_HEADER_RE = (
    r"(?d)^(?:<\d{1,3}>)?"
    r"(?:(1 )"
    r"([^ ]*)"
    r"(?: ([^ ]*)"
    r"(?: ([^ ]*)"
    r"(?: ([^ ]*)"
    r"(?: ([^ ]*)"
    f"(?: (?:(-|{_SDBLK})( ?))?(.*))?"
    r")?)?)?)?"
    r"|"
    f"(?: (?=(?:{_P3339}|{_P3164})))?"
    r"(?:"
    f"((?:{_P3339}|{_P3164}{_PYEAR}))"
    f"(?: (?:({_HOSTCH})(?: |$))?)?"
    r"|"
    f"(?:({_HOSTCH})(?: |$))?"
    r")"
    r"([^: ]{0,32}:?)(.*)"
    r")$"
)
#: the rewrite's fields, read as g(1)..g(9): groups of branches that
#: exclude each other share one field (a 5424 or a 3164 timestamp), so
#: 14 groups split into 9 fields
_HEADER_FIELDS = (
    "$1", "$2$10", "$3$11$12", "$4$13", "$5", "$6", "$7", "$8", "$9$14",
)


def _sanitized(raw: Column) -> Column:
    """SanitizeMsg (parser.c:330-535): strip trailing NUL/LF/CR, escape
    every other control char but TAB as ``#ooo``, char by char.
    ``transform`` runs interpreted (a ``CodegenFallback``), so this is
    one call in the generated code, which only flagged rows reach. The
    same escape as 31 nested ``replace`` calls put the parse stage's
    ``processNext`` over the 8,000 bytecode bytes HotSpot compiles, and
    the whole stage ran interpreted (tests/test_plans.py pins the
    limit)."""
    return F.array_join(F.transform(
        F.split(F.rtrim(raw, F.lit("\x00\n\r")), ""),
        lambda c: F.when(
            c.between("\x00", "\x1f") & (c != "\t"),
            F.concat(F.lit("#"), F.lpad(F.conv(F.ascii(c), 10, 8), 3, "0")),
        ).otherwise(c),
    ), "")


def parse(
    df: DataFrame, tokens_col: str = "tokens",
    decode_backend: str | None = None,
) -> DataFrame:
    """Decode + parse: append the header columns

        rawmsg, pri, facility, severity, protocol_version,
        timereported_str, hostname, syslogtag, procid, msgid,
        structured_data, msg, parse_success, programname

    to ``df``; the input columns (tokens too) pass through untouched.
    ``decode_backend`` in {"jvm", "arrow"} (default: $SPARK_GRAFT_DECODE
    or "jvm").

    One narrow projection stage: no shuffle, whole-stage codegen'd
    (decode optionally via the Arrow backend); Catalyst prunes unused
    columns. Each row costs ONE regex pass over the line,
    :data:`_HEADER_RE`'s rewrite of its groups into a _SEP-joined
    string of :data:`_HEADER_FIELDS`, plus :data:`_PRI_RE` over its first
    five chars. The sanitized text, the PRI digits and the split are
    stacked layers of their own: CollapseProject keeps a non-cheap
    expression that is read more than once in its own projection, so
    neither the decode nor a regex is re-run per read (an inlined PRI
    regex, read by pri, facility and severity, measured 4x the cost of
    the bound one).
    """
    if decode_backend is None:
        decode_backend = os.environ.get("SPARK_GRAFT_DECODE", "jvm")
    df = df.withColumn(
        "rawmsg", decode_tokens(tokens_col, backend=decode_backend)
    )
    # only rows with a code point below 32 can need sanitizing (TAB rows
    # pass through it unchanged): a guard over the int array is cheaper
    # than any pass over the text
    df = df.withColumn("rawmsg", F.when(
        F.array_min(tokens_col) < 32, _sanitized(F.col("rawmsg"))
    ).otherwise(F.col("rawmsg")))
    df = df.withColumns({
        "_pri": F.regexp_extract(F.col("rawmsg").substr(1, 5), _PRI_RE, 1),
        "_g": F.split(F.regexp_replace(
            "rawmsg", _HEADER_RE, _SEP + _SEP.join(_HEADER_FIELDS)
        ), _SEP, -1),
    })

    g = group_getter(F.col("_g"))
    some = lambda c: F.when(c != "", c)  # noqa: E731
    nil = lambda c: F.when(c != "-", c)  # noqa: E731 (5424 NILVALUE)
    is5424 = g(1) != ""
    head = lambda c: F.when(is5424, nil(c)).otherwise(some(c))  # noqa: E731
    pri_s = F.col("_pri")
    pri_num = pri_s.try_cast("int")
    pri_ok = (pri_s == "") | (pri_num <= 191)  # no PRI reads as 13
    pri = F.when(pri_s == "", F.lit(13)).when(pri_ok, pri_num)
    sd, msg = g(7), g(9)
    # SD is '-' or a block list that ends at SP or at the end of line
    sd_ok = (sd == "-") | (
        (sd != "") & ((g(8) != "") | ~msg.startswith("["))
    )
    df = df.withColumns({
        "pri": pri,
        "facility": (pri / 8).cast("int"),
        "severity": pri % 8,
        "protocol_version": is5424.cast("int"),
        "timereported_str": head(g(2)),
        "hostname": head(g(3)),
        "syslogtag": head(g(4)),
        "procid": F.when(is5424, nil(g(5))),
        "msgid": F.when(is5424, nil(g(6))),
        "structured_data": F.when(is5424, some(sd)),
        "msg": msg,
        "parse_success": F.col("_g").isNotNull() & pri_ok & (
            ~is5424 | sd_ok
        ),
    })
    return df.withColumn(
        "programname", F.regexp_extract("syslogtag", r"^([^:\[ ]*)", 1)
    ).drop("_pri", "_g")
