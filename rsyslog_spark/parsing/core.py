"""JVM-side (whole-stage-codegen) decode + syslog header parse.

Semantics mirrored from the reference (cited per step):

- PRI parse: ``<0..191>`` → facility = pri>>3, severity = pri&7;
  missing PRI → default 13; malformed → invalid.
  (runtime/parser.c:543-605)
- RFC3164 heuristic header: TIMESTAMP SP HOSTNAME SP TAG MSG, where TAG
  runs until ':' (kept in tag) or SP (left in msg).
  (tools/pmrfc3164.c:295-516)
- RFC5424: ``<PRI>1 TS HOST APP PROCID MSGID SD MSG``.
  (tools/pmrfc5424.c:75-185)
- PROGNAME = TAG up to first ':' / '[' / SP
  (runtime/msg.c getProgramName, msg.h:279)

The decode fast path (``char()`` join) is exact for token values
< 128 (ASCII); the corpus generator guarantees this. Non-ASCII code
points require ``parse(df, mode="full")``.
"""

from __future__ import annotations

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

_MONTHS = "Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec"
# 'MMM dd' with space- or zero-padded day, then HH:MM:SS
TS3164_RE = rf"(?:{_MONTHS}) (?: \d|\d\d) \d{{2}}:\d{{2}}:\d{{2}}"
# RFC3339/5424 timestamp (with optional frac + zone)
TS3339_RE = (
    r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:\d{2})?"
)

# full-line regexes; group numbers documented inline. (?s) = DOTALL so
# multiline MSG bodies (imfile startmsg.regex assembly) stay one match.
_RE_PRI = r"^<(\d{1,3})>"
# after-PRI RFC3164:  (ts) SP (host) SP (tag[':' kept]) (msg)
# the reference tolerates ONE stray space between '>' and the 3164
# timestamp (tests/parsertest-parse-3164-buggyday.sh sends "<38> Mar  7")
_RE_3164 = rf"(?s)^ ?({TS3164_RE}) (\S+) ([^: ]*:?)(.*)$"
# after-PRI RFC5424: 1 SP ts SP host SP app SP procid SP msgid SP sd SP msg
_RE_5424 = r"(?s)^1 (\S+) (\S+) (\S+) (\S+) (\S+) (-|\[.*\])(?: (.*))?$"


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
_REPL_3164 = _SEP.join(f"${i}" for i in range(1, 5))
_REPL_5424 = _SEP.join(f"${i}" for i in range(1, 8))


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


def parse_sql(
    df: DataFrame, tokens_col: str = "tokens", decode_backend: str = "jvm"
) -> DataFrame:
    """Append parsed header columns using built-in expressions.

    One narrow projection stage: no shuffle, fully whole-stage-
    codegen'd (decode optionally via the Arrow backend); Catalyst
    prunes unused columns.

    Perf: each row costs ONE regex pass — the pattern of its header
    variant (RFC 5424 when the text after PRI starts with ``1 ``,
    else RFC 3164) rewrites all groups into a control-char-separated
    string (regexp_replace), kept as its own column so the match test
    and the split both read it (generated code: one regexp_replace
    eval site per variant). The naive per-field regexp_extract
    alternative costs one full regex match per field (13×); measured
    ~2.5× slower at 20M rows. PRI is plain string arithmetic, no
    regex.
    """
    raw = decode_tokens(tokens_col, backend=decode_backend)
    df = df.withColumn("rawmsg", raw)

    # --- PRI: '<ddd>' prefix via instr/substring (parser.c:543-605) ---
    gt = F.instr("rawmsg", ">")
    pri_str = F.col("rawmsg").substr(F.lit(2), gt - 2)
    has_pri = (
        F.col("rawmsg").startswith("<")
        & gt.between(3, 5)
        & pri_str.try_cast("int").isNotNull()
    )
    pri_num = F.when(has_pri, pri_str.try_cast("int")).otherwise(F.lit(13))
    pri_valid = pri_num <= 191
    after_pri = F.when(
        has_pri, F.col("rawmsg").substr(gt + 1, F.length("rawmsg"))
    ).otherwise(F.col("rawmsg"))

    # one withColumns per projection the optimizer keeps: each layer
    # reads only columns the layers below it made
    df = df.withColumns(
        {"pri": F.when(pri_valid, pri_num), "_after_pri": after_pri}
    )

    is5424 = F.col("_after_pri").startswith("1 ")
    # one regex pass per row: the variant's rewrite (groups → _SEP-
    # joined string) is its own column, so the match test and the split
    # below read it instead of re-running the regex
    df = df.withColumns({
        "facility": (F.col("pri") / 8).cast("int"),
        "severity": F.col("pri") % 8,
        "protocol_version": F.when(is5424, F.lit(1)).otherwise(F.lit(0)),
        "_rew": F.when(
            is5424, F.regexp_replace("_after_pri", _RE_5424, _REPL_5424)
        ).otherwise(F.regexp_replace("_after_pri", _RE_3164, _REPL_3164)),
    })
    # regexp_replace returns the input unchanged on no-match; _SEP can't
    # occur in sanitized input, so its presence IS the match flag
    rew = F.col("_rew")
    df = df.withColumn("_g", F.when(rew.contains(_SEP), F.split(rew, _SEP, -1)))

    g = lambda i: F.try_element_at("_g", F.lit(i))  # noqa: E731
    dash_null = lambda c: F.when(c != "-", c)  # noqa: E731

    df = df.withColumns({
        "timereported_str": g(1),
        "hostname": g(2),
        "syslogtag": g(3),
        "procid": F.when(is5424, dash_null(g(4))),
        "msgid": F.when(is5424, dash_null(g(5))),
        "structured_data": F.when(is5424, g(6)),
        "msg": F.when(is5424, F.coalesce(g(7), F.lit(""))).otherwise(g(4)),
        "parse_success": F.col("_g").isNotNull() & pri_valid,
    })
    return df.withColumn(
        "programname", F.regexp_extract("syslogtag", r"^([^:\[ ]*)", 1)
    ).drop("_after_pri", "_rew", "_g")
