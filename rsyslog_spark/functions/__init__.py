"""RainerScript built-in function library as Column functions.

Each function mirrors a reference script function
(grammar/rainerscript.c:4467-4510 registration table;
per-function impl cites below) expressed as built-in pyspark Column
expressions — JVM-side, whole-stage-codegen, no Python in the hot path.

Registered in :data:`REGISTRY` for the rule compiler's function-call
resolution (analog of rsyslog's scriptFunct lookup).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    """Coerce an argument to a Column. Bare python values (including
    strings) are literals — pass F.col(...) explicitly for columns, as
    the rule compiler does."""
    return x if isinstance(x, Column) else F.lit(x)


# --- string functions ------------------------------------------------------

def strlen(s) -> Column:
    """rainerscript.c:2546"""
    return F.length(_c(s))


def tolower(s) -> Column:
    """rainerscript.c:2193"""
    return F.lower(_c(s))


def toupper(s) -> Column:
    """rainerscript.c:2212"""
    return F.upper(_c(s))


def ltrim(s) -> Column:
    """rainerscript.c:2103"""
    return F.ltrim(_c(s))


def rtrim(s) -> Column:
    """rainerscript.c:2130"""
    return F.rtrim(_c(s))


def substring(s, start, length) -> Column:
    """rainerscript.c:2571-2623 — 0-based start; negative length means
    'from the end' (drop -length chars)."""
    s = _c(s)
    if isinstance(length, int) and length < 0:
        return s.substr(
            F.lit(start + 1),
            F.greatest(F.lit(0), F.length(s) - start + length),
        )
    return s.substr(F.lit(start + 1), _c(length))


def replace(s, frm, to) -> Column:
    """rainerscript.c:2484 — literal (non-regex) replace."""
    return F.replace(_c(s), _c(frm), _c(to))


def wrap(s, wrapper, escape=None) -> Column:
    """rainerscript.c:2500 — wrap(s, w) = w||s'||w; 3-arg form first
    replaces occurrences of w in s with the escape string."""
    s = _c(s)
    if escape is not None:
        s = F.replace(s, _c(wrapper), _c(escape))
    return F.concat(_c(wrapper), s, _c(wrapper))


def field(s, delim, n) -> Column:
    """rainerscript.c:2625-2665 — 1-based field extraction; delimiter is
    a *literal* char code (int) or string (F.split takes a regex, so
    escape it); miss → '***FIELD NOT FOUND***'."""
    import re as _re

    if isinstance(delim, int):
        delim = chr(delim)
    got = F.try_element_at(F.split(_c(s), _re.escape(delim), -1), _c(n))
    return F.coalesce(got, F.lit("***FIELD NOT FOUND***"))


def re_match(s, pattern) -> Column:
    """rainerscript.c:2338 — POSIX ERE match (Java regex superset)."""
    return _c(s).rlike(pattern)


def re_match_i(s, pattern) -> Column:
    return _c(s).rlike(f"(?i){pattern}")


def re_extract(s, pattern, match=0, submatch=0, nomatch="") -> Column:
    """rainerscript.c:1681-1782 — extract submatch of the match-th
    occurrence; nomatch default on miss. match>0 uses regexp_extract_all."""
    if match == 0:
        got = F.regexp_extract(_c(s), pattern, submatch)
        return F.when(got != "", got).otherwise(F.lit(nomatch))
    allm = F.regexp_extract_all(_c(s), F.lit(pattern), F.lit(submatch))
    got = F.try_element_at(allm, F.lit(match + 1))
    return F.coalesce(got, F.lit(nomatch))


def re_extract_i(s, pattern, match=0, submatch=0, nomatch="") -> Column:
    """grammar/rainerscript.c:4485 — re_extract with REG_ICASE."""
    return re_extract(s, f"(?i){pattern}", match, submatch, nomatch)


def split(s, sep) -> Column:
    """rainerscript.c:3245-3330 — split on a literal separator to array
    (JSON array in the reference)."""
    import re as _re

    if isinstance(sep, int):
        sep = chr(sep)
    return F.split(_c(s), _re.escape(sep), -1)


def b64_decode(s) -> Column:
    """rainerscript.c:3191"""
    return F.unbase64(_c(s)).cast("string")


def int2hex(n) -> Column:
    """rainerscript.c:2458"""
    return F.lower(F.hex(_c(n)))


# --- casts -----------------------------------------------------------------

def cstr(x) -> Column:
    """rainerscript.c:2237"""
    return _c(x).cast("string")


def cnum(x) -> Column:
    """rainerscript.c:2254 — to int64; non-coercible → 0 (var2Number
    semantics, rainerscript.c:1490)."""
    return F.coalesce(_c(x).try_cast("long"), F.lit(0))


def cbool(x) -> Column:
    """rainerscript.c:2305"""
    return _c(x).cast("boolean")


# --- network ---------------------------------------------------------------

def ipv42num(ip) -> Column:
    """rainerscript.c:2365 — dotted quad → uint32 (null if malformed)."""
    parts = F.split(_c(ip), r"\.")
    ok = (F.size(parts) == 4) & _c(ip).rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    octet = lambda i: F.try_element_at(parts, F.lit(i)).try_cast("long")  # noqa: E731
    val = (
        octet(1) * 16777216 + octet(2) * 65536 + octet(3) * 256 + octet(4)
    )
    valid = ok & (octet(1) <= 255) & (octet(2) <= 255) & (octet(3) <= 255) & (octet(4) <= 255)
    return F.when(valid, val)


def num2ipv4(n) -> Column:
    """rainerscript.c:3036 — uint32 → dotted quad; out-of-range → '-1'
    (reference returns "-1" on error)."""
    n = _c(n).cast("long")
    quad = F.concat_ws(
        ".",
        ((n / 16777216) % 256).cast("int").cast("string"),
        ((n / 65536) % 256).cast("int").cast("string"),
        ((n / 256) % 256).cast("int").cast("string"),
        (n % 256).cast("int").cast("string"),
    )
    return F.when((n >= 0) & (n <= 4294967295), quad).otherwise(F.lit("-1"))


def is_in_subnet(ip, cidr: str) -> Column:
    """rainerscript.c:3514 — CIDR containment on ipv4."""
    net, bits = cidr.split("/")
    bits = int(bits)
    mask = (0xFFFFFFFF << (32 - bits)) & 0xFFFFFFFF if bits else 0
    import ipaddress

    netnum = int(ipaddress.IPv4Address(net)) & mask
    return ipv42num(ip).bitwiseAND(F.lit(mask)) == F.lit(netnum)


# --- time ------------------------------------------------------------------

# strftime → Java SimpleDateFormat conversion table (the subset that
# appears in rsyslog configs; %e is day-space-padded — handled apart)
_STRFTIME_MAP = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%M": "mm", "%S": "ss", "%b": "MMM", "%B": "MMMM", "%a": "EEE",
    "%A": "EEEE", "%j": "DDD", "%Z": "zz", "%z": "xx", "%p": "a",
    "%I": "hh", "%%": "'%'",
}


def _strftime_to_java(fmt: str) -> str:
    out, i, lit = [], 0, []

    def flush():
        if lit:
            text = "".join(lit).replace("'", "''")
            out.append(f"'{text}'" if text else "")
            lit.clear()

    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            spec = fmt[i : i + 2]
            if spec in _STRFTIME_MAP:
                flush()
                out.append(_STRFTIME_MAP[spec])
                i += 2
                continue
        lit.append(fmt[i])
        i += 1
    flush()
    return "".join(out)


def format_time(unixts, fmt: str = "date-rfc3339") -> Column:
    """rainerscript.c:2744-2800 → datetime.c formatUnixTimeFromTime_t:
    unix ts → formatted string. The reference accepts date-rfc3339 /
    date-rfc3164; strftime-style %specs are additionally translated
    (the documented rsyslog format_time extension surface), and
    anything else is treated as a Java date pattern."""
    t = F.from_unixtime(_c(unixts).cast("long"))
    if fmt in ("date-rfc3339", "rfc3339"):
        return F.date_format(t, "yyyy-MM-dd'T'HH:mm:ssXXX")
    if fmt in ("date-rfc3164", "rfc3164"):
        return F.concat(
            F.date_format(t, "MMM"),
            F.format_string("%3d", F.dayofmonth(t)),
            F.lit(" "),
            F.date_format(t, "HH:mm:ss"),
        )
    if "%" in fmt:
        # %e = space-padded day (no SimpleDateFormat equivalent)
        parts = fmt.split("%e")
        cols = [F.date_format(t, _strftime_to_java(p)) if p else F.lit("")
                for p in parts]
        day = F.format_string("%2d", F.dayofmonth(t))
        mixed = [cols[0]]
        for c in cols[1:]:
            mixed += [day, c]
        return F.concat(*mixed) if len(mixed) > 1 else mixed[0]
    return F.date_format(t, fmt)


def parse_time(s) -> Column:
    """rainerscript.c:2822-2863 — RFC3339 or RFC3164 string → unix ts.
    RFC3164 has no year: estimated per estimateYear (rainerscript.c:2810)
    relative to the session's current date."""
    s = _c(s)
    t3339 = F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX"))
    t3339b = F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss"))
    cur_year = F.year(F.current_date())
    t3164 = F.try_to_timestamp(
        F.concat(cur_year.cast("string"), F.lit(" "), F.regexp_replace(s, "  ", " ")),
        F.lit("yyyy MMM d HH:mm:ss"),
    )
    # estimateYear: if parsed month is > 1 month in the future, it was
    # last year
    t3164 = F.when(
        t3164 > F.add_months(F.current_timestamp(), 1),
        F.try_to_timestamp(
            F.concat((cur_year - 1).cast("string"), F.lit(" "), F.regexp_replace(s, "  ", " ")),
            F.lit("yyyy MMM d HH:mm:ss"),
        ),
    ).otherwise(t3164)
    return F.unix_timestamp(F.coalesce(t3339, t3339b, t3164))


def parse_time_localtz(s, tz: str | None = None) -> Column:
    """rainerscript.c:2865-2905 — like parse_time but the wall-clock
    string is interpreted in the LOCAL timezone
    (syslogTime2time_tLocalTZ) instead of UTC. `tz` defaults to the
    host's TZ env (the reference uses the process TZ); an RFC3339
    string carrying an explicit offset keeps its own offset."""
    import os

    tz = tz or os.environ.get("TZ") or "UTC"
    s = _c(s)
    # explicit-offset 3339 → offset wins (same as parse_time)
    t_off = F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX"))
    # offset-less forms → wall clock in tz
    naive3339 = F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss"))
    cur_year = F.year(F.current_date())
    naive3164 = F.try_to_timestamp(
        F.concat(cur_year.cast("string"), F.lit(" "),
                 F.regexp_replace(s, "  ", " ")),
        F.lit("yyyy MMM d HH:mm:ss"),
    )
    naive3164 = F.when(
        naive3164 > F.add_months(F.current_timestamp(), 1),
        F.try_to_timestamp(
            F.concat((cur_year - 1).cast("string"), F.lit(" "),
                     F.regexp_replace(s, "  ", " ")),
            F.lit("yyyy MMM d HH:mm:ss"),
        ),
    ).otherwise(naive3164)
    local = F.to_utc_timestamp(F.coalesce(naive3339, naive3164), tz)
    return F.unix_timestamp(F.coalesce(t_off, local))


def is_time(s, fmt: str | None = None) -> Column:
    """rainerscript.c:2983"""
    if fmt is None:
        return parse_time(s).isNotNull()
    return F.try_to_timestamp(_c(s), F.lit(fmt)).isNotNull()


# --- json ------------------------------------------------------------------

def parse_json(s) -> Column:
    """rainerscript.c:1868 — parse into a map (CEE tree analog)."""
    return F.from_json(_c(s), "map<string,string>")


def unflatten(s, sep=".") -> Column:
    """contrib/fmunflatten — FLAT map form (documented divergence: the
    CEE column type here is map<string,string>, so dotted keys stay
    flat; use :func:`unflatten_json` for the reference's nested-tree
    output, fmunflatten.c:206)."""
    return parse_json(s)


def flatten_json(s, sep: str = ".", depth: int = 6) -> Column:
    """plugins/mmjsontransform flatten mode: nested JSON objects →
    dotted flat map ({"a":{"b":1}} → {"a.b":"1"}), entirely in Column
    expressions. One expansion pass per nesting level, unrolled to
    ``depth`` (linear expression growth — each pass references the
    previous entries array once; deeper trees keep their remaining
    nesting as raw JSON strings, documented bound). Malformed nested
    values stay as-is (coalesce guard). Arrays remain string values,
    like map<string,string> parsing renders them."""
    entries = F.map_entries(F.from_json(_c(s), "map<string,string>"))
    looks_obj = lambda v: v.rlike(r"^\s*\{")  # noqa: E731
    for _ in range(depth):

        def expand(e: Column) -> Column:
            kids = F.map_entries(F.from_json(e["value"], "map<string,string>"))
            prefixed = F.transform(
                kids,
                lambda c: F.struct(
                    F.concat(e["key"], F.lit(sep), c["key"]).alias("key"),
                    c["value"].alias("value"),
                ),
            )
            # guard: '{}' parses to an EMPTY (non-null) entries array —
            # substituting it would silently drop the key, so only
            # replace the entry when the child map is non-empty
            # (malformed JSON parses to null and also falls through)
            return F.when(
                looks_obj(e["value"])
                & prefixed.isNotNull()
                & (F.size(prefixed) > 0),
                prefixed,
            ).otherwise(F.array(e))

        entries = F.flatten(F.transform(entries, expand))
    return F.map_from_entries(entries)


def _unflatten_json_udf(s, sep: str = ".", need=None) -> Column:
    """Recursive Arrow-UDF unflatten (the pre-r4 implementation) —
    the deep-literal fallback branch of :func:`unflatten_json`. The
    ``need`` boolean column is pushed INTO the UDF so rows the pure-
    Column path already handled skip the json parse (ArrowEvalPython
    evaluates a UDF for every row regardless of the CASE branch that
    consumes it — the flag keeps that unconditional pass cheap)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _unflat(col: pd.Series, needed: pd.Series) -> pd.Series:
        import json

        def go(v, n):
            if not n or v is None:
                return None
            try:
                flat = json.loads(v)
            except (TypeError, ValueError):
                return None
            if not isinstance(flat, dict):
                return json.dumps(flat)
            root: dict = {}
            for k, val in flat.items():
                node = root
                parts = str(k).split(sep)
                for p in parts[:-1]:
                    nxt = node.get(p)
                    if not isinstance(nxt, dict):
                        nxt = {}
                        node[p] = nxt
                    node = nxt
                node[parts[-1]] = val
            return json.dumps(root, separators=(",", ":"))

        return pd.Series(
            [go(v, n) for v, n in zip(col, needed)], dtype="object"
        )

    need_col = F.lit(True) if need is None else need
    return _unflat(_c(s), need_col)


def unflatten_json(s, sep: str = ".", deep_fallback: bool = False) -> Column:
    """contrib/fmunflatten/fmunflatten.c:206 — nested-tree output as a
    JSON string: {"a.b":1,"a.c":2} → {"a":{"b":1,"c":2}}, entirely in
    Column expressions (no Python evaluator; was the last Arrow UDF on
    a mm* path).

    Method: one global regex pass extracts (raw key, raw value-token)
    pairs from the flat object TEXT — values keep their source JSON
    spelling, so numbers/bools/strings survive untouched. Entries are
    sorted by key (siblings of a shared dotted prefix become
    contiguous) and serialized with the classic common-prefix walk:
    each entry closes the braces the previous entry's deeper levels
    opened, opens its own new intermediate levels, then emits
    ``"leaf":value``.

    Documented bounds (each the mirror of flatten_json's depth bound):
    object/array literal VALUES are captured to brace/bracket depth 8
    (flatten never emits them at all — deeper remnants ride as JSON
    strings, which are captured exactly); a deeper pathological
    literal trips the validity guard → null by default, or degrades
    to the recursive Arrow-UDF slow path when ``deep_fallback=True``
    (ADVICE r4; the RainerScript REGISTRY registers the fallback
    variant for fmunflatten parity — the hot mm* path keeps the pure
    plan). Valid NON-OBJECT JSON (scalar/array input) passes through
    trimmed, matching the reference's value-unchanged behavior.
    Conflicting paths ("a" and "a.b") resolve deeper-path-wins — the
    "a" leaf is dropped (the reference resolves by insertion order,
    fmunflatten.c:206: whichever comes last overwrites; a sorted
    serialization can't see source order, so the deterministic rule is
    documented instead); key order in the output is sorted, not source
    order (JSON object semantics). Malformed input → null."""
    import re as _re

    col = _c(s)
    guard = F.from_json(col, "map<string,string>")
    # value tokens: string | array (bracket depth ≤8, strings opaque) |
    # object (brace depth ≤8, strings opaque) | bare scalar. The
    # pattern grows LINEARLY with the bound (each level embeds one
    # copy of the previous); deeper literals can't be captured by a
    # regex — the validity guard below turns them into null / the UDF
    # fallback rather than silently truncated JSON (code-review r4 #5).
    # Every loop is possessive (mm._QUOTED says why): its alternatives
    # start with disjoint characters, so no match is lost.
    _str = r'"(?:[^"\\]|\\.)*+"'
    _obj = r"\{(?:[^{}\"]|" + _str + r")*+\}"
    _arr = r"\[(?:[^\[\]\"]|" + _str + r")*+\]"
    for _ in range(7):
        _obj = r"\{(?:[^{}\"]|" + _str + r"|" + _obj + r")*+\}"
        _arr = r"\[(?:[^\[\]\"]|" + _str + r"|" + _arr + r")*+\]"
    val_tok = _str + r"|" + _arr + r"|" + _obj + r"|[^,}\s][^,}]*"
    pat = r'"((?:[^"\\]|\\.)*+)"\s*:\s*(' + val_tok + r")"
    keys = F.regexp_extract_all(col, F.lit(pat), F.lit(1))
    vals = F.regexp_extract_all(col, F.lit(pat), F.lit(2))
    entries = F.array_sort(
        F.zip_with(
            keys,
            vals,
            lambda k, v: F.struct(
                k.alias("key"), F.rtrim(v).alias("value")
            ),
        )
    )
    # exact-duplicate keys (legal in raw JSON text): keep the LAST of
    # each sorted same-key run — deterministic single-key output where
    # the reference's insertion-order overwrite also kept exactly one
    # (code-review r4 #7)
    entries = F.filter(
        entries,
        lambda e, i: F.try_element_at(entries, i + 2).isNull()
        | (F.try_element_at(entries, i + 2)["key"] != e["key"]),
    )
    # validity guard: an object/array value token that doesn't parse is
    # a truncated capture (literal nested deeper than the regex bound)
    # — null the whole result instead of emitting corrupt JSON
    bad_tok = F.exists(
        entries,
        lambda e: (
            e["value"].startswith("{")
            & F.from_json(e["value"], "map<string,string>").isNull()
        )
        | (
            e["value"].startswith("[")
            & F.from_json(e["value"], "array<string>").isNull()
        ),
    )
    # deeper-path-wins conflict rule: a leaf whose key is a strict
    # segment-prefix of another key ("a" vs "a.b") would serialize as a
    # scalar AND an open brace at the same position — drop the leaf
    # (n² over the handful of entries of one flat object; per-row cost
    # is trivial and stays JVM-side)
    entries = F.filter(
        entries,
        lambda e: ~F.exists(
            entries,
            lambda o: o["key"].startswith(F.concat(e["key"], F.lit(sep))),
        ),
    )
    n = F.size(entries)
    seprx = _re.escape(sep)

    def piece(i: Column) -> Column:
        e = F.try_element_at(entries, i)
        # ANSI: index 0 is invalid even for try_element_at — guard the
        # first entry behind the CASE (branches evaluate lazily)
        pe = F.when(i > 1, F.try_element_at(entries, i - 1))
        segs = F.split(e["key"], seprx, -1)
        psegs = F.split(pe["key"], seprx, -1)
        # first position where the segment paths diverge (null-safe eq:
        # the shorter path zero-pads with nulls, which compare false)
        fpos = F.array_position(
            F.zip_with(segs, psegs, lambda x, y: x.eqNullSafe(y)),
            F.lit(False),
        )
        common = (
            F.when(pe.isNull(), F.lit(0).cast("long"))
            .when(fpos == 0, F.size(segs).cast("long") - 1)  # dup key
            .otherwise(fpos - 1)
        )
        closers = F.repeat(
            F.lit("}"),
            F.greatest(
                F.lit(0), (F.size(psegs) - 1 - common).cast("int")
            ),
        )
        pre = F.when(pe.isNull(), F.lit("")).otherwise(
            F.concat(closers, F.lit(","))
        )
        inter = F.slice(
            segs, common + 1, (F.size(segs) - 1 - common).cast("int")
        )
        opens = F.array_join(
            F.transform(
                inter, lambda seg: F.concat(F.lit('"'), seg, F.lit('":{'))
            ),
            "",
        )
        return F.concat(
            pre, opens,
            F.lit('"'), F.element_at(segs, -1), F.lit('":'), e["value"],
        )

    body = F.array_join(F.transform(F.sequence(F.lit(1), n), piece), "")
    tail = F.repeat(
        F.lit("}"),
        (F.size(F.split(F.try_element_at(entries, n)["key"], seprx, -1)) - 1)
        .cast("int"),
    )
    # valid non-object JSON (scalar / array input): pass through
    # trimmed — the reference leaves non-container values unchanged
    t = F.trim(col)
    scalar_ok = t.rlike(
        r'^(-?\d+(\.\d+)?([eE][+-]?\d+)?|true|false|null|"(\\.|[^"\\])*")$'
    )
    array_ok = t.startswith("[") & F.from_json(
        t, "array<string>"
    ).isNotNull()
    if deep_fallback:
        deep = _unflatten_json_udf(col, sep, need=guard.isNotNull() & bad_tok)
    else:
        deep = F.lit(None).cast("string")
    return (
        F.when(guard.isNull() & (scalar_ok | array_ok), t)
        .when(guard.isNull(), F.lit(None).cast("string"))
        .when(bad_tok, deep)
        .when(n == 0, F.lit("{}"))
        .otherwise(F.concat(F.lit("{"), body, tail, F.lit("}")))
    )


def append_json(src, dst) -> Column:
    """rainerscript.c:3614 — merge two CEE maps; dst values win on key
    collision (reference merges src INTO dst)."""
    return F.map_zip_with(
        _c(src), _c(dst), lambda k, v1, v2: F.coalesce(v2, v1)
    )


def get_property(obj, name) -> Column:
    """rainerscript.c:1930 — dynamic property access on a map column."""
    return F.try_element_at(_c(obj), _c(name))


# --- hashing (contrib/fmhash, xxhash) ---------------------------------------

def hash64(s) -> Column:
    """contrib/fmhash/fmhash.c (hash64 = XXH64). Divergence note:
    Spark's xxhash64 is XXH64 with seed 42 where fmhash defaults to
    seed 0 — stable and collision-equivalent, but not byte-identical
    to the reference's value for the same input. For byte fidelity use
    hash64_xxh() (Arrow UDF over the spec implementation)."""
    return F.xxhash64(_c(s))


_P64 = (
    11400714785074694791, 14029467366897019727, 1609587929392839161,
    9650029242287828579, 2870177450012600261,
)
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 from the public xxHash spec — byte-identical to the
    XXH64(input, 0) fmhash calls (fmhash.c:350-356). Pure Python spec
    implementation; verified against Spark's own xxhash64 at seed 42."""
    p1, p2, p3, p4, p5 = _P64
    n, i = len(data), 0

    def rd8(o: int) -> int:
        return int.from_bytes(data[o : o + 8], "little")

    def rd4(o: int) -> int:
        return int.from_bytes(data[o : o + 4], "little")

    def round64(acc: int, lane: int) -> int:
        acc = (acc + lane * p2) & _M64
        return (_rotl64(acc, 31) * p1) & _M64

    if n >= 32:
        v = [
            (seed + p1 + p2) & _M64, (seed + p2) & _M64, seed & _M64,
            (seed - p1) & _M64,
        ]
        while i <= n - 32:
            for j in range(4):
                v[j] = round64(v[j], rd8(i + 8 * j))
            i += 32
        acc = (
            _rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
            + _rotl64(v[3], 18)
        ) & _M64
        for j in range(4):  # merge rounds
            acc = ((acc ^ round64(0, v[j])) * p1 + p4) & _M64
    else:
        acc = (seed + p5) & _M64
    acc = (acc + n) & _M64
    while i <= n - 8:
        acc ^= round64(0, rd8(i))
        acc = (_rotl64(acc, 27) * p1 + p4) & _M64
        i += 8
    if i <= n - 4:
        acc ^= (rd4(i) * p1) & _M64
        acc = (_rotl64(acc, 23) * p2 + p3) & _M64
        i += 4
    while i < n:
        acc ^= (data[i] * p5) & _M64
        acc = (_rotl64(acc, 11) * p1) & _M64
        i += 1
    acc ^= acc >> 33
    acc = (acc * p2) & _M64
    acc ^= acc >> 29
    acc = (acc * p3) & _M64
    acc ^= acc >> 32
    return acc


def hash64_xxh(s, seed: int = 0) -> Column:
    """Byte-faithful XXH64(input, seed) — the exact value fmhash's
    hash64 returns (seed 0), unlike Spark's seed-42 xxhash64. Arrow-
    batched UDF over the spec implementation above; returned as the
    UNSIGNED value in a string-safe signed long (two's complement),
    matching how the reference prints it via json integer."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _xxh64_udf(col: pd.Series) -> pd.Series:
        def go(v):
            if v is None:
                return None
            h = xxh64(str(v).encode("utf-8"), seed)
            return h - (1 << 64) if h >= 1 << 63 else h  # two's complement

        return col.map(go).astype("Int64")

    return _xxh64_udf(_c(s))


_P1, _P2, _P3, _P4, _P5 = (
    2654435761, 2246822519, 3266489917, 668265263, 374761393
)
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """XXH32 from the public xxHash spec — byte-identical to the
    XXH32() the reference fmhash calls (fmhash.c:137). Pure Python:
    hash32 is a rare script function, not a hot-path primitive; the
    UDF below Arrow-batches it."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        while i <= n - 16:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 4 * j : i + 4 * j + 4], "little")
                v = (v + lane * _P2) & _M32
                v = (_rotl32(v, 13) * _P1) & _M32
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 16
        acc = (
            _rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
    else:
        acc = (seed + _P5) & _M32
    acc = (acc + n) & _M32
    while i <= n - 4:
        lane = int.from_bytes(data[i : i + 4], "little")
        acc = (acc + lane * _P3) & _M32
        acc = (_rotl32(acc, 17) * _P4) & _M32
        i += 4
    while i < n:
        acc = (acc + data[i] * _P5) & _M32
        acc = (_rotl32(acc, 11) * _P1) & _M32
        i += 1
    acc ^= acc >> 15
    acc = (acc * _P2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P3) & _M32
    acc ^= acc >> 16
    return acc


def _bind(col: Column, fn) -> Column:
    """Evaluate `col` ONCE and pass it to `fn` as a lambda variable.
    transform() evaluates its array argument a single time and binds
    each element to the lambda var, so every reference inside `fn` is
    an O(1) variable read — the Column-expression equivalent of `let`.
    Plain repeated Column references inline a copy of the whole
    subtree, and codegen CSE does not dedupe copies inside CASE WHEN
    branches or lambda bodies (see mm.mmnormalize's projection split)."""
    return F.try_element_at(F.transform(F.array(col), fn), F.lit(1))


def _add32(a: Column, b: Column) -> Column:
    return (a + b).bitwiseAND(F.lit(0xFFFFFFFF))


def _mul32c(x: Column, const: int) -> Column:
    """x * const mod 2^32 without 64-bit overflow (ANSI mode throws on
    long overflow; (2^32-1)^2 > Long.MAX): split the constant into
    16-bit halves — x*lo ≤ 2^48 and (x*hi & 0xFFFF)<<16 ≤ 2^32."""
    lo, hi = const & 0xFFFF, (const >> 16) & 0xFFFF
    return (
        x * F.lit(lo)
        + (x * F.lit(hi)).bitwiseAND(F.lit(0xFFFF)) * F.lit(65536)
    ).bitwiseAND(F.lit(0xFFFFFFFF))


def _rotl32c(x: Column, r: int) -> Column:
    return (
        F.shiftleft(x, r).bitwiseAND(F.lit(0xFFFFFFFF))
    ).bitwiseOR(F.shiftright(x, 32 - r))


def _xxh32_column(h: Column, seed: int) -> Column:
    """XXH32 over a HEX-encoded byte string `h` (a bound lambda var —
    every substr/length on it is O(1)), entirely in JVM Column
    arithmetic: one aggregate() per spec loop (16-byte stripes, 4-byte
    chunks, trailing bytes), avalanche via chained single-eval binds."""
    n = (F.length(h) / F.lit(2)).cast("long")

    def byte_at(o: Column) -> Column:
        return F.conv(h.substr(o * 2 + 1, F.lit(2)), 16, 10).cast("long")

    def word_at(o: Column) -> Column:
        """32-bit little-endian lane: ONE conv of the 8 hex chars
        (big-endian value) + arithmetic byte swap — 4× fewer conv/
        substr nodes than per-byte extraction (this runs interpreted,
        node count is the cost model)."""
        be = F.conv(h.substr(o * 2 + 1, F.lit(8)), 16, 10).cast("long")
        return (
            F.shiftleft(be.bitwiseAND(F.lit(0xFF)), 24)
            + F.shiftleft(be.bitwiseAND(F.lit(0xFF00)), 8)
            + F.shiftright(be, 8).bitwiseAND(F.lit(0xFF00))
            + F.shiftright(be, 24)
        )

    nstripes = F.floor(n / F.lit(16)).cast("long")
    empty = F.array().cast("array<bigint>")
    zero = F.lit(0).cast("long")

    def lane_upd(v: Column, lane: Column) -> Column:
        return _mul32c(_rotl32c(_add32(v, _mul32c(lane, _P2)), 13), _P1)

    def stripe_merge(acc: Column, si: Column) -> Column:
        base = si * 16
        return F.struct(
            lane_upd(acc["v1"], word_at(base)).alias("v1"),
            lane_upd(acc["v2"], word_at(base + 4)).alias("v2"),
            lane_upd(acc["v3"], word_at(base + 8)).alias("v3"),
            lane_upd(acc["v4"], word_at(base + 12)).alias("v4"),
        )

    init = F.struct(
        F.lit((seed + _P1 + _P2) & _M32).cast("long").alias("v1"),
        F.lit((seed + _P2) & _M32).cast("long").alias("v2"),
        F.lit(seed & _M32).cast("long").alias("v3"),
        F.lit((seed - _P1) & _M32).cast("long").alias("v4"),
    )
    stripes_seq = F.when(
        nstripes > 0, F.sequence(zero, nstripes - 1)
    ).otherwise(empty)
    st = F.aggregate(stripes_seq, init, stripe_merge)

    def after_stripes(stv: Column) -> Column:
        core = F.when(
            nstripes > 0,
            _add32(
                _add32(_rotl32c(stv["v1"], 1), _rotl32c(stv["v2"], 7)),
                _add32(_rotl32c(stv["v3"], 12), _rotl32c(stv["v4"], 18)),
            ),
        ).otherwise(F.lit((seed + _P5) & _M32))
        acc0 = _add32(core, n)
        i0 = nstripes * 16
        nchunks = F.floor((n - i0) / F.lit(4)).cast("long")
        chunks_seq = F.when(
            nchunks > 0, F.sequence(zero, nchunks - 1)
        ).otherwise(empty)
        acc1 = F.aggregate(
            chunks_seq,
            acc0,
            lambda a, ci: _mul32c(
                _rotl32c(_add32(a, _mul32c(word_at(i0 + ci * 4), _P3)), 17),
                _P4,
            ),
        )
        j0 = i0 + nchunks * 4
        bytes_seq = F.when(n > j0, F.sequence(j0, n - 1)).otherwise(empty)
        acc2 = F.aggregate(
            bytes_seq,
            acc1,
            lambda a, o: _mul32c(
                _rotl32c(_add32(a, _mul32c(byte_at(o), _P5)), 11), _P1
            ),
        )
        return _bind(
            acc2,
            lambda a: _bind(
                _mul32c(a.bitwiseXOR(F.shiftright(a, 15)), _P2),
                lambda b: _bind(
                    _mul32c(b.bitwiseXOR(F.shiftright(b, 13)), _P3),
                    lambda c: c.bitwiseXOR(F.shiftright(c, 16)),
                ),
            ),
        )

    return _bind(st, after_stripes)


def http_request(
    u,
    timeout_secs: float = 10.0,
    allow_hosts: list[str] | None = None,
    deny_hosts: list[str] | None = None,
) -> Column:
    """plugins/fmhttp/fmhttp.c:156 ``http_request(url)`` — GET the URL
    and return the response body as a string (doFunc_http_request:
    curl_easy_perform + body capture). Errors → null (divergence: the
    reference returns a number-0 dummy value, fmhttp.c:125-128 —
    RainerScript has no null; callers here coalesce instead).

    Arrow-batched pandas UDF with a per-batch URL memo (repeated
    lookup URLs — the common log-enrichment shape — hit the network
    once per batch). Deliberately the external-I/O path, like
    mmexternal: one GET per DISTINCT url per batch still stalls the
    executor on the remote's latency, so use it for low-volume
    enrichment columns only; bulk delivery belongs to
    sinks.http_post_bodies, and cacheable enrichment to lookup tables.

    Host policy (ADVICE r4: log-data-derived URLs are an SSRF surface;
    the reference fetches anything, so the gate is opt-in parity):
    ``deny_hosts`` always blocks; when ``allow_hosts`` is set, ONLY
    matching hosts are fetched. A pattern is an exact hostname or a
    ``.suffix`` (matches the domain and its subdomains), compared
    case-insensitively on the URL's hostname. Defaults come from the
    ``RSYSLOG_SPARK_HTTP_ALLOW`` / ``RSYSLOG_SPARK_HTTP_DENY`` env
    vars (comma-separated, read once at plan-build time on the
    driver), so deployments with untrusted log content can fence the
    script-registry variant without code changes. Blocked → null."""
    from pyspark.sql.functions import pandas_udf

    if allow_hosts is None:
        env = os.environ.get("RSYSLOG_SPARK_HTTP_ALLOW", "")
        allow_hosts = [h.strip() for h in env.split(",") if h.strip()] or None
    if deny_hosts is None:
        env = os.environ.get("RSYSLOG_SPARK_HTTP_DENY", "")
        deny_hosts = [h.strip() for h in env.split(",") if h.strip()]
    allow = (
        tuple(h.lower() for h in allow_hosts)
        if allow_hosts is not None else None
    )
    deny = tuple(h.lower() for h in (deny_hosts or ()))

    @pandas_udf("string")
    def _get(col: pd.Series) -> pd.Series:
        import urllib.parse
        import urllib.request

        cache: dict = {}

        def matches(host: str, pat: str) -> bool:
            if pat.startswith("."):
                return host == pat[1:] or host.endswith(pat)
            return host == pat

        def host_ok(url: str) -> bool:
            try:
                host = (urllib.parse.urlsplit(url).hostname or "").lower()
            except ValueError:
                return False
            if not host or any(matches(host, p) for p in deny):
                return False
            return allow is None or any(matches(host, p) for p in allow)

        def go(url):
            if url is None:
                return None
            # scheme allowlist: data-derived URLs must not reach
            # file:// / ftp:// handlers (the reference is curl HTTP
            # GET only; a log-controlled file:// would read executor-
            # local files into the output)
            if not url.startswith(("http://", "https://")):
                return None
            if not host_ok(url):
                return None
            if url not in cache:
                try:
                    with urllib.request.urlopen(
                        url, timeout=timeout_secs
                    ) as r:
                        cache[url] = r.read().decode("utf-8", "replace")
                except Exception:
                    cache[url] = None
            return cache[url]

        return col.map(go)

    return _get(_c(u))


def hash32_jvm(s, seed: int = 0) -> Column:
    """contrib/fmhash/fmhash.c:137 — XXH32(input, seed), byte-faithful,
    computed ENTIRELY in JVM Column arithmetic (no Python eval node in
    the plan): the UTF-8 bytes are hex-encoded once and bound as a
    lambda variable; the spec's three loops run as aggregate() folds.
    Known-answer-tested against the pure-Python spec implementation.

    MEASURED tradeoff (local[8], 500k rows): higher-order functions run
    INTERPRETED (outside whole-stage codegen), costing ~per-node
    dispatch per byte — ~16k rows/s on 45-byte strings vs ~300k rows/s
    for the Arrow-batched UDF in hash32(); on 1-2 byte inputs it does
    ~160k rows/s. Use this variant when the plan must stay free of
    Python eval nodes (pure-JVM deployments, plan-shape guarantees);
    use hash32() when hashing full messages at volume."""
    hx = F.hex(F.encode(_c(s), "utf-8"))
    return _bind(hx, lambda h: _xxh32_column(h, seed)).cast("long")


def hash32(s, seed: int = 0) -> Column:
    """contrib/fmhash/fmhash.c:137 — XXH32(input, seed), byte-faithful
    (Arrow-batched pandas UDF over the spec implementation above). The
    pure-Column twin is hash32_jvm(); this UDF measured 10-15× faster
    on message-length inputs (see hash32_jvm docstring), so it stays
    the default for hot paths."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _xxh32_udf(col: pd.Series) -> pd.Series:
        return col.map(
            lambda v: xxh32(str(v).encode("utf-8"), seed) if v is not None
            else None
        ).astype("Int64")

    return _xxh32_udf(_c(s))


def hash64mod(s, mod) -> Column:
    return F.pmod(hash64(s), F.lit(mod))


def hash32mod(s, mod) -> Column:
    return F.pmod(hash32(s), F.lit(mod))


# --- faup URL decomposition (contrib/ffaup/ffaup.c:306-318) ------------------
# faup links libfaup; each faup_<part>(url) extracts one URL component.
# Mapping: Spark's parse_url covers scheme/host/userinfo/path/query/
# fragment natively; port comes off the authority; domain/tld/subdomain
# follow the Mozilla public-suffix-list algorithm (libfaup consults the
# PSL): the prevailing rule is the matching exception rule minus its
# leading label, else the LONGEST matching rule ('*' matches one
# label), else the implicit one-label rule; the registrable domain is
# the public suffix plus one label (publicsuffix.org/list/ algorithm).
#
# This sandbox embeds a curated ICANN-registry snapshot of MULTI-LABEL
# rules only (one-label TLDs are exactly the implicit rule, so listing
# them changes nothing); swap in a full snapshot with set_psl(). The
# PSL private section (blogspot.com etc.) is excluded — libfaup's
# default mozilla tld file is the ICANN list.

# multi-label suffix rules (snapshot subset of publicsuffix.org, ICANN
# section); '*' matches exactly one label
_PSL_RULES_DEFAULT: tuple[str, ...] = (
    # uk / ie
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "sch.uk",
    "ac.uk", "gov.uk", "nhs.uk", "police.uk", "gov.ie",
    # au / nz
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "kiwi.nz", "maori.nz",
    # jp (incl. the geographic wildcard prefectures)
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "*.kawasaki.jp", "*.kitakyushu.jp", "*.kobe.jp", "*.nagoya.jp",
    "*.sapporo.jp", "*.sendai.jp", "*.yokohama.jp",
    # historical all-wildcard registries
    "*.bd", "*.ck", "*.er", "*.fk", "*.jm", "*.kh", "*.mm", "*.np",
    "*.pg",
    # americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br",
    "art.br", "blog.br", "eco.br",
    "com.mx", "net.mx", "org.mx", "edu.mx", "gob.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar", "int.ar",
    "mil.ar", "tur.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "mil.co",
    "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe", "mil.pe",
    "nom.pe",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy", "mil.uy",
    "gob.cl", "gov.cl", "mil.cl", "co.cl",
    "ab.ca", "bc.ca", "mb.ca", "nb.ca", "nl.ca", "ns.ca", "nt.ca",
    "nu.ca", "on.ca", "pe.ca", "qc.ca", "sk.ca", "yk.ca", "gc.ca",
    # asia
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "mil.cn",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "res.in", "gov.in", "mil.in", "nic.in",
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
    "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr", "seoul.kr",
    "busan.kr",
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "mil.tw",
    "idv.tw", "game.tw", "ebiz.tw", "club.tw",
    "co.id", "net.id", "or.id", "ac.id", "sch.id", "go.id", "mil.id",
    "web.id", "my.id", "biz.id",
    "co.th", "net.th", "or.th", "ac.th", "go.th", "in.th", "mi.th",
    "com.my", "net.my", "org.my", "gov.my", "edu.my", "mil.my",
    "name.my",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph", "ngo.ph",
    "mil.ph", "i.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "int.vn",
    "ac.vn", "biz.vn", "info.vn", "name.vn", "pro.vn", "health.vn",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "idf.il", "k12.il",
    "muni.il",
    "com.sa", "net.sa", "org.sa", "gov.sa", "med.sa", "pub.sa",
    "edu.sa", "sch.sa",
    "co.ae", "net.ae", "org.ae", "sch.ae", "ac.ae", "gov.ae", "mil.ae",
    "com.tr", "net.tr", "org.tr", "biz.tr", "info.tr", "av.tr",
    "dr.tr", "pol.tr", "bel.tr", "tsk.tr", "k12.tr", "edu.tr",
    "name.tr", "web.tr", "gov.tr",
    # europe
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "info.pl",
    "waw.pl", "wroc.pl", "krakow.pl",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "kiev.ua", "kyiv.ua",
    "com.ru", "net.ru", "org.ru", "pp.ru", "msk.ru", "spb.ru",
    "ac.at", "co.at", "gv.at", "or.at",
    "co.hu", "info.hu", "org.hu", "priv.hu", "sport.hu", "tm.hu",
    "2000.hu", "edu.hu", "gov.hu",
    "com.es", "nom.es", "org.es", "gob.es", "edu.es",
    "gov.it", "edu.it",
    "asso.fr", "com.fr", "gouv.fr", "nom.fr", "prd.fr", "tm.fr",
    "com.gr", "edu.gr", "net.gr", "org.gr", "gov.gr",
    "com.pt", "edu.pt", "gov.pt", "int.pt", "net.pt", "nome.pt",
    "org.pt", "publ.pt",
    "com.ro", "org.ro", "tm.ro", "nt.ro", "store.ro", "info.ro",
    "nom.ro", "arts.ro", "firm.ro", "rec.ro",
    # africa
    "co.za", "net.za", "org.za", "gov.za", "edu.za", "ac.za", "web.za",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
    "mobi.ke", "info.ke",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng", "name.ng",
    "sch.ng",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg", "sci.eg",
    "eun.eg", "mil.eg",
)
# exception rules (PSL '!' prefix removed): the public suffix is the
# exception minus its leftmost label
_PSL_EXCEPTIONS_DEFAULT: tuple[str, ...] = (
    "www.ck",
    "city.kawasaki.jp", "city.kitakyushu.jp", "city.kobe.jp",
    "city.nagoya.jp", "city.sapporo.jp", "city.sendai.jp",
    "city.yokohama.jp",
)

_psl_blob = ""
_psl_wild_blob = ""
_psl_exc_blob = ""
_psl_max_labels = 1


def set_psl(
    rules: tuple[str, ...] | list[str] = _PSL_RULES_DEFAULT,
    exceptions: tuple[str, ...] | list[str] = _PSL_EXCEPTIONS_DEFAULT,
) -> None:
    """Install a public-suffix-list snapshot for the faup_* splits.
    ``rules``: multi-label PSL rules ('*.x.y' wildcards allowed,
    one-label rules are implicit); ``exceptions``: '!' rules without
    the bang. Pass a freshly downloaded full snapshot at deploy time;
    membership is tested via newline-delimited literal blobs — O(blob)
    per candidate, right-sized for the registry-class subset (a full
    ~9k-rule snapshot still works, at a constant-factor cost on the
    faup columns only)."""
    global _psl_blob, _psl_wild_blob, _psl_exc_blob, _psl_max_labels
    plain = [r for r in rules if not r.startswith("*.")]
    wild = [r[2:] for r in rules if r.startswith("*.")]  # stored sans *.
    _psl_blob = "\n" + "\n".join(plain) + "\n"
    _psl_wild_blob = "\n" + "\n".join(wild) + "\n"
    _psl_exc_blob = "\n" + "\n".join(exceptions) + "\n"
    _psl_max_labels = max(
        [r.count(".") + 1 for r in plain]
        + [r.count(".") + 2 for r in wild]
        + [r.count(".") + 1 for r in exceptions]
        + [1]
    )


set_psl()


def load_psl(
    source: str | None = None, *, icann_only: bool = False
) -> tuple[list[str], list[str]]:
    """Parse a publicsuffix.org list snapshot (the public
    ``public_suffix_list.dat`` format: ``//`` comments,
    ``===BEGIN/END ICANN DOMAINS===`` sectioning, ``*.`` wildcard and
    ``!`` exception rules, rule = text up to the first whitespace) into
    the ``(rules, exceptions)`` arguments of :func:`set_psl`.

    ``source`` may be a path to a ``.dat`` file or the raw text itself;
    ``None`` loads the bundled full snapshot
    (rsyslog_spark/data/public_suffix_list.dat — the Debian
    ``publicsuffix`` package copy of https://publicsuffix.org/list/,
    MPL 2.0, license header embedded in the file; refresh at deploy
    time). ``icann_only=True`` keeps only the ICANN section (drops
    private-registry suffixes like blogspot.com).

    Single-label plain rules are dropped: the PSL's implicit ``*`` rule
    already yields a one-label suffix when nothing longer matches, so
    they only bloat the membership blob. Usage::

        set_psl(*load_psl())            # full bundled snapshot
        set_psl(*load_psl(icann_only=True))
    """
    if source is None:
        source = os.path.join(
            os.path.dirname(__file__), "..", "data",
            "public_suffix_list.dat",
        )
    if "\n" in source:
        text = source
    else:
        # a newline-free string can only be a path — a typo'd path
        # must NOT silently parse as empty rule text and clear the PSL
        # (code-review r4 #6)
        if not os.path.exists(source):
            raise FileNotFoundError(f"PSL file not found: {source}")
        with open(source, encoding="utf-8") as fh:
            text = fh.read()
    rules: list[str] = []
    exceptions: list[str] = []
    in_icann = False
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        if line.startswith("//"):
            if "===BEGIN ICANN DOMAINS===" in line:
                in_icann = True
            elif "===END ICANN DOMAINS===" in line:
                in_icann = False
            continue
        if icann_only and not in_icann:
            continue
        token = line.split()[0]
        if token.startswith("!"):
            exceptions.append(token[1:])
        elif "." in token:  # single-label rules ride the implicit rule
            rules.append(token)
    return rules, exceptions


def _psl_suffix_labels(h: Column) -> Column:
    """Label count of the host's public suffix per the PSL algorithm:
    exception rule wins (suffix = exception minus one label), else the
    longest matching plain/wildcard rule, else 1 (implicit rule)."""
    labels = F.split(h, r"\.")
    n = F.size(labels)

    def last(k: int) -> Column:
        return F.concat_ws(".", F.slice(labels, -k, k))

    def member(blob: str, s: Column) -> Column:
        return F.lit(blob).contains(
            F.concat(F.lit("\n"), s, F.lit("\n"))
        )

    ps = F.lit(1)
    for k in range(2, _psl_max_labels + 1):
        hit = F.when(
            n >= k,
            member(_psl_blob, last(k))
            # '*.suffix' matches when the k-1 trailing labels equal
            # `suffix` AND a k-th label exists to feed the '*'
            | member(_psl_wild_blob, last(k - 1)),
        ).otherwise(F.lit(False))
        ps = F.when(hit, F.lit(k)).otherwise(ps)  # longer rule wins
    for k in range(2, _psl_max_labels + 1):  # exceptions override all
        exc = F.when(
            n >= k, member(_psl_exc_blob, last(k))
        ).otherwise(F.lit(False))
        ps = F.when(exc, F.lit(k - 1)).otherwise(ps)
    return ps

def _url(u) -> Column:
    return _c(u)


def faup_scheme(u) -> Column:
    return F.lower(F.parse_url(_url(u), F.lit("PROTOCOL")))


def faup_host(u) -> Column:
    return F.lower(F.parse_url(_url(u), F.lit("HOST")))


def faup_credential(u) -> Column:
    return F.parse_url(_url(u), F.lit("USERINFO"))


def faup_port(u) -> Column:
    auth = F.parse_url(_url(u), F.lit("AUTHORITY"))
    p = F.regexp_extract(auth, r":(\d+)$", 1)
    return F.when(p != "", p.cast("long"))


def faup_resource_path(u) -> Column:
    return F.parse_url(_url(u), F.lit("PATH"))


def faup_query_string(u) -> Column:
    return F.parse_url(_url(u), F.lit("QUERY"))


def faup_fragment(u) -> Column:
    return F.parse_url(_url(u), F.lit("REF"))


def faup_tld(u) -> Column:
    """Public suffix of the host per the PSL algorithm: 'a.b.co.uk' →
    'co.uk', 'example.com' → 'com', 'x.y.kawasaki.jp' →
    'y.kawasaki.jp' (wildcard rule)."""
    h = faup_host(u)
    labels = F.split(h, r"\.")
    ps = _psl_suffix_labels(h)
    return F.when(
        h.rlike(r"\."), F.concat_ws(".", F.slice(labels, -ps, ps))
    )


def faup_domain(u) -> Column:
    """Registrable domain: public suffix + one label ('a.b.co.uk' →
    'b.co.uk'); null when the host IS a public suffix."""
    h = faup_host(u)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    ps = _psl_suffix_labels(h)
    return F.when(
        h.rlike(r"\.") & (n > ps),
        F.concat_ws(".", F.slice(labels, -(ps + 1), ps + 1)),
    )


def faup_domain_without_tld(u) -> Column:
    d = faup_domain(u)
    return F.regexp_extract(d, r"^([^.]+)", 1)


def faup_subdomain(u) -> Column:
    h, d = faup_host(u), faup_domain(u)
    return F.when(
        h.isNotNull() & d.isNotNull() & (F.length(h) > F.length(d)),
        F.substr(h, F.lit(1), F.length(h) - F.length(d) - 1),
    )


def faup(u) -> Column:
    """Full decomposition as a JSON object (ffaup's faup() returns the
    all-parts structure)."""
    return F.to_json(
        F.struct(
            faup_scheme(u).alias("scheme"),
            faup_credential(u).alias("credential"),
            faup_subdomain(u).alias("subdomain"),
            faup_domain(u).alias("domain"),
            faup_domain_without_tld(u).alias("domain_without_tld"),
            faup_host(u).alias("host"),
            faup_tld(u).alias("tld"),
            faup_port(u).alias("port"),
            faup_resource_path(u).alias("resource_path"),
            faup_query_string(u).alias("query_string"),
            faup_fragment(u).alias("fragment"),
        )
    )


# --- misc ------------------------------------------------------------------

def random(maxv) -> Column:
    """rainerscript.c:2059 — seeded for determinism in tests."""
    return (F.rand(seed=42) * _c(maxv)).cast("long")


def exists(col) -> Column:
    """grammar.y:78 exists($!x)"""
    return _c(col).isNotNull()


def _cef_escape_header(col: Column) -> Column:
    # grammar/rainerscript.c:3324 cef_escape_header: \ -> \\ , | -> \|
    return F.regexp_replace(
        F.regexp_replace(col, r"\\", r"\\\\"), r"\|", r"\\|"
    )


def _cef_escape_eventclassid(col: Column) -> Column:
    # grammar/rainerscript.c:3341 — header escapes PLUS = % # -> \= \% \#
    c = _cef_escape_header(col)
    for ch in "=%#":
        c = F.regexp_replace(c, ch, "\\\\" + ch)
    return c


def cef_ext_escape(value) -> Column:
    """grammar/rainerscript.c:3429 doFunct_cef_ext_escape — escape ONE
    CEF extension VALUE: \\ -> \\\\, = -> \\=, LF -> literal '\\n',
    CR -> literal '\\r'. tocef() appends extensions verbatim; callers
    wrap dynamic values in this."""
    c = F.regexp_replace(_c(value), r"\\", r"\\\\")
    c = F.regexp_replace(c, "=", r"\\=")
    c = F.regexp_replace(c, "\n", r"\\n")
    return F.regexp_replace(c, "\r", r"\\r")


def tocef(*parts) -> Column:
    """grammar/rainerscript.c:3351 doFunct_tocef —
    tocef(version, vendor, product, devversion, eventclassid, name,
    severity, extensions): 'CEF:' + 7 pipe-delimited escaped header
    fields + '|' + extensions VERBATIM (:3400 'extensions - verbatim';
    escaping extension values is the caller's job via cef_ext_escape).
    eventclassid gets the stricter escape set (:3335)."""
    args = list(parts) + [F.lit("")] * (8 - len(parts))
    version = F.coalesce(_c(args[0]), F.lit("0"))
    version = F.when(version == "", F.lit("0")).otherwise(version)
    hdr = [_cef_escape_header(version)]
    for i in (1, 2, 3):
        hdr.append(_cef_escape_header(F.coalesce(_c(args[i]), F.lit(""))))
    hdr.append(
        _cef_escape_eventclassid(F.coalesce(_c(args[4]), F.lit("")))
    )
    for i in (5, 6):
        hdr.append(_cef_escape_header(F.coalesce(_c(args[i]), F.lit(""))))
    ext = F.coalesce(_c(args[7]), F.lit(""))
    return F.concat(F.lit("CEF:"), F.concat_ws("|", *hdr), F.lit("|"), ext)


REGISTRY = {
    "strlen": strlen, "tolower": tolower, "toupper": toupper,
    "ltrim": ltrim, "rtrim": rtrim, "substring": substring,
    "replace": replace, "wrap": wrap, "field": field,
    "re_match": re_match, "re_match_i": re_match_i,
    # plugins/fmpcre/fmpcre.c:93 — PCRE collapses under Java regex
    "pcre_match": re_match,
    # plugins/fmhttp/fmhttp.c:156 — real GET, Arrow-batched (r4)
    "http_request": http_request,
    "re_extract": re_extract, "re_extract_i": re_extract_i,
    "split": split, "b64_decode": b64_decode,
    "int2hex": int2hex, "cstr": cstr, "cnum": cnum, "cbool": cbool,
    "ipv42num": ipv42num, "ip42num": ipv42num, "num2ipv4": num2ipv4,
    "is_in_subnet": is_in_subnet, "format_time": format_time,
    "parse_time": parse_time, "parse_time_localtz": parse_time_localtz,
    "is_time": is_time,
    "faup": faup, "faup_scheme": faup_scheme,
    "faup_credential": faup_credential, "faup_subdomain": faup_subdomain,
    "faup_domain": faup_domain,
    "faup_domain_without_tld": faup_domain_without_tld,
    "faup_host": faup_host, "faup_tld": faup_tld, "faup_port": faup_port,
    "faup_resource_path": faup_resource_path,
    "faup_query_string": faup_query_string, "faup_fragment": faup_fragment,
    "parse_json": parse_json, "unflatten": unflatten,
    # script surface gets the deep-literal UDF fallback (fmunflatten
    # accepts arbitrary depth); mm* hot paths call the pure default
    "unflatten_json": (
        lambda s, sep=".": unflatten_json(s, sep, deep_fallback=True)
    ),
    "hash64": hash64, "hash32": hash32, "hash64mod": hash64mod,
    "hash32mod": hash32mod, "random": random, "exists": exists,
    "tocef": tocef, "cef_ext_escape": cef_ext_escape,
    "append_json": append_json, "get_property": get_property,
}
