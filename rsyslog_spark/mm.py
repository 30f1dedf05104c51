"""Message-modification operators (the mm* plugin family, SURVEY.md §2.3).

Each is a per-row transform over parsed columns — narrow projections,
no shuffle, all JVM-side expressions.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rsyslog_spark.parsing.core import group_getter, rewrite_groups


# --- mmjsonparse (plugins/mmjsonparse/mmjsonparse.c:64-136,210-317) ----------

CEE_COOKIE = "@cee:"


def mmjsonparse(
    df: DataFrame, msg_col: str = "msg", out_col: str = "cee",
    find_json: bool = False,
) -> DataFrame:
    """Find the @cee: cookie (or, in find-json mode, the first '{') and
    parse the JSON payload into a map column + success flag."""
    msg = F.ltrim(F.col(msg_col))
    if find_json:
        payload = F.when(
            F.instr(msg, "{") > 0, F.substr(msg, F.instr(msg, "{"))
        )
    else:
        payload = F.when(
            msg.startswith(CEE_COOKIE),
            F.ltrim(msg.substr(F.lit(len(CEE_COOKIE) + 1), F.length(msg))),
        )
    parsed = F.from_json(payload, "map<string,string>")
    return df.withColumn(out_col, parsed).withColumn(
        "parse_json_success", parsed.isNotNull()
    )


# --- mmfields (plugins/mmfields/mmfields.c:54-124) ---------------------------

def mmfields(
    df: DataFrame, msg_col: str = "msg", sep: str = ",",
    prefix: str = "f", max_fields: int | None = None,
) -> DataFrame:
    """Split msg on a single-char separator into $!f1..$!fN columns.
    (The reference numbers fields from 1, mmfields.c:178-219.)"""
    arr = F.split(F.col(msg_col), re.escape(sep), -1)
    df = df.withColumn("_mmf", arr)
    n = max_fields or 8
    for i in range(1, n + 1):
        df = df.withColumn(f"{prefix}{i}", F.try_element_at("_mmf", F.lit(i)))
    return df.drop("_mmf")


# --- mmpstrucdata (plugins/mmpstrucdata) -------------------------------------

# possessive escape loop: structured data comes from untrusted lines
# (see _QUOTED below)
_SD_PARAM_RE = r'(\w[\w.@-]*)="((?:[^"\\]|\\.)*+)"'


def mmpstrucdata(
    df: DataFrame, sd_col: str = "structured_data", out_col: str = "sd_params"
) -> DataFrame:
    """Parse RFC5424 structured data into a map of param name→value
    (flattened across SD elements; later SD-ids win on key collision).
    '-' or null SD → null map."""
    names = F.regexp_extract_all(F.col(sd_col), F.lit(_SD_PARAM_RE), F.lit(1))
    vals = F.regexp_extract_all(F.col(sd_col), F.lit(_SD_PARAM_RE), F.lit(2))
    m = F.when(
        F.col(sd_col).isNotNull() & (F.col(sd_col) != "-") & (F.size(names) > 0),
        F.map_from_arrays(names, vals),
    )
    sd_id = F.regexp_extract(F.col(sd_col), r"\[([\w.@-]+)[ \]]", 1)
    return df.withColumn(out_col, m).withColumn(
        "sd_id", F.when(F.col(sd_col) != "-", F.when(sd_id != "", sd_id))
    )


# --- mmanon (plugins/mmanon/mmanon.c:155-169) --------------------------------

def _ip_to_long(ip: Column) -> Column:
    parts = F.split(ip, r"\.")
    o = lambda i: F.try_element_at(parts, F.lit(i)).try_cast("long")  # noqa: E731
    return o(1) * 16777216 + o(2) * 65536 + o(3) * 256 + o(4)


def _long_to_ip(n: Column) -> Column:
    return F.concat_ws(
        ".",
        ((n / 16777216) % 256).cast("int").cast("string"),
        ((n / 65536) % 256).cast("int").cast("string"),
        ((n / 256) % 256).cast("int").cast("string"),
        (n % 256).cast("int").cast("string"),
    )


def mmanon_embedded(col: Column, bits: int = 16) -> Column:
    """Zero-mode anonymization of every IPv4 *embedded in free text*
    (mmanon.c ipv4.bits, zero mode). Octet-aligned bit counts only —
    textual zeroing of the masked octets keeps the whole transform one
    JVM regexp_replace."""
    if bits not in (8, 16, 24, 32):
        raise ValueError("embedded-text mode supports bits in {8,16,24,32}")
    keep = 4 - bits // 8  # leading octets preserved
    if keep == 0:
        pattern = r"\b\d{1,3}(?:\.\d{1,3}){3}\b"
        return F.regexp_replace(col, pattern, "0.0.0.0")
    pattern = (
        rf"\b((?:\d{{1,3}}\.){{{keep - 1}}}\d{{1,3}})(?:\.\d{{1,3}}){{{4 - keep}}}\b"
    )
    return F.regexp_replace(col, pattern, "$1" + ".0" * (4 - keep))


def mmanon_ip(col: Column, bits: int = 16, mode: str = "zero") -> Column:
    """Anonymize a pure-IPv4 column with arbitrary bit count (arithmetic
    mask). random-consistent mode maps the host part via xxhash64 —
    deterministic per value (divergence: the reference draws a random
    mapping table, mmanon.c)."""
    n = _ip_to_long(col)
    mask = (0xFFFFFFFF << bits) & 0xFFFFFFFF
    base = n.bitwiseAND(F.lit(mask))
    if mode == "zero":
        return _long_to_ip(base)
    hashed = F.pmod(F.xxhash64(col), F.lit(max(1, 1 << bits)))
    return _long_to_ip(base + hashed)


def mmanon(df: DataFrame, cols: list[str], bits: int = 16) -> DataFrame:
    """Zero-mode embedded-text anonymization over the given columns."""
    for c in cols:
        df = df.withColumn(c, mmanon_embedded(F.col(c), bits))
    return df


# --- small fixups ------------------------------------------------------------

def mmrm1stspace(df: DataFrame, msg_col: str = "msg") -> DataFrame:
    """plugins/mmrm1stspace: drop ONE leading space of MSG."""
    return df.withColumn(
        msg_col, F.regexp_replace(F.col(msg_col), r"^ ", "")
    )


def mmutf8fix(df: DataFrame, msg_col: str = "msg", repl: str = " ") -> DataFrame:
    """plugins/mmutf8fix: replace invalid UTF-8. Decoded Spark strings
    carry U+FFFD for undecodable bytes; normalize those plus raw
    control chars."""
    return df.withColumn(
        msg_col,
        F.regexp_replace(F.col(msg_col), "[�\x00-\x08\x0b-\x1f]", repl),
    )


def mmtaghostname(df: DataFrame) -> DataFrame:
    """plugins/mmtaghostname: when the 3164 heuristic stole the TAG as a
    hostname (headerless messages), restore tag & clear hostname.

    Both columns must be rewritten against the INPUT row atomically
    (withColumns) — chained withColumn would re-evaluate the 'broken'
    predicate against the already-restored tag and never clear the
    hostname."""
    broken = F.col("hostname").isNotNull() & F.col("syslogtag").isNull()
    return df.withColumns(
        {
            "syslogtag": F.when(broken, F.col("hostname")).otherwise(
                F.col("syslogtag")
            ),
            "hostname": F.when(~broken, F.col("hostname")),
        }
    )


# --- mmnormalize (plugins/mmnormalize, liblognorm rulebases) ------------------

# an escaped backslash is consumed as one pair, so the "x41" in "\\x41"
# stays literal
_HEXESC = re.compile(r"\\(?:x([0-9a-fA-F]{2})|\\)")


def _unescape(s: str) -> str:
    """liblognorm \\xNN escapes (rulebase char-to:\\x3a etc.)."""
    return _HEXESC.sub(
        lambda m: chr(int(m.group(1), 16)) if m.group(1) else m.group(0), s
    )


def _noncapture(rx: str) -> str:
    """Turn every capturing group of a user regex — plain `(` and
    named `(?<name>`/`(?P<name>` (but not lookbehinds `(?<=`/`(?<!`)
    — into a non-capturing one so it can't shift our field group
    indices. Tokenizes the pattern (escape pairs consumed atomically,
    character classes skipped) rather than using a one-char lookbehind:
    in ``\\\\(x)`` the paren follows a LITERAL backslash and is a real
    capturing group; a naive ``(?<!\\\\)\\(`` check would miss it."""
    out: list[str] = []
    i, n = 0, len(rx)
    in_class = False
    while i < n:
        ch = rx[i]
        if ch == "\\" and i + 1 < n:  # escape pair — atomic
            out.append(rx[i : i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            in_class = True
            out.append(ch)
            i += 1
            continue
        if ch == "(":
            m = re.match(r"\(\?P?<(?![=!])[^>]*>", rx[i:])
            if m:  # named capture → non-capturing
                out.append("(?:")
                i += m.end()
                continue
            if i + 1 < n and rx[i + 1] == "?":
                out.append(ch)  # (?: (?= (?! (?<= (?<! — leave as-is
                i += 1
                continue
            out.append("(?:")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


# a quoted string's body; a named v1 quoted-string captures only this.
# Escape loops that run on the JVM are possessive: java.util.regex
# recurses once per iteration of a backtracking group loop and
# overflows the thread stack on thousands of escapes. The two
# alternatives start with disjoint characters, so backtracking into
# the loop never finds another match and the matched set is the same.
_QUOTED = r'(?:[^"\\]|\\.)*+'

# Groupless token patterns per liblognorm field type
# (liblognorm parser.c; the set mmnormalize rulebases actually use).
_RAW_TYPES = {
    "number": r"\d+",
    "float": r"[+-]?\d+(?:\.\d+)?",
    "hexnumber": r"0x[0-9A-Fa-f]+",
    "word": r"\S+",
    "alpha": r"[A-Za-z]+",
    "rest": r".*",
    "ipv4": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    # pragmatic IPv6 (liblognorm validates octet groups; this accepts a
    # slight superset — documented divergence)
    "ipv6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}"
            r"(?:\d{1,3}(?:\.\d{1,3}){3})?",
    "date-rfc3164": r"[A-Z][a-z]{2} (?: \d|\d{2}) \d{2}:\d{2}:\d{2}",
    "date-rfc5424": r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?"
                    r"(?:Z|[+-]\d{2}:\d{2})?",
    # one JSON object, greedy to the final brace (liblognorm walks
    # nesting; a regex can't — fine for the one-object-per-line shape)
    "json": r"\{.*\}",
    "mac48": r"(?:[0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}",
    "quoted-string": f'"{_QUOTED}"',
    "op-quoted-string": rf'(?:"{_QUOTED}"|\S+)',
    "whitespace": r"\s+",
}


def _type_pattern(ftype: str) -> str:
    """Groupless regex for a (possibly parameterized) field-type spec."""
    if ftype.startswith(("char-to:", "char-sep:")):
        stop = re.escape(_unescape(ftype.split(":", 1)[1]))
        return f"[^{stop}]*"
    if ftype.startswith("regex:"):
        return _noncapture(_unescape(ftype.split(":", 1)[1]))
    if ftype.startswith("tokenized:"):
        # tokenized:SEP:INNER — INNER may itself be parameterized
        _, sep, inner = ftype.split(":", 2)
        sp = re.escape(_unescape(sep))
        ip = _type_pattern(inner)
        return f"(?:{ip})(?:{sp}(?:{ip}))*"
    pat = _RAW_TYPES.get(ftype)
    if pat is None:
        raise ValueError(f"unsupported lognorm type {ftype!r}")
    return pat


def _v2_atom_pattern(obj: dict) -> str:
    """Groupless regex for one v2 JSON parser object (liblognorm v2
    syntax doc: each %{...}% block is a JSON parser definition)."""
    t = obj.get("type")
    if t == "literal":
        return re.escape(_unescape(obj["text"]))
    if t in ("char-to", "char-sep"):
        return _type_pattern(f"{t}:{obj.get('extradata', '')}")
    if t == "regex":
        return _noncapture(_unescape(obj.get("regexp", obj.get("extradata", ""))))
    if not isinstance(t, str):
        raise ValueError(f"v2 parser object missing type: {obj!r}")
    return _type_pattern(t)  # raises for unknown types


def _v2_parser_list(obj: dict, what: str) -> list[dict]:
    parsers = obj.get("parser")
    if isinstance(parsers, dict):
        parsers = [parsers]
    if not isinstance(parsers, list) or not parsers:
        raise ValueError(f"{what} needs a parser list: {obj!r}")
    for p in parsers:
        if not isinstance(p, dict):
            raise ValueError(f"bad {what} inner parser: {p!r}")
    return parsers


def _v2_while(obj: dict) -> tuple[str | None, str, bool]:
    """A repeat's ``while`` separator parser → (raw_literal_or_None,
    split regex, is_literal). r5: any supported v2 atom type works as
    the separator (liblognorm runs the while parser between
    iterations); a literal keeps its exact text for the collision
    check below."""
    wh = obj.get("while")
    if not isinstance(wh, dict):
        raise ValueError(f"repeat needs a 'while' parser object (got {wh!r})")
    if wh.get("type") == "literal":
        raw = _unescape(wh["text"])
        return raw, re.escape(raw), True
    return None, _noncapture(_v2_atom_pattern(wh)), False


def _v2_sep_collision(outer: tuple, inner: tuple) -> str | None:
    """Why splitting an outer repeat's span on its separator would cut
    inside a nested repeat's span (or None when provably safe). The
    regex-split extraction can only work when the outer separator
    cannot occur inside inner elements: liblognorm parses
    left-to-right incrementally and has no such constraint, so this is
    a documented divergence, rejected loudly rather than silently
    mis-split (code-review r4 #2, generalized to regex separators r5)."""
    oraw, orx, olit = outer
    iraw, irx, ilit = inner
    if olit and ilit:
        if oraw in iraw or iraw in oraw:
            return (
                "neither may be a substring of the other — the outer "
                "split cannot see the boundary otherwise"
            )
        return None
    try:
        if olit and not ilit:
            if re.search(irx, oraw):
                return "the inner separator pattern matches the outer literal"
            return None
        if ilit and not olit:
            if re.search(orx, iraw):
                return "the outer separator pattern matches the inner literal"
            return None
    except re.error:  # Java-only construct: cannot prove safety
        return "separator patterns cannot be proven disjoint"
    # two regex separators: disjointness of regular languages is not
    # decidable by inspection here — 'alpha' vs 'word' overlap even
    # though the patterns differ (code-review r5). Reject rather than
    # silently mis-split; nest with literal separators instead.
    return (
        "two non-literal separators cannot be proven disjoint — use a "
        "literal 'while' on at least one level"
    )


def _v2_groupless(obj: dict) -> str:
    """Groupless regex for ANY v2 parser object, recursing through
    repeat/alternative composites (r4: nesting support)."""
    t = obj.get("type")
    if t == "alternative":
        return (
            "(?:"
            + "|".join(
                _v2_groupless(b) for b in _v2_parser_list(obj, "alternative")
            )
            + ")"
        )
    if t == "repeat":
        _, sep, _ = _v2_while(obj)
        inner = "".join(
            f"(?:{_v2_groupless(p)})" for p in _v2_parser_list(obj, "repeat")
        )
        return f"(?:(?:{inner})(?:{sep}(?:{inner}))*)"
    return _v2_atom_pattern(obj)


def _scan_pattern(pattern: str) -> list[dict]:
    """Split a rule pattern into ONE v2 parser list, the shape of a
    repeat's ``parser``: literal text → a ``literal`` object, a v2
    %{...json...}% block (braces balanced, strings respected) → its
    object, a v1 %name:type% placeholder → ``{"type", "name"}``. A
    named v1 quoted-string captures between its quotes, so it becomes
    literal '"', a named regex atom and literal '"'."""
    import json as _json

    parsers: list[dict] = []

    def literal(text: str) -> None:
        if text:
            parsers.append({"type": "literal", "text": text})

    i, n = 0, len(pattern)
    lit_start = 0
    while i < n:
        if pattern[i] == "%" and i + 1 < n:
            if pattern[i + 1] == "{":
                depth, j, in_str = 0, i + 1, False
                while j < n:
                    c = pattern[j]
                    if in_str:
                        if c == "\\":
                            j += 2
                            continue
                        if c == '"':
                            in_str = False
                    elif c == '"':
                        in_str = True
                    elif c == "{":
                        depth += 1
                    elif c == "}":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                if j >= n or j + 1 >= n or pattern[j + 1] != "%":
                    raise ValueError(
                        f"unterminated %{{...}}% parser block in {pattern!r}"
                    )
                literal(pattern[lit_start:i])
                parsers.append(_json.loads(pattern[i + 1 : j + 1]))
                i = j + 2
                lit_start = i
                continue
            m = re.match(r"%([^%:]+):([^%]+)%", pattern[i:])
            if m:
                literal(pattern[lit_start:i])
                name, ftype = m.groups()
                _type_pattern(ftype)  # v1 types only: 'repeat' etc. raise
                if ftype == "quoted-string" and name != "-":
                    parsers += [
                        {"type": "literal", "text": '"'},
                        {"type": "regex", "regexp": _QUOTED, "name": name},
                        {"type": "literal", "text": '"'},
                    ]
                else:
                    parsers.append({"type": ftype, "name": name})
                i += m.end()
                lit_start = i
                continue
        i += 1
    literal(pattern[lit_start:])
    return parsers


def _compile_parsers(
    parsers: list[dict], enclosing: tuple = ()
) -> tuple[str, tuple, int]:
    """Compile one parser list — a whole rule, or one element of a
    repeat — into (regex body, specs, group count). Each level numbers
    its own groups: a repeat's span is ONE group, and its element's
    fields live in the element's own regex, read after the span is
    split on the separator (so the recursion mirrors liblognorm's
    parser tree at any depth).

    Spec nodes (read by :func:`_field_value`):
    * ``("plain", name, group)`` — the capture, "" when empty;
    * ``("alt", name, groups)`` — the first non-empty branch, null
      when none participated;
    * ``("repeat", name, group, sep_rx, item, optional)`` — the span
      split on ``sep_rx``; ``item`` is the element's (regex, specs,
      group count) when its parsers name fields, else None; optional
      (a branch of an alternative) → null when the span is empty.

    A name captured twice keeps the later capture; same-name scalar
    branches of one alternative merge. ``enclosing`` carries every
    ancestor repeat's separator; a nested separator that could collide
    with ANY of them is rejected (see :func:`_v2_sep_collision`)."""
    specs: dict[str, tuple] = {}
    n = 0

    def add(into: dict, spec: tuple, in_alt: bool) -> None:
        name, old = spec[1], into.get(spec[1])
        if in_alt and old:
            # a repeat branch and another branch of one name would
            # emit two values for one key
            if "repeat" in (old[0], spec[0]):
                raise ValueError(
                    "an alternative's repeat branch may not share its "
                    f"name with another branch (conflict: [{name!r}])"
                )
            spec = ("alt", name, old[2] + spec[2])
        into[name] = spec

    def node(p: dict, into: dict, in_alt: bool) -> str:
        nonlocal n
        t, name = p.get("type"), p.get("name")
        if t == "alternative":
            branches: dict[str, tuple] = {}
            frags = [
                node(b, branches, True)
                for b in _v2_parser_list(p, "alternative")
            ]
            for s in branches.values():
                add(into, s, in_alt)
            return "(?:" + "|".join(frags) + ")"
        if t == "repeat":
            elems = _v2_parser_list(p, "repeat")
            sep = _v2_while(p)
            for anc in enclosing:
                why = _v2_sep_collision(anc, sep)
                if why:
                    raise ValueError(
                        "nested repeat 'while' separator collides with "
                        f"an enclosing one ({why})"
                    )
            body, item_specs, item_n = _compile_parsers(
                elems, enclosing + (sep,)
            )
            item = (
                ("^" + body + "$", item_specs, item_n) if item_specs else None
            )
            inner = "".join(f"(?:{_v2_groupless(e)})" for e in elems)
            pat = f"(?:{inner})(?:{sep[1]}(?:{inner}))*"
        else:
            pat = _v2_atom_pattern(p)
            if t == "literal":
                return pat
        if not name or name in ("-", "."):  # liblognorm: discard
            return f"(?:{pat})"
        n += 1
        if t == "repeat":
            add(into, ("repeat", name, n, sep[1], item, in_alt), in_alt)
        else:
            add(into, ("alt", name, (n,)) if in_alt else ("plain", name, n),
                in_alt)
        return f"({pat})"

    body = "".join(node(p, specs, False) for p in parsers)
    return body, tuple(specs.values()), n


class NormalizeRule:
    """One liblognorm-style rule: literal text with %field:type%
    placeholders (char-to/char-sep/tokenized/regex parameterized types
    included) and/or v2 %{...json...}% parser blocks (basic types plus
    the `repeat` and `alternative` shapes — the two that dominate real
    v2 rulebases; other v2 composites are rejected with a clear error).
    The pattern is scanned into one v2 parser list and compiled by
    :func:`_compile_parsers`, the compiler every repeat element goes
    through too: a single anchored Java regex with one capture group
    per named field, plus the ``specs`` that read them back. '%-:type%'
    and '%.:type%' match without capturing (liblognorm discard).
    ``const_fields`` carries annotate= constants.

    v2 semantics in the map<string,string> output: a `repeat` field's
    value is the JSON array liblognorm would emit ("[\\"a\\",\\"b\\"]",
    or an array of objects when the inner parsers are named); an
    `alternative` emits only the branch that matched (empty-string
    captures from alternatives are treated as non-participation —
    liblognorm's basic parsers cannot match empty)."""

    def __init__(
        self,
        pattern: str,
        tags: list[str] | None = None,
        const_fields: dict[str, str] | None = None,
    ):
        self.pattern = pattern
        self.tags = tags or []
        self.const_fields = dict(const_fields or {})
        body, self.specs, self.n_groups = _compile_parsers(
            _scan_pattern(pattern)
        )
        self.regex = "^" + body + "$"
        # anchored: the whole string IS the match, so the regex doubles
        # as the single-pass group-rewrite pattern (see mmnormalize)
        self.rewrite = self.regex


def load_rulebase(text: str) -> list[NormalizeRule]:
    """Parse a liblognorm .rulebase (v1 syntax) into NormalizeRules
    (plugins/mmnormalize/mmnormalize.c:102-172 loads these via
    ln_loadSamples; fixtures tests/testsuites/mmnormalize_*.rulebase).

    Supported lines: ``rule=<tags>:<pattern>``, ``annotate=<tag>:
    +<field>="<value>"``, ``prefix=``, ``version=``, comments/blank.
    v2 inline-JSON parser blocks (%{...}%) are supported for the basic
    types plus `repeat` and `alternative` (liblognorm v2 syntax doc);
    other v2 composites are rejected with a clear error at compile."""
    rules: list[NormalizeRule] = []
    annotations: dict[str, dict[str, str]] = {}
    prefix = ""
    for raw in text.splitlines():
        line = raw.rstrip("\n")
        if not line.strip() or line.lstrip().startswith("#"):
            continue
        if line.startswith("version="):
            continue
        if line.startswith("prefix="):
            prefix = line[len("prefix="):]
            continue
        if line.startswith("rule="):
            body = line[len("rule="):]
            tags_str, _, pattern = body.partition(":")
            tags = [t for t in tags_str.split(",") if t]
            rules.append(NormalizeRule(prefix + pattern, tags=tags))
            continue
        if line.startswith("annotate="):
            body = line[len("annotate="):]
            tag, _, ann = body.partition(":")
            m = re.match(r'\+([\w.]+)="((?:[^"\\]|\\.)*)"', ann.strip())
            if not m:
                raise ValueError(f"bad annotate line: {line!r}")
            annotations.setdefault(tag, {})[m.group(1)] = m.group(2)
            continue
        raise ValueError(f"unrecognized rulebase line: {line!r}")
    for r in rules:
        for t in r.tags:
            r.const_fields.update(annotations.get(t, {}))
    return rules


def _field_value(g, spec: tuple) -> Column:
    """One field of a compiled level (see :func:`_compile_parsers`),
    read through the level's group getter ``g``: null (→ the map
    filter or to_json drops the field, like liblognorm) for an
    alternative that did not participate and for an optional repeat
    whose span is empty. A repeat element's getter is regexp_extract
    on the element — "" for a miss or a non-participating group, as
    the whole rule's rewrite getter reads them."""
    kind, _name, grp = spec[:3]
    if kind == "plain":
        return g(grp)
    if kind == "alt":
        return F.coalesce(*[F.nullif(g(x), F.lit("")) for x in grp])
    _, _, _, sep_rx, item, optional = spec
    span = g(grp)
    arr = F.split(span, sep_rx, -1)
    if item is not None:
        rx, specs, _ = item
        arr = F.transform(arr, lambda x: F.struct(*[
            _field_value(lambda i: F.regexp_extract(x, rx, i), s).alias(s[1])
            for s in specs
        ]))
    return F.when(span != "", arr) if optional else arr


def mmnormalize(
    df: DataFrame, rules: list[NormalizeRule], msg_col: str = "msg",
    out_col: str = "norm", rule_col: str = "norm_rule",
) -> DataFrame:
    """First matching rule wins (parser-chain order, mmnormalize.c:146-172);
    extracted fields land in a map column ``norm`` plus ``norm_rule``
    (index of the winning rule, -1 = unparsed — the reference tags such
    messages 'unparsed-data'). ``rules`` are NormalizeRules or
    GrokRules: both carry ``regex``, ``rewrite``, ``specs``,
    ``n_groups`` and ``const_fields``.

    Perf: each rule costs ONE regex pass per row (a repeat element
    adds one regexp_extract per named field of the element: the rules
    in use name one) — regexp_replace rewrites all capture groups into
    a \\x01-separated string whose leading \\x01 sentinel doubles as
    the match flag (parsing.core.rewrite_groups; regexp_replace returns
    its input unchanged on no-match, and \\x01 cannot occur in
    sanitized input). The naive alternative — one rlike plus one
    regexp_extract per field — re-executes the full regex R×(G+1)
    times; the header parser measured the rewrite trick ~2.5× faster
    (parsing/core.py parse). Fields that didn't participate in the
    match land as "" exactly like regexp_extract would.

    Structure matters for codegen: the hit flag + split array are
    computed UNCONDITIONALLY in a lower projection; the first-match
    CASE WHEN chain only references them. Whole-stage codegen's
    subexpression elimination dedupes unconditional occurrences but
    NOT copies inside CASE WHEN branches — inlining the rewrite into
    the branches re-evaluates the regex once per field at runtime
    (verified via explain('codegen'); asserted in test_plans.py)."""
    msg = F.col(msg_col)
    tmp: dict[str, Column] = {}
    for i, r in enumerate(rules):
        if r.specs:
            tmp[f"_mmn_hit_{i}"], tmp[f"_mmn_arr_{i}"] = rewrite_groups(
                msg, r.rewrite, r.n_groups
            )
        else:
            tmp[f"_mmn_hit_{i}"] = msg.rlike(r.regex)  # match test only
    low = df.withColumns(tmp)

    rule_idx = F.lit(-1)
    result = F.lit(None).cast("map<string,string>")
    # build right-to-left so earlier rules take precedence
    for i in range(len(rules) - 1, -1, -1):
        r = rules[i]
        hit = F.col(f"_mmn_hit_{i}")
        g = group_getter(F.col(f"_mmn_arr_{i}"))
        entries = []
        for s in r.specs:
            v = _field_value(g, s)
            # a repeat's value in the map is its JSON array text
            entries.append((s[1], F.to_json(v) if s[0] == "repeat" else v))
        entries += [(k, F.lit(v)) for k, v in r.const_fields.items()]
        m = F.map_from_entries(F.array(*[
            F.struct(F.lit(k).alias("key"), v.alias("value"))
            for k, v in entries
        ])) if entries else F.create_map()
        if any(s[0] == "alt" or (s[0] == "repeat" and s[5]) for s in r.specs):
            # an alternative emits only the branch that matched
            m = F.map_filter(m, lambda k, v: v.isNotNull())
        result = F.when(hit, m).otherwise(result)
        rule_idx = F.when(hit, F.lit(i)).otherwise(rule_idx)
    return (
        low.withColumn(out_col, result)
        .withColumn(rule_col, rule_idx)
        .drop(*tmp.keys())
    )


# --- mmgrok (contrib/mmgrok/mmgrok.c) -----------------------------------------

# Public grok base patterns (the logstash/grok standard library subset
# the reference's libgrok ships). All groupless; %{NAME} refs expand.
GROK_PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "INT": r"[+-]?[0-9]+",
    "POSINT": r"\b[1-9][0-9]*\b",
    "NONNEGINT": r"\b[0-9]+\b",
    "BASE10NUM": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX])?[0-9A-Fa-f]+",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*+"',
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(?:\.(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}(?:%{IPV4})?",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "MONTH": r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\b",
    "MONTHDAY": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:[0-5][0-9]|60)(?:[:.,][0-9]+)?",
    "TIME": r"%{HOUR}:%{MINUTE}:%{SECOND}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "TIMESTAMP_ISO8601": r"%{YEAR}-(?:0[1-9]|1[0-2])-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?(?:Z|[+-]%{HOUR}(?::?%{MINUTE})?)?",
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "SYSLOGPROG": r"%{WORD}(?:\[%{POSINT}\])?",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]:]+))?\}")


def load_grok_patterns(text: str) -> dict[str, str]:
    """Parse a grok pattern file (mmgrok's patterndir files /
    grok_patterns_import_from_file, mmgrok.c:270): one ``NAME regex``
    definition per line, '#' comments. Returns a dict to pass as
    ``extra_patterns`` (may reference %{BASE} names or each other)."""
    out: dict[str, str] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        name, _, rx = line.partition(" ")
        if not name.isidentifier() and not re.fullmatch(r"\w+", name):
            raise ValueError(f"bad grok pattern name {name!r}")
        out[name] = rx.strip()
    return out


class GrokRule:
    """A grok match string (%{SYNTAX:name} refs) compiled to one regex
    + one plain spec per named capture — mmgrok's grok_compile/grok_exec
    analog (contrib/mmgrok/mmgrok.c:226-272; named captures walk to
    JSON), read by mmnormalize like a NormalizeRule with plain fields.
    Unlike NormalizeRule the regex is UNANCHORED (grok_exec searches).
    A three-part %{SYNTAX:name:type} keeps the name, drops the type
    (all values land as strings — mmgrok.c stores strings too).

    Named refs capture at ANY nesting depth (grok semantics: a pattern
    file's %{WORD:prog} inside a referenced pattern still emits a
    field). Raw user parentheses — in the match string or in
    extra_patterns bodies — are neutralized so they can't shift our
    positional group indices."""

    def __init__(
        self, match: str, extra_patterns: dict[str, str] | None = None
    ):
        lib = dict(GROK_PATTERNS)
        lib.update(extra_patterns or {})
        self.pattern = match
        self.const_fields: dict[str, str] = {}
        names: list[str] = []

        def expand(rx: str, depth: int = 0) -> str:
            if depth > 20:
                raise ValueError("grok pattern recursion too deep")
            # neutralize literal user groups BEFORE adding ours; our
            # markers %{...} use braces, untouched by _noncapture
            rx = _noncapture(rx)

            def sub(m: re.Match) -> str:
                name, field = m.group(1), m.group(2)
                body = lib.get(name)
                if body is None:
                    raise ValueError(f"unknown grok pattern %{{{name}}}")
                if field:
                    # append BEFORE expanding the body: the opening
                    # paren of this group precedes any nested group,
                    # so field order must match group-number order
                    names.append(field.split(":")[0])
                    return f"({expand(body, depth + 1)})"
                return f"(?:{expand(body, depth + 1)})"

            return _GROK_REF.sub(sub, rx)

        self.regex = expand(match)
        self.n_groups = len(names)
        # one spec per name; a name captured twice keeps the later one
        self.specs = tuple(
            {nm: ("plain", nm, g) for g, nm in enumerate(names, 1)}.values()
        )
        # grok_exec SEARCHES: wrap for whole-string rewrite so the
        # single-pass extraction (see mmnormalize) applies. The DOTALL
        # flag is scoped to the wrapper's .* only — user patterns keep
        # their own newline semantics; group numbers are unchanged
        # (the wrapper adds no capturing groups).
        self.rewrite = f"^(?s:.*?)(?:{self.regex})(?s:.*)$"


def mmgrok(
    df: DataFrame,
    match: str,
    source: str = "msg",
    target: str = "grok",
    extra_patterns: dict[str, str] | None = None,
) -> DataFrame:
    """contrib/mmgrok: compile `match` against the grok pattern library
    and extract named captures from `source` into map column `target`
    (+ boolean ``grok_success``). Non-matching rows get a null map —
    mmgrok aborts the action on GROK_OK failure, i.e. leaves the
    message unannotated."""
    rule = GrokRule(match, extra_patterns)
    out = mmnormalize(df, [rule], msg_col=source, out_col=target,
                      rule_col="_grok_rule")
    return out.withColumn("grok_success", F.col("_grok_rule") == 0).drop(
        "_grok_rule"
    )


# --- mmjsontransform (plugins/mmjsontransform) --------------------------------

def mmjsontransform(
    df: DataFrame,
    input_col: str,
    output_col: str,
    mode: str = "unflatten",
    sep: str = ".",
) -> DataFrame:
    """plugins/mmjsontransform/mmjsontransform.c: transform a JSON
    container between dotted-flat and nested forms (modes 'unflatten' —
    dotted keys → nested containers, mmjsontransform.c:64,552 — and
    'flatten' — the inverse). Input is a JSON-string column (the $!
    container analog); unflatten emits the nested tree as a JSON
    string, flatten emits the dotted map<string,string> column."""
    from rsyslog_spark import functions as fn

    if mode == "unflatten":
        out = fn.unflatten_json(F.col(input_col), sep=sep)
    elif mode == "flatten":
        out = fn.flatten_json(F.col(input_col), sep=sep)
    else:
        raise ValueError(
            f"mmjsontransform: mode {mode!r} is invalid; "
            "use 'unflatten' or 'flatten'"
        )
    return df.withColumn(output_col, out)


# --- mmaudit (plugins/mmaudit) ------------------------------------------------

_AUDIT_HDR = r"^\s*type=(\d+) audit\(([^)]*)\):\s*(.*)$"
_AUDIT_KV = r'(\w+)=("[^"]*"|\S*)'


def mmaudit(
    df: DataFrame, msg_col: str = "msg", out_col: str = "audit"
) -> DataFrame:
    """plugins/mmaudit/mmaudit.c: detect Linux audit records
    ``type=NNNN audit(<auditid>): k=v k=v ...`` (mmaudit.c:210-242) and
    parse them into a struct: hdr.auditid, hdr.type, and the key/value
    fields as a map (audit_parse:162-205; quoted values keep embedded
    spaces, quotes stripped). Non-audit rows get a null struct +
    ``audit_success`` false (MsgSetParseSuccess)."""
    msg = F.col(msg_col)
    typ = F.regexp_extract(msg, _AUDIT_HDR, 1)
    auditid = F.regexp_extract(msg, _AUDIT_HDR, 2)
    tail = F.regexp_extract(msg, _AUDIT_HDR, 3)
    hit = typ != ""
    keys = F.regexp_extract_all(tail, F.lit(_AUDIT_KV), F.lit(1))
    vals = F.transform(
        F.regexp_extract_all(tail, F.lit(_AUDIT_KV), F.lit(2)),
        lambda v: F.regexp_replace(v, r'^"|"$', ""),
    )
    struct = F.struct(
        F.struct(
            auditid.alias("auditid"),
            typ.try_cast("long").alias("type"),
        ).alias("hdr"),
        F.map_from_arrays(keys, vals).alias("fields"),
    )
    return df.withColumn(out_col, F.when(hit, struct)).withColumn(
        "audit_success", hit
    )


# --- mmrfc5424addhmac (contrib/mmrfc5424addhmac) ------------------------------

def hmac_sha256(col: Column, key: bytes) -> Column:
    """HMAC-SHA256 as pure Column expressions (RFC 2104): the key pads
    are Python-side byte literals, the two hash passes are sha2() with
    unhex() bridging the inner hex digest back to bytes — no UDF."""
    if len(key) > 64:
        import hashlib

        key = hashlib.sha256(key).digest()
    key = key.ljust(64, b"\x00")
    ipad = bytes(b ^ 0x36 for b in key)
    opad = bytes(b ^ 0x5C for b in key)
    inner = F.sha2(F.concat(F.lit(ipad), F.encode(col, "utf-8")), 256)
    return F.sha2(F.concat(F.lit(opad), F.unhex(inner)), 256)


def mmrfc5424addhmac(
    df: DataFrame,
    key: bytes,
    sdid: str = "hmac@0",
    raw_col: str = "rawmsg",
    sd_col: str = "structured_data",
) -> DataFrame:
    """contrib/mmrfc5424addhmac/mmrfc5424addhmac.c: append
    ``[<sdid> hash="<hex hmac of the raw message>"]`` to the RFC5424
    structured data (hashMsg:306-330). Only 5424 messages without an
    existing <sdid> element are touched (doAction:343); '-' SD is
    replaced, otherwise the element is appended —
    MsgAddToStructuredData semantics. HMAC-SHA256 runs entirely
    JVM-side (see hmac_sha256)."""
    sd = F.col(sd_col)
    is5424 = (
        F.col("protocol_version") == 1
        if "protocol_version" in df.columns
        else F.lit(True)
    )
    # presence check mirrors isHmacPresent (mmrfc5424addhmac.c): the
    # sdid must open an actual SD *element*, not merely occur inside a
    # quoted param value. Drop escaped chars (\" \] \\), then keep only
    # the outside-quotes segments (quote-parity split: even segments of
    # a split on '"' are outside quotes) before anchoring on '[sdid '
    # or '[sdid]'.
    outside_quotes = F.array_join(
        F.filter(
            F.split(
                F.regexp_replace(F.coalesce(sd, F.lit("")), r"\\.", ""), '"'
            ),
            lambda x, i: i % 2 == 0,
        ),
        "",
    )
    already = outside_quotes.rlike(r"\[" + re.escape(sdid) + r"[ \]]")
    elem = F.concat(
        F.lit(f"[{sdid} hash=\""),
        hmac_sha256(F.col(raw_col), key),
        F.lit('"]'),
    )
    newsd = F.when(
        sd.isNull() | (sd == "-"), elem
    ).otherwise(F.concat(sd, elem))
    return df.withColumn(
        sd_col, F.when(is5424 & ~already, newsd).otherwise(sd)
    )
