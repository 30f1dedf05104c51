"""Device-specific parser fixups (the contrib pm* family).

The reference runs these as alternative parsers in a ruleset's parser
chain (first non-COULD_NOT_PARSE wins, runtime/parser.c:613-686). Here
they are post-parse fixups: each detects its device dialect on the
already-decoded line and overrides the header columns for matching
rows. :func:`_header_fixup` is the one fixup projection: a single
``withColumns`` of ``when(hit, fixed).otherwise(original)`` per column
plus ``parse_success``, so each fixup keeps only its detection and a
``{column: value}`` map and the chain stays one narrow stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rsyslog_spark.functions import _bind
from rsyslog_spark.parsing.core import (
    group_getter,
    rewrite_groups,
    split_hit,
)


def _strip_pri(raw_col: str) -> Column:
    """The line after its ``<PRI>`` prefix — where every device
    dialect's detection starts."""
    return F.regexp_replace(F.col(raw_col), r"^<\d{1,3}>", "")


def _nullif(c: Column) -> Column:
    """Empty string → null."""
    return F.when(c != "", c)


def _rewrite_groups(df: DataFrame, src: Column, rx: str, n_groups: int,
                    prefix: str):
    """ONE regexp_replace per dialect per row (core.rewrite_groups),
    its hit flag and split computed UNCONDITIONALLY in a lower
    projection (codegen CSE dedupes unconditional occurrences; copies
    inside the fixup's CASE WHENs would re-run the regex per column).
    `rx` must be whole-string anchored. Returns (df, hit,
    group-getter); caller drops `<prefix>_hit`/`<prefix>_arr` when
    done."""
    hit, parts = rewrite_groups(src, rx, n_groups)
    df = df.withColumns({f"{prefix}_hit": hit, f"{prefix}_arr": parts})
    return df, F.col(f"{prefix}_hit"), group_getter(F.col(f"{prefix}_arr"))


def _header_fixup(df: DataFrame, hit: Column, fields: dict[str, Column],
                  drop: tuple[str, ...] = ()) -> DataFrame:
    """The parser-chain decision for one dialect, as one projection:
    rows where `hit` holds take `fields` (column → value) and count as
    parsed; every other row keeps its columns (COULD_NOT_PARSE → next
    parser). Every value reads the input frame. `drop` names the
    dialect's helper columns."""
    fields = {**fields, "parse_success": F.lit(True)}
    return df.withColumns(
        {c: F.when(hit, v).otherwise(F.col(c)) for c, v in fields.items()}
    ).drop(*drop)


# Cisco IOS: <PRI>SEQ: [host: ]*TS: %FAC-SEV-MNEMONIC: text
# (plugins/pmciscoios/pmciscoios.c)
_CISCO_RE = (
    r"^(\d+): (?:([\w.-]+): )?[*.]?"
    r"((?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
    r" (?: \d|\d\d) \d{2}:\d{2}:\d{2}(?:\.\d+)?)(?: \w+)?: "
    r"(%[A-Z0-9_]+-\d-[A-Z0-9_]+): ?(.*)$"
)


def pmciscoios(df: DataFrame, raw_col: str = "rawmsg") -> DataFrame:
    """Recognize Cisco-IOS-framed lines and re-derive header fields:
    sequence number → cisco_seq, %FAC-SEV-MNEM → syslogtag/programname,
    device timestamp → timereported_str. Single regex pass per row
    (group-rewrite, see _rewrite_groups)."""
    df, hit, g = _rewrite_groups(df, _strip_pri(raw_col), _CISCO_RE, 5,
                                 "_cisco")
    df = df.withColumn("cisco_seq", F.when(hit, g(1).cast("long")))
    return _header_fixup(df, hit, {
        "hostname": F.coalesce(_nullif(g(2)), F.col("hostname")),
        "timereported_str": g(3),
        "syslogtag": F.concat(g(4), F.lit(":")),
        "programname": g(4),
        "msg": g(5),
    }, drop=("_cisco_hit", "_cisco_arr"))


_LASTMSG = "last message repeated"


def pmlastmsg(df: DataFrame, raw_col: str = "rawmsg") -> DataFrame:
    """'last message repeated n times' lines (plugins/pmlastmsg): the
    whole remainder is MSG, no tag; repeat count extracted."""
    after = _strip_pri(raw_col)
    # header (ts + host) may precede the phrase
    phrase_at = F.instr(after, _LASTMSG)
    hit = phrase_at > 0
    n = F.regexp_extract(
        after, r"last message repeated (\d+) times", 1
    )
    df = df.withColumn(
        "repeat_count", F.when(hit & (n != ""), n.cast("long"))
    )
    return _header_fixup(df, hit, {
        "msg": after.substr(phrase_at, F.length(after)),
        "syslogtag": F.lit(None).cast("string"),
    })


def pmnull(df: DataFrame, raw_col: str = "rawmsg") -> DataFrame:
    """plugins/pmnull: take everything after PRI as MSG, no header."""
    none = F.lit(None).cast("string")
    return df.withColumns({
        "msg": _strip_pri(raw_col),
        "hostname": none,
        "syslogtag": none,
        "timereported_str": none,
        "parse_success": F.lit(True),
    })


def parser_chain(df: DataFrame, fixups: list) -> DataFrame:
    """Apply device fixups in order (each only rewrites rows its
    dialect matches) — the parser-chain first-success analog collapsed
    into sequential conditional projections."""
    for fx in fixups:
        df = fx(df)
    return df


def pmnormalize(
    df: DataFrame,
    rules,
    raw_col: str = "rawmsg",
) -> DataFrame:
    """plugins/pmnormalize/pmnormalize.c:206-229: parse the RAW message
    through a liblognorm rulebase instead of the RFC parsers, then
    promote the extracted fields onto the message's well-known
    properties (MsgSetPropsViaJSON_Object → msg.c msgSetPropViaJSON:
    msg/hostname/syslogtag/pri/procid/msgid promote; everything else
    stays in the `norm` map). `pri` promotion re-derives
    facility/severity; programname is re-derived from a promoted tag.

    `rules` is a list of NormalizeRule (e.g. from mm.load_rulebase —
    the plugin's `rulebase` param). Rows no rule matches keep their
    original columns (COULD_NOT_PARSE → next parser in the chain);
    ``pmn_matched`` records the outcome."""
    from rsyslog_spark import mm as _mm

    out = _mm.mmnormalize(
        df, rules, msg_col=raw_col, out_col="_pmn", rule_col="_pmn_rule"
    )
    matched = F.col("_pmn_rule") >= 0
    got = lambda k: F.try_element_at("_pmn", F.lit(k))  # noqa: E731
    pri = got("pri").try_cast("int")
    tag = got("syslogtag")
    # column → (type, promoted value); a null value keeps the column
    promoted = {
        "msg": ("string", got("msg")),
        "hostname": ("string", got("hostname")),
        "syslogtag": ("string", tag),
        "procid": ("string", got("procid")),
        "msgid": ("string", got("msgid")),
        "pri": ("int", pri),
        "facility": ("int", (pri / 8).cast("int")),
        "severity": ("int", pri % 8),
        "programname": ("string", F.regexp_extract(tag, r"^([^:\[ ]*)", 1)),
    }
    cols = {
        c: F.when(matched & v.isNotNull(), v).otherwise(
            F.col(c) if c in out.columns else F.lit(None).cast(t)
        )
        for c, (t, v) in promoted.items()
    }
    return out.withColumns(
        {**cols, "pmn_matched": matched, "norm": F.col("_pmn")}
    ).drop("_pmn", "_pmn_rule")


# --- round-3 contrib tail (VERDICT r2 next #6) -------------------------------

_SNARE_TAB = r"(?:\t|#011|\\t)"  # pmsnare auto-detected tab representations
_SNARE_TAGS = r"(MSWinEventLog|LinuxKAudit)"
_TS3164 = (
    r"((?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
    r" (?: \d|\d\d) \d{2}:\d{2}:\d{2})"
)


def pmsnare(df: DataFrame, raw_col: str = "rawmsg") -> DataFrame:
    """contrib/pmsnare/pmsnare.c: detect Snare-agent messages — either
    headerless ``host<TAB>MSWinEventLog<TAB>...`` or syslog-framed
    ``TS host MSWinEventLog<TAB>...`` — where <TAB> may be a real tab,
    ``#011`` (escaped control char) or ``\\t`` (pmsnare.c:244-260
    auto-detection). The reference rewrites the tabs around the tag to
    spaces so the 3164 parser succeeds; here the fixup assigns the
    header columns directly: tag → syslogtag/programname, the
    still-tab-separated payload → msg (mmsnareparse's input), and a
    ``snare`` flag."""
    after = _strip_pri(raw_col)
    # headerless: hostname<TAB>TAG<TAB>payload  (pmsnare.c:320-345)
    rx_hdrless = rf"^([^ \t]+){_SNARE_TAB}{_SNARE_TAGS}{_SNARE_TAB}(.*)$"
    # syslog-framed: TS host TAG<TAB>payload    (pmsnare.c:363-396)
    rx_syslog = rf"^{_TS3164} (\S+) {_SNARE_TAGS}{_SNARE_TAB}(.*)$"
    df, hit_h, g_h = _rewrite_groups(df, after, rx_hdrless, 3, "_snh")
    df, hit_s, g_s = _rewrite_groups(df, after, rx_syslog, 4, "_sns")
    hit = hit_h | hit_s
    # a headerless match wins over a syslog-framed one
    pick = lambda h, s: F.when(hit_h, h).otherwise(s)  # noqa: E731
    tag = pick(g_h(2), g_s(3))
    return _header_fixup(df.withColumn("snare", hit), hit, {
        "hostname": pick(g_h(1), g_s(2)),
        "timereported_str": pick(F.lit(None), g_s(1)),
        "syslogtag": tag,
        "programname": tag,
        "msg": pick(g_h(3), g_s(4)),
    }, drop=("_snh_hit", "_snh_arr", "_sns_hit", "_sns_arr"))


def pmaixforwardedfrom(df: DataFrame, raw_col: str = "rawmsg") -> DataFrame:
    """contrib/pmaixforwardedfrom/pmaixforwardedfrom.c: AIX relays
    mangle forwarded messages into ``TS Message forwarded from
    host: tag: msg`` (or ``From host:``); the reference strips the
    preamble and the extra colon so `host` parses as HOSTNAME
    (pmaixforwardedfrom.c:69-137). Fixup: hostname/tag/msg re-derived
    for matching rows."""
    rx = (
        rf"^{_TS3164} (?:[Mm]essage forwarded from |[Ff]rom )"
        r"([^: ]+): (?:([^ :\[]+(?:\[\d+\])?:) )?(.*)$"
    )
    df, hit, g = _rewrite_groups(df, _strip_pri(raw_col), rx, 4, "_aix")
    tag = _nullif(g(3))
    return _header_fixup(df, hit, {
        "hostname": g(2),
        "timereported_str": g(1),
        "syslogtag": tag,
        "programname": F.regexp_extract(tag, r"^([^:\[ ]*)", 1),
        "msg": g(4),
    }, drop=("_aix_hit", "_aix_arr"))


# db2diag level word → syslog severity (pmdb2diag.c:104-138)
_DB2_SEV = {
    "Critical": 0, "Alert": 1, "Severe": 2, "Error": 3, "Event": 5,
    "Warning": 4, "Info": 6, "Debug": 7,
}


def pmdb2diag(
    df: DataFrame,
    raw_col: str = "rawmsg",
    levelpos: int = 59,
    timepos: int = 0,
    pid_to_prog_shift: int = 49,
) -> DataFrame:
    """contrib/pmdb2diag/pmdb2diag.c: DB2 diagnostic log lines carry
    LEVEL/PID/PROC at fixed offsets (defaults levelpos=59, timepos=0,
    pidstarttoprogstartshift=49, pmdb2diag.c:226-229). Extracts:
    severity from the level word (pmdb2diag.c:104-138), procid = the
    digits after the first ':' past the level (pmdb2diag.c:176-188),
    programname = pid start + shift up to space/backslash
    (pmdb2diag.c:190-207), timereported_str from timepos."""
    after = _strip_pri(raw_col)
    lvl_zone = F.substr(after, F.lit(levelpos + 1))
    # fixed-length word compare like the reference (pmdb2diag.c reads
    # lvl_len chars, no word boundary — the next section may abut)
    level = F.regexp_extract(
        lvl_zone,
        r"^(Critical|Alert|Severe|Error|Event|Warning|Info|Debug)", 1,
    )
    hit = level != ""
    sev = F.when(F.lit(False), F.lit(None).cast("int"))
    for word, s in _DB2_SEV.items():
        sev = F.when(level == word, F.lit(s)).otherwise(sev)
    ts = F.regexp_extract(
        F.substr(after, F.lit(timepos + 1)),
        r"^(\d{4}-\d{2}-\d{2}-\d{2}\.\d{2}\.\d{2}\.\d+(?:[+-]\d+)?)", 1,
    )
    # pid: first ': ' after the level word, digits up to the next space
    past_level = F.substr(lvl_zone, F.length(level) + 1)
    pid = F.regexp_extract(past_level, r"^[^:]*: ([^ ]+) ", 1)
    # prog: pid start + shift chars, up to space or backslash
    pid_start = F.instr(past_level, ":") + 2
    prog_zone = F.substr(past_level, pid_start + F.lit(pid_to_prog_shift))
    prog = F.regexp_extract(prog_zone, r"^([^ \\]+)", 1)
    return _header_fixup(df, hit, {
        "severity": sev,
        "procid": _nullif(pid),
        "programname": _nullif(prog),
        "timereported_str": F.coalesce(_nullif(ts), F.col("timereported_str")),
    })


_PAN_TYPES = (
    "TRAFFIC|THREAT|SYSTEM|CONFIG|HIP-MATCH|GLOBALPROTECT|USERID|"
    "CORRELATION|AUTH|DECRYPTION"
)


def pmpanngfw(df: DataFrame, msg_col: str = "msg") -> DataFrame:
    """contrib/pmpanngfw/pmpanngfw.c: PAN-OS NGFW logs are CSV with
    double-quoted fields ('""' escapes a quote); the reference rewrites
    them to tab-separated so mmnormalize %fields:char-to:\\t% rules
    apply (README.md transformation example). Detection: the MSG leads
    with ``n,YYYY/MM/DD hh:mm:ss,serial,<TYPE>,``. Adds ``pan_tsv``
    (the transformed message) and ``pan`` flag; msg is rewritten for
    matching rows like the reference does in place."""
    msg = F.col(msg_col)
    # detection tolerates leading whitespace, but the transform runs on
    # the ORIGINAL msg (reference rewrites in place, pmpanngfw.c:109 —
    # leading whitespace must survive; it sits in segment 0, outside
    # quotes, and contains no commas)
    det = F.regexp_extract(
        F.ltrim(msg),
        rf"^(\d+,\d{{4}}/\d{{2}}/\d{{2}} \d{{2}}:\d{{2}}:\d{{2}},[^,]*,"
        rf"(?:{_PAN_TYPES}),)", 1,
    )
    hit = det != ""
    # Structural mirror of the reference's char walker
    # (pmpanngfw.c:109-250), in LINEAR time: split on '"'. Each quote
    # toggles in-quote state, so even-indexed segments are outside
    # quotes (an escaped "" is two toggles = net zero — parity stays
    # correct for every NON-empty segment). Per segment:
    #   odd (inside quotes)  → emitted literally;
    #   even, empty, interior → this is the gap inside an in-quote '""'
    #                           pair → emit the escaped literal '"';
    #   even otherwise        → outside quotes → commas become tabs.
    # Field-delimiting quotes vanish because segments join on ''. An
    # empty ODD interior segment is an empty quoted field ("") outside
    # quotes and correctly emits nothing.
    parts = F.split(msg, '"', -1)
    last = F.size(parts) - 1
    tsv = F.array_join(
        F.transform(
            parts,
            lambda p, i: F.when(i % 2 == 1, p)
            .when((p == "") & (i > 0) & (i < last), F.lit('"'))
            .otherwise(F.regexp_replace(p, ",", "\t")),
        ),
        "",
    )
    out = F.when(hit, tsv)
    return df.withColumns(
        {"pan": hit, "pan_tsv": out, msg_col: F.coalesce(out, msg)}
    )


def mmleefparse(
    df: DataFrame,
    msg_col: str = "msg",
    out_col: str = "leef",
    cookie: str = "LEEF:",
    delimiter: str = "\t",
) -> DataFrame:
    """plugins/mmleefparse/mmleefparse.c: parse LEEF events into a
    structured column. Header = 5 '|'-separated segments after the
    cookie (protocol version, vendor, product, product version, event
    id — parse_leef_header:249-294); extensions = key=value pairs
    separated by ``delimiter`` (parse_leef_extensions:305-356; the
    module default is tab, PAN-OS exports use '|'). The cookie is
    SEARCHED for like searchcookie mode (mmleefparse.c:453-455).
    Output: struct(header struct, fields map) + ``leef_success``."""
    import re as _re

    msg = F.col(msg_col)
    pos = F.instr(msg, cookie)
    hit = pos > 0
    payload = F.substr(msg, pos + len(cookie))
    unesc_pipe = r"(?<!\\)\|"
    parts = F.split(payload, unesc_pipe, 6)

    def seg(i: int) -> Column:
        # unescape \| and \\ like leef_unescape_copy (mmleefparse.c:205)
        return F.regexp_replace(
            F.try_element_at(parts, F.lit(i)), r"\\([|\\])", "$1"
        )

    ext = F.try_element_at(parts, F.lit(6))
    # pairs split on the UNESCAPED delimiter (find_next_segment honors
    # '\' escapes); keys/values then unescape like leef_unescape_copy
    delim_rx = r"(?<!\\)" + _re.escape(delimiter)
    unesc = lambda c: F.regexp_replace(c, r"\\([|\\])", "$1")  # noqa: E731
    fields = F.str_to_map(ext, F.lit(delim_rx), F.lit("="))
    fields = F.transform_keys(fields, lambda k, _v: unesc(k))
    fields = F.transform_values(fields, lambda _k, v: unesc(v))
    header = F.struct(
        seg(1).alias("version"),
        seg(2).alias("vendor"),
        seg(3).alias("product"),
        seg(4).alias("product_version"),
        seg(5).alias("event_id"),
    )
    return df.withColumns({
        out_col: F.when(hit, F.struct(header.alias("header"),
                                      fields.alias("fields"))),
        "leef_success": hit,
    })


def _na(c: Column) -> Column:
    """Snare placeholder tokens (is_placeholder: 'N/A', '-', '')."""
    return F.when(~c.isin("N/A", "-", ""), c)


def mmsnareparse(
    df: DataFrame, msg_col: str = "msg", out_col: str = "win"
) -> DataFrame:
    """plugins/mmsnareparse/mmsnareparse.c (subset): split the
    tab-delimited Snare Windows payload and populate the event
    metadata the reference extracts in populate_event_metadata
    (mmsnareparse.c:4607-4705): RFC5424 layout (MSWinEventLog at token
    0) → eventid=5 provider=6 eventtype=9 computer=10 categorytext=11
    (+channel=2, record=3); RFC3164 layout (tag consumed by the syslog
    parser) → eventid=1 provider=2 eventtype=5 computer=6 category=7.
    Placeholders (N/A, -) become null. The deep per-event-type field
    mappings (logon types, TLS, LAPS, WDAC sections) are out of this
    subset."""
    toks = F.split(F.col(msg_col), r"\t", -1)
    t = lambda i: F.try_element_at(toks, F.lit(i + 1))  # noqa: E731
    is5424 = t(0) == "MSWinEventLog"
    idx = lambda a, b: F.when(is5424, t(a)).otherwise(t(b))  # noqa: E731
    hit = is5424 | (F.size(toks) >= 8)
    ev = idx(5, 1)
    desc = idx(13, 9)
    struct = F.struct(
        ev.try_cast("long").alias("EventID"),
        F.when(ev.try_cast("long").isNull(), _na(ev)).alias("EventIDRaw"),
        _na(idx(6, 2)).alias("Provider"),
        _na(idx(9, 5)).alias("EventType"),
        _na(idx(10, 6)).alias("Computer"),
        _na(idx(11, 7)).alias("Category"),
        F.when(is5424, _na(t(2))).alias("Channel"),
        F.when(is5424, t(3).try_cast("long")).alias("RecordNumber"),
        _na(desc).alias("Description"),
    )
    return df.withColumns({
        out_col: F.when(hit, struct),
        "win_success": hit,
        # the description's per-section key/values, 'Section.Key'-
        # flattened (the reference's nested JSON shape is one
        # mm.mmjsontransform(mode='unflatten') away)
        "win_fields": F.when(hit, snare_description_fields(desc)),
    })


def pmcisconames(df: DataFrame, raw_col: str = "rawmsg") -> DataFrame:
    """contrib/pmcisconames/pmcisconames.c: some relays mangle Cisco
    logs into ``TS host : %FAC-SEV-MNEM: msg`` (an orphaned ':' between
    hostname and the %-tag). The reference deletes the extra ': ' so
    the 3164 parser sees ``TS host %FAC-SEV-MNEM: msg``; this fixup
    assigns those parse results directly. Both the 16-char and the
    21-char (year) timestamps are accepted (pmcisconames.c:48-76)."""
    rx = (
        r"^((?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
        r" (?: \d|\d\d)(?: \d{4})? \d{2}:\d{2}:\d{2}) (\S+) : "
        r"(%[A-Z0-9_-]+-\d-[A-Z0-9_]+):\s?(.*)$"
    )
    df, hit, g = _rewrite_groups(df, F.ltrim(_strip_pri(raw_col)), rx, 4,
                                 "_cnam")
    return _header_fixup(df, hit, {
        "timereported_str": g(1),
        "hostname": g(2),
        "syslogtag": F.concat(g(3), F.lit(":")),
        "programname": g(3),
        "msg": g(4),
    }, drop=("_cnam_hit", "_cnam_arr"))


def mmsnmptrapd(
    df: DataFrame,
    tag_id: str = "snmptrapd",
    tag_name: str = "snmptrapd:",
    severity_mapping: dict[str, int] | None = None,
    tag_col: str = "syslogtag",
) -> DataFrame:
    """plugins/mmsnmptrapd/mmsnmptrapd.c: snmptrapd emits everything
    under one tag with the ORIGINATOR's severity and host folded into
    it — ``snmptrapd/<severity>/<host>:``. Messages whose tag starts
    with ``tag_id`` get: TAG ← ``tag_name`` (MsgSetTAG), HOSTNAME ← the
    host component (trailing ':' stripped), severity ← the user's
    severity-string mapping (lookupSeverityCode; unmapped strings leave
    severity untouched, mmsnmptrapd.c:200-232)."""
    severity_mapping = severity_mapping or {}
    tag = F.col(tag_col)
    hit = tag.startswith(tag_id + "/")
    rest = F.substr(tag, F.lit(len(tag_id) + 2))
    parts = F.split(rest, "/", 2)
    sev_str = F.lower(F.try_element_at(parts, F.lit(1)))
    host = F.regexp_replace(
        F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit("")), r":$", ""
    )
    sev_code = F.lit(None).cast("int")
    for name, code in severity_mapping.items():
        sev_code = F.when(sev_str == name.lower(), F.lit(code)).otherwise(
            sev_code
        )
    return df.withColumns({
        "hostname": F.when(hit & (host != ""), host).otherwise(
            F.col("hostname")
        ),
        "severity": F.when(hit & sev_code.isNotNull(), sev_code).otherwise(
            F.col("severity")
        ),
        tag_col: F.when(hit, F.lit(tag_name)).otherwise(tag),
    })


# mmaitag default label set (doc/source/configuration/modules/mmaitag.rst)
AITAG_LABELS = ("NOISE", "REGULAR", "IMPORTANT", "CRITICAL")


def mmaitag(
    df: DataFrame,
    msg_col: str = "msg",
    out_col: str = "aitag",
    provider: str = "heuristic",
    classify_fn=None,
) -> DataFrame:
    """contrib mmaitag (doc/configuration/modules/mmaitag.rst):
    classify each message into NOISE/REGULAR/IMPORTANT/CRITICAL and
    store the label in a custom variable (the `tag` param's $.aitag).

    Providers:
    * ``heuristic`` — a deterministic JVM-side stand-in (the external
      AI service is unreachable from this sandbox): CRITICAL on
      panic/fatal/emergency markers, IMPORTANT on error/fail/denied,
      NOISE on debug/heartbeat/keepalive chatter, else REGULAR. The
      real provider's label SET and storage contract are preserved.
    * ``external`` — pass ``classify_fn`` (e.g. a wrapped
      datapipe.multimodal.mmexternal child that calls the model API);
      it must map a msg Column to a label Column. Raises if missing —
      the API boundary is explicit, like the media-decoder stub."""
    msg = F.lower(F.coalesce(F.col(msg_col), F.lit("")))
    if provider == "heuristic":
        label = (
            F.when(
                msg.rlike(r"panic|fatal|emergency|out of memory|segfault"),
                F.lit("CRITICAL"),
            )
            .when(
                msg.rlike(r"error|fail|denied|refused|unreachable"),
                F.lit("IMPORTANT"),
            )
            .when(
                msg.rlike(r"debug|heartbeat|keepalive|stats: |trace"),
                F.lit("NOISE"),
            )
            .otherwise(F.lit("REGULAR"))
        )
    elif provider == "external":
        if classify_fn is None:
            raise NotImplementedError(
                "mmaitag external provider needs classify_fn — no AI "
                "service is reachable from this sandbox; wire the model "
                "call through datapipe.multimodal.mmexternal"
            )
        label = classify_fn(F.col(msg_col))
    else:
        raise ValueError(f"unknown mmaitag provider {provider!r}")
    return df.withColumn(out_col, label)


#: inline/semicolon section descriptors (g_builtinSectionDescriptors,
#: mmsnareparse.c:508-548): these labels are SECTIONS even when they
#: carry an inline value — the whole value belongs to the section and
#: the active section closes afterwards (sectionBehaviorInlineValue /
#: sectionBehaviorSemicolon set activeSection=NULL, c:4369-4380).
#: pattern → storage key in the flattened fields map.
_SNARE_INLINE_SECTIONS: dict[str, str] = {
    "Remote Credential Guard": "RemoteCredentialGuard.Status",
    "LAPS Context": "LAPS._semi",
}


def snare_description_fields(
    col: Column, sep: str = ".", list_keys: tuple[str, ...] = ("Privileges",),
    inline_sections: dict[str, str] | None = None,
) -> Column:
    """Parse the free-text Snare event DESCRIPTION into section-scoped
    fields (mmsnareparse.c's per-section key/value walk — Subject /
    Logon Information / Network Information blocks etc., flattened to
    'Section.Key' names; mm.mmjsontransform(mode='unflatten') rebuilds
    the reference's nested JSON shape).

    Format (NXLog/Snare): fields separated by runs of 3+ spaces; a
    segment ending in ':' opens a section; 'Key:  Value' (1+ spaces —
    long keys like 'Source Network Address' use one) is a pair under
    the current section; prose segments are skipped — EXCEPT after a
    ``list_keys`` key ('Privileges', sectionBehaviorList +
    fieldValuePrivilegeList, mmsnareparse.c:245,545,4274-4280): bare
    segments that follow accumulate comma-joined onto that key, the
    reference's privilege-name collection. One split + one aggregate
    fold, ONE regex execution per segment (the key/value are
    group-rewritten by core.rewrite_groups, whose split is bound once
    per element — lambda-variable references are O(1), inline copies
    inside the fold would re-run the regex per field).

    ``inline_sections`` (default :data:`_SNARE_INLINE_SECTIONS`) maps
    labels that are sections-with-inline-values — 'Remote Credential
    Guard:  Enabled' (sectionBehaviorInlineValue) and 'LAPS Context:
    PolicyVersion=2; CredentialRotation=True' (sectionBehaviorSemicolon)
    — to the flattened key their value is stored under; matching a
    descriptor also CLOSES the active section, exactly the reference's
    activeSection=NULL after both behaviors."""
    if inline_sections is None:
        inline_sections = _SNARE_INLINE_SECTIONS
    segs = F.split(col, r"\s{3,}")
    # headers ('X:') and pairs ('K:  V') in one pattern: group 2 is
    # non-participating for headers and substitutes as ""
    seg_rx = r"^([^:\x01]{1,60}):(?:\s+(.*?))?\s*$"
    lk_names = F.array(*[F.lit(x) for x in list_keys]) if list_keys else None
    inline_map = _litmap(inline_sections) if inline_sections else None

    def step(acc: Column, s: Column) -> Column:
        _, parts = rewrite_groups(s, seg_rx, 2)

        def with_parts(p: Column) -> Column:
            g = group_getter(p)
            k, v = g(1), g(2)
            full = F.when(acc["section"] == "", k).otherwise(
                F.concat(acc["section"], F.lit(sep), k)
            )

            def st(section: Column, m: Column, lk: Column) -> Column:
                return F.struct(
                    section.alias("section"), m.alias("m"), lk.alias("lk")
                )

            bare = F.trim(s)
            # bare segment while a list key is active → append to it
            # (LAST_WIN map dedup makes map_concat an upsert)
            prose = F.when(
                (acc["lk"] != "") & (bare != ""),
                st(
                    acc["section"],
                    F.map_concat(
                        acc["m"],
                        F.create_map(
                            acc["lk"],
                            F.concat_ws(
                                ",",
                                F.try_element_at(acc["m"], acc["lk"]),
                                bare,
                            ),
                        ),
                    ),
                    acc["lk"],
                ),
            ).otherwise(acc)
            new_lk = (
                F.when(F.array_contains(lk_names, k), full).otherwise(
                    F.lit("")
                )
                if lk_names is not None
                else F.lit("")
            )
            # a list-key HEADER ('Privileges:' with no inline value)
            # opens a list section: following bare segments accumulate
            # under the bare key name
            hdr_lk = (
                F.when(F.array_contains(lk_names, k), k).otherwise(F.lit(""))
                if lk_names is not None
                else F.lit("")
            )
            out = F.when(~split_hit(p), prose)
            if inline_map is not None:
                ik = F.try_element_at(inline_map, k)
                # inline-value / semicolon section: store the whole
                # value under the descriptor's key, close the section
                out = out.when(
                    ik.isNotNull(),
                    st(
                        F.lit(""),
                        F.map_concat(acc["m"], F.create_map(ik, v)),
                        F.lit(""),
                    ),
                )
            return (
                out.when(  # header: empty value opens a section
                    v == "", st(k, acc["m"], hdr_lk)
                )
                .otherwise(
                    st(
                        acc["section"],
                        F.map_concat(acc["m"], F.create_map(full, v)),
                        new_lk,
                    )
                )
            )

        # bind the split once, so the regex runs once per segment
        return _bind(parts, with_parts)

    init = F.struct(
        F.lit("").alias("section"),
        F.create_map().cast("map<string,string>").alias("m"),
        F.lit("").alias("lk"),
    )
    return F.aggregate(segs, init, step, lambda a: a["m"])


# --- mmsnareparse event-type metadata (r4) -----------------------------------
# g_eventMappings (mmsnareparse.c:563-632): eventId → (Category, Subtype,
# Outcome). Windows Security event-id facts, embedded as data.
_SNARE_EVENT_MAP: dict[int, tuple[str, str, str | None]] = {
    4624: ("Logon", "Success", "success"),
    4625: ("Logon", "Failure", "failure"),
    4626: ("Logon", "Success", "success"),
    4627: ("Logon", "Success", "success"),
    4672: ("Privilege", "Assignment", "success"),
    4688: ("Process", "Creation", "success"),
    4768: ("Kerberos", "TGTRequest", None),
    4769: ("Kerberos", "ServiceTicket", None),
    4771: ("Kerberos", "PreAuthFailure", None),
    5140: ("FileShare", "Access", None),
    5157: ("FilteringPlatform", "PacketDrop", "failure"),
    6281: ("WDAC", "Enforcement", None),
    1102: ("Audit", "LogCleared", None),
    1243: ("WindowsUpdate", "Deployment", None),
    4720: ("AccountManagement", "Creation", "success"),
    4722: ("AccountManagement", "Enabled", "success"),
    4723: ("AccountManagement", "PasswordChangeAttempt", "success"),
    4724: ("AccountManagement", "PasswordReset", "success"),
    4725: ("AccountManagement", "AccountDisabled", "success"),
    4726: ("AccountManagement", "AccountDeleted", "success"),
    4738: ("AccountManagement", "AccountChange", "success"),
    4781: ("AccountManagement", "AccountNameChange", "success"),
    4650: ("IPsec", "MainModeEstablished", "success"),
    4651: ("IPsec", "MainModeFailure", "failure"),
    4652: ("IPsec", "QuickModeEstablished", "success"),
    4653: ("IPsec", "QuickModeFailure", "failure"),
    4654: ("IPsec", "MainModeAuthFailure", "failure"),
    4655: ("IPsec", "MainModeAuthFailure", "failure"),
    4656: ("IPsec", "MainModeKeyFailure", "failure"),
    4657: ("IPsec", "MainModePeerAuthFailure", "failure"),
    4658: ("IPsec", "MainModeInvalidCookie", "failure"),
    4659: ("IPsec", "MainModeDuplicateSPI", "failure"),
    4660: ("IPsec", "MainModeInvalidProposal", "failure"),
    4661: ("IPsec", "MainModeTimeout", "failure"),
    4663: ("IPsec", "MainModeTimeout", "failure"),
    4664: ("IPsec", "MainModeTimeout", "failure"),
    4665: ("IPsec", "MainModeTimeout", "failure"),
    4666: ("IPsec", "MainModeTimeout", "failure"),
    4667: ("IPsec", "MainModeTimeout", "failure"),
    4668: ("IPsec", "MainModeTimeout", "failure"),
    4670: ("IPsec", "MainModeTimeout", "failure"),
    4671: ("IPsec", "MainModeTimeout", "failure"),
    4608: ("System", "Startup", "success"),
    4609: ("System", "Shutdown", "success"),
    4610: ("System", "Startup", "success"),
    4611: ("System", "Shutdown", "success"),
    4612: ("System", "AuditLogCleared", "success"),
    4614: ("System", "AuditLogCleared", "success"),
    4615: ("System", "IPCStatusChange", "success"),
    4616: ("System", "SystemTimeChange", "success"),
    4618: ("System", "SecurityStateChange", "success"),
    4621: ("System", "AdminLogon", "success"),
    4622: ("System", "Logon", "success"),
    4697: ("System", "ServiceInstalled", "success"),
    4821: ("System", "CertificateServices", "success"),
    4822: ("System", "CertificateServices", "success"),
    4823: ("System", "CertificateServices", "success"),
    4824: ("System", "CertificateServices", "success"),
    4830: ("System", "CertificateServices", "success"),
}

# g_logonTypeMap (mmsnareparse.c:549-562)
_SNARE_LOGON_TYPES = {
    0: "System", 1: "System", 2: "Interactive", 3: "Network", 4: "Batch",
    5: "Service", 7: "Unlock", 8: "NetworkCleartext", 9: "NewCredentials",
    10: "RemoteInteractive", 11: "CachedInteractive",
    12: "CachedRemoteInteractive", 13: "CachedUnlock",
}


def _litmap(d: dict) -> Column:
    pairs: list[Column] = []
    for k, v in d.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


def _snare_bool(v: Column) -> Column:
    """try_parse_bool (mmsnareparse.c:3392-3413): true/yes/enabled/on
    and false/no/disabled/off case-insensitively, plus literal 1/0;
    anything else is NOT a bool (null here)."""
    lv = F.lower(v)
    return (
        F.when(lv.isin("true", "yes", "enabled", "on") | (v == "1"),
               F.lit(True))
        .when(lv.isin("false", "no", "disabled", "off") | (v == "0"),
              F.lit(False))
    )


def snare_event_metadata(
    df: DataFrame,
    win_col: str = "win",
    fields_col: str = "win_fields",
    desc_col: str | None = None,
    sections: tuple[str, ...] = ("laps", "tls", "wdac", "wufb"),
) -> DataFrame:
    """Per-event-type metadata on top of :func:`mmsnareparse` —
    apply_event_mapping (mmsnareparse.c:3848-3861) plus the logon-event
    field promotion the reference routes through g_coreFieldPatterns
    (mmsnareparse.c:198-270) and populate_event_metadata
    (mmsnareparse.c:4607-4705, 4851: 4624/4625 required-field check).

    Adds:
      win_event  — struct(Category, Subtype, Outcome): g_eventMappings
                   lookup; Outcome falls back to derive_outcome over the
                   Snare EventType token ('Success Audit' → success,
                   mmsnareparse.c:3765-3774).
      win_logon  — for Logon-category events (4624-4627): the promoted
                   fields (LogonType + LogonTypeName via g_logonTypeMap,
                   Subject/NewLogon account structs, network and
                   detailed-authentication info, 4625 failure block),
                   each read from the section-scoped win_fields map.
      win_process    — 4688 Process Creation promoted fields.
      win_privileges — 4672 comma-joined privilege-name list.
      win_kerberos   — 4768/4769/4771 account/service/network/ticket
                       fields (tests/mmsnareparse-kerberos.sh shape).
      win_rcg    — Remote Credential Guard inline section
                   (sectionBehaviorInlineValue + handle_inline_remote_
                   credential_guard, mmsnareparse.c:4124-4134):
                   struct(Enabled bool via try_parse_bool, Status raw);
                   the bool also rides win_logon.RemoteCredentialGuard.
      win_laps   — 'LAPS Context' semicolon section (sectionBehavior
                   Semicolon, c:4136-4172 + LAPS field table c:367-369):
                   struct(LAPSContext, PolicyVersion int64,
                   CredentialRotation bool) from the k=v; sequence.
      win_tls    — 'TLS Inspection' section fields (c:371-374 + section
                   descriptor c:543): struct(TLSInspection, Reason,
                   Policy) whenever the section is present.
      win_wdac   — 6281 Code Integrity / WDAC enforcement
                   (g_event6281FieldPatterns, c:384-392): struct(
                   PolicyName, PolicyVersion, EnforcementMode, User,
                   PID int64 — fieldValueInt64WithRaw keeps the raw
                   string when non-numeric).
      win_wufb   — 1243 Windows Update for Business deployment
                   (g_event1243FieldPatterns, c:394-400): struct(
                   PolicyID, Ring, FromService, EnforcementResult).
      win_valid  — validate_required_fields subset: for 4624/4625 the
                   description must mention Security ID / Account Name /
                   Account Domain (strict-mode gate in the reference).

    ``sections`` mirrors the reference's enableLaps/enableTls/
    enableWdac instance flags (all default-on, mmsnareparse.c:5532-
    5535): dropping a name from the tuple nulls that output column
    (the descriptor-gating image of should_capture_section, c:2931).

    Everything is literal-map lookups over the already-built fields map
    — pure Column, no extra scan, no shuffle."""
    ev = F.col(win_col)["EventID"]
    m = F.col(fields_col)
    g = lambda k: _na(F.coalesce(F.try_element_at(m, F.lit(k)), F.lit("")))  # noqa: E731
    cat = F.try_element_at(_litmap({k: v[0] for k, v in _SNARE_EVENT_MAP.items()}), ev)
    sub = F.try_element_at(_litmap({k: v[1] for k, v in _SNARE_EVENT_MAP.items()}), ev)
    out_map = {
        k: v[2] for k, v in _SNARE_EVENT_MAP.items() if v[2] is not None
    }
    audit = F.lower(F.coalesce(F.col(win_col)["EventType"], F.lit("")))
    derived = (
        F.when(audit.contains("success"), F.lit("success"))
        .when(audit.contains("fail"), F.lit("failure"))
        .when(audit.contains("error"), F.lit("error"))
        .when(audit.contains("warning"), F.lit("warning"))
        .when(audit.contains("information"), F.lit("information"))
    )
    outcome = F.coalesce(F.try_element_at(_litmap(out_map), ev), derived)
    win_event = F.when(
        F.col(win_col).isNotNull(),
        F.struct(
            cat.alias("Category"), sub.alias("Subtype"),
            outcome.alias("Outcome"),
        ),
    )

    lt_long = g("Logon Information.Logon Type").try_cast("long")
    acct = lambda sec: F.struct(  # noqa: E731
        g(f"{sec}.Security ID").alias("SecurityID"),
        g(f"{sec}.Account Name").alias("AccountName"),
        g(f"{sec}.Account Domain").alias("AccountDomain"),
        g(f"{sec}.Logon ID").alias("LogonID"),
    )
    win_logon = F.when(
        (ev >= 4624) & (ev <= 4627) & m.isNotNull(),
        F.struct(
            lt_long.alias("LogonType"),
            F.try_element_at(_litmap(_SNARE_LOGON_TYPES), lt_long).alias(
                "LogonTypeName"
            ),
            acct("Subject").alias("Subject"),
            acct("New Logon").alias("NewLogon"),
            g("New Logon.Linked Logon ID").alias("LinkedLogonID"),
            g("New Logon.Logon GUID").alias("LogonGUID"),
            g("Network Information.Workstation Name").alias(
                "WorkstationName"
            ),
            g("Network Information.Source Network Address").alias(
                "SourceNetworkAddress"
            ),
            g("Network Information.Source Port").try_cast("long").alias(
                "SourcePort"
            ),
            g("Process Information.Process ID").alias("ProcessID"),
            g("Process Information.Process Name").alias("ProcessName"),
            g("Detailed Authentication Information.Logon Process").alias(
                "LogonProcess"
            ),
            g(
                "Detailed Authentication Information.Authentication Package"
            ).alias("AuthenticationPackage"),
            g("Detailed Authentication Information.Key Length")
            .try_cast("long")
            .alias("KeyLength"),
            g("Logon Information.Restricted Admin Mode").alias(
                "RestrictedAdminMode"
            ),
            g("Logon Information.Virtual Account").alias("VirtualAccount"),
            g("Logon Information.Elevated Token").alias("ElevatedToken"),
            g("Failure Information.Failure Reason").alias("FailureReason"),
            g("Failure Information.Status").alias("Status"),
            g("Failure Information.Sub Status").alias("SubStatus"),
            # handle_inline_remote_credential_guard also writes the
            # bool onto the Logon root (mmsnareparse.c:4131)
            _snare_bool(g("RemoteCredentialGuard.Status")).alias(
                "RemoteCredentialGuard"
            ),
        ),
    )
    # 4688 Process Creation (g_coreFieldPatterns Process* rows,
    # mmsnareparse.c:207-213; MS 4688 description layout)
    win_process = F.when(
        (ev == 4688) & m.isNotNull(),
        F.struct(
            acct("Subject").alias("Subject"),
            g("Process Information.New Process ID").alias("NewProcessID"),
            g("Process Information.New Process Name").alias(
                "NewProcessName"
            ),
            g("Process Information.Token Elevation Type").alias(
                "TokenElevationType"
            ),
            g("Process Information.Mandatory Label").alias(
                "MandatoryLabel"
            ),
            g("Process Information.Creator Process ID").alias(
                "CreatorProcessID"
            ),
            g("Process Information.Creator Process Name").alias(
                "CreatorProcessName"
            ),
            g("Process Information.Process Command Line").alias(
                "ProcessCommandLine"
            ),
        ),
    )
    # 4672 Privilege Assignment: the privilege-name list
    # (fieldValuePrivilegeList + sectionBehaviorList collection,
    # mmsnareparse.c:245,4274-4280) — comma-joined names
    win_privileges = F.when(
        ev == 4672,
        F.coalesce(g("Subject.Privileges"), g("Privileges")),
    )
    # 4768/4769/4771 Kerberos (tests/mmsnareparse-kerberos.sh extracts
    # exactly these under $!win!Network / $!win!Kerberos)
    win_kerberos = F.when(
        ev.isin(4768, 4769, 4771) & m.isNotNull(),
        F.struct(
            g("Account Information.Account Name").alias("AccountName"),
            g("Account Information.Account Domain").alias("AccountDomain"),
            g("Account Information.Logon GUID").alias("LogonGUID"),
            g("Service Information.Service Name").alias("ServiceName"),
            g("Service Information.Service ID").alias("ServiceID"),
            g("Network Information.Client Address").alias("ClientAddress"),
            g("Network Information.Client Port").try_cast("long").alias(
                "ClientPort"
            ),
            g("Additional Information.Ticket Options").alias(
                "TicketOptions"
            ),
            g("Additional Information.Result Code").alias("ResultCode"),
            g("Additional Information.Ticket Encryption Type").alias(
                "TicketEncryptionType"
            ),
            g("Additional Information.Pre-Authentication Type").alias(
                "PreAuthenticationType"
            ),
            g("Additional Information.Certificate Information").alias(
                "CertificateInfo"
            ),
        ),
    )
    # Remote Credential Guard inline section: present whenever the
    # description carried the section, independent of event id
    rcg_status = g("RemoteCredentialGuard.Status")
    win_rcg = F.when(
        rcg_status.isNotNull(),
        F.struct(
            _snare_bool(rcg_status).alias("Enabled"),
            rcg_status.alias("Status"),
        ),
    )
    # 'LAPS Context' semicolon sequence — the raw 'k=v; k=v' string was
    # stored whole by snare_description_fields; each field table entry
    # is one anchored extract (normalize_label strips spaces, so match
    # them optionally)
    laps_raw = g("LAPS._semi")
    lx = lambda pat: _na(  # noqa: E731
        F.regexp_extract(laps_raw, pat + r"\s*=\s*([^;]*?)\s*(?:;|$)", 1)
    )
    win_laps = F.when(
        laps_raw.isNotNull() & F.lit("laps" in sections),
        F.struct(
            lx(r"LAPS\s*Context").alias("LAPSContext"),
            lx(r"Policy\s*Version").try_cast("long").alias("PolicyVersion"),
            _snare_bool(lx(r"Credential\s*Rotation")).alias(
                "CredentialRotation"
            ),
        ),
    )
    # 'TLS Inspection' standard section (present on TLS-inspected
    # FilteringPlatform drops and similar)
    tls_f = lambda k: g(f"TLS Inspection.{k}")  # noqa: E731
    win_tls = F.when(
        (
            tls_f("TLS Inspection").isNotNull()
            | tls_f("Reason").isNotNull()
            | tls_f("Policy").isNotNull()
        )
        & F.lit("tls" in sections),
        F.struct(
            tls_f("TLS Inspection").alias("TLSInspection"),
            tls_f("Reason").alias("Reason"),
            tls_f("Policy").alias("Policy"),
        ),
    )
    # 6281 WDAC enforcement: top-level pairs in the Code Integrity
    # description (no section headers precede them)
    win_wdac = F.when(
        (ev == 6281) & m.isNotNull() & F.lit("wdac" in sections),
        F.struct(
            g("Policy Name").alias("PolicyName"),
            g("Policy Version").alias("PolicyVersion"),
            g("Enforcement Mode").alias("EnforcementMode"),
            g("User").alias("User"),
            g("PID").try_cast("long").alias("PID"),
            # fieldValueInt64WithRaw: keep the raw token when it does
            # not parse as an integer
            F.when(g("PID").try_cast("long").isNull(), g("PID")).alias(
                "PIDRaw"
            ),
        ),
    )
    # 1243 Windows Update for Business deployment
    win_wufb = F.when(
        (ev == 1243) & m.isNotNull() & F.lit("wufb" in sections),
        F.struct(
            g("Policy ID").alias("PolicyID"),
            g("Ring").alias("Ring"),
            g("From Service").alias("FromService"),
            g("Enforcement Result").alias("EnforcementResult"),
        ),
    )
    desc = (
        F.col(desc_col) if desc_col else F.col(win_col)["Description"]
    )
    required_ok = (
        desc.contains("Security ID")
        & desc.contains("Account Name")
        & desc.contains("Account Domain")
    )
    win_valid = F.when(
        ev.isin(4624, 4625), F.coalesce(required_ok, F.lit(False))
    ).otherwise(F.lit(True))
    return df.withColumns({
        "win_event": win_event,
        "win_logon": win_logon,
        "win_process": win_process,
        "win_privileges": win_privileges,
        "win_kerberos": win_kerberos,
        "win_rcg": win_rcg,
        "win_laps": win_laps,
        "win_tls": win_tls,
        "win_wdac": win_wdac,
        "win_wufb": win_wufb,
        "win_valid": win_valid,
    })
