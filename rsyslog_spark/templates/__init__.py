"""Template system: rsyslog templates compiled to one concat Column.

The reference's projection operator (runtime/template.c,
structs template.h:40-182): a template is a list of CONSTANT|FIELD
entries; each field is ``%prop:from:to:options%`` with substring /
field-extract (``F,<delimchar>``) / regex (``R,<ere>``) modes, date
formats, case conversion, and output escaping. Here every template
compiles to a single ``F.concat`` of built-in expressions → one
whole-stage-codegen'd projection (the Catalyst analog of rsyslog's
strgen compiled templates, tools/smtradfile.c).

Property names resolve through the rule compiler's Env, so templates
and filters share one property namespace.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from rsyslog_spark.functions import parse_time
from rsyslog_spark.parsing.core import facility_text, severity_text
from rsyslog_spark.rules.compiler import Env

# built-in templates (reference: runtime/rsconf.c:203-260, registered
# rsconf.c:1568-1605; internal names like " StdJSONFmt" are exposed here
# under the uniform RSYSLOG_ prefix, matching the documented aliases)
BUILTIN = {
    "RSYSLOG_FileFormat": (
        "%timereported:::date-rfc3339% %hostname% "
        "%syslogtag%%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%"
    ),
    "RSYSLOG_TraditionalFileFormat": (
        "%timereported% %hostname% "
        "%syslogtag%%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%"
    ),
    "RSYSLOG_ForwardFormat": (
        "<%pri%>%timereported:::date-rfc3339% %hostname% "
        "%syslogtag:1:32%%msg:::sp-if-no-1st-sp%%msg%"
    ),
    "RSYSLOG_TraditionalForwardFormat": (
        "<%pri%>%timereported% %hostname% "
        "%syslogtag:1:32%%msg:::sp-if-no-1st-sp%%msg%"
    ),
    "RSYSLOG_SyslogProtocol23Format": (
        "<%pri%>1 %timereported:::date-rfc3339% %hostname% %app-name% "
        "%procid% %msgid% %structured-data% %msg%"
    ),
    # JSON/DB output templates (rsconf.c:203-260). StdDBFmt is literally
    # SQL INSERT text in the reference — same here (sql escaping on msg).
    "RSYSLOG_StdJSONFmt": (
        '{"message":"%msg:::json%","fromhost":"%hostname:::json%",'
        '"facility":"%syslogfacility-text%","priority":"%syslogseverity-text%",'
        '"timereported":"%timereported:::date-rfc3339%"}'
    ),
    "RSYSLOG_StdDBFmt": (
        "insert into SystemEvents (Message, Facility, FromHost, "
        "SysLogTag) values ('%msg:::sql%', %syslogfacility%, "
        "'%hostname:::sql%', '%syslogtag:::sql%')"
    ),
    # rsconf.c:207-211 (the $!/$./$/ trailer is omitted: variable trees
    # are corpus-dependent map columns, not universal message props)
    "RSYSLOG_DebugFormat": (
        "Debug line with all properties:\nFROMHOST: '%fromhost%', "
        "fromhost-ip: '%fromhost-ip%', HOSTNAME: '%hostname%', PRI: %pri%,\n"
        "syslogtag '%syslogtag%', programname: '%programname%', "
        "APP-NAME: '%app-name%', PROCID: '%procid%', MSGID: '%msgid%',\n"
        "TIMESTAMP: '%timereported%', STRUCTURED-DATA: '%structured-data%',\n"
        "msg: '%msg%'\nescaped msg: '%msg:::drop-cc%'\n"
        "inputname: %inputname% rawmsg: '%rawmsg%'\n\n"
    ),
    "RSYSLOG_SyslogRFC5424Format": (
        "<%pri%>1 %timereported:::date-rfc3339% %hostname% %app-name% "
        "%procid% %msgid% %structured-data% %msg%"
    ),
    "RSYSLOG_SysklogdFileFormat": (
        "%timereported% %hostname% %syslogtag%%msg:::sp-if-no-1st-sp%%msg%\n"
    ),
    "RSYSLOG_WallFmt": (
        "\r\n\x07Message from syslogd@%hostname% at %timegenerated% "
        "...\r\n %syslogtag%%msg%\n\r"
    ),
    "RSYSLOG_StdUsrMsgFmt": " %syslogtag%%msg%\n\r",
    "RSYSLOG_FullJSONFmt": (
        '{"message":"%msg:::json%","fromhost":"%hostname:::json%",'
        '"programname":"%programname%","procid":"%procid%",'
        '"msgid":"%msgid%","facility":"%syslogfacility-text%",'
        '"priority":"%syslogseverity-text%",'
        '"timereported":"%timereported:::date-rfc3339%",'
        '"timegenerated":"%timegenerated:::date-rfc3339%"}'
    ),
    "RSYSLOG_StdPgSQLFmt": (
        "insert into SystemEvents (Message, Facility, FromHost, Priority, "
        "DeviceReportedTime, SysLogTag) values ('%msg:::stdsql%', "
        "%syslogfacility%, '%hostname:::stdsql%', %syslogpriority%, "
        "'%timereported:::date-pgsql%', '%syslogtag:::stdsql%')"
    ),
    "RSYSLOG_StdClickHouseFmt": (
        "INSERT INTO rsyslog.SystemEvents (severity, facility, timestamp, "
        "hostname, tag, message) VALUES (%syslogseverity%, %syslogfacility%, "
        "'%timereported:::date-unixtimestamp%', '%hostname:::stdsql%', "
        "'%syslogtag:::stdsql%', '%msg:::stdsql%')"
    ),
    "RSYSLOG_StdOmSenderTrack-senderid": "%fromhost-ip%",
    "RSYSLOG_PerSourceKey": "%hostname%",
}

_FIELD_RE = re.compile(r"%([^%]*)%")


def _resolve_prop(name: str, env: Env) -> Column:
    name = name.lower()
    if name in ("syslogfacility-text", "facility-text"):
        col, _ = env.resolve("$syslogfacility")
        return facility_text(col)
    if name in ("syslogseverity-text", "severity-text", "syslogpriority-text"):
        col, _ = env.resolve("$syslogseverity")
        return severity_text(col)
    if name == "pri-text":
        fac, _ = env.resolve("$syslogfacility")
        sev, _ = env.resolve("$syslogseverity")
        pri, _ = env.resolve("$pri")
        return F.concat(
            facility_text(fac), F.lit("."), severity_text(sev),
            F.lit("<"), pri.cast("string"), F.lit(">"),
        )
    col, _tag = env.resolve("$" + name if not name.startswith("$") else name)
    return col.cast("string")


def _apply_date_opt(col: Column, opt: str) -> Column:
    """Date options operate on the reported-time string; 3164-style
    strings are first parsed (year-estimated) via parse_time."""
    ts = F.from_unixtime(parse_time(col)).cast("timestamp")
    m = {
        "date-rfc3339": lambda: F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX"),
        "date-rfc3164": lambda: F.concat(
            F.date_format(ts, "MMM"),
            F.format_string("%3d", F.dayofmonth(ts)),
            F.lit(" "),
            F.date_format(ts, "HH:mm:ss"),
        ),
        # zero-padded day variant ('Mar 07') — the sysklogd bug some
        # receivers expect (tests/parsertest-parse-3164-buggyday.sh)
        "date-rfc3164-buggyday": lambda: F.date_format(
            ts, "MMM dd HH:mm:ss"
        ),
        "date-unixtimestamp": lambda: F.unix_timestamp(ts).cast("string"),
        "date-year": lambda: F.date_format(ts, "yyyy"),
        "date-month": lambda: F.date_format(ts, "MM"),
        "date-day": lambda: F.date_format(ts, "dd"),
        "date-hour": lambda: F.date_format(ts, "HH"),
        "date-minute": lambda: F.date_format(ts, "mm"),
        "date-second": lambda: F.date_format(ts, "ss"),
        "date-wday": lambda: (F.dayofweek(ts) - 1).cast("string"),
        "date-mysql": lambda: F.date_format(ts, "yyyyMMddHHmmss"),
        "date-pgsql": lambda: F.date_format(ts, "yyyy-MM-dd HH:mm:ss"),
        "date-ordinal": lambda: F.date_format(ts, "DDD"),
        "date-week": lambda: F.weekofyear(ts).cast("string"),
        "date-isoweek": lambda: F.weekofyear(ts).cast("string"),
        "date-isoweekyear": lambda: F.date_format(ts, "YYYY"),
        "date-wdayname": lambda: F.date_format(ts, "EEE"),
        "date-tzoffshour": lambda: F.date_format(ts, "xx").substr(1, 3),
        "date-tzoffsmin": lambda: F.date_format(ts, "xx").substr(4, 2),
        "date-tzoffsdirection": lambda: F.date_format(ts, "xx").substr(1, 1),
        "date-subseconds": lambda: F.date_format(ts, "S"),
        "date-secfrac": lambda: F.date_format(ts, "SSS"),
    }
    if opt not in m:
        raise ValueError(f"unsupported date option {opt!r}")
    return m[opt]()


def _csv_escape(col: Column) -> Column:
    """RFC4180 (template.h:160): always quote, double inner quotes."""
    return F.concat(
        F.lit('"'), F.regexp_replace(col, '"', '""'), F.lit('"')
    )


def _json_escape(col: Column) -> Column:
    # to_json on a struct emits {"x":"<escaped>"}; strip the wrapper to
    # reuse Spark's JVM-side JSON escaping rather than regex chains
    j = F.to_json(F.struct(col.alias("x")))
    return F.regexp_extract(j, r'^\{"x":"(.*)"\}$', 1)


_CC_CODES = list(range(0x00, 0x20)) + [0x7F]  # iscntrl() set, ASCII


def _escape_cc(col: Column, octal: bool) -> Column:
    """escape-cc / controlcharacters=escape-octal (msg.c:4461-4512):
    each control char becomes '#' + 3 digits — decimal (cc/100,
    cc/10%10, cc%10) or octal ((cc>>6)&7, (cc>>3)&7, cc&7). A chain of
    literal replaces stays whole-stage-codegen (the option is rare and
    each replace is a cheap JVM scan)."""
    for cc in _CC_CODES:
        rep = f"#{cc:03o}" if octal else f"#{cc:03d}"
        col = F.replace(col, F.lit(chr(cc)), F.lit(rep))
    return col


def _secpath(col: Column, drop: bool) -> Column:
    """secpath-drop / secpath-replace (msg.c:4519-4604): make a value
    safe as a dynafile path component. drop: remove '/'; replace:
    '/'→'_'. Then '' → '_', '.' → '_', '..' → '_.' (dot-dir traps)."""
    col = F.regexp_replace(col, "/", "" if drop else "_")
    return (
        F.when(col.isNull() | (col == ""), F.lit("_"))
        .when(col == ".", F.lit("_"))
        .when(col == "..", F.lit("_."))
        .otherwise(col)
    )


def _jsonf(col: Column, name: str, escape: bool, data_type: str,
           on_empty: str) -> Column:
    """jsonf/jsonfr name:value pair (msg.c jsonEncode:3525-3605) with
    dataType string|number|bool|auto and onEmpty keep|skip|null."""
    raw = F.coalesce(col, F.lit(""))
    val = _json_escape(raw) if escape else raw
    if data_type == "number":
        trimmed = F.trim(raw)
        body = F.when(trimmed == "", F.lit("0")).otherwise(trimmed)
    elif data_type == "bool":
        body = F.when(F.trim(raw) == "0", F.lit("false")).otherwise(
            F.lit("true")
        )
    elif data_type == "auto":
        body = F.when(
            raw.rlike(r"^[0-9]+$"), raw
        ).otherwise(F.concat(F.lit('"'), val, F.lit('"')))
    else:  # string
        body = F.concat(F.lit('"'), val, F.lit('"'))
    if on_empty == "null":
        body = F.when(raw == "", F.lit("null")).otherwise(body)
    pair = F.concat(F.lit(f'"{name}":'), body)
    if on_empty == "skip":
        return F.when(raw == "", F.lit("")).otherwise(pair)
    return pair


def compile_field(spec: str, env: Env, outname: str | None = None) -> Column:
    """Compile one %prop:from:to:options% field spec (property
    replacer, runtime/template.c:1399-1545 option table; applied
    runtime/msg.c:4277-4730). ``outname`` overrides the jsonf pair
    name (the v6 property(outname=...) param)."""
    parts = spec.split(":")
    prop = parts[0]
    frm = parts[1] if len(parts) > 1 else ""
    to = parts[2] if len(parts) > 2 else ""
    if frm.startswith("R"):
        # regex mode: the ERE may itself contain ':' — everything after
        # 'R,' up to '--end' is the pattern, and no option fields follow
        # (the property replacer's R spec has no options tail)
        to, opts = "", []
    else:
        opts = [o for o in (parts[3] if len(parts) > 3 else "").split(",")
                if o]

    col = _resolve_prop(prop, env)
    fixed_width = "fixed-width" in opts
    pos_end_rel = "pos-end-relative" in opts

    if frm.startswith("F"):  # field mode: F[,<delim-decimal>] ; to = field#
        delim = chr(int(frm.split(",")[1])) if "," in frm else "\t"
        # miss → '***FIELD NOT FOUND***' handled by functions.field
        from rsyslog_spark.functions import field as field_fn

        col = field_fn(col, delim, int(to))
    elif frm.startswith("R"):  # regex mode: R,<ere> (simplified)
        pattern = spec.split(",", 1)[1].rsplit("--end", 1)[0].rstrip(":")
        got = F.regexp_extract(col, pattern, 0)
        col = F.when(got != "", got).otherwise(F.lit("**NO MATCH**"))
    elif pos_end_rel and (frm or to):
        # from/to count backwards from the end (msg.c:4284-4286):
        # iFrom = len-from, iTo = len-to (0-based), clamped at 0
        f_i = int(frm) if frm else 0
        t_i = int(to) if to else 0
        ln = F.length(col)
        s0 = F.when(ln < f_i, F.lit(0)).otherwise(ln - f_i)
        e0 = F.when(ln < t_i, F.lit(0)).otherwise(ln - t_i)
        col = col.substr(s0 + 1, F.greatest(e0 - s0 + 1, F.lit(0)))
    elif frm or to:
        # substring: from:to are 1-based char positions, inclusive;
        # negative to is relative to the end (iTo = len-1+to, 0-based)
        f_i = int(frm) if frm else 1
        t_i = int(to) if to else None
        if t_i is None:
            col = col.substr(F.lit(f_i), F.lit(2**31 - 1))
        elif t_i < 0:
            # iTo = len-1+to (0-based) → iLen = len + to - from + 1
            width = F.greatest(
                F.length(col) + t_i - f_i + 1, F.lit(0)
            )
            col = col.substr(F.lit(f_i), width)
        else:
            col = col.substr(F.lit(f_i), F.lit(t_i - f_i + 1))
            if fixed_width:
                # space-pad to the full requested width (template.h
                # bFixedWidth; msg.c:4306,4315)
                col = F.rpad(F.coalesce(col, F.lit("")),
                             t_i - f_i + 1, " ")

    # jsonf modifiers (v6 property() params dataType=/onEmpty=,
    # template.c:2252-2303 — spelled datatype-X / onempty-X in this
    # engine's string syntax)
    data_type = "string"
    on_empty = "keep"
    for opt in opts:
        if opt.startswith("datatype-"):
            data_type = opt[len("datatype-"):]
        elif opt.startswith("onempty-"):
            on_empty = opt[len("onempty-"):]

    for opt in opts:
        if opt in ("fixed-width", "pos-end-relative") or opt.startswith(
            ("datatype-", "onempty-")
        ):
            continue  # handled above
        elif opt.startswith("date-"):
            col = _apply_date_opt(col, opt)
        elif opt == "lowercase":
            col = F.lower(col)
        elif opt == "uppercase":
            col = F.upper(col)
        elif opt == "csv":
            col = _csv_escape(col)
        elif opt == "json":
            col = _json_escape(col)
        elif opt == "jsonr":
            col = F.coalesce(col, F.lit(""))  # raw value, no escaping
        elif opt == "jsonf":
            col = _jsonf(col, outname or prop, True, data_type, on_empty)
        elif opt == "jsonfr":
            col = _jsonf(col, outname or prop, False, data_type, on_empty)
        elif opt in ("sql", "stdsql"):
            # sql: MySQL-style (quote ' AND \); stdsql: double ' only
            # (template.c doEscape SQL_ESCAPE vs STDSQL_ESCAPE)
            if opt == "sql":
                col = F.regexp_replace(
                    F.regexp_replace(col, r"\\", r"\\\\"), "'", r"\\'"
                )
            else:
                col = F.regexp_replace(col, "'", "''")
        elif opt == "drop-last-lf":
            col = F.regexp_replace(col, r"\n$", "")
        elif opt == "sp-if-no-1st-sp":
            # emit a single space unless the value already starts with one
            # (template.h:157) — note: emits ONLY the conditional space
            col = F.when(col.startswith(" "), F.lit("")).otherwise(F.lit(" "))
        elif opt == "compressspace":
            col = F.regexp_replace(col, r"  +", " ")
        elif opt == "drop-cc":
            col = F.regexp_replace(col, r"[\x00-\x1f\x7f]", "")
        elif opt == "space-cc":
            col = F.regexp_replace(col, r"[\x00-\x1f\x7f]", " ")
        elif opt == "escape-cc":
            col = _escape_cc(col, octal=False)
        elif opt == "escape-cc-octal":
            col = _escape_cc(col, octal=True)
        elif opt == "secpath-drop":
            col = _secpath(col, drop=True)
        elif opt == "secpath-replace":
            col = _secpath(col, drop=False)
        elif opt == "mandatory-field":
            pass  # list-template jsonf concern; fields always emitted here
        else:
            raise ValueError(f"unsupported template option {opt!r}")
    return F.coalesce(col, F.lit(""))


# --- v6 list templates --------------------------------------------------------
# template(name="x" type="list") { constant(value="...") property(name=...) }
# (runtime/template.c:2149-2560: createConstantTpe/createPropertyTpe)

_LIST_STMT_RE = re.compile(r"(constant|property)\s*\(((?:[^()\"]|\"(?:[^\"\\]|\\.)*\")*)\)")
_LIST_PARAM_RE = re.compile(r'([\w.]+)\s*=\s*"((?:[^"\\]|\\.)*)"')

# property() param value → compile_field option token
_LIST_FORMATS = {"csv": "csv", "json": "json", "jsonf": "jsonf",
                 "jsonr": "jsonr", "jsonfr": "jsonfr"}
_LIST_CC = {"escape": "escape-cc", "escape-octal": "escape-cc-octal",
            "space": "space-cc", "drop": "drop-cc"}
_LIST_SECPATH = {"drop": "secpath-drop", "replace": "secpath-replace"}
_LIST_CASE = {"lower": "lowercase", "upper": "uppercase"}
_ON = ("on", "1", "true", "yes")


def _list_property(params: dict[str, str], env: Env) -> Column:
    """One property(...) statement → Column, by translating the v6
    params (template.c:2252-2560) onto the string-spec option machinery
    so both template dialects share one implementation."""
    name = params.get("name")
    if not name:
        raise ValueError("property() needs name=")
    frm = params.get("position.from", "")
    to = params.get("position.to", "")
    opts: list[str] = []
    if params.get("position.relativetoend", "").lower() in _ON:
        opts.append("pos-end-relative")
    if params.get("fixedwidth", "").lower() in _ON:
        opts.append("fixed-width")
    fmt = params.get("format")
    if fmt is not None:
        if fmt not in _LIST_FORMATS:
            raise ValueError(f"invalid format {fmt!r} for property")
        opts.append(_LIST_FORMATS[fmt])
    cc = params.get("controlcharacters")
    if cc is not None:
        if cc not in _LIST_CC:
            raise ValueError(f"invalid controlcharacter mode {cc!r}")
        opts.append(_LIST_CC[cc])
    sp = params.get("securepath")
    if sp is not None:
        if sp not in _LIST_SECPATH:
            raise ValueError(f"invalid securepath mode {sp!r}")
        opts.append(_LIST_SECPATH[sp])
    case = params.get("caseconversion")
    if case is not None:
        if case not in _LIST_CASE:
            raise ValueError(f"invalid caseconversion type {case!r}")
        opts.append(_LIST_CASE[case])
    if params.get("dateformat"):
        df = params["dateformat"]
        opts.append(df if df.startswith("date-") else f"date-{df}")
    if params.get("datatype"):
        opts.append(f"datatype-{params['datatype'].lower()}")
    if params.get("onempty"):
        opts.append(f"onempty-{params['onempty'].lower()}")
    for flag, opt in (
        ("droplastlf", "drop-last-lf"),
        ("spifno1stsp", "sp-if-no-1st-sp"),
        ("compressspace", "compressspace"),
        ("mandatory", "mandatory-field"),
    ):
        if params.get(flag, "").lower() in _ON:
            opts.append(opt)
    if params.get("field.number"):
        delim = params.get("field.delimiter", "9")
        frm, to = f"F,{delim}", params["field.number"]
    if params.get("regex.expression"):
        # regex mode via the string-spec R path: R,<ere> (submatch 0).
        # Combining regex extraction with other formatting params is
        # not supported — fail loudly instead of silently dropping them
        if opts or frm or to:
            raise ValueError(
                "property(): regex.expression cannot be combined with "
                f"format/position/option params (got {opts or [frm, to]})"
            )
        spec = f"{name}:R,{params['regex.expression']}--end"
        return compile_field(spec, env, outname=params.get("outname"))
    spec = f"{name}:{frm}:{to}:{','.join(opts)}"
    return compile_field(spec, env, outname=params.get("outname"))


def compile_list_stmts(
    stmts: list[tuple[str, dict]], env: Env | None = None,
    unescape_constants: bool = False,
) -> Column:
    """Structured form: [(\"constant\"|\"property\", params), ...] →
    single concat Column (the shape the rscript parser produces for a
    template(type=\"list\") {...} block)."""
    env = env or Env()
    parts: list[Column] = []
    for kind, params in stmts:
        if kind == "constant":
            val = params.get("value", "")
            if unescape_constants:
                val = val.encode("utf-8").decode("unicode_escape")
            if params.get("format") == "jsonf":
                out = params.get("outname", "")
                parts.append(F.lit(f'"{out}":"{val}"'))
            else:
                parts.append(F.lit(val))
        else:
            parts.append(_list_property(params, env))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


def compile_list_template(body: str, env: Env | None = None) -> Column:
    """v6 list template → single concat Column.

    `body` is the {...} block content: a sequence of
    ``constant(value="..." [outname= format="jsonf"])`` and
    ``property(name="..." <params>)`` statements. constant values
    honor \\n style escapes (template.c:2167 unescapes); a jsonf
    constant emits its own "outname":"value" pair."""
    stmts = [
        (m.group(1),
         {k.lower(): v for k, v in _LIST_PARAM_RE.findall(m.group(2))})
        for m in _LIST_STMT_RE.finditer(body)
    ]
    return compile_list_stmts(stmts, env, unescape_constants=True)


def compile_subtree(subtree: str, env: Env | None = None) -> Column:
    """type="subtree" templates (template.h:209 tplToJSON; grammar
    `template(name=... type="subtree" subtree="$!foo")`): emit the JSON
    rendering of a variable subtree. Variable trees are map/struct
    columns here, so this is exactly F.to_json; '$!' is the whole CEE
    tree, '$!a!b' a nested path."""
    env = env or Env()
    col, _ = env.resolve(subtree)
    return F.when(col.isNull(), F.lit("{}")).otherwise(
        F.when(F.to_json(col).isNull(), F.lit("{}")).otherwise(F.to_json(col))
    )


def compile_template(tpl: str, env: Env | None = None) -> Column:
    """Template string → single Column (concat of parts). A name
    registered as a compiled (list/subtree) template in the env wins
    over string expansion."""
    env = env or Env()
    compiled = getattr(env, "compiled_templates", None)
    if compiled and tpl in compiled:
        return compiled[tpl]
    tpl = env.templates.get(tpl, tpl) if env.templates else tpl
    tpl = BUILTIN.get(tpl, tpl)
    parts: list[Column] = []
    pos = 0
    for m in _FIELD_RE.finditer(tpl):
        if m.start() > pos:
            parts.append(F.lit(tpl[pos : m.start()]))
        parts.append(compile_field(m.group(1), env))
        pos = m.end()
    if pos < len(tpl):
        parts.append(F.lit(tpl[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)
