"""Parsing stage: tokens → decoded line → structured header columns.

One implementation, :func:`parse`: Column expressions only —
whole-stage-codegen'd, one regex pass per row, no Python in the hot
path (the default ``decode_backend="jvm"``). It runs the reference's
header heuristics (sanitization, PRI, RFC 3164 with HP-ProCurve
leading space, year-after-timestamp, hostname charset and headerless
lines, RFC 5424 with SD escapes; tools/pmrfc3164.c:295-516,
tools/pmrfc5424.c:75-185, runtime/parser.c:330-605) and equals the
executable spec :func:`rsyslog_spark.parsing.full.parse_line` field
for field. Non-ASCII input needs ``decode_backend="arrow"``.

Output columns appended to the input DataFrame (tokens pass through
untouched — per-row invariant):

    rawmsg, pri, facility, severity, protocol_version,
    timereported_str, hostname, syslogtag, procid, msgid,
    structured_data, msg, parse_success, programname
"""

from rsyslog_spark.parsing.core import (  # noqa: F401
    FACILITY_TEXT,
    SEVERITY_TEXT,
    decode_tokens,
    facility_text,
    parse,
    severity_text,
)
