"""Parsing stage: tokens → decoded line → structured header columns.

Two implementations, same output schema:

- :func:`parse` (default ``mode="sql"``): pure Column expressions —
  whole-stage-codegen'd regexes, zero Python in the hot path. This is
  the 100 TB path.
- ``mode="full"``: Arrow-vectorized pandas UDF implementing the
  reference's heuristic corner cases (sanitization, HP-ProCurve leading
  space, year-after-timestamp, headerless defaults, RFC5424 SD escape
  rules). Reference: tools/pmrfc3164.c:295-516,
  tools/pmrfc5424.c:75-185, runtime/parser.c:330-605.

Output columns appended to the input DataFrame (tokens pass through
untouched — per-row invariant):

    rawmsg, pri, facility, severity, protocol_version,
    timereported_str, hostname, syslogtag, programname, procid,
    msgid, structured_data, msg, parse_success
"""

from rsyslog_spark.parsing.core import (  # noqa: F401
    FACILITY_TEXT,
    SEVERITY_TEXT,
    decode_tokens,
    facility_text,
    parse_sql,
    severity_text,
)
from rsyslog_spark.parsing.full import parse_full  # noqa: F401


def parse(df, tokens_col="tokens", mode="sql", decode_backend=None):
    """Decode + parse. ``mode`` in {"sql", "full"}; ``decode_backend``
    in {"jvm", "arrow"} (default: $SPARK_GRAFT_DECODE or "jvm")."""
    import os

    if decode_backend is None:
        decode_backend = os.environ.get("SPARK_GRAFT_DECODE", "jvm")
    if mode == "sql":
        return parse_sql(
            df, tokens_col=tokens_col, decode_backend=decode_backend
        )
    if mode == "full":
        return parse_full(df, tokens_col=tokens_col)
    raise ValueError(f"unknown parse mode: {mode!r}")
