"""Legacy (sysklogd-style) rsyslog.conf translator.

The classic line formats (runtime/conf.c cfline*,
runtime/cfsysline.c):

    mail.info;mail.!=debug     /var/log/mail        PRI selector line
    :msg, contains, "error"    /var/log/errlog      property filter line
    :msg, !contains, "noise"   /var/log/clean       (negated)
    *.emerg                    *                    (wall — demo sink)
    *.*                        @@central:514        (forward)
    & stop                                          (continuation: stop
                                                     for the previous
                                                     filter's matches)
    ~                                               (discard = stop)
    $template Fmt,"%timegenerated% %msg%\\n"        (template directive)

Each line compiles to the same Action list the RainerScript router
produces, so legacy configs and scripts share one execution path.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from rsyslog_spark.rules.compiler import Env
from rsyslog_spark.rules.router import (  # noqa: F401
    Action,
    Router,
    _sanitize_sink,
    _sink_name,
)
from rsyslog_spark.rules.selectors import mask_predicate, selector_mask

# :propname, [!]operation, "value"   target
_PROPFILT_RE = re.compile(
    r'^:(\S+?),\s*(!?)(contains|isequal|startswith|endswith|regex|ereregex'
    r'|isempty),?\s*(?:"((?:[^"\\]|\\.)*)")?\s+(.*)$'
)
_TEMPLATE_RE = re.compile(r'^\$template\s+(\w+)\s*,\s*"((?:[^"\\]|\\.)*)"')

# property name (no leading $) → parsed column
_PROP_COL = {
    "msg": "msg", "rawmsg": "rawmsg", "hostname": "hostname",
    "fromhost": "hostname", "syslogtag": "syslogtag",
    "programname": "programname", "source": "source",
}


def _target_to_sink(target: str) -> tuple[str, dict]:
    """Map a legacy action target to (sink_name, params)."""
    target = target.strip()
    if target.startswith("@@"):
        return f"fwd_tcp_{target[2:].replace(':', '_')}", {
            "type": "omfwd", "protocol": "tcp", "target": target[2:]
        }
    if target.startswith("@"):
        return f"fwd_udp_{target[1:].replace(':', '_')}", {
            "type": "omfwd", "protocol": "udp", "target": target[1:]
        }
    if target.startswith("|"):
        return f"pipe_{target[1:].lstrip('/').replace('/', '_')}", {
            "type": "ompipe", "pipe": target[1:]
        }
    if target == "*":
        return "wall", {"type": "omusrmsg"}
    if target.startswith(":omfile:") or target.startswith("/") or target.startswith("-/"):
        path = target.lstrip("-")
        return path.lstrip("/").replace("/", "_"), {
            "type": "omfile", "file": path
        }
    return target, {}


def _propfilt_predicate(prop: str, neg: str, op: str, val: str):
    """Property-filter ops (fiop enum, runtime/typedefs.h:170-181;
    eval runtime/ruleset.c:424-499)."""
    colname = _PROP_COL.get(prop.lower().lstrip("$"), prop.lstrip("$"))
    col = F.col(colname)
    if op == "contains":
        pred = col.contains(val)
    elif op == "isequal":
        pred = col == val
    elif op == "startswith":
        pred = col.startswith(val)
    elif op == "endswith":
        pred = col.endswith(val)
    elif op in ("regex", "ereregex"):
        # BRE vs ERE distinction collapses under Java regex (superset)
        pred = col.rlike(val)
    elif op == "isempty":
        pred = col.isNull() | (F.length(col) == 0)
    else:  # pragma: no cover
        raise ValueError(f"unknown property-filter op {op!r}")
    pred = F.coalesce(pred, F.lit(False))
    return (~pred) if neg == "!" else pred


def parse_legacy_conf(text: str, env: Env | None = None):
    """Translate a legacy conf into (actions, templates).

    Returns the same Action list shape as compile_routes; `& stop`
    after a line applies stop-semantics to that line's match set
    (continuation lines, conf.c)."""
    env = env or Env()
    actions: list[Action] = []
    templates: dict[str, str] = {}
    live = F.lit(True)
    last_pred = None
    # BSD host/tag block selectors (grammar/grammar.y:85-86 tokens;
    # classic sysklogd scoping — modern rsyslog rejects these with a
    # migration hint, rsconf.c:848-876, so the legacy translator is
    # where they live): '+host' scopes following lines to that host,
    # '-host' excludes it, '+*'/'-*' resets; '!prog' scopes to a
    # program, '!-prog' excludes, '!*' resets. Hostname compare is
    # case-insensitive (sysklogd strcasecmp), program compare exact.
    host_block = F.lit(True)
    tag_block = F.lit(True)

    for rawline in text.splitlines():
        line = rawline.strip()
        if not line or line.startswith("#"):
            continue
        m = _TEMPLATE_RE.match(line)
        if m:
            templates[m.group(1)] = m.group(2)
            env.templates[m.group(1)] = m.group(2)
            continue
        if line.startswith("$"):  # other directives: ignored (global knobs)
            continue
        if re.fullmatch(r"[+-](\*|[A-Za-z0-9.:_-]+)", line):
            val = line[1:]
            if val == "*":
                host_block = F.lit(True)
            elif line[0] == "+":
                host_block = F.coalesce(
                    F.lower(F.col("hostname")) == val.lower(), F.lit(False)
                )
            else:
                host_block = F.coalesce(
                    F.lower(F.col("hostname")) != val.lower(), F.lit(True)
                )
            continue
        if re.fullmatch(r"!-?(\*|[A-Za-z0-9._-]+)", line):
            val = line[1:]
            if val == "*":
                tag_block = F.lit(True)
            elif val.startswith("-"):
                tag_block = F.coalesce(
                    F.col("programname") != val[1:], F.lit(True)
                )
            else:
                tag_block = F.coalesce(
                    F.col("programname") == val, F.lit(False)
                )
            continue
        if line in ("~", "& ~"):
            if last_pred is not None:
                live = live & ~last_pred
            continue
        if line.replace(" ", "") in ("&stop",):
            if last_pred is not None:
                live = live & ~last_pred
            continue
        m = _PROPFILT_RE.match(line)
        if m:
            prop, neg, op, val, target = m.groups()
            pred = _propfilt_predicate(prop, neg, op, val or "") \
                & host_block & tag_block
            sink, params = _target_to_sink(target)
            actions.append(Action(_sanitize_sink(sink), live & pred, params))
            last_pred = pred
            continue
        # PRI selector line: selector whitespace target
        parts = line.split(None, 1)
        if len(parts) == 2 and ("." in parts[0]):
            sel, target = parts
            if target == "~":  # discard for this selector
                pred = mask_predicate(selector_mask(sel)) \
                    & host_block & tag_block
                live = live & ~pred
                last_pred = pred
                continue
            pred = mask_predicate(selector_mask(sel)) \
                & host_block & tag_block
            sink, params = _target_to_sink(target)
            actions.append(Action(_sanitize_sink(sink), live & pred, params))
            last_pred = pred
            continue
        raise ValueError(f"cannot parse legacy conf line: {rawline!r}")
    return actions, templates


class LegacyRouter(Router):
    """Router built from a legacy conf instead of RainerScript."""

    def __init__(self, conf_text: str, env: Env | None = None):
        self.env = env or Env()
        self.actions, self.templates = parse_legacy_conf(conf_text, self.env)
