"""OS/file-shaped input modules: imkmsg, imtuxedoulog, imbatchreport.

Each is re-expressed as a distributed parse over a DataFrame of raw
records (pure Column expressions — whole-stage codegen, no Python on
the hot path); imbatchreport additionally ships the Spark-native
whole-file reader plus the driver-side post-send rename/delete step
the reference performs after a successful enqueue.

Reference semantics:
  contrib/imkmsg/kmsg.c:68-190          (submitSyslog record parse)
  contrib/imtuxedoulog/imtuxedoulog.c   (parseMsg, ULOG line grammar)
  contrib/imbatchreport/imbatchreport.c (readAndSendFile, pollFile)
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rsyslog_spark.net import _SpooledSource


# ---------------------------------------------------------------------------
# imkmsg — /dev/kmsg structured records
# ---------------------------------------------------------------------------

def kmsg_parse(df: DataFrame, rec_col: str = "record") -> DataFrame:
    """Parse /dev/kmsg records: ``pri,seq,usec[,flags...];msg`` with
    optional ``\\n KEY=value`` continuation lines (one leading space
    each, kmsg.c:68-160).

    Adds pri/facility/severity, sequnum, usec_since_boot, msg and a
    ``props`` map from the continuation lines. Records the reference
    rejects (non-digit PRI, missing ',' separators, missing ';') get
    ``kmsg_valid = false`` — the caller drops them, mirroring the
    reference's silent ``return``.
    """
    rec = F.col(rec_col)
    first = F.substring_index(rec, "\n", 1)
    header = F.substring_index(first, ";", 1)
    semi_at = F.instr(first, ";")
    msg = F.when(semi_at > 0, F.substr(first, semi_at + 1, F.length(first)))

    parts = F.split(header, ",")
    pri_s = F.try_element_at(parts, F.lit(1))
    seq_s = F.try_element_at(parts, F.lit(2))
    ts_s = F.try_element_at(parts, F.lit(3))
    digits = lambda c: c.rlike(r"^\d+$")  # noqa: E731
    # the timestamp field only needs a digit PREFIX in the reference
    # (it stops at the first non-digit and skips to ';')
    ts_digits = F.regexp_extract(ts_s, r"^(\d+)", 1)
    valid = (
        (semi_at > 0)
        & pri_s.isNotNull() & digits(pri_s)
        & seq_s.isNotNull() & digits(seq_s)
        & ts_s.isNotNull()
        & (F.size(parts) >= 3)
    )

    # continuation lines: ' KEY=value' (exactly one leading space)
    cont = F.filter(
        F.slice(F.split(rec, "\n"), 2, 2147483646),
        lambda ln: ln.startswith(" ") & (F.instr(ln, "=") > 0),
    )
    props = F.map_from_entries(
        F.transform(
            cont,
            lambda ln: F.struct(
                F.substring_index(F.substr(ln, F.lit(2)), "=", 1).alias(
                    "key"
                ),
                F.substr(
                    ln, F.instr(ln, "=") + 1, F.length(ln)
                ).alias("value"),
            ),
        )
    )

    pri = F.when(valid, pri_s.cast("long"))
    return df.withColumns({
        "kmsg_valid": valid,
        "pri": pri,
        "facility": F.floor(pri / 8),
        "severity": pri % 8,
        "sequnum": F.when(valid, seq_s.cast("long")),
        "usec_since_boot": F.when(
            valid & (ts_digits != ""), ts_digits.cast("long")
        ).when(valid, F.lit(0)),
        "msg": F.when(valid, msg),
        "props": F.when(valid, props),
    })


def kmsg_timestamp(
    df: DataFrame, boot_time_col: str = "boot_time"
) -> DataFrame:
    """kmsg.c:165-182: record time = boot time + usec_since_boot
    (normalized). The reference derives boot time from
    sysinfo()/gettimeofday on the host; here it arrives as a column
    so the arithmetic is testable and cluster-safe."""
    return df.withColumn(
        "ts",
        F.timestamp_micros(
            F.unix_micros(F.col(boot_time_col))
            + F.col("usec_since_boot")
        ),
    )


# ---------------------------------------------------------------------------
# imjournal — systemd journal entries (export-format records)
# ---------------------------------------------------------------------------

def journal_entry_parse(
    df: DataFrame,
    rec_col: str = "record",
    dflt_severity: int = 5,
    dflt_facility: int = 1,
    dflt_tag: str = "journal",
    local_hostname: str = "localhost",
) -> DataFrame:
    """Parse journal entries in the systemd journal EXPORT format
    (one ``FIELD=value`` line per field, text form) with imjournal's
    field mapping (plugins/imjournal/imjournal.c:597-760):

    * MESSAGE → msg (entries without it are invalid — the reference
      skips them, imjournal.c:601-608);
    * PRIORITY → severity via strtol semantics (leading integer,
      out-of-bounds or non-numeric → default, imjournal.c:613-653);
    * SYSLOG_FACILITY → facility, parsed DIGIT-WISE from a 1- or
      2-char value exactly like the reference's ``c - '0'`` math
      (non-digit chars land where the arithmetic puts them, then the
      0..23 bounds check applies; other lengths → default);
    * SYSLOG_IDENTIFIER (else _COMM, else the default tag) + optional
      SYSLOG_PID (else _PID) → ``iden[pid]:`` TAG (imjournal.c:681-718);
    * __REALTIME_TIMESTAMP (µs) → ts;
    * HOSTNAME is the LOCAL host, not the entry's _HOSTNAME — the
      reference sets glbl.GetLocalHostName() (imjournal.c:542);
    * every field lands in the ``journal`` map (readJSONfromJournalMsg).
    """
    rec = F.col(rec_col)
    lines = F.filter(
        F.split(rec, "\n"),
        lambda ln: (F.instr(ln, "=") > 0) & ~ln.startswith("="),
    )
    fields = F.map_from_entries(
        F.transform(
            lines,
            lambda ln: F.struct(
                F.substring_index(ln, "=", 1).alias("key"),
                F.substr(
                    ln, F.instr(ln, "=") + 1, F.length(ln)
                ).alias("value"),
            ),
        )
    )
    df = df.withColumn("journal", fields)
    j = lambda k: F.try_element_at("journal", F.lit(k))  # noqa: E731

    msg = j("MESSAGE")
    valid = msg.isNotNull()

    prio = F.regexp_extract(j("PRIORITY"), r"^\s*([+-]?\d+)", 1)
    prio_l = F.when(prio != "", prio).try_cast("long")
    severity = F.when(
        prio_l.isNotNull() & (prio_l >= 0) & (prio_l <= 7), prio_l
    ).otherwise(F.lit(dflt_severity)).cast("long")

    fv = j("SYSLOG_FACILITY")
    d = lambda c: F.ascii(c) - 48  # noqa: E731  (the '- '0'' math)
    fac_raw = F.when(
        F.length(fv) == 1, d(fv)
    ).when(
        F.length(fv) == 2,
        d(F.substring(fv, 1, 1)) * 10 + d(F.substring(fv, 2, 1)),
    )
    facility = F.when(
        fac_raw.isNotNull() & (fac_raw >= 0) & (fac_raw <= 23), fac_raw
    ).otherwise(F.lit(dflt_facility)).cast("long")

    iden = F.coalesce(
        j("SYSLOG_IDENTIFIER"), j("_COMM"), F.lit(dflt_tag)
    )
    pid = F.coalesce(j("SYSLOG_PID"), j("_PID"))
    tag = F.when(
        pid.isNotNull(),
        F.concat(iden, F.lit("["), pid, F.lit("]:")),
    ).otherwise(F.concat(iden, F.lit(":")))

    ts_usec = j("__REALTIME_TIMESTAMP").try_cast("long")
    # `journal` stays its own lower projection: every field reads it
    return df.withColumns({
        "journal_valid": valid,
        "msg": F.when(valid, msg),
        "severity": F.when(valid, severity),
        "facility": F.when(valid, facility),
        "pri": F.when(valid, facility * 8 + severity),
        "syslogtag": F.when(valid, tag),
        "programname": F.when(valid, iden),
        "procid": F.when(valid, pid),
        "hostname": F.when(valid, F.lit(local_hostname)),
        "ts_usec": F.when(valid, ts_usec),
        "ts": F.when(valid, F.timestamp_micros(ts_usec)),
    })


def read_journal_export(path: str) -> list[str]:
    """Driver-side reader for a journal export-format stream
    (systemd.io export spec): entries separated by an empty line;
    a field line is either ``NAME=value`` or the BINARY form —
    ``NAME\\n`` + little-endian u64 size + raw bytes + ``\\n``.
    Binary values are decoded utf-8/replace into the text form so
    the distributed :func:`journal_entry_parse` handles every field.
    Returns one record string per entry."""
    import struct

    entries: list[str] = []
    cur: list[str] = []
    with open(path, "rb") as fh:
        data = fh.read()
    i = 0
    n = len(data)
    while i < n:
        eol = data.find(b"\n", i)
        if eol == -1:
            eol = n
        line = data[i:eol]
        if line == b"":
            if cur:
                entries.append("\n".join(cur))
                cur = []
            i = eol + 1
            continue
        if b"=" in line:
            cur.append(line.decode("utf-8", "replace"))
            i = eol + 1
        else:
            # binary field: NAME \n le64(size) data \n
            name = line.decode("utf-8", "replace")
            szoff = eol + 1
            (size,) = struct.unpack_from("<Q", data, szoff)
            val = data[szoff + 8:szoff + 8 + size]
            cur.append(f"{name}={val.decode('utf-8', 'replace')}")
            i = szoff + 8 + size + 1  # trailing \n
    if cur:
        entries.append("\n".join(cur))
    return entries


# ---------------------------------------------------------------------------
# imtuxedoulog — Tuxedo ULOG lines
# ---------------------------------------------------------------------------

# HHMMSS.ff[f].host!prog: text   (imtuxedoulog.c parseMsg)
_ULOG_RE = r"^(\d{6})\.(\d{2,3})\.([^!]+)!([^:]*): (.*)$"
_ECID_RE = r"^ECID <([^>]*)>: "


def ulog_parse(
    df: DataFrame,
    line_col: str = "line",
    tag: str = "tuxedo",
    facility: int = 1,
    severity: int = 6,
) -> DataFrame:
    """Parse Tuxedo ULOG lines (imtuxedoulog.c parseMsg):

    * ``HHMMSS.ff[f].host!prog.…: text`` — 2- vs 3-digit second
      fraction decided by the char at offset 9 (``rawMsg[9]=='.'``);
    * PROCID = prog with its LAST dot-component trimmed (the scan
      from ':' back to the first '.');
    * a leading ``gtrid …: `` run is skipped;
    * ``ECID <…>: `` is lifted into structured data ``[ECID="…"]``
      and removed from MSG;
    * lines that don't parse (Java stack traces in the ULOG) are
      flagged invalid and dropped by the caller;
    * TAG/APPNAME and PRI come from the instance config, not the line.
    """
    line = F.col(line_col)
    hh = F.regexp_extract(line, _ULOG_RE, 1)
    frac = F.regexp_extract(line, _ULOG_RE, 2)
    host = F.regexp_extract(line, _ULOG_RE, 3)
    prog = F.regexp_extract(line, _ULOG_RE, 4)
    rest = F.regexp_extract(line, _ULOG_RE, 5)

    hour = F.substring(hh, 1, 2).cast("int")
    minute = F.substring(hh, 3, 2).cast("int")
    sec = F.substring(hh, 5, 2).cast("int")
    valid = (
        (hh != "")
        & (hour <= 23) & (minute <= 59) & (sec <= 59)
    )

    # gtrid skip: 'gtrid …: ' prefix → everything after the first ': '
    has_gtrid = rest.startswith("gtrid")
    after_gtrid = F.when(
        has_gtrid,
        F.substr(rest, F.instr(rest, ":") + 2, F.length(rest)),
    ).otherwise(rest)

    ecid = F.regexp_extract(after_gtrid, _ECID_RE, 1)
    has_ecid = after_gtrid.rlike(_ECID_RE)
    msg = F.when(
        has_ecid, F.regexp_replace(after_gtrid, _ECID_RE, "")
    ).otherwise(after_gtrid)
    sd = F.when(
        has_ecid, F.concat(F.lit('[ECID="'), ecid, F.lit('"]'))
    ).otherwise(F.lit("-"))

    procid = F.when(
        prog.rlike(r"\."), F.regexp_replace(prog, r"\.[^.]*$", "")
    ).otherwise(prog)

    ts = F.concat(
        F.lpad(hour.cast("string"), 2, "0"), F.lit(":"),
        F.lpad(minute.cast("string"), 2, "0"), F.lit(":"),
        F.lpad(sec.cast("string"), 2, "0"), F.lit("."), frac,
    )
    return df.withColumns({
        "ulog_valid": valid,
        "hostname": F.when(valid, host),
        "procid": F.when(valid & (procid != ""), procid),
        "timereported_str": F.when(valid, ts),
        "secfrac_precision": F.when(valid, F.length(frac)),
        "structured_data": F.when(valid, sd),
        "msg": F.when(valid, msg),
        "syslogtag": F.when(valid, F.lit(tag)),
        "programname": F.when(valid, F.lit(tag)),
        "pri": F.when(valid, F.lit(facility * 8 + severity)),
    })


# ---------------------------------------------------------------------------
# imbatchreport — one whole report file per message
# ---------------------------------------------------------------------------

_TOO_LARGE = "File too large : "


def batch_report_transform(
    df: DataFrame,
    content_col: str = "value",
    path_col: str = "fpath",
    dedup_space: bool = True,
    ts_key: str | None = None,
    prog_key: str | None = None,
    max_msg_size: int = 131072,
) -> DataFrame:
    """imbatchreport.c readAndSendFile as Column expressions over
    (path, whole-file content) rows:

    * a trailing ``[…]`` block (after right-trim) becomes structured
      data, with embedded newlines removed (imbatchreport.c:266-276);
    * ``ts_key`` digits inside the SD override the file mtime epoch;
      ``prog_key`` value (until ``\"``) sets APPNAME;
    * body whitespace: space/tab runs collapse to one space when
      ``dedup_space`` (tabs become spaces either way), a collapsed
      space immediately before a newline is dropped, and newlines are
      escaped to the two chars ``\\n`` (imbatchreport.c:330-346);
    * a body longer than ``max_msg_size`` is replaced by
      ``'File too large : ' + path`` and flagged, so the caller can
      route the file to the reject rename (imbatchreport.c:355-360).
    """
    raw = F.col(content_col)
    # trailing \n/\t/space trim (Spark rtrim strips spaces only)
    trimmed = F.regexp_replace(raw, r"[ \t\n]+$", "")
    has_sd = trimmed.endswith("]") & (F.instr(trimmed, "[") > 0)
    # last '[' … end  (the reference scans backwards from the ']')
    sd_start = F.length(trimmed) - F.length(
        F.substring_index(trimmed, "[", -1)
    )
    sd_raw = F.when(has_sd, F.substr(trimmed, sd_start, F.length(trimmed)))
    sd = F.regexp_replace(sd_raw, "\n", "")
    body = F.when(
        has_sd,
        F.regexp_replace(
            F.substr(trimmed, F.lit(1), sd_start - 1), r"[ \t\n]+$", ""
        ),
    ).otherwise(trimmed)

    if dedup_space:
        body = F.regexp_replace(body, r"[ \t]+", " ")
        body = F.regexp_replace(body, r" \n", "\n")
    else:
        body = F.translate(body, "\t", " ")
    body = F.regexp_replace(body, r"\n", r"\\n")

    too_large = F.length(body) > max_msg_size
    msg = F.when(
        too_large, F.concat(F.lit(_TOO_LARGE), F.col(path_col))
    ).otherwise(body)

    cols = {
        "structured_data": F.coalesce(sd, F.lit("-")),
        "msg": msg,
        "too_large": too_large,
        "filename": F.substring_index(F.col(path_col), "/", -1),
    }
    if ts_key is not None:
        cols["ts_epoch"] = F.regexp_extract(
            F.coalesce(sd, F.lit("")), re.escape(ts_key) + r"(\d+)", 1,
        ).try_cast("long")
    if prog_key is not None:
        cols["programname"] = F.when(
            F.coalesce(sd, F.lit("")).rlike(re.escape(prog_key) + r'[^"]*"'),
            F.regexp_extract(
                F.coalesce(sd, F.lit("")),
                re.escape(prog_key) + r'([^"]*)"', 1,
            ),
        )
    return df.withColumns(cols)


def batch_reports(
    spark: SparkSession,
    glob: str,
    **kwargs,
) -> DataFrame:
    """Poll a glob of finished report files — one row per file
    (Spark-native ``wholetext`` read, distributed), transformed per
    imbatchreport semantics."""
    df = spark.read.text(glob, wholetext=True).withColumn(
        "fpath", F.input_file_name()
    )
    return batch_report_transform(df, **kwargs)


def finalize_batch_reports(
    paths: list[str],
    rename_suffix_re: str | None = None,
    rename_to: str | None = None,
    reject_to: str | None = None,
    rejected: set[str] | frozenset[str] = frozenset(),
    delete: bool = False,
) -> list[tuple[str, str]]:
    """Post-send step (imbatchreport.c pollFile:431-455): each sent
    file is renamed (``rename_suffix_re`` match on the name replaced
    by ``rename_to``; too-large/failed files get ``reject_to``) or
    deleted. The reference stops polling on a failed rename to avoid
    flooding — mirrored by raising. Returns (old, new) pairs."""
    done: list[tuple[str, str]] = []
    for p in paths:
        if delete and p not in rejected:
            os.unlink(p)
            done.append((p, ""))
            continue
        suffix = reject_to if p in rejected else rename_to
        if suffix is None or rename_suffix_re is None:
            raise ValueError("rename action needs regex + replacement")
        new = re.sub(rename_suffix_re, suffix, p)
        if new == p:
            raise RuntimeError(
                f"imbatchreport: rename pattern did not change {p!r}; "
                "stopping to avoid re-sending the same report"
            )
        os.rename(p, new)
        done.append((p, new))
    return done


# --- imklog: BSD/Linux kernel log lines --------------------------------------


def klog_parse(
    df: DataFrame,
    line_col: str = "line",
    default_pri: int = 6,
    permit_non_kernel: bool = False,
    keep_kernel_stamp: bool = False,
) -> DataFrame:
    """plugins/imklog line semantics (imklog.c Syslog():244-279 +
    bsd.c submitSyslog():70-140), pure Column:

    * kernel ``[secs.usecs]`` timestamp: recognized ONLY when a
      ``<pri>`` of at most 3 digits is followed IMMEDIATELY by ``[``
      (bsd.c:83-86: '>' within the first 5 bytes, then '['), with
      optional spaces before the seconds; extracted to
      ``ktime_secs``/``ktime_usecs`` and stripped from the message
      unless ``keep_kernel_stamp`` (bsd.c:117-121 memmove);
    * dual-PRI (systemd forwarding, imklog.c:252-265): if the byte at
      offset 3 (or 4 after a space) of the post-strip buffer is ``<``
      and a valid PRI in 8..191 follows, THAT is the message's PRI
      and the message starts after it;
    * else a leading ``<N>`` with N ≤ 191 (parsePRI:194-221, digit
      loop bails once the accumulator exceeds 191);
    * no parsable PRI → ``default_pri`` (the driver's LOG_INFO);
    * non-kern facility is silently dropped unless
      ``permit_non_kernel`` (imklog.c:275);
    * tag is the module's fixed ``kernel:`` (imklog.c:276).
    """
    raw = F.col(line_col)

    # -- kernel timestamp, anchored right after the first '>' in bytes
    # 1..4 — the C scans for '>' WITHOUT requiring a '<digits' prefix
    # (bsd.c:83-86: endpri starts at 1, byte 0 is never examined), so
    # 'ab>[5.6] x' extracts a timestamp too; mirrored exactly --
    ts_rx = r"^(.[^>]{0,3}>)\[( *)(\d+)\.(\d+)\](.*)$"
    has_ts = F.regexp_extract(raw, ts_rx, 3) != ""
    ktime_secs = F.when(
        has_ts, F.regexp_extract(raw, ts_rx, 3).try_cast("long")
    )
    ktime_usecs = F.when(
        has_ts, F.regexp_extract(raw, ts_rx, 4).try_cast("long")
    )
    stripped = F.when(
        has_ts & ~F.lit(keep_kernel_stamp),
        F.concat(
            F.regexp_extract(raw, ts_rx, 1),
            F.regexp_extract(raw, ts_rx, 5),
        ),
    ).otherwise(raw)

    # -- dual-PRI at byte offset 3 / 4 (after the strip, like the C) --
    # \d+ with a <=191 value check, NOT \d{1,3}: parsePRI's digit loop
    # accepts any digit count while the accumulator stays <=191, so
    # '<0191>' is a valid PRI 191 (leading zeros)
    sec_rx = r"^.{3} ?<(\d+)>"
    sec_pri = F.regexp_extract(stripped, sec_rx, 1).try_cast("long")
    sec_ok = (
        sec_pri.isNotNull() & (sec_pri >= 8) & (sec_pri <= 191)
        # the C probes pMsg[3]=='<' or pMsg[3]==' '&&pMsg[4]=='<';
        # the regex above also matches '<' at offset 4 without the
        # space — exclude that shape explicitly
        & (
            (F.substring(stripped, 4, 1) == "<")
            | (F.substring(stripped, 4, 2) == " <")
        )
    )
    lead_rx = r"^<(\d+)>"
    lead_pri = F.regexp_extract(stripped, lead_rx, 1).try_cast("long")
    lead_ok = lead_pri.isNotNull() & (lead_pri <= 191)

    pri = (
        F.when(sec_ok, sec_pri)
        .when(lead_ok, lead_pri)
        .otherwise(F.lit(default_pri))
        .cast("long")
    )
    msg = (
        F.when(sec_ok, F.regexp_replace(stripped, sec_rx, ""))
        .when(lead_ok, F.regexp_replace(stripped, lead_rx, ""))
        .otherwise(stripped)
    )
    out = df.select(
        "*",
        pri.alias("pri"),
        (pri / 8).cast("long").alias("facility"),
        (pri % 8).cast("long").alias("severity"),
        msg.alias("msg"),
        F.lit("kernel:").alias("syslogtag"),
        ktime_secs.alias("ktime_secs"),
        ktime_usecs.alias("ktime_usecs"),
    )
    if not permit_non_kernel:
        out = out.where(F.col("facility") == 0)
    return out


# --- imfifo: named-pipe line source ------------------------------------------


class FifoSource(_SpooledSource):
    """plugins/imfifo (imfifo.c): read newline-delimited messages from
    a named pipe. The FIFO is opened O_RDWR so the open never blocks
    and a writer disconnect never yields EOF (imfifo.c:312 comment);
    over-long lines are TRUNCATED, not split (readFIFO:283-289).
    Messages spool to text files under ``spool_dir`` — the standard
    socket→spool→stream bridge (a pipe is not replayable)."""

    spool_prefix = "fifo"

    def __init__(self, path: str, spool_dir: str, max_line: int = 8192,
                 rotate_every: int = 10_000) -> None:
        import stat as statmod

        if not statmod.S_ISFIFO(os.stat(path).st_mode):
            raise ValueError(f"imfifo: {path!r} is not a named pipe")
        self.path, self.max_line = path, max_line
        self._fd = os.open(path, os.O_RDWR | os.O_NONBLOCK)
        super().__init__(spool_dir, rotate_every)

    @property
    def n_messages(self) -> int:
        return self.n_received

    def _pump(self) -> None:
        try:
            for line in self._lines(self._fd, self.max_line):
                self._emit(line)
        finally:
            os.close(self._fd)
