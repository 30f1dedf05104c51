"""Deterministic tokenized syslog corpus (the engine's input table).

BASELINE.json's ``input_hint`` mandates the input shape

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

where ``decode(tokens)`` is one raw syslog line. This module derives
that table **arithmetically** from the driver-provided ``events``
parquet (TESTDATA.md) so that (a) no randomness is involved, and
(b) a DuckDB oracle can compute the expected *parse output* directly
from the structured events columns, without itself parsing anything.
If the engine's decode→parse→route path is correct, the two agree.

Line grammar (all integer arithmetic; duckdb equivalents in
:data:`ORACLE` below):

    facility  = user_id % 24
    severity  = error→3, purchase→5, signup→6, view→6, click→7
    pri       = facility*8 + severity
    host      = 'host' || (user_id % 32)
    pid       = event_id % 997
    prog      = event_type
    msgnum    = lpad(event_id, 8, '0')
    kval      = json props.k
    body      = 'msgnum:' || msgnum || ': k=' || kval
    src_num   = 0 if event_id%2=0 else 1 if event_id%4=1
                else 2 if event_id%8=3 else 3 + event_id%13
    source    = 'src' || src_num          (zipf-ish: 50% src0 — skew!)
    doc_id    = 'doc-' || lpad(event_id, 12, '0')

    RFC5424 (event_id % 7 == 0):
      <pri>1 yyyy-MM-ddTHH:mm:ssZ host prog pid ID<event_id%100> SD msg
      SD = '[ex@32473 k="K" src="N"]' when event_id % 14 == 0 else '-'
      msg = body                         (no leading space)
    RFC3164 (otherwise):
      <pri>MMM _d HH:mm:ss host prog[pid]: body
      (_d = space-padded day-of-month; msg keeps the leading space,
       matching reference semantics: tools/pmrfc3164.c keeps everything
       after the TAG's ':' — see tools/pmrfc3164.c:470-516)

Tokenization: token = Unicode code point of each character (the corpus
is pure ASCII, so the JVM-side ``char()`` decode fast path is exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Spark-side derivation (Column SQL fragments over the events table)
# ---------------------------------------------------------------------------

_SEV_CASE = (
    "CASE event_type WHEN 'error' THEN 3 WHEN 'purchase' THEN 5 "
    "WHEN 'signup' THEN 6 WHEN 'view' THEN 6 ELSE 7 END"
)
_SRC_CASE = (
    "CASE WHEN event_id % 2 = 0 THEN 0 WHEN event_id % 4 = 1 THEN 1 "
    "WHEN event_id % 8 = 3 THEN 2 ELSE 3 + event_id % 13 END"
)

# DuckDB-dialect equivalents, keyed by derived-column name. oracle_sql()
# splices these so Spark and oracle never drift. All are valid over the
# raw `events` view (columns event_id, ts, user_id, event_type, value,
# props).
ORACLE: dict[str, str] = {
    "doc_id": "'doc-' || lpad(CAST(event_id AS VARCHAR), 12, '0')",
    "source": f"'src' || ({_SRC_CASE})",
    "facility": "(user_id % 24)",
    "severity": f"({_SEV_CASE})",
    "pri": f"((user_id % 24) * 8 + {_SEV_CASE})",
    "hostname": "'host' || CAST(user_id % 32 AS VARCHAR)",
    "programname": "event_type",
    "procid": "CAST(event_id % 997 AS VARCHAR)",
    "is5424": "(event_id % 7 = 0)",
    "syslogtag": (
        "CASE WHEN event_id % 7 = 0 THEN event_type "
        "ELSE event_type || '[' || CAST(event_id % 997 AS VARCHAR) || ']:' END"
    ),
    "msgid": (
        "CASE WHEN event_id % 7 = 0 "
        "THEN 'ID' || CAST(event_id % 100 AS VARCHAR) ELSE NULL END"
    ),
    "body": (
        "'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') || ': k=' "
        "|| CAST(json_extract(props, '$.k') AS VARCHAR)"
    ),
    # parsed MSG: RFC3164 keeps the leading space, RFC5424 does not
    "msg": (
        "CASE WHEN event_id % 7 = 0 THEN "
        "'msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') || ': k=' "
        "|| CAST(json_extract(props, '$.k') AS VARCHAR) "
        "ELSE ' msgnum:' || lpad(CAST(event_id AS VARCHAR), 8, '0') || ': k=' "
        "|| CAST(json_extract(props, '$.k') AS VARCHAR) END"
    ),
    # canonical reported-time string the parser recovers (year-free for
    # 3164; full UTC second-precision for 5424)
    "timereported_str": (
        "CASE WHEN event_id % 7 = 0 "
        "THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ') "
        "ELSE strftime(ts, '%b') || printf('%3d', CAST(day(ts) AS INT)) "
        "|| ' ' || strftime(ts, '%H:%M:%S') END"
    ),
    "structured_data": (
        "CASE WHEN event_id % 14 = 0 THEN "
        "'[ex@32473 k=\"' || CAST(json_extract(props, '$.k') AS VARCHAR) "
        "|| '\" src=\"' || CAST(" + _SRC_CASE + " AS VARCHAR) || '\"]' "
        "WHEN event_id % 7 = 0 THEN '-' ELSE NULL END"
    ),
}


def events_with_line(events: DataFrame) -> DataFrame:
    """events → (doc_id, source, line) with the rendered raw syslog line.

    Pure Column expressions (whole-stage codegen, no Python).
    """
    sev = F.expr(_SEV_CASE)
    fac = F.col("user_id") % 24
    pri = fac * 8 + sev
    host = F.concat(F.lit("host"), (F.col("user_id") % 32).cast("string"))
    pid = (F.col("event_id") % 997).cast("string")
    prog = F.col("event_type")
    msgnum = F.lpad(F.col("event_id").cast("string"), 8, "0")
    kval = F.get_json_object("props", "$.k")
    body = F.concat(F.lit("msgnum:"), msgnum, F.lit(": k="), kval)
    is5424 = F.col("event_id") % 7 == 0
    has_sd = F.col("event_id") % 14 == 0
    src_num = F.expr(_SRC_CASE)
    source = F.concat(F.lit("src"), src_num.cast("string"))

    ts3164 = F.concat(
        F.date_format("ts", "MMM"),
        F.format_string("%3d", F.dayofmonth("ts")),
        F.lit(" "),
        F.date_format("ts", "HH:mm:ss"),
    )
    ts5424 = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    sd = F.when(
        has_sd,
        F.concat(
            F.lit('[ex@32473 k="'),
            kval,
            F.lit('" src="'),
            src_num.cast("string"),
            F.lit('"]'),
        ),
    ).otherwise(F.lit("-"))

    line3164 = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">"),
        ts3164, F.lit(" "), host, F.lit(" "),
        prog, F.lit("["), pid, F.lit("]: "), body,
    )
    line5424 = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">1 "),
        ts5424, F.lit(" "), host, F.lit(" "), prog, F.lit(" "), pid,
        F.lit(" ID"), (F.col("event_id") % 100).cast("string"),
        F.lit(" "), sd, F.lit(" "), body,
    )
    line = F.when(is5424, line5424).otherwise(line3164)

    return events.select(
        F.concat(
            F.lit("doc-"), F.lpad(F.col("event_id").cast("string"), 12, "0")
        ).alias("doc_id"),
        source.alias("source"),
        line.alias("line"),
    )


def _encode_arrow_impl(sarr):
    """r6 (optimization guide §4.2): string → array<int> code points by
    REUSING the Arrow string buffers — for an all-ASCII batch the
    whole encode is one uint8→int32 cast of the data buffer wrapped
    with the string array's own offsets (the exact inverse of the
    decode fast path in parsing/core). The per-char interpreted
    split+ascii transform this replaces measured 1.27 s vs 0.75 s over
    100k lines at local[32] (0.56 s of that is rendering the lines).
    Non-ASCII or exotic layouts fall back to the exact per-row ord()
    path."""
    import numpy as np
    import pyarrow as pa

    out_type = pa.list_(pa.int32())
    if isinstance(sarr, pa.ChunkedArray):
        sarr = sarr.combine_chunks()
    n = len(sarr)
    if n == 0:
        return pa.array([], type=out_type)
    if sarr.offset == 0 and sarr.null_count == 0:
        offs = np.frombuffer(sarr.buffers()[1], dtype=np.int32)[: n + 1]
        buf = np.frombuffer(sarr.buffers()[2], dtype=np.uint8)[: offs[-1]]
        if len(buf) == 0 or buf.max() < 128:
            return pa.ListArray.from_arrays(
                pa.array(offs), pa.array(buf.astype(np.int32))
            )
    return pa.array(
        [
            [ord(c) for c in s] if s is not None else None
            for s in sarr.to_pylist()
        ],
        type=out_type,
    )


def encode_line(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Add tokens:array<int> + n_tok from a line column (vectorized
    Arrow buffer-reuse encode; see :func:`_encode_arrow_impl`)."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, IntegerType

    enc = arrow_udf(_encode_arrow_impl, ArrayType(IntegerType()))
    return df.withColumn("tokens", enc(F.col(line_col))).withColumn(
        "n_tok", F.size("tokens")
    )


def logtokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's canonical input table, derived from {sf_dir}/events.

    Columns: doc_id string, tokens array<int>, n_tok int, source string.
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return encode_line(events_with_line(events)).select(
        "doc_id", "tokens", "n_tok", "source"
    )
