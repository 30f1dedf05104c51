"""End-to-end: synthesize logtokens from events, parse back, compare
against the structured events columns (self-oracle, no parsing on the
expected side) and against the executable spec parse_line. Also checks
the per-row token pass-through invariant."""

from __future__ import annotations

import pyspark.sql.functions as F

from rsyslog_spark import corpus
from rsyslog_spark.parsing import parse


def _expected(spark, sf_dir):
    """Expected parse output computed directly from events columns."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sev = F.expr(
        "CASE event_type WHEN 'error' THEN 3 WHEN 'purchase' THEN 5 "
        "WHEN 'signup' THEN 6 WHEN 'view' THEN 6 ELSE 7 END"
    )
    fac = F.col("user_id") % 24
    is5424 = F.col("event_id") % 7 == 0
    body = F.concat(
        F.lit("msgnum:"),
        F.lpad(F.col("event_id").cast("string"), 8, "0"),
        F.lit(": k="),
        F.get_json_object("props", "$.k"),
    )
    return ev.select(
        F.concat(
            F.lit("doc-"), F.lpad(F.col("event_id").cast("string"), 12, "0")
        ).alias("doc_id"),
        (fac * 8 + sev).cast("int").alias("e_pri"),
        fac.cast("int").alias("e_facility"),
        sev.cast("long").alias("e_severity"),
        F.concat(F.lit("host"), (F.col("user_id") % 32).cast("string")).alias(
            "e_hostname"
        ),
        F.col("event_type").alias("e_programname"),
        F.when(is5424, body).otherwise(F.concat(F.lit(" "), body)).alias(
            "e_msg"
        ),
        F.when(is5424, F.lit(1)).otherwise(F.lit(0)).alias("e_proto"),
    )


def test_parse_sql_matches_events(spark, sf_dir):
    lt = corpus.logtokens(spark, sf_dir)
    parsed = parse(lt)
    exp = _expected(spark, sf_dir)
    j = parsed.join(exp, "doc_id", "full_outer")
    bad = j.filter(
        ~F.col("parse_success")
        | (F.col("pri") != F.col("e_pri"))
        | (F.col("facility") != F.col("e_facility"))
        | (F.col("severity") != F.col("e_severity"))
        | (F.col("hostname") != F.col("e_hostname"))
        | (F.col("programname") != F.col("e_programname"))
        | (F.col("msg") != F.col("e_msg"))
        | (F.col("protocol_version") != F.col("e_proto"))
    )
    rows = bad.select(
        "doc_id", "rawmsg", "pri", "e_pri", "hostname", "e_hostname",
        "programname", "e_programname", "msg", "e_msg",
    ).limit(5).collect()
    assert not rows, f"mismatches: {rows}"


def test_parse_matches_spec_on_corpus(spark, sf_dir):
    """300 corpus rows through parse() equal the executable spec
    parse_line on every field."""
    from rsyslog_spark.parsing.full import parse_line

    lt = corpus.logtokens(spark, sf_dir).limit(300)
    rows = parse(lt).collect()
    assert len(rows) == 300
    for r in rows:
        exp = parse_line("".join(map(chr, r.tokens)))
        for col, v in exp.items():
            assert getattr(r, col) == v, (col, r.doc_id)


def test_token_passthrough_invariant(spark, sf_dir):
    """tokens survive the full parse stage byte-identical."""
    lt = corpus.logtokens(spark, sf_dir)
    parsed = parse(lt)
    orig = lt.select("doc_id", F.col("tokens").alias("t0"))
    j = parsed.join(orig, "doc_id")
    assert j.filter(F.col("tokens") != F.col("t0")).count() == 0
    # and decode(tokens) == rawmsg (sanitization is a no-op on this corpus)
    assert parsed.filter(
        F.col("rawmsg").isNull() | (F.length("rawmsg") != F.col("n_tok"))
    ).count() == 0
