"""Streaming multi-sink fan-out with per-epoch lineage + CEE flow."""

from __future__ import annotations

import pyspark.sql.functions as F

from rsyslog_spark import corpus, flagship, mm
from rsyslog_spark.rules import Router
from rsyslog_spark.streaming import run_routed_stream, stream_logtokens


def test_run_routed_stream(spark, sf_dir, tmp_path):
    tokens_path = str(tmp_path / "tok")
    corpus.logtokens(spark, sf_dir).write.parquet(tokens_path)
    router = flagship.make_router()
    out = str(tmp_path / "sinks")
    run_routed_stream(
        stream_logtokens(spark, tokens_path),
        router,
        out,
        str(tmp_path / "ckpt"),
    )
    urgent = spark.read.parquet(f"{out}/urgent").count()
    assert urgent == 201  # matches the oracle-verified batch number
    lin = spark.read.parquet(f"{out}/_lineage")
    tot = lin.agg(
        F.sum("rows_in").alias("r"), F.sum("routed_urgent").alias("u")
    ).first()
    assert tot.r == 1000 and tot.u == 201
    assert lin.count() >= 1  # one row per epoch
    # resume: nothing new → no additional rows
    run_routed_stream(
        stream_logtokens(spark, tokens_path),
        router,
        out,
        str(tmp_path / "ckpt"),
    )
    assert spark.read.parquet(f"{out}/urgent").count() == 201


def test_cee_property_access(spark):
    """mmjsonparse output flows into $! property access in rules."""
    df = spark.createDataFrame(
        [('@cee: {"user":"alice","age":"33"}',), ('@cee: {"user":"bob"}',)],
        "msg string",
    )
    parsed = mm.mmjsonparse(df)
    script = """
if $!user == "alice" then { action(name="alice_sink") }
if exists($!age) then { action(name="has_age") }
"""
    counts = dict(Router(script).route_counts(parsed).collect())
    assert counts["alice_sink"] == 1
    assert counts["has_age"] == 1


def test_routed_stream_epoch_replay_idempotent(spark, sf_dir, tmp_path):
    """A replayed epoch must OVERWRITE its epoch partition, not append
    duplicates (foreachBatch is at-least-once; dynamic partition
    overwrite on epoch_id upgrades it to effective exactly-once)."""
    import shutil

    tokens_path = str(tmp_path / "tok")
    corpus.logtokens(spark, sf_dir).write.parquet(tokens_path)
    router = flagship.make_router()
    out = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    run_routed_stream(stream_logtokens(spark, tokens_path), router, out, ckpt)
    first = spark.read.parquet(f"{out}/urgent").count()
    # simulate a lost checkpoint: the whole stream replays from scratch,
    # epoch ids restart at 0 → every epoch partition is overwritten
    shutil.rmtree(ckpt)
    run_routed_stream(stream_logtokens(spark, tokens_path), router, out, ckpt)
    assert spark.read.parquet(f"{out}/urgent").count() == first
    lin = spark.read.parquet(f"{out}/_lineage")
    assert lin.agg(F.sum("routed_urgent").alias("u")).first().u == first


def test_routed_stream_explodes_foreach_like_batch(spark, tmp_path):
    """The stream writes each sink slice exactly as run_with_lineage
    does: a foreach sink explodes to one row per matching element, and
    the per-epoch _lineage row carries the run-level counters
    (rows_in, parse_failures, routed_<sink> counting messages)."""
    from rsyslog_spark.lineage import run_with_lineage
    from rsyslog_spark.parsing import parse

    script = """
foreach ($.w in split($msg, " ")) do {
    if $.w contains "=" then { action(name="kv") }
}
"""
    lines = spark.createDataFrame(
        [("<13>Oct 11 22:14:15 host app: a=1 b=2",),
         ("<13>Oct 11 22:14:15 host app: nothing here",)],
        "line string",
    )
    tokens_path = str(tmp_path / "tok")
    corpus.encode_line(lines).select("tokens").write.parquet(tokens_path)
    router = Router(script)
    out = str(tmp_path / "sinks")
    run_routed_stream(
        stream_logtokens(spark, tokens_path), router, out,
        str(tmp_path / "ckpt"),
    )
    batch = str(tmp_path / "batch")
    run_with_lineage(
        router, parse(spark.read.parquet(tokens_path)), batch
    )
    got = sorted(r.item for r in spark.read.parquet(f"{out}/kv").collect())
    want = sorted(
        r.item for r in spark.read.parquet(f"{batch}/kv").collect()
    )
    assert got == want == ["a=1", "b=2"]
    lin = spark.read.parquet(f"{out}/_lineage")
    assert {"rows_in", "parse_failures", "routed_kv"} <= set(lin.columns)
    tot = lin.agg(
        F.sum("rows_in").alias("r"), F.sum("parse_failures").alias("f"),
        F.sum("routed_kv").alias("kv"),
    ).first()
    assert (tot.r, tot.f, tot.kv) == (2, 0, 1)
