"""Streaming equivalents + lineage/observe metrics + checkpoint resume."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from rsyslog_spark import corpus, flagship
from rsyslog_spark.lineage import run_with_lineage
from rsyslog_spark.parsing import parse
from rsyslog_spark.streaming import (
    run_stream_to_table,
    stateful_ratelimit,
    stream_logtokens,
    windowed_dynstats,
)


def test_lineage_run(spark, sf_dir, tmp_path):
    parsed = flagship.build_parsed(spark, sf_dir)
    router = flagship.make_router()
    snap = run_with_lineage(router, parsed, str(tmp_path / "sinks"))
    assert snap["rows_in"] == 1000
    assert snap["parse_failures"] == 0
    # stop semantics: commerce+rest partition the corpus
    assert snap["routed_commerce"] + snap["routed_rest"] == 1000
    # sink files exist and counts match the observe() numbers
    for a in router.actions:
        n = spark.read.parquet(str(tmp_path / "sinks" / a.sink)).count()
        assert n == snap[f"routed_{a.sink}"]
    lin = spark.read.parquet(str(tmp_path / "sinks" / "_lineage"))
    assert lin.count() == 1 and lin.first().rows_in == 1000
    # per-partition lineage sums to the run totals
    pp = spark.read.parquet(str(tmp_path / "sinks" / "_lineage_partitions"))
    import pyspark.sql.functions as F2

    agg = pp.agg(
        F2.sum("rows_in").alias("rows"),
        F2.sum("routed_urgent").alias("u"),
    ).first()
    assert agg.rows == 1000 and agg.u == snap["routed_urgent"]
    assert pp.select("partition_id").distinct().count() == pp.count()


def test_lineage_run_explodes_foreach_like_write_sinks(spark, tmp_path):
    """run_with_lineage writes each sink exactly as write_sinks does: a
    foreach action explodes to one row per matching element (with its
    ``item``), while routed_<sink> keeps counting messages."""
    from rsyslog_spark.rules import Router

    script = """
foreach ($.w in split($msg, " ")) do {
    if $.w contains "=" then { action(name="kv") }
}
"""
    df = spark.createDataFrame(
        [("a=1 b=2 plain", True), ("nothing here", True)],
        "msg string, parse_success boolean",
    )
    router = Router(script)
    plain = router.write_sinks(df, str(tmp_path / "plain"))
    snap = run_with_lineage(router, df, str(tmp_path / "lin"))
    want = sorted(
        (r.msg, r.item) for r in spark.read.parquet(plain["kv"]).collect()
    )
    assert want == [("a=1 b=2 plain", "a=1"), ("a=1 b=2 plain", "b=2")]
    got = spark.read.parquet(str(tmp_path / "lin" / "kv"))
    assert sorted((r.msg, r.item) for r in got.collect()) == want
    assert snap["rows_in"] == 2 and snap["routed_kv"] == 1


def test_lineage_run_on_empty_input_writes_zeros(spark, tmp_path):
    """An empty input still writes one _lineage row, with every counter
    0 (the sums are coalesced), in the table's existing column order
    and types."""
    from rsyslog_spark.rules import Router

    script = """
if $msg contains "x" then { action(name="b") }
if $msg contains "y" then { action(name="a") }
"""
    df = spark.createDataFrame([], "msg string, parse_success boolean")
    snap = run_with_lineage(Router(script), df, str(tmp_path / "lin"))
    assert (snap["rows_in"], snap["parse_failures"]) == (0, 0)
    assert (snap["routed_a"], snap["routed_b"]) == (0, 0)
    lin = spark.read.parquet(str(tmp_path / "lin" / "_lineage"))
    assert lin.schema.simpleString() == (
        "struct<parse_failures:bigint,routed_a:bigint,routed_b:bigint,"
        "rows_in:bigint,run_id:string,wall_ms:bigint,ts:timestamp>"
    )
    row = lin.first()
    assert (row.rows_in, row.parse_failures, row.routed_a,
            row.routed_b) == (0, 0, 0, 0)


def test_stream_parse_route_resume(spark, sf_dir, tmp_path):
    """File-stream the tokens, parse+route in streaming mode, then
    verify checkpoint resume processes nothing new."""
    tokens_path = str(tmp_path / "tokens")
    corpus.logtokens(spark, sf_dir).write.parquet(tokens_path)

    stream = stream_logtokens(spark, tokens_path)
    parsed = parse(stream)
    routed = flagship.make_router().apply(parsed)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_table(routed.select("doc_id", "route_urgent"), out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 1000
    # resume: no new files → no new rows appended
    run_stream_to_table(
        stream_logtokens(spark, tokens_path).transform(parse)
        .transform(lambda d: flagship.make_router().apply(d))
        .select("doc_id", "route_urgent"),
        out,
        ckpt,
    )
    assert spark.read.parquet(out).count() == n1


def test_windowed_dynstats_stream(spark, tmp_path):
    src = str(tmp_path / "ev")
    rows = [
        (f"d{i}", "2024-01-01 00:%02d:00" % (i % 3), "hostA" if i % 2 else "hostB")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id string, ts string, host string")
    df.withColumn("event_ts", F.to_timestamp("ts")).write.parquet(src)
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(src)
    )
    agg = windowed_dynstats(stream, ["host"], "event_ts", "60 seconds")
    # watermark-append only emits *closed* windows — a single
    # availableNow batch closes none, so inspect running state via the
    # complete-mode memory sink (the impstats snapshot view)
    q = (
        agg.writeStream.format("memory")
        .queryName("dynstats_mem")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from dynstats_mem")
    assert got.count() == 6  # 3 windows × 2 hosts
    assert got.agg(F.sum("n")).first()[0] == 12


def test_stateful_ratelimit_stream(spark, tmp_path):
    src = str(tmp_path / "rl")
    rows = [
        (f"d{i:02d}", "h1", "2024-01-01 00:00:%02d" % i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id string, host string, ts string")
    df.withColumn("ts", F.to_timestamp("ts")).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    rl = stateful_ratelimit(
        stream, "host", "ts", interval_seconds=60, burst=4
    )
    out = str(tmp_path / "rlout")
    q = (
        rl.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert got.filter("rl_pass").count() == 4  # one 60s window, burst 4


def test_dynstats_first_seen_cap_and_ttl(spark):
    """Arrival-order admission + overflow + TTL purge goldens
    (dynstats.c:117-126 semantics; reference tests/dynstats*.sh
    overflow/eviction scenarios)."""
    from rsyslog_spark.streaming import DynStatsStream

    def batch(rows):
        return spark.createDataFrame(
            [(k, f"2024-01-01 00:{m:02d}:00") for k, m in rows],
            "prog string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))

    # ttl=500s: nothing is idle long enough to purge at batch 2
    # (max idle 180s), while batch 3 (event-time 720s) purges A
    # (idle 540s) and C (idle 600s) but keeps B (idle 480s)
    ds = DynStatsStream("prog", "ts", max_cardinality=3, ttl_seconds=500)

    # batch 1: A,B,C admitted in arrival order; D overflows
    out1 = {r.key: r.n for r in ds.process_batch(
        batch([("A", 0), ("B", 1), ("C", 2), ("D", 3), ("A", 3)])
    ).collect()}
    assert out1 == {"A": 2, "B": 1, "C": 1, "_overflow_": 1}
    assert ds.snapshot()["ops_overflow"] == 1

    # batch 2: table full → E overflows, admitted keys still count
    out2 = {r.key: r.n for r in ds.process_batch(
        batch([("B", 4), ("E", 4), ("E", 5)])
    ).collect()}
    assert out2 == {"B": 1, "_overflow_": 2}
    assert ds.snapshot()["ops_overflow"] == 3

    # batch 3: minutes 10-12 — A and C idle past the TTL are purged,
    # freeing 2 slots; F and G both admitted in arrival order
    out3 = {r.key: r.n for r in ds.process_batch(
        batch([("F", 10), ("G", 11), ("B", 12)])
    ).collect()}
    assert ds.snapshot()["metrics_purged"] == 2  # A and C evicted
    assert out3["F"] == 1 and out3["B"] == 1
    # capacity after purge = 3-1(B)=2 → F and G BOTH admitted
    assert out3.get("G") == 1 and "_overflow_" not in out3
    snap = ds.snapshot()["metrics"]
    assert snap == {"B": 3, "F": 1, "G": 1}


def test_dynstats_kill_and_resume(spark, tmp_path):
    """Restart-safe first-seen admission (VERDICT r2 next #5, .qi
    persistence analog): the journaled state survives an instance
    death — the resumed instance has the identical admitted set and
    counters, and a replay of the last committed batch_id is
    exactly-once (same output rows, no double admission/overflow)."""
    from rsyslog_spark.streaming import DynStatsStream

    def batch(rows):
        return spark.createDataFrame(
            [(k, f"2024-01-01 00:{m:02d}:00") for k, m in rows],
            "prog string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))

    path = str(tmp_path / "dynstats_state.json")
    ds = DynStatsStream("prog", "ts", max_cardinality=3, state_path=path)
    b0 = batch([("A", 0), ("B", 1), ("C", 2), ("D", 3), ("A", 3)])
    out0 = {r.key: r.n for r in ds.process_batch(b0, batch_id=0).collect()}
    b1 = batch([("B", 4), ("E", 4), ("E", 5)])
    out1 = {r.key: r.n for r in ds.process_batch(b1, batch_id=1).collect()}
    snap_before = ds.snapshot()
    assert out1 == {"B": 1, "_overflow_": 2}

    # "kill" the driver: build a brand-new instance from the journal
    ds2 = DynStatsStream("prog", "ts", max_cardinality=3, state_path=path)
    assert ds2.snapshot() == snap_before
    assert set(ds2.admitted) == {"A", "B", "C"}

    # foreachBatch replays the last epoch after a crash: the committed
    # batch_id is recognized — identical output, frozen state
    out1r = {r.key: r.n for r in ds2.process_batch(b1, batch_id=1).collect()}
    assert out1r == out1
    assert ds2.snapshot() == snap_before  # no double counting

    # and the stream continues: a NEW batch mutates + journals again
    out2 = {r.key: r.n for r in ds2.process_batch(
        batch([("A", 6), ("F", 7)]), batch_id=2).collect()}
    assert out2 == {"A": 1, "_overflow_": 1}
    ds3 = DynStatsStream("prog", "ts", max_cardinality=3, state_path=path)
    assert ds3.snapshot() == ds2.snapshot()
    assert ds3.snapshot()["ops_overflow"] == snap_before["ops_overflow"] + 1


def test_dynstats_null_key_never_takes_a_slot(spark, tmp_path):
    """A null key is never admitted (it would hold a slot it can never
    count into, and journal as the string "null"); its rows still
    count as overflow."""
    import json

    from rsyslog_spark.streaming import DynStatsStream

    path = str(tmp_path / "dynstats_state.json")
    ds = DynStatsStream("prog", "ts", max_cardinality=2, state_path=path)
    b = spark.createDataFrame(
        [(k, f"2024-01-01 00:0{m}:00")
         for m, k in enumerate([None, None, "a", "b", "c"])],
        "prog string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.key: r.n for r in ds.process_batch(b, batch_id=0).collect()}
    assert out == {"a": 1, "b": 1, "_overflow_": 3}
    assert ds.snapshot()["metrics"] == {"a": 1, "b": 1}
    assert ds.snapshot()["ops_overflow"] == 3
    with open(path) as fh:
        assert set(json.load(fh)["admitted"]) == {"a", "b"}


def test_sessionize_stream_state_spans_batches(spark, tmp_path):
    """applyInPandasWithState gap sessions: the open session carries
    across micro-batches (maxFilesPerTrigger=1 forces two batches),
    in-stream gap closure emits exactly once, and the processing-time
    timeout closes the key that goes quiet. The query is polled and
    stopped explicitly — with pending processing-time timeouts an
    availableNow query stays alive until they fire."""
    import os
    import time

    from rsyslog_spark.streaming import sessionize_stream

    src = str(tmp_path / "sess")
    os.makedirs(src)

    def write(rows):
        spark.createDataFrame(rows, "host string, ts string").withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    # batch 1: two events of an open session
    write([("h1", "2024-01-01 00:00:00"), ("h1", "2024-01-01 00:00:10")])
    # batch 2: one more within the gap, then a 5-min jump closing it
    write([("h1", "2024-01-01 00:00:30"), ("h1", "2024-01-01 00:05:00")])
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "sessout")
    q = (
        sessionize_stream(stream, "host", "ts", gap_seconds=60,
                          idle_timeout_ms=3000)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        got = []
        deadline = time.time() + 150
        while time.time() < deadline and len(got) < 2:
            time.sleep(3)
            try:
                got = spark.read.parquet(out).collect()
            except Exception:
                got = []
    finally:
        q.stop()
    sessions = {r.start_ep: r for r in got}
    assert len(sessions) == 2, got
    first = sessions[min(sessions)]
    # 00:00:00..00:00:30, 3 events — the tail event arrived in the
    # SECOND micro-batch, proving the state crossed the batch boundary
    assert first.n_events == 3 and first.duration_secs == 30
    # the 00:05:00 single-event session was closed by the 3s wall
    # idle timeout (decoupled from the 60s event-time gap)
    last = sessions[max(sessions)]
    assert last.n_events == 1 and last.duration_secs == 0


def test_sessionize_stream_event_time_kill_and_resume(spark, tmp_path):
    """r4 (VERDICT r3 next #8): watermark-driven session close —
    closure depends only on the data, so a query killed after two
    micro-batches and resumed from checkpoint emits the IDENTICAL
    session set as an uninterrupted run. h1's last session is closed
    by the watermark that h2's later events advance (no h1 data in
    that batch), which the processing-time variant cannot replay
    deterministically."""
    import os

    from rsyslog_spark.streaming import sessionize_stream

    # base well past epoch 0: the initial watermark IS 1970-01-01, so
    # a ts of 0 lands exactly on it and is dropped as late; h2's first
    # event also sits ahead of the batch-2 watermark (base+10) so
    # nothing here is late-dropped by the "0 seconds" delay
    b = 100_000
    files = [
        [("h1", b + 0), ("h1", b + 10)],
        [("h1", b + 30), ("h2", b + 40)],
        [("h2", b + 600)],
        [("h2", b + 1200)],
    ]

    def write(src, rows):
        spark.createDataFrame(rows, "host string, ep long").withColumn(
            "ts", F.col("ep").cast("timestamp")
        ).coalesce(1).write.mode("append").parquet(src)

    schema = "host string, ep long, ts timestamp"

    def run(src, ck, out):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            sessionize_stream(stream, "host", "ts", gap_seconds=60,
                              event_time=True)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(150)
        q.stop()

    def sessions(out):
        try:
            return sorted(
                (r.key, r.start_ep, r.end_ep, r.n_events)
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    # run A: uninterrupted over all four files
    src_a = str(tmp_path / "a")
    os.makedirs(src_a)
    for rows in files:
        write(src_a, rows)
    out_a, ck_a = str(tmp_path / "outa"), str(tmp_path / "cka")
    run(src_a, ck_a, out_a)

    # run B: kill after two files, then resume from the checkpoint
    src_b = str(tmp_path / "b")
    os.makedirs(src_b)
    out_b, ck_b = str(tmp_path / "outb"), str(tmp_path / "ckb")
    for rows in files[:2]:
        write(src_b, rows)
    run(src_b, ck_b, out_b)
    for rows in files[2:]:
        write(src_b, rows)
    run(src_b, ck_b, out_b)

    got_a, got_b = sessions(out_a), sessions(out_b)
    assert got_a == got_b, (got_a, got_b)
    # h1 closed by the h2-advanced watermark (no h1 data in that
    # batch); h2's first two sessions closed in-stream; h2@b+1200
    # still open in both runs
    assert got_a == [
        ("h1", b + 0, b + 30, 3),
        ("h2", b + 40, b + 40, 1),
        ("h2", b + 600, b + 600, 1),
    ], got_a


class _FakeState:
    """Minimal GroupState stand-in for transition-function units."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_sessionize_fn_multi_chunk_order():
    """A key's micro-batch arriving as MULTIPLE Arrow chunks must fold
    in global time order (code-review r3 finding #1): epochs [0, 5000]
    + [100] across two chunks are one gap=300 session {0,100} plus an
    open session at 5000 — per-chunk sorting would merge 100 into the
    5000 session."""
    import pandas as pd

    from rsyslog_spark.streaming import make_sessionize_fn

    fn = make_sessionize_fn(gap_seconds=300)
    st = _FakeState()
    chunk1 = pd.DataFrame({"event_epoch": [0, 5000]})
    chunk2 = pd.DataFrame({"event_epoch": [100]})
    out = pd.concat(list(fn(("k1",), iter([chunk1, chunk2]), st)))
    closed = out.to_dict("records")
    assert len(closed) == 1, closed
    assert closed[0]["start_ep"] == 0 and closed[0]["end_ep"] == 100
    assert closed[0]["n_events"] == 2
    assert st.get == (5000, 5000, 1)  # the open session


def test_ratelimit_fn_multi_chunk_order():
    """Same multi-chunk ordering guarantee for the token bucket: the
    first `burst` events BY TIME pass, independent of chunk split."""
    import pandas as pd

    from rsyslog_spark.streaming import make_ratelimit_fn

    fn = make_ratelimit_fn(interval_seconds=60, burst=2)
    st = _FakeState()
    chunk1 = pd.DataFrame({"event_epoch": [0, 30], "doc_id": ["d3", "d4"]})
    chunk2 = pd.DataFrame({"event_epoch": [1, 2], "doc_id": ["d1", "d2"]})
    out = pd.concat(list(fn(("h",), iter([chunk1, chunk2]), st)))
    passed = set(out[out.rl_pass]["doc_id"])
    assert passed == {"d3", "d1"}, passed  # earliest two epochs (0, 1)


def test_sessionize_fn_late_cross_batch_events():
    """Out-of-order CROSS-BATCH events (code-review r3b #1): an event
    within the gap BEFORE the open session's start extends the span
    backward (start_ep moves); one older than the gap is emitted as
    its own late session — never silently folded into a span it lies
    outside of."""
    import pandas as pd

    from rsyslog_spark.streaming import make_sessionize_fn

    fn = make_sessionize_fn(gap_seconds=300)
    st = _FakeState()
    # batch 1 opens a session at 1000
    list(fn(("k",), iter([pd.DataFrame({"event_epoch": [1000]})]), st))
    assert st.get == (1000, 1000, 1)
    # batch 2: 800 is within the gap before start → backward extension
    out = pd.concat(list(fn(
        ("k",), iter([pd.DataFrame({"event_epoch": [800]})]), st)))
    assert len(out) == 0 and st.get == (800, 1000, 2)
    # batch 3: 100 is older than gap → emitted as its own late session
    out = pd.concat(list(fn(
        ("k",), iter([pd.DataFrame({"event_epoch": [100]})]), st)))
    rec = out.to_dict("records")
    assert len(rec) == 1 and rec[0]["start_ep"] == 100
    assert rec[0]["n_events"] == 1
    assert st.get == (800, 1000, 2)  # open session untouched


def test_stream_dedup_suppresses_redelivery(spark, tmp_path):
    """Watermark-bounded streaming dedup: the same doc_id redelivered
    within the horizon is emitted once."""
    import os

    from rsyslog_spark.streaming import stream_dedup

    src = str(tmp_path / "dd")
    rows = [("d1", "2024-01-01 00:00:00"), ("d2", "2024-01-01 00:00:01"),
            ("d1", "2024-01-01 00:00:02"),  # redelivery
            ("d3", "2024-01-01 00:00:03"), ("d2", "2024-01-01 00:00:04")]
    spark.createDataFrame(rows, "doc_id string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    ).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    out = str(tmp_path / "ddout")
    q = (
        stream_dedup(stream, ["doc_id"], "ts")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_dd"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r.doc_id for r in got.collect()} == {"d1", "d2", "d3"}


def test_bloom_stream_dedup_fixed_state_and_resume(spark, tmp_path):
    """Bloom-filter dedup: within-batch and cross-RESTART duplicates
    are suppressed with fixed-size per-shard state (no watermark, no
    horizon); novel keys pass (m sized so FPs are impossible here)."""
    from rsyslog_spark.streaming import bloom_stream_dedup

    src = str(tmp_path / "bloomsrc")
    out = str(tmp_path / "bloomout")
    ck = str(tmp_path / "ck_bloom")

    def run_once(rows):
        spark.createDataFrame(
            rows, "doc_id string, payload long"
        ).coalesce(1).write.mode("append").parquet(src)
        static = spark.read.parquet(src)
        stream = spark.readStream.schema(static.schema).parquet(src)
        q = (
            bloom_stream_dedup(stream, "doc_id", n_shards=4,
                               m_bits=1 << 16)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: d1 duplicated in-batch
    run_once([("d1", 1), ("d2", 2), ("d1", 3), ("d3", 4)])
    got = {r.doc_id: r.payload for r in spark.read.parquet(out).collect()}
    assert set(got) == {"d1", "d2", "d3"}
    assert got["d1"] == 1  # first occurrence wins

    # batch 2 after restart: d1/d2 redelivered (no horizon — still
    # suppressed), d4 novel
    run_once([("d1", 9), ("d4", 5), ("d2", 9)])
    got2 = {r.doc_id: r.payload for r in spark.read.parquet(out).collect()}
    assert set(got2) == {"d1", "d2", "d3", "d4"}
    assert got2["d1"] == 1 and got2["d4"] == 5
