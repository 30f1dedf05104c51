"""Lineage & metrics: the impstats/statsobj analog (SURVEY.md §3.3).

rsyslog snapshots every component's counters on an interval
(plugins/impstats/impstats.c:113-141,470-501;
runtime/statsobj.h:68-81) and injects them as messages. Here the
equivalent is a ``_lineage`` table: one row per (run, sink) with input
counts, per-sink routed counts, parse-failure counts, and wall time —
collected with ``DataFrame.observe`` so the metrics ride the SAME job
as the data (no second scan), exactly like statsobj counters riding
the message path.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class LineageTracker:
    """Wraps a routed DataFrame with observe() metrics and writes the
    snapshot to a _lineage parquet table after the action completes."""

    def __init__(self, sinks: list[str]):
        self.sinks = sinks
        self.obs = Observation("rsyslog_spark_lineage")
        self.run_id = uuid.uuid4().hex[:12]
        self._t0: float | None = None

    def instrument(self, routed: DataFrame) -> DataFrame:
        """Attach counters to the routed DataFrame (call before the
        action). Adds zero extra jobs."""
        self._t0 = time.time()
        return routed.observe(self.obs, *_counters(self.sinks))

    def snapshot(self) -> dict:
        """Metrics after the action has run."""
        got = dict(self.obs.get)
        got["wall_ms"] = int((time.time() - (self._t0 or time.time())) * 1000)
        got["run_id"] = self.run_id
        return got

    def write(self, spark, lineage_path: str, extra: dict | None = None) -> dict:
        snap = self.snapshot()
        snap.update(extra or {})
        # an Arrow table becomes a JVM-side relation, with no Python
        # task per parallelism slot; sorted keys give the column order
        # existing _lineage tables have, so an append keeps one schema
        row = {
            k: (int(v) if isinstance(v, bool) else v)
            for k, v in sorted(snap.items())
        }
        schema = pa.schema([
            (k, pa.string() if isinstance(v, str)
             else pa.float64() if isinstance(v, float) else pa.int64())
            for k, v in row.items()
        ])
        df = spark.createDataFrame(pa.Table.from_pylist([row], schema))
        df = df.withColumn("ts", F.current_timestamp())
        df.write.mode("append").parquet(lineage_path)
        return snap


def _counters(sinks: list[str]) -> list:
    """The lineage counters: rows_in, parse_failures and one
    routed_<sink> message count per sink. Counts, not sums, so an empty
    input gives 0 rather than null."""
    return [
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(~F.col("parse_success")).alias("parse_failures"),
    ] + [F.count_if(F.col(f"route_{s}")).alias(f"routed_{s}") for s in sinks]


def per_partition_lineage(routed: DataFrame, sinks: list[str]) -> DataFrame:
    """Per-input-partition counters (north_star: per-partition lineage):
    one row per physical partition with rows_in, parse_failures, and
    routed counts per sink — the statsobj-per-component analog, keyed
    by partition instead of component."""
    return routed.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(*_counters(sinks))


def run_with_lineage(
    router, parsed: DataFrame, base_path: str, lineage_path: str | None = None
) -> dict:
    """Route + write all sinks (through the router's own
    :meth:`~rsyslog_spark.rules.router.Router.write_routed`, so
    ``foreach`` actions explode exactly as in ``write_sinks``) + append
    run-level and per-partition _lineage rows. Returns the run-level
    snapshot (rows_in, parse_failures, routed_<sink>, wall_ms)."""
    sinks = [a.sink for a in router.actions]
    tracker = LineageTracker(sinks)
    routed = tracker.instrument(router.apply(parsed))
    routed.persist()
    try:
        router.write_routed(routed, base_path)
        lp = lineage_path or f"{base_path}/_lineage"
        per_partition_lineage(routed, sinks).withColumn(
            "run_id", F.lit(tracker.run_id)
        ).write.mode("append").parquet(f"{lp}_partitions")
        return tracker.write(parsed.sparkSession, lp)
    finally:
        routed.unpersist()
