"""Flagship pipeline wiring shared by __spark_entry__.py and bench.py.

One place defines: the canonical route script, the lookup tables, and
the parsed-corpus builder — so the driver contract, the benchmark, and
the tests all exercise literally the same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rsyslog_spark import corpus
from rsyslog_spark.lookup import LookupTable
from rsyslog_spark.parsing import parse
from rsyslog_spark.rules import Router
from rsyslog_spark.rules.compiler import Env

# canonical per-source site table (deterministic; matches ORACLE_SITE)
SITE_TABLE = [("src0", "siteA"), ("src1", "siteB"), ("src2", "siteC")]
SITE_NOMATCH = "siteX"

# sparse as-of table over the k payload value (quartile names)
K_QUARTILES = [(0, "q1"), (25, "q2"), (50, "q3"), (75, "q4")]

# The canonical routing program: exercises prifilt, array-membership
# propfilt, contains-filter, lookup-enriched set, stop semantics.
ROUTE_SCRIPT = """
set $.site = lookup("srcsite", $source);
if prifilt("*.err") then { action(name="urgent") }
if $programname == ["error","purchase"] then {
    action(name="commerce")
    stop
}
if $msg contains "k=7" then { action(name="k7") }
action(name="rest")
"""

SINKS = ["urgent", "commerce", "k7", "rest"]


def make_env() -> Env:
    env = Env()
    env.lookups["srcsite"] = LookupTable(
        "srcsite", "string", SITE_TABLE, nomatch=SITE_NOMATCH
    )
    env.lookups["kquart"] = LookupTable(
        "kquart", "sparseArray", K_QUARTILES, nomatch="q0"
    )
    return env


def build_parsed(
    spark: SparkSession, sf_dir: str, repartition: int | None = None,
) -> DataFrame:
    """events → logtokens → decode+parse. ``repartition`` hashes on
    doc_id before the parse projection (north_star: balanced batches;
    mostly relevant when the upstream file layout is skewed)."""
    lt = corpus.logtokens(spark, sf_dir)
    if repartition:
        lt = lt.repartition(repartition, "doc_id")
    return parse(lt)


def make_router(env: Env | None = None) -> Router:
    return Router(ROUTE_SCRIPT, env or make_env())


def routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return make_router().apply(build_parsed(spark, sf_dir), keep_locals=True)


def route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink routed-row counts — the north_star headline aggregate,
    computed in one pass (sum of predicate ints, no cache)."""
    r = make_router()
    return (
        r.route_counts(build_parsed(spark, sf_dir))
        .orderBy("sink")
        .select("sink", F.col("n").cast("long").alias("n"))
    )
