"""Per-source ruleset binding (BoundRouter)."""

from __future__ import annotations

from rsyslog_spark.rules.router import BoundRouter

SCRIPT = """
ruleset(name="web") {
    if $msg contains "GET" then { action(name="web_access") }
    action(name="web_all")
}
ruleset(name="db") {
    if $syslogseverity <= 3 then { action(name="db_errors") }
    action(name="db_all")
}
ruleset(name="fallback") {
    action(name="other")
}
"""


def test_bound_router(spark):
    df = spark.createDataFrame(
        [
            ("nginx", 6, "GET /index"),
            ("nginx", 6, "POST /form"),
            ("pgsql", 2, "fatal error"),
            ("pgsql", 6, "checkpoint done"),
            ("mystery", 6, "who am I"),
        ],
        "source string, severity int, msg string",
    )
    r = BoundRouter(
        SCRIPT,
        bindings={"nginx": "web", "pgsql": "db"},
        default="fallback",
    )
    counts = dict(r.route_counts(df).collect())
    assert counts["web_access"] == 1
    assert counts["web_all"] == 2
    assert counts["db_errors"] == 1
    assert counts["db_all"] == 2
    assert counts["other"] == 1  # only the unbound source


def test_bound_router_shared_sink_merges(spark):
    script = """
ruleset(name="a") { action(name="common") }
ruleset(name="b") { action(name="common") }
"""
    df = spark.createDataFrame(
        [("s1",), ("s2",), ("s3",)], "source string"
    )
    r = BoundRouter(script, bindings={"s1": "a", "s2": "b"})
    counts = dict(r.route_counts(df).collect())
    assert counts["common"] == 2  # s1 via a, s2 via b, s3 unbound


def test_bound_router_keeps_foreach_actions_apart(spark, tmp_path):
    """Two bound rulesets iterating different arrays into one sink
    name keep their own arrays: per-element counts add up, and each
    written item comes from its own split (not the first ruleset's)."""
    script = """
ruleset(name="a") {
    foreach ($.w in split($msg, " ")) do {
        if $.w contains "=" then { action(name="kv") }
    }
}
ruleset(name="b") {
    foreach ($.w in split($msg, ",")) do {
        if $.w contains "=" then { action(name="kv") }
    }
}
"""
    df = spark.createDataFrame(
        [("s1", "a=1 b=2"), ("s2", "x=1,y=2,z=3")],
        "source string, msg string",
    )
    r = BoundRouter(script, bindings={"s1": "a", "s2": "b"})
    counts = dict(r.route_counts(df).collect())
    assert sorted(counts) == ["kv", "kv_2"]
    assert counts["kv"] + counts["kv_2"] == 5  # 2 via a, 3 via b
    out = r.write_sinks(df, str(tmp_path))
    items = sorted(
        row.item for path in out.values()
        for row in spark.read.parquet(path).collect()
    )
    assert items == ["a=1", "b=2", "x=1", "y=2", "z=3"]


def test_bound_router_differing_params_keep_own_sink(spark):
    script = """
ruleset(name="a") { action(name="f" file="/a") }
ruleset(name="b") { action(name="f" file="/b") }
"""
    df = spark.createDataFrame(
        [("s1",), ("s2",), ("s2",)], "source string"
    )
    r = BoundRouter(script, bindings={"s1": "a", "s2": "b"})
    files = {a.sink: a.params["file"] for a in r.actions}
    assert files == {"f": "/a", "f_2": "/b"}
    counts = dict(r.route_counts(df).collect())
    assert counts == {"f": 1, "f_2": 2}
