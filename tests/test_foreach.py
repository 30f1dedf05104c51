"""foreach statement: per-element action semantics (ruleset.c:310-401)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rsyslog_spark.rules import Router


SCRIPT = """
foreach ($.w in split($msg, " ")) do {
    if $.w contains "=" then { action(name="kv") }
}
action(name="all")
"""


def test_foreach_counts_per_element(spark):
    df = spark.createDataFrame(
        [("a=1 b=2 plain",), ("nothing here",), ("x=9",)], "msg string"
    )
    r = Router(SCRIPT)
    counts = dict(r.route_counts(df).collect())
    assert counts["kv"] == 3  # a=1, b=2, x=9 — per element, not per row
    assert counts["all"] == 3


def test_foreach_apply_boolean(spark):
    df = spark.createDataFrame(
        [("a=1 b=2 plain",), ("nothing here",)], "msg string"
    )
    routed = Router(SCRIPT).apply(df)
    got = {r.msg: r.route_kv for r in routed.collect()}
    assert got["a=1 b=2 plain"] is True
    assert got["nothing here"] is False


def test_foreach_write_explodes(spark, tmp_path):
    df = spark.createDataFrame([("a=1 b=2 plain",)], "msg string")
    out = Router(SCRIPT).write_sinks(df, str(tmp_path))
    kv = spark.read.parquet(out["kv"])
    assert sorted(r.item for r in kv.collect()) == ["a=1", "b=2"]


def test_foreach_respects_stop_and_condition(spark):
    script = """
if $msg startswith "skip" then stop
foreach ($.w in split($msg, " ")) do {
    if $.w == "hit" then { action(name="hits") }
}
"""
    df = spark.createDataFrame(
        [("hit or hit",), ("skip hit",), ("none",)], "msg string"
    )
    counts = dict(Router(script).route_counts(df).collect())
    assert counts["hits"] == 2  # two in row 1; row 2 stopped


def test_foreach_object_iterates_map_entries(spark):
    """callForeachObject (ruleset.c:334-372): a map-typed collection
    iterates {key,value} entries with $.var!key / $.var!value bound."""
    script = """
foreach ($.e in $!) do {
    if $.e!key == "user" then { action(name="users") }
    if $.e!value == "42" then { action(name="forty2") }
}
action(name="all")
"""
    df = spark.createDataFrame(
        [({"user": "alice", "n": "42"},), ({"n": "7"},), (None,)],
        "cee map<string,string>",
    )
    counts = dict(Router(script).route_counts(df).collect())
    assert counts["users"] == 1
    assert counts["forty2"] == 1
    assert counts["all"] == 3


def test_foreach_object_bare_var_renders_json(spark):
    """The bare loop var is the {key,value} object a template sees —
    its JSON rendering (contains works on the serialized form)."""
    script = """
foreach ($.e in $!) do {
    if $.e contains "alice" then { action(name="hit") }
}
"""
    df = spark.createDataFrame(
        [({"user": "alice"},), ({"user": "bob"},)],
        "cee map<string,string>",
    )
    counts = dict(Router(script).route_counts(df).collect())
    assert counts["hit"] == 1


def test_foreach_object_from_parse_json(spark):
    """parse_json() compiles map-typed, so foreach iterates it as an
    object too (the reference dispatches array-vs-object per value)."""
    script = """
foreach ($.kv in parse_json($msg)) do {
    if $.kv!value == "up" then { action(name="up") }
}
"""
    df = spark.createDataFrame(
        [('{"db":"up","web":"down"}',), ('{"db":"down"}',)], "msg string"
    )
    counts = dict(Router(script).route_counts(df).collect())
    assert counts["up"] == 1


def test_foreach_set_accumulator(spark):
    """`set` of outer locals inside foreach folds across elements
    (scriptExec's shared mutable vars, ruleset.c:310-401): counters
    and conditional counters accumulate; post-loop reads see the
    fold result."""
    script = """
foreach ($.w in split($msg, " ")) do {
    if $.w contains "=" then { set $.kv = $.kv + 1; }
    set $.n = $.n + 1;
}
if $.kv >= 2 then { action(name="many_kv") }
if $.n == 3 then { action(name="three") }
action(name="all")
"""
    from rsyslog_spark.rules import Router

    df = spark.createDataFrame(
        [("a=1 b=2 plain",), ("nothing here",), ("x=9 y=8",)],
        "msg string",
    )
    counts = dict(Router(script).route_counts(df).collect())
    assert counts["many_kv"] == 2  # rows 1 and 3
    assert counts["three"] == 1    # row 1 only
    assert counts["all"] == 3


def test_foreach_set_pc_gated_keeps_old_value(spark):
    """A foreach under an if only folds on matching rows; others keep
    the pre-loop value (SSA rebinding under pc). A NULL collection
    (null msg) folds zero elements."""
    script = """
set $.n = 0;
if $msg startswith "go" then {
    foreach ($.w in split($msg, " ")) do { set $.n = $.n + 1; }
}
if $.n == 0 then { action(name="zero") }
if $.n > 0 then { action(name="counted") }
"""
    from rsyslog_spark.rules import Router

    df = spark.createDataFrame(
        [("go a b",), ("stay a",), (None,)], "msg string"
    )
    counts = dict(Router(script).route_counts(df).collect())
    assert counts["counted"] == 1  # "go a b" -> n=3
    assert counts["zero"] == 2     # "stay a" keeps 0; null msg too


def test_foreach_set_string_concat_and_order(spark):
    """String accumulation preserves element order, and a set later
    in the body sees an earlier set's value within the SAME
    iteration (sequential semantics)."""
    script = """
foreach ($.w in split($msg, " ")) do {
    set $.acc = $.acc & $.w & ";";
    set $.last = $.acc;
}
if $.acc == "a;b;c;" then { action(name="ordered") }
if $.last == $.acc then { action(name="sequential") }
"""
    from rsyslog_spark.rules import Router

    df = spark.createDataFrame([("a b c",)], "msg string")
    counts = dict(Router(script).route_counts(df).collect())
    assert counts["ordered"] == 1
    assert counts["sequential"] == 1


def test_foreach_set_over_object_values(spark):
    """Folding over a map collection: $.e!value feeds the
    accumulator (order-insensitive sum)."""
    script = """
foreach ($.e in $!) do { set $.sum = $.sum + $.e!value; }
if $.sum == 5 then { action(name="five") }
action(name="all")
"""
    from rsyslog_spark.rules import Router

    df = spark.createDataFrame(
        [({"a": "2", "b": "3"},), ({"a": "1"},), (None,)],
        "cee map<string,string>",
    )
    counts = dict(Router(script).route_counts(df).collect())
    assert counts["five"] == 1
    assert counts["all"] == 3


def test_foreach_mixed_set_and_action_raises(spark):
    import pytest

    from rsyslog_spark.rules import Router

    script = """
foreach ($.w in split($msg, " ")) do {
    set $.n = $.n + 1;
    action(name="boom")
}
"""
    with pytest.raises(ValueError, match="actions or `set`"):
        Router(script)


def test_foreach_set_changing_type_meets_as_string(spark):
    """The fold rebinds under the same rule as a top-level `set`: a
    type change inside the body keeps the other rows' string."""
    script = """
set $.x = "abc";
foreach ($.w in split($msg, " ")) do {
    if $.w == "7" then { set $.x = 1; }
}
if $.x == "abc" then { action(name="keep") }
action(name="all")
"""
    df = spark.createDataFrame([("a 7",), ("b",)], "msg string")
    counts = dict(Router(script).route_counts(df).collect())
    assert counts == {"keep": 1, "all": 2}


def test_foreach_names_anonymous_actions_once(spark):
    """Anonymous body actions are numbered once, in program order,
    however often the body is walked for element predicates."""
    r = Router(
        'foreach ($.x in $!items) do { action(type="omfile") }\n'
        'action(type="omfwd")'
    )
    assert r.sinks == ["action1", "action2"]
    r = Router(
        'foreach ($.x in $!items) do {\n'
        '    action(type="omfile") action(type="omfile")\n'
        '}\naction(type="omfwd")'
    )
    assert r.sinks == ["action1", "action2", "action3"]


@pytest.mark.parametrize(
    "stmt", ['action(type="omdiscard")', "stop"]
)
def test_foreach_body_outside_subset_raises(spark, stmt):
    """A discard or stop halts the whole message, which no
    per-element predicate expresses; the body subset is if / action /
    nop or if / set / nop."""
    script = (
        'foreach ($.w in split($msg, " ")) do {\n'
        f'    if $.w == "x" then {{ {stmt} }}\n'
        '    action(name="each")\n'
        "}"
    )
    with pytest.raises(ValueError, match="inside foreach"):
        Router(script)
