"""Rule engine tests: selectors, coercion matrix, routing semantics.

Coercion matrix mirrors the reference's 12-file test grid
tests/rscript_compare_{num,numstr,str}-{num,numstr,str}.sh; expected
truth values follow grammar/rainerscript.c:3893-4041."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rsyslog_spark.rules import Router, compile_expr, prifilt, selector_mask
from rsyslog_spark.rules.compiler import Env
from rsyslog_spark.rules.selectors import mask_predicate, mask_sql


def _eval(spark, expr_src, row=None, schema="facility int, severity int"):
    """Evaluate a rule expression against a one-row DataFrame."""
    row = row or [(2, 6)]
    df = spark.createDataFrame(row, schema)
    return df.select(compile_expr_auto(expr_src, df).alias("r")).first().r


def compile_expr_auto(src, df):
    from rsyslog_spark.rules.rscript import parse_expr

    env = Env()
    return compile_expr_with_env(parse_expr(src), env)


def compile_expr_with_env(ast, env):
    from rsyslog_spark.rules.compiler import _compile

    col, _ = _compile(ast, env)
    return col


# ---------------- selectors ----------------

def test_selector_masks():
    # mail.info: facility 2, severities 0..6
    m = selector_mask("mail.info")
    assert m[2] == 0b01111111 and m[0] == 0
    # *.=err : all facilities, exactly err(3)
    m = selector_mask("*.=err")
    assert all(x == 0b1000 for x in m)
    # combined with none-clear
    m = selector_mask("*.info;kern.none")
    assert m[0] == 0 and m[1] == 0b01111111
    # negation: mail.*;mail.!err clears err-and-more-important
    m = selector_mask("mail.*;mail.!err")
    assert m[2] == 0b11110000
    # exact negation
    m = selector_mask("mail.*;mail.!=err")
    assert m[2] == 0b11110111


def test_selector_predicate(spark):
    df = spark.createDataFrame(
        [(2, 6), (2, 3), (0, 3), (5, 1)], "facility int, severity int"
    )
    got = df.filter(prifilt("mail.info")).count()
    assert got == 2  # (2,6) and (2,3)
    got = df.filter(prifilt("*.=err")).count()
    assert got == 2  # severity 3 rows
    # SQL rendering agrees
    import duckdb

    m = selector_mask("mail.info;*.=err;kern.none")
    sql = mask_sql(m)
    rows = duckdb.sql(
        "select count(*) from (values (2,6),(2,3),(0,3),(5,1)) "
        f"t(facility, severity) where {sql}"
    ).fetchone()[0]
    # (2,6) via mail.info, (2,3) via both; (0,3) killed by kern.none
    assert rows == df.filter(mask_predicate(m)).count() == 2


# ---------------- coercion matrix ----------------

@pytest.mark.parametrize(
    "expr,expected",
    [
        # num vs num
        ("100 == 100", True),
        ("100 <= 99", False),
        # numstr vs num: numeric conversion of the string side
        ('"100" == 100', True),
        ('"0100" == 100', True),  # numeric compare, not string
        ('"100" >= 99', True),
        # str vs num: not coercible → string compare
        ('"abc" == 100', False),
        ('"abc" != 100', True),
        # str vs str lexicographic
        ('"abc" < "abd"', True),
        ('"20" < "9"', False),  # both coercible → numeric (20 < 9 false)
        ('"zz" > "aa"', True),
        # array membership
        ('"b" == ["a","b","c"]', True),
        ('"d" == ["a","b","c"]', False),
        ('"d" != ["a","b","c"]', True),
        # string ops
        ('"hello world" contains "lo w"', True),
        ('"HELLO" contains_i "hell"', True),
        ('"hello" startswith "he"', True),
        ('"Hello" startswith_i "he"', True),
        ('"hello" endswith "llo"', True),
        ('"hello" contains ["x","ell"]', True),
        # arithmetic & concat
        ("1 + 2 * 3 == 7", True),
        ('"a" & "b" == "ab"', True),
        ('cnum("12abc") == 0', True),  # var2Number: bad → 0
        ("7 % 3 == 1", True),
        ("not (1 == 2)", True),
        ("1 == 1 and 2 == 2", True),
        ("1 == 2 or 2 == 2", True),
    ],
)
def test_coercion_matrix(spark, expr, expected):
    got = _eval(spark, expr)
    assert bool(got) == expected, f"{expr} → {got}"


def test_division_semantics(spark):
    assert _eval(spark, "7 / 2") == 3  # int64 division
    assert _eval(spark, "10 / 0") is None  # divergence: NULL not error


# ---------------- routing ----------------

SCRIPT = """
set $.sev_class = "low";
if $syslogseverity <= 3 then {
    set $.sev_class = "high";
    action(name="urgent")
}
if prifilt("mail.info") then {
    action(name="mail")
    stop
}
if $msg contains "drop-me" then stop
action(name="catchall")
"""


def test_router_semantics(spark):
    df = spark.createDataFrame(
        [
            # facility, severity, msg
            (2, 2, "mail crit"),      # urgent + mail, stopped before catchall
            (2, 6, "mail info"),      # mail, stopped
            (0, 3, "kern err"),       # urgent + catchall
            (5, 6, "drop-me please"), # dropped before catchall
            (5, 6, "normal"),         # catchall only
        ],
        "facility int, severity int, msg string",
    )
    r = Router(SCRIPT)
    routed = r.apply(df, keep_locals=True)
    rows = {
        (x.facility, x.severity): x
        for x in routed.collect()
    }
    assert rows[(2, 2)].route_urgent and rows[(2, 2)].route_mail
    assert not rows[(2, 2)].route_catchall  # stop in mail branch
    assert rows[(2, 6)].route_mail and not rows[(2, 6)].route_catchall
    assert rows[(0, 3)].route_urgent and rows[(0, 3)].route_catchall
    assert not rows[(5, 6)].route_urgent
    d = [x for x in routed.collect() if x.msg.startswith("drop-me")][0]
    assert not d.route_catchall
    n = [x for x in routed.collect() if x.msg == "normal"][0]
    assert n.route_catchall and not n.route_mail
    # set/SSA: locals reflect branch
    assert rows[(2, 2)].local_sev_class == "high"
    assert rows[(2, 6)].local_sev_class == "low"


def test_router_counts_one_pass(spark):
    df = spark.createDataFrame(
        [(2, 6, "x")] * 10 + [(0, 3, "y")] * 5,
        "facility int, severity int, msg string",
    )
    r = Router(SCRIPT)
    counts = dict(r.route_counts(df).collect())
    assert counts["mail"] == 10
    assert counts["urgent"] == 5
    assert counts["catchall"] == 5


def test_ruleset_call(spark):
    script = """
ruleset(name="sub") {
    if $syslogseverity == 0 then action(name="panic")
}
ruleset(name="main") {
    call sub
    action(name="all")
}
"""
    df = spark.createDataFrame([(0,), (5,)], "severity int")
    r = Router(script)
    routed = r.apply(df)
    got = {(x.severity): (x.route_panic, x.route_all) for x in routed.collect()}
    assert got[0] == (True, True)
    assert got[5] == (False, True)


def test_omdiscard_rewrite(spark):
    script = """
if $msg contains "junk" then action(type="omdiscard")
action(name="keep")
"""
    df = spark.createDataFrame([("junk here",), ("fine",)], "msg string")
    r = Router(script)
    counts = dict(r.route_counts(df).collect())
    assert counts["keep"] == 1



def test_conditional_set_changing_type_meets_as_string(spark):
    """RainerScript variables are untyped: a conditional `set` that
    changes a local's type keeps the old value on the other rows as
    the string it was, instead of casting it to the new type (which
    fails the query with CAST_INVALID_INPUT under ANSI)."""
    script = """
set $.x = "abc";
if $msg contains "7" then { set $.x = 1; }
if $.x == "abc" then { action(name="keep") }
action(name="all")
"""
    df = spark.createDataFrame([("a 7",), ("b",)], "msg string")
    r = Router(script)
    routed = r.apply(df, keep_locals=True)
    assert {x.msg: x.local_x for x in routed.collect()} == {
        "a 7": "1", "b": "abc"
    }
    counts = dict(r.route_counts(df).collect())
    assert counts == {"keep": 1, "all": 2}

def test_template_object_statements(spark):
    """template(name=.. type=string|list|subtree) config objects parse
    and register; exec_template + set render them (template.c:2149)."""
    from rsyslog_spark.rules import Router

    df = spark.createDataFrame(
        [(13, "host7", "app:", " hi", {"a": "1"})],
        "pri int, hostname string, syslogtag string, msg string, "
        "cee map<string,string>",
    ).withColumns(
        {"facility": (F.col("pri") / 8).cast("int"),
         "severity": F.col("pri") % 8}
    )
    script = '''
template(name="shorthost" type="string" string="%hostname:1:4%")
template(name="kv" type="list") {
    constant(value="host=")
    property(name="hostname" caseConversion="upper")
    constant(value=" tag=")
    property(name="syslogtag")
}
template(name="tree" type="subtree" subtree="$!")
set $.a = exec_template("shorthost");
set $.b = exec_template("kv");
set $.c = exec_template("tree");
action(name="out")
'''
    r = Router(script)
    out = r.apply(df, keep_locals=True).first()
    assert out["local_a"] == "host"
    assert out["local_b"] == "host=HOST7 tag=app:"
    assert out["local_c"] == '{"a":"1"}'


def test_exists_and_empty_compare_on_conditional_locals(spark):
    """exists($.x) must be PER-ROW (set only fired on some rows), and a
    not-fired conditional set must compare equal to '' (var2String)."""
    from rsyslog_spark.rules import Router

    df = spark.createDataFrame(
        [(1, "has a"), (2, "nothing")],
        "pri int, msg string",
    ).withColumns({"facility": F.lit(0), "severity": F.lit(1)})
    script = """
if $msg contains "a" then { set $.f = "1"; }
if exists($.f) then { action(name="flagged") }
if $.f == "" then { action(name="unflagged") }
if exists($.never) then { action(name="ghost") }
set $.cat = "pre" & $.f;
action(name="all")
"""
    r = Router(script)
    counts = dict(r.route_counts(df).collect())
    assert counts["flagged"] == 1     # only the row where set fired
    assert counts["unflagged"] == 1   # NULL local == '' per var2String
    assert counts.get("ghost", 0) == 0
    # concatenation must not null-propagate
    rows = {x.msg: x for x in r.apply(df, keep_locals=True).collect()}
    assert rows["has a"]["local_cat"] == "pre1"
    assert rows["nothing"]["local_cat"] == "pre"


def test_call_indirect_literal_and_unknown(spark):
    """call_indirect with a literal name inlines like call; a literal
    that matches no ruleset raises at compile time (documented
    divergence from the reference's logged-error NOP,
    ruleset.c:235-275)."""
    import pytest

    script = """
ruleset(name="sub") { action(name="s") }
call_indirect "sub";
"""
    df = spark.createDataFrame([("a",), ("b",)], "msg string")
    assert dict(Router(script).route_counts(df).collect()) == {"s": 2}
    with pytest.raises(ValueError, match="call_indirect"):
        Router('call_indirect "ghost";')


def test_call_indirect_dynamic_dispatch(spark):
    """A dynamic callee expression dispatches per message against the
    ruleset registry; names matching no ruleset are a NOP
    (execCallIndirect → rulesetGetRuleset miss)."""
    script = """
ruleset(name="mail") { action(name="mailsink") }
ruleset(name="web")  { action(name="websink") }
call_indirect $programname;
action(name="all")
"""
    df = spark.createDataFrame(
        [("mail",), ("web",), ("ftp",)], "programname string"
    )
    counts = dict(Router(script).route_counts(df).collect())
    assert counts == {"mailsink": 1, "websink": 1, "all": 3}


def test_call_indirect_cycle_bounded(spark):
    """A ruleset whose body indirectly names itself cannot be inlined
    into itself — the compile-time fan-out skips in-progress rulesets
    instead of recursing forever (the reference bounds runtime depth
    at 1024)."""
    script = """
ruleset(name="loop") { call_indirect $programname; action(name="inloop") }
call_indirect $programname;
"""
    df = spark.createDataFrame([("loop",), ("other",)], "programname string")
    counts = dict(Router(script).route_counts(df).collect())
    assert counts == {"inloop": 1}


def test_repeated_call_merges_sink_predicates(spark):
    """One sink reached from two inlined call sites yields ONE
    route_<sink> column with OR-merged predicates (two rulesets
    appending to one destination)."""
    script = """
ruleset(name="sub") { if $severity >= 4 then { action(name="out") } }
if $programname == "a" then { call sub }
if $programname == "b" then { call sub }
"""
    df = spark.createDataFrame(
        [("a", 5), ("b", 5), ("b", 1), ("c", 5)],
        "programname string, severity int",
    )
    r = Router(script)
    counts = dict(r.route_counts(df).collect())
    assert counts == {"out": 2}
    routed = r.apply(df)
    assert routed.columns.count("route_out") == 1


def test_same_sink_different_params_not_merged(spark):
    """Two actions on one sink name with DIFFERENT params must not
    silently adopt the first action's config — they keep separate
    disambiguated columns (code-review r5)."""
    script = """
ruleset(name="a") { action(name="out" template="t1") }
ruleset(name="b") { action(name="out" template="t2") }
call a
call b
"""
    r = Router(script)
    df = spark.createDataFrame([("x",)], "msg string")
    routed = r.apply(df)
    outs = [c for c in routed.columns if c.startswith("route_out")]
    assert len(outs) == 2


def test_set_unset_message_tree(spark):
    """r5: `set $!key` / `unset $!key` write into the message tree
    (msgAddJSON semantics): conditional SSA rebinds like locals, the
    tree auto-creates on tree-less inputs, subtree templates see the
    writes, and LAST_WIN map dedup makes repeated sets an upsert."""
    script = """
set $!site = "fra";
set $!site = "ber";
if $msg contains "a" then { set $!flag!deep = "yes"; }
if $!flag!deep == "yes" then { action(name="flagged") }
unset $!site;
if $!site == "" then { action(name="nosite") }
template(name="tree" type="subtree" subtree="$!")
set $.render = exec_template("tree");
action(name="all")
"""
    df = spark.createDataFrame([("has a",), ("nothing",)], "msg string")
    r = Router(script)
    rows = {x.msg: x for x in r.apply(df, keep_locals=True).collect()}
    assert dict(rows["has a"].cee) == {"flag!deep": "yes"}
    assert dict(rows["nothing"].cee) == {}
    assert rows["has a"].local_render == '{"flag!deep":"yes"}'
    counts = dict(r.route_counts(df).collect())
    assert counts == {"flagged": 1, "nosite": 2, "all": 2}


def test_cee_nested_read_through_json_value(spark):
    """$!a!b reads reach INTO nested-object values (mmjsonparse keeps
    sub-objects as JSON strings) via the get_json_object fallback —
    previously a chained element_at analysis error."""
    from rsyslog_spark import mm

    df = spark.createDataFrame(
        [('@cee: {"a":{"b":"42"},"c":"x"}',), ('@cee: {"c":"y"}',)],
        "msg string",
    )
    p = mm.mmjsonparse(df)
    counts = dict(Router(
        'if $!a!b == "42" then { action(name="deep") }\n'
        'if $!c == "y" then { action(name="top") }'
    ).route_counts(p).collect())
    assert counts == {"deep": 1, "top": 1}


def test_exists_sees_tree_writes(spark):
    """exists($!k) must observe earlier `set $!k` writes and reach
    nested JSON values, consistent with reads."""
    from rsyslog_spark import mm

    df = spark.createDataFrame(
        [('@cee: {"a":{"b":"1"}}',), ("plain",)], "msg string"
    )
    p = mm.mmjsonparse(df)
    script = """
if $msg contains "plain" then { set $!mark = ""; }
if exists($!mark) then { action(name="marked") }
if exists($!a!b) then { action(name="nested") }
if exists($!ghost) then { action(name="ghost") }
"""
    counts = dict(Router(script).route_counts(p).collect())
    assert counts.get("marked", 0) == 1   # empty value still EXISTS
    assert counts.get("nested", 0) == 1
    assert counts.get("ghost", 0) == 0
