"""AST → Column compiler with RainerScript coercion semantics.

Coercion rules mirrored from grammar/rainerscript.c:
- ``==``/``!=`` (3878-4041): number vs number → numeric; if one side is
  a string and the other numeric, try numeric conversion of the string
  side first, else compare as strings (3909-3916); RHS array literal →
  membership test (evalStrArrayCmp, 3903).
- ``< <= > >=`` via eval_strcmp_like (3839, 4026-4041): numeric if both
  coercible, else lexicographic.
- contains/contains_i/startswith/startswith_i/endswith (4042-4097):
  string ops; RHS array = OR-of-matches. No endswith_i in the reference.
- ``&`` string concat; ``+ - * / %`` int64 arithmetic with var2Number
  coercion (non-numeric → 0, 1490); division by zero → NULL here
  (reference raises script error state — documented divergence).
- An array in scalar position evaluates to its first element
  (4143-4148).

Properties resolve via a property map (name → Column + type tag);
unknown ``$!x`` paths resolve into the ``cee`` map column, ``$.x``
into the router's local-variable environment.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from rsyslog_spark.functions import REGISTRY
from rsyslog_spark.rules.selectors import prifilt

# type tags: 'N' number, 'S' string, 'B' bool, 'A' array, 'M' map
# (object — foreach iterates it as {key,value} entries), '?' unknown
NUMERIC_SPARK = {"int", "bigint", "long", "smallint", "tinyint", "double", "float"}

# default property → (column name, type tag); matches the parse() output
# schema plus corpus columns. (PROP ids: runtime/typedefs.h:194-248)
DEFAULT_PROPS: dict[str, tuple[str, str]] = {
    "$msg": ("msg", "S"),
    "$rawmsg": ("rawmsg", "S"),
    "$hostname": ("hostname", "S"),
    "$source": ("source", "S"),
    "$fromhost": ("hostname", "S"),
    "$syslogtag": ("syslogtag", "S"),
    "$programname": ("programname", "S"),
    "$pri": ("pri", "N"),
    "$syslogfacility": ("facility", "N"),
    "$syslogseverity": ("severity", "N"),
    "$syslogpriority": ("severity", "N"),
    "$app-name": ("programname", "S"),
    "$procid": ("procid", "S"),
    "$msgid": ("msgid", "S"),
    "$structured-data": ("structured_data", "S"),
    "$timereported": ("timereported_str", "S"),
    "$timestamp": ("timereported_str", "S"),
    # batch replay has no reception clock: timegenerated ≙ timereported
    # (documented divergence; on a live stream map this to ingest time)
    "$timegenerated": ("timereported_str", "S"),
    # the corpus 'source' is the sender id — the fromhost-ip analog
    "$fromhost-ip": ("source", "S"),
    "$protocol-version": ("protocol_version", "N"),
    "$parsesuccess": ("parse_success", "B"),
    "$doc_id": ("doc_id", "S"),
    "$inputname": ("source", "S"),
}


# system properties ($now family, typedefs.h:221-243; impl getNOW
# runtime/msg.c:2922) — evaluated per batch at the driver's clock like
# the reference evaluates per message at the wall clock
def _sys(fmt_or_fn, tag="S"):
    def get():
        col = fmt_or_fn() if callable(fmt_or_fn) else F.date_format(
            F.current_timestamp(), fmt_or_fn
        )
        return col, tag

    return get


_SYS_PROPS = {
    "$now": _sys("yyyy-MM-dd"),
    "$year": _sys("yyyy"),
    "$month": _sys("MM"),
    "$day": _sys("dd"),
    "$hour": _sys("HH"),
    "$minute": _sys("mm"),
    "$wday": _sys(lambda: (F.dayofweek(F.current_date()) - 1).cast("string")),
    "$now-unixtimestamp": _sys(
        lambda: F.unix_timestamp(F.current_timestamp()), "N"
    ),
    "$now-utc": _sys("yyyy-MM-dd"),
    "$myhostname": _sys(lambda: F.lit("spark-driver")),
    "$bom": _sys(lambda: F.lit("﻿")),
}


class Env:
    """Compilation environment: property map + `$.` local variables."""

    def __init__(self, props: dict | None = None):
        self.props = dict(DEFAULT_PROPS)
        if props:
            self.props.update(props)
        self.locals: dict[str, tuple[Column, str]] = {}
        # r5: `set $!path` support — the CURRENT (possibly rewritten)
        # message tree Column; None = the raw `cee` column. SSA like
        # locals: every write produces a new conditional Column.
        self.cee: Column | None = None
        self.tree_written = False
        self.lookups: dict[str, object] = {}  # name → LookupTable
        self.templates: dict[str, str] = {}  # name → template string
        # name → pre-compiled Column (list/subtree template objects)
        self.compiled_templates: dict[str, Column] = {}
        # predicate of the most recently compiled action — feeds
        # previous_action_suspended() (set by the router's _walk)
        self.last_action_pred: Column | None = None
        # r5: `$/` globals → window aggregates (rules/globals.py).
        # The collect pass records statements in global_stmts;
        # finalize_globals builds per-program-point specs in globals;
        # global_set_passed counts statements passed in the real pass.
        self.globals: dict[str, object] = {}
        self.global_stmts: dict[str, list] = {}
        self.global_set_passed: dict[str, int] = {}
        self.globals_final = False
        self.global_placeholder_read = False
        self.globals_order_col: str | None = None
        self.globals_worker_col: str | None = None

    def resolve(self, name: str) -> tuple[Column, str]:
        if name.startswith("$/"):
            from rsyslog_spark.rules.globals import resolve_global

            return resolve_global(self, name[2:])
        if name.lower() in _SYS_PROPS:
            return _SYS_PROPS[name.lower()]()
        if name.startswith("$."):
            if name[2:] in self.locals:
                col, tag = self.locals[name[2:]]
                # a conditionally-set local is NULL on rows where the
                # set didn't fire — in string contexts the reference
                # evaluates that as "" (var2String); numeric contexts
                # keep NULL so _to_num's coalesce yields 0 (var2Number)
                if tag == "S":
                    return F.coalesce(col, F.lit("")), "S"
                return col, tag
            # reference var2String: an unset variable IS the empty
            # string (rainerscript.c), so `$.x == ""` must be true and
            # `&` concatenation must not null-propagate
            return F.lit(""), "S"
        if name.startswith("$!"):
            path = [p for p in name[2:].split("!") if p]
            col = self.cee if self.cee is not None else F.col("cee")
            if not path:  # whole tree: keep the map column as-is
                return col, "M"
            # flat key first ('a!b' — where `set $!a!b` writes land),
            # then the nested-JSON fallback: mmjsonparse keeps nested
            # objects as JSON STRINGS under the top key, so $!a!b
            # reads get_json_object(tree['a'], '$.b') (r5; chained
            # element_at on a string value was an analysis error)
            flat = F.try_element_at(col, F.lit("!".join(path)))
            if len(path) > 1:
                nested = F.get_json_object(
                    F.try_element_at(col, F.lit(path[0])),
                    "$." + ".".join(path[1:]),
                )
                flat = F.coalesce(flat, nested)
            # missing CEE path → "" (var2String), not NULL
            return F.coalesce(flat, F.lit("")), "S"
        if name in self.props:
            cname, tag = self.props[name]
            return (F.col(cname) if isinstance(cname, str) else cname), tag
        # fall back to a raw column of that name
        return F.col(name.lstrip("$")), "?"


def _to_num(col: Column, tag: str) -> Column:
    """var2Number (rainerscript.c:1490): non-coercible string → 0."""
    if tag == "N":
        return col.cast("long")
    if tag == "B":
        return col.cast("int").cast("long")
    return F.coalesce(col.try_cast("long"), F.lit(0))


def _to_str(col: Column, tag: str) -> Column:
    return col if tag == "S" else col.cast("string")


def compile_expr(ast, env: Env | None = None) -> Column:
    col, _tag = _compile(ast, env or Env())
    return col


def _scalarize(ast):
    """Array in scalar position → first element (rainerscript.c:4143)."""
    if ast[0] == "array" and ast[1]:
        return ast[1][0]
    return ast


def _compile(ast, env: Env) -> tuple[Column, str]:
    kind = ast[0]
    if kind == "num":
        return F.lit(ast[1]).cast("long"), "N"
    if kind == "str":
        return F.lit(ast[1]), "S"
    if kind == "var":
        return env.resolve(ast[1])
    if kind == "array":
        cols = [_compile(_scalarize(a), env)[0] for a in ast[1]]
        return F.array(*cols), "A"
    if kind == "call":
        return _compile_call(ast[1], ast[2], env)
    if kind == "unop":
        op, x = ast[1], ast[2]
        c, t = _compile(_scalarize(x), env)
        if op == "not":
            return ~c.cast("boolean"), "B"
        if op == "-":
            return -_to_num(c, t), "N"
        raise ValueError(f"unknown unop {op}")
    if kind == "binop":
        return _compile_binop(ast[1], ast[2], ast[3], env)
    raise ValueError(f"unknown AST node {kind}")


def _literal_values(ast):
    """Literal array → python values (for isin), else None."""
    if ast[0] != "array":
        return None
    vals = []
    for item in ast[1]:
        if item[0] in ("num", "str"):
            vals.append(item[1])
        else:
            return None
    return vals


def _compile_binop(op, l_ast, r_ast, env: Env) -> tuple[Column, str]:
    if op in ("and", "or"):
        lc, _ = _compile(_scalarize(l_ast), env)
        rc, _ = _compile(_scalarize(r_ast), env)
        lb, rb = lc.cast("boolean"), rc.cast("boolean")
        return (lb & rb) if op == "and" else (lb | rb), "B"

    if op in ("==", "!=") and r_ast[0] == "array":
        # membership test (evalStrArrayCmp, rainerscript.c:3903): string
        # compare of each element
        lc, lt = _compile(_scalarize(l_ast), env)
        vals = _literal_values(r_ast)
        ls = _to_str(lc, lt)
        if vals is not None:
            pred = ls.isin([str(v) for v in vals])
        else:
            arr, _ = _compile(r_ast, env)
            pred = F.array_contains(arr.cast("array<string>"), ls)
        return (pred if op == "==" else ~pred), "B"

    if op in ("contains", "contains_i", "startswith", "startswith_i", "endswith"):
        lc, lt = _compile(_scalarize(l_ast), env)
        ls = _to_str(lc, lt)
        items = r_ast[1] if r_ast[0] == "array" else [r_ast]
        preds = []
        for item in items:
            rc, rt = _compile(_scalarize(item), env)
            rs = _to_str(rc, rt)
            a, b = (F.lower(ls), F.lower(rs)) if op.endswith("_i") else (ls, rs)
            base = op.rstrip("_i") if op.endswith("_i") else op
            if base == "contains":
                preds.append(a.contains(b))
            elif base == "startswith":
                preds.append(a.startswith(b))
            else:
                preds.append(a.endswith(b))
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out, "B"

    l_ast, r_ast = _scalarize(l_ast), _scalarize(r_ast)
    lc, lt = _compile(l_ast, env)
    rc, rt = _compile(r_ast, env)

    if op == "&":
        return F.concat(_to_str(lc, lt), _to_str(rc, rt)), "S"
    if op in ("+", "-", "*", "/", "%"):
        ln, rn = _to_num(lc, lt), _to_num(rc, rt)
        if op == "+":
            return ln + rn, "N"
        if op == "-":
            return ln - rn, "N"
        if op == "*":
            return ln * rn, "N"
        if op == "/":
            return F.when(rn != 0, (ln / rn).cast("long")), "N"
        return F.when(rn != 0, ln % rn), "N"

    if op in ("==", "!="):
        pred = _cmp_eq(lc, lt, rc, rt, l_ast, r_ast)
        return (pred if op == "==" else ~pred), "B"
    if op in ("<", "<=", ">", ">="):
        return _cmp_rel(op, lc, lt, rc, rt), "B"
    raise ValueError(f"unknown binop {op}")


def _cmp_eq(lc, lt, rc, rt, l_ast, r_ast) -> Column:
    """rainerscript.c:3893-3916 equality coercion."""
    if lt == "N" and rt == "N":
        return lc.eqNullSafe(rc)
    if lt == "S" and rt == "S":
        # if one side is a string *literal* → plain string compare
        return lc.eqNullSafe(rc)
    # mixed: try numeric conversion of the string side first
    s_col, n_col = (lc, rc) if lt != "N" else (rc, lc)
    s_num = s_col.try_cast("long")
    return F.when(s_num.isNotNull(), s_num == n_col.cast("long")).otherwise(
        s_col.cast("string") == n_col.cast("string")
    )


def _cmp_rel(op, lc, lt, rc, rt) -> Column:
    """eval_strcmp_like (rainerscript.c:3839): numeric if both sides
    coerce, else lexicographic."""
    ops = {
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
    }
    f = ops[op]
    if lt == "N" and rt == "N":
        return f(lc, rc)
    ln = lc.cast("long") if lt == "N" else lc.try_cast("long")
    rn = rc.cast("long") if rt == "N" else rc.try_cast("long")
    return F.when(
        ln.isNotNull() & rn.isNotNull(), f(ln, rn)
    ).otherwise(f(_to_str(lc, lt), _to_str(rc, rt)))


def _compile_call(name: str, args: list, env: Env) -> tuple[Column, str]:
    name = name.lower()
    if name == "prifilt":
        if args[0][0] != "str":
            raise ValueError("prifilt() needs a literal selector")
        fac, _ = env.resolve("$syslogfacility")
        sev, _ = env.resolve("$syslogseverity")
        return prifilt(args[0][1], fac, sev), "B"
    if name == "lookup":
        if args[0][0] != "str":
            raise ValueError("lookup() needs a literal table name")
        tbl = env.lookups.get(args[0][1])
        if tbl is None:
            raise ValueError(f"lookup table {args[0][1]!r} not registered")
        key, _ = _compile(_scalarize(args[1]), env)
        return tbl.lookup_col(key), "S"
    if name == "exec_template":
        # rainerscript.c:1784 — render a named template into a string.
        # Accepts a registered name, a BUILTIN name, or an inline
        # template string (contains '%').
        if args[0][0] != "str":
            raise ValueError("exec_template() needs a literal name")
        from rsyslog_spark.templates import BUILTIN, compile_template

        ref = args[0][1]
        if ref in env.compiled_templates:  # list/subtree template object
            return env.compiled_templates[ref], "S"
        tpl = env.templates.get(ref, ref)
        if tpl == ref and ref not in BUILTIN and "%" not in ref:
            raise ValueError(f"unknown template {ref!r}")
        return compile_template(tpl, env), "S"
    if name == "exists":
        # presence test on the variable TREE (rainerscript exists()):
        # must see through the var2String ''-coalescing, so resolve
        # CEE paths raw — a missing key is absent, an empty value exists
        if args[0][0] == "var" and args[0][1].startswith("$!"):
            path = [p for p in args[0][1][2:].split("!") if p]
            tree = env.cee if env.cee is not None else F.col("cee")
            # flat key first (where `set $!a!b` writes land), nested-
            # JSON fallback — same scheme as resolve (r5)
            c = F.try_element_at(tree, F.lit("!".join(path)))
            if len(path) > 1:
                c = F.coalesce(
                    c,
                    F.get_json_object(
                        F.try_element_at(tree, F.lit(path[0])),
                        "$." + ".".join(path[1:]),
                    ),
                )
            return c.isNotNull(), "B"
        if args[0][0] == "var" and args[0][1].startswith("$."):
            # per-row: a conditionally-set local exists only on rows
            # where the set actually fired (stored column non-NULL);
            # a never-set name exists nowhere
            stored = env.locals.get(args[0][1][2:])
            if stored is None:
                return F.lit(False), "B"
            return stored[0].isNotNull(), "B"
        c, _ = _compile(args[0], env)
        return c.isNotNull(), "B"
    if name == "getenv":
        # folded at parse time in the reference (rainerscript.c:2165)
        import os

        val = os.environ.get(args[0][1], "") if args[0][0] == "str" else ""
        return F.lit(val), "S"
    if name == "script_error":
        return F.lit(0).cast("long"), "N"
    if name == "previous_action_suspended":
        # rainerscript.c:3027 — in dataflow terms an action is
        # 'suspended' for a row exactly when its predicate excluded it
        # (the failover_chain model, sinks.py): true where the previous
        # action did NOT fire. No previous action → false (ref errors).
        prev = getattr(env, "last_action_pred", None)
        if prev is None:
            return F.lit(False), "B"
        return ~F.coalesce(prev.cast("boolean"), F.lit(False)), "B"
    fn = REGISTRY.get(name)
    if fn is None:
        raise ValueError(f"unknown function {name!r}")
    compiled = []
    for a in args:
        if a[0] in ("num", "str"):
            compiled.append(a[1])  # pass literals natively (regex args etc.)
        else:
            compiled.append(_compile(_scalarize(a), env)[0])
    out = fn(*compiled)
    if name in ("strlen", "cnum", "ipv42num", "ip42num", "hash64",
                "hash32", "hash64mod", "hash32mod", "parse_time",
                "random"):
        tag = "N"
    elif name in ("parse_json", "append_json"):
        tag = "M"  # map-typed: foreach iterates these as objects
    else:
        tag = "S"
    return out, tag
