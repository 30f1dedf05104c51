"""Route compiler: statement list → per-sink predicate Columns.

rsyslog executes statements sequentially per message with mutable
state (`scriptExec`, runtime/ruleset.c:536-593):
``set`` mutates variables, ``stop`` halts processing, actions fire for
whatever reaches them. We compile this imperative program to pure
dataflow by symbolic execution over Column expressions:

- a *path condition* ``pc`` tracks the enclosing if/else branch
- a *liveness* predicate tracks ``stop`` (ruleset.c:553-555): a stop
  under condition C removes C-rows from every later statement
- ``set $.x`` becomes SSA-style conditional rebinding:
  ``x' = when(pc & live, expr).otherwise(x)`` — exactly the hard part
  called out in SURVEY.md §7; a set that changes x's type meets the
  old value as a string
- ``foreach`` re-enters the same walker for its body, with the loop
  variable bound to a lambda variable (``_compile_foreach``)
- ``call ruleset`` inlines the callee (depth-capped like
  RULESET_CALL_DEPTH_MAX=1024, ruleset.c:64)
- ``action(...)`` records (sink, pc & live, params); omdiscard is
  rewritten to stop, mirroring cnfstmtOptimize
  (grammar/rainerscript.c:5889-5898)

The result is a single-pass plan: every predicate is evaluated once
over one scan, then either summed (`route_counts`) or fanned out to
sink tables (`write_sinks`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rsyslog_spark.rules.compiler import Env, _compile, _scalarize, _to_str
from rsyslog_spark.rules.globals import _contains_global
from rsyslog_spark.rules.rscript import parse_script

MAX_CALL_DEPTH = 1024  # ruleset.c:64


@dataclass
class Action:
    sink: str
    predicate: Column
    params: dict = field(default_factory=dict)
    # set for actions inside `foreach`: the array expression and a
    # function elem_col -> per-element predicate. The action fires once
    # per matching ELEMENT (ruleset.c:330-360 iterates and re-executes
    # the body), so counting uses size(filter(arr, pred)) and writing
    # explodes.
    foreach_arr: Column | None = None
    elem_pred: object | None = None


class _State:
    def __init__(self, env: Env):
        self.env = env
        self.live: Column = F.lit(True)
        self.actions: list[Action] = []
        self.rulesets: dict[str, list] = {}
        self.n_anon = 0
        # ruleset names currently being inlined — call_indirect's
        # registry fan-out skips these (a cycle cannot be inlined;
        # the reference bounds runtime recursion at depth 1024)
        self.walking: set[str] = set()
        # r5 `$/` globals: True during the collect pass that compiles
        # window specs for `set $/` (rules/globals.py); the real pass
        # then only flips program-point flags
        self.collect = False

    def child(self) -> _State:
        """State for one walk of a ``foreach`` body: the same env and
        ruleset registry, its own liveness and actions, and anonymous
        action numbering that continues from here."""
        c = _State(self.env)
        c.rulesets = self.rulesets
        c.n_anon = self.n_anon
        return c


def _sanitize_sink(name: str) -> str:
    """Sink names become `route_<sink>` columns — strip chars that
    F.col would parse as nested-field syntax."""
    import re

    return re.sub(r"[^A-Za-z0-9_]", "_", name).strip("_") or "sink"


def _sink_name(params: dict, state: _State) -> str:
    for k in ("name", "file", "topic", "table"):
        if k in params:
            return _sanitize_sink(str(params[k]))
    state.n_anon += 1
    return f"action{state.n_anon}"


def _walk(stmts: list, pc: Column, state: _State, depth: int = 0) -> None:
    if depth > MAX_CALL_DEPTH:
        raise RecursionError("ruleset call depth exceeded (ref cap 1024)")
    for st in stmts:
        kind = st[0]
        if kind == "nop":
            continue
        if kind == "if":
            cond, _ = _compile(_scalarize(st[1]), state.env)
            cond = F.coalesce(cond.cast("boolean"), F.lit(False))
            _walk(st[2], pc & cond, state, depth)
            if st[3]:
                _walk(st[3], pc & ~cond, state, depth)
        elif kind in ("set", "unset"):
            _assign(st, pc & state.live, state)
        elif kind == "stop":
            state.live = state.live & ~pc
        elif kind == "action":
            params = st[1]
            if str(params.get("type", "")).lower() == "omdiscard":
                state.live = state.live & ~pc
                continue
            pred = pc & state.live
            state.actions.append(
                Action(_sink_name(params, state), pred, params)
            )
            state.env.last_action_pred = pred  # previous_action_suspended()
        elif kind == "foreach":
            _compile_foreach(st, pc, state)
        elif kind == "call_rs":
            callee = state.rulesets.get(st[1])
            if callee is None:
                raise ValueError(f"unknown ruleset {st[1]!r}")
            _walk(callee, pc, state, depth + 1)
        elif kind == "call_ind":
            # S_CALL_INDIRECT (grammar/rainerscript.h:123; runtime
            # execCallIndirect, ruleset.c:235-275): the callee name is
            # an EXPRESSION evaluated per message; a name that matches
            # no ruleset is a NOP. A literal name resolves at compile
            # time (raising on a missing ruleset — a static typo
            # should not silently NOP; documented divergence from the
            # reference's logged-error-NOP). A dynamic expression fans
            # out over the finite ruleset registry — each callee
            # inlined under pc & (expr == name), the compile-time
            # image of rulesetGetRuleset: rows whose name matches no
            # registered ruleset fall through every gate (NOP).
            if st[1][0] == "str":
                callee = state.rulesets.get(st[1][1])
                if callee is None:
                    raise ValueError(
                        f"unknown ruleset {st[1][1]!r} in call_indirect"
                    )
                if st[1][1] not in state.walking:
                    state.walking.add(st[1][1])
                    try:
                        _walk(callee, pc, state, depth + 1)
                    finally:
                        state.walking.discard(st[1][1])
            else:
                ncol, ntag = _compile(_scalarize(st[1]), state.env)
                ncol = _to_str(ncol, ntag)
                for rs_name, body in list(state.rulesets.items()):
                    if rs_name in state.walking:
                        continue  # self/mutual cycle: not inlinable
                    state.walking.add(rs_name)
                    try:
                        _walk(
                            body, pc & (ncol == F.lit(rs_name)),
                            state, depth + 1,
                        )
                    finally:
                        state.walking.discard(rs_name)
        elif kind == "ruleset":
            state.rulesets[st[1]] = st[2]
        elif kind == "template":
            # template(name=.. type=string|list|subtree ..) objects
            # (runtime/template.c:2149 tplProcessCnf)
            params, body = st[1], st[2]
            name = params.get("name")
            if not name:
                raise ValueError("template(...) needs name=")
            ttype = str(params.get("type", "string")).lower()
            if ttype == "string":
                state.env.templates[name] = params.get("string", "")
            elif ttype == "list":
                from rsyslog_spark.templates import compile_list_stmts

                state.env.compiled_templates[name] = compile_list_stmts(
                    body, state.env
                )
            elif ttype == "subtree":
                from rsyslog_spark.templates import compile_subtree

                state.env.compiled_templates[name] = compile_subtree(
                    params.get("subtree", "$!"), state.env
                )
            else:
                raise ValueError(
                    f"unsupported template type {ttype!r} "
                    "(string/list/subtree)"
                )
        else:
            raise ValueError(f"unsupported statement {kind}")


def _assign(st, eff: Column, state: _State) -> None:
    """``set VAR = EXPR`` / ``unset VAR`` on rows where ``eff`` (path
    condition & liveness) holds."""
    kind, var = st[0], st[1]
    rhs = st[2] if kind == "set" else None
    env = state.env
    if var.startswith("$/"):
        # global store → window aggregates (rules/globals.py): the
        # collect pass records the statement with its condition, the
        # real pass only counts program points
        gname = var[2:]
        if not state.collect:
            env.global_set_passed[gname] = (
                env.global_set_passed.get(gname, 0) + 1
            )
            return
        if rhs is not None and env.global_placeholder_read:
            raise ValueError(
                "a $/ read is compiled before the first $/ "
                "write; write-then-read order is required "
                "(rules/globals.py)"
            )
        if env.globals_order_col is None:
            raise ValueError(
                "script writes $/ globals: compile with "
                "globals_order=<column> (and optionally "
                "globals_worker=) — rules/globals.py"
            )
        from rsyslog_spark.rules.globals import collect_global_stmt

        collect_global_stmt(env, gname, kind, rhs, eff)
        return
    if var.startswith("$!"):
        # r5: writes into the message tree (msgAddJSON) — the flat map
        # gets key 'a!b'; reads resolve it first
        key = var[2:].strip("!")
        tree = env.cee if env.cee is not None else F.col("cee")
        if rhs is None:
            written = F.map_filter(tree, lambda k, _v: k != F.lit(key))
        elif not key:
            raise ValueError("cannot set the whole $! tree")
        else:
            new, tag = _compile(_scalarize(rhs), env)
            written = F.map_concat(  # LAST_WIN dedup = upsert
                F.coalesce(tree, F.create_map().cast("map<string,string>")),
                F.create_map(F.lit(key), _to_str(new, tag)),
            )
        env.cee = F.when(eff, written).otherwise(tree)
        env.tree_written = True
        return
    if not var.startswith("$."):
        raise ValueError(
            f"can only {kind} $. locals or $! tree keys, got {var}"
        )
    if rhs is None:
        old = env.locals.get(var[2:])
        if old is not None:
            env.locals[var[2:]] = (F.when(~eff, old[0]), old[1])
        return
    _rebind(env, var[2:], *_compile(_scalarize(rhs), env), eff)


def _rebind(env: Env, name: str, new: Column, tag: str, eff: Column) -> None:
    """SSA rebinding of local ``name`` to ``new`` on ``eff`` rows; the
    other rows keep the old value. RainerScript variables are untyped,
    so when the type tag changes both sides meet as strings (the
    var2String round-trip) instead of Spark coercing the old value to
    the new type — a string that is no number would fail the query."""
    old = env.locals.get(name)
    if old is None:
        env.locals[name] = (F.when(eff, new), tag)
    elif old[1] == tag:
        env.locals[name] = (F.when(eff, new).otherwise(old[0]), tag)
    else:
        env.locals[name] = (
            F.when(eff, _to_str(new, tag)).otherwise(_to_str(*old)), "S"
        )


def _leaf_stmts(stmts):
    """Yield non-`if` statements of a foreach body, recursing through
    if/else arms."""
    for s in stmts:
        if s[0] == "if":
            yield from _leaf_stmts(s[2])
            if s[3]:
                yield from _leaf_stmts(s[3])
        else:
            yield s


def _foreach_accumulators(body: list, vname: str) -> list[str]:
    """Check a foreach body against the accepted subset and return the
    outer ``$.`` locals it sets (empty for an action body)."""
    names: list[str] = []
    has_action = False
    for s in _leaf_stmts(body):
        if s[0] == "nop":
            continue
        if s[0] == "action":
            if str(s[1].get("type", "")).lower() == "omdiscard":
                raise ValueError(
                    "omdiscard inside foreach: a discard stops the "
                    "message, which no per-element predicate expresses"
                )
            has_action = True
        elif s[0] == "set":
            if not s[1].startswith("$."):
                raise ValueError(
                    f"only $. locals may be set inside foreach, got {s[1]}"
                )
            n = s[1][2:]
            if n == vname or n.startswith(vname + "!"):
                raise ValueError(f"cannot set the loop variable {s[1]}")
            if n not in names:
                names.append(n)
        else:
            raise ValueError(
                f"unsupported statement {s[0]!r} inside foreach"
            )
    if names and has_action:
        raise ValueError(
            "foreach bodies may contain either actions or `set` "
            "statements, not both: a body action observes the "
            "accumulator mid-iteration, which a single fold "
            "cannot express (split the script: fold first, then "
            "a second foreach over the same collection)"
        )
    return names


def _compile_foreach(st, pc: Column, state: _State) -> None:
    """foreach ($.x in expr) do BODY — scriptExec re-runs the body per
    element (ruleset.c:310-401); here :func:`_walk` runs it on a child
    state with the loop variable bound to a lambda variable, so the
    element predicates and values are Column functions of the element.

    Body subset: if / action / nop, or if / set / nop of outer ``$.``
    locals. Anything else raises, mixing actions with sets too (a body
    action would observe the accumulator mid-iteration — a prefix scan,
    O(L^2) as a Column expression), and so does omdiscard, a stop that
    no per-element predicate expresses.

    - Actions fire once per matching ELEMENT. A probe walk names the
      body's actions (so anonymous ones are numbered once); each
      action's ``elem_pred`` re-walks the body for the element it is
      given, and counting uses ``size(filter(arr, elem_pred))`` while
      writing explodes.
    - Sets are the reference's shared-mutable-accumulator pattern
      (``foreach ($.x in $!items) do { set $.sum = $.sum + $.x; }``)
      and compile to ONE ``aggregate()`` fold: the struct carries each
      set local as a string (tag 'S', the var2String round-trip a chain
      of top-level sets makes too; numbers are int64, so lossless),
      bound while the body is walked inside the merge lambda, so later
      sets in one iteration see earlier ones. After the loop each local
      rebinds under pc & live like a top-level set; a NULL collection
      folds zero elements. Each local reads one field of the fold, whose
      expression is copied into every local's CASE (codegen CSE does
      not dedupe CASE-branch copies): keep accumulators few, 1-3.

    OBJECT iteration (callForeachObject, ruleset.c:334-372): when the
    collection compiles map-typed (tag 'M' — the whole ``$!`` tree,
    parse_json(...), …), the reference binds the loop variable to a
    fresh ``{key, value}`` object per entry. Compiled Spark-side as
    ``map_entries(map)`` → array of (key,value) structs, with
    ``$.var!key`` / ``$.var!value`` bound to the struct fields and the
    bare ``$.var`` to its JSON rendering (what a template sees). The
    reference picks array-vs-object per MESSAGE at runtime; a Column
    expression is statically typed, so here the collection's compiled
    type decides — same dispatch, resolved at compile time."""
    _, var, arr_ast, body = st
    env = state.env
    arr_col, coll_tag = _compile(_scalarize(arr_ast), env)
    vname = var[2:]
    if coll_tag == "M":
        arr_col = F.map_entries(arr_col)
    names = _foreach_accumulators(body, vname)

    def walk(elem: Column, acc: Column | None = None):
        """Walk the body once with the loop variable bound to ``elem``
        (and each accumulator to its ``acc`` field); return the child
        state and the accumulators' values after the body. Every bound
        name and ``last_action_pred`` are restored afterwards, so no
        lambda variable leaks into the outer program."""
        if coll_tag == "M":
            binds = {
                vname: (F.to_json(elem), "S"),
                vname + "!key": (elem["key"], "S"),
                vname + "!value": (elem["value"], "S"),
            }
        else:
            binds = {vname: (elem, "S")}
        if acc is not None:
            binds.update({n: (acc[n], "S") for n in names})
        saved = {k: env.locals.get(k) for k in binds}
        saved_pred = env.last_action_pred
        child = state.child()
        env.locals.update(binds)
        try:
            _walk(body, F.lit(True), child)
            return child, [env.locals[n][0].alias(n) for n in names]
        finally:
            env.last_action_pred = saved_pred
            for k, old in saved.items():
                if old is None:
                    env.locals.pop(k, None)
                else:
                    env.locals[k] = old

    eff = pc & state.live
    if names:
        init = F.struct(*[
            (
                _to_str(*env.locals[n]) if n in env.locals
                else F.lit(None).cast("string")
            ).alias(n)
            for n in names
        ])
        folded = F.coalesce(
            F.aggregate(
                arr_col, init, lambda acc, e: F.struct(*walk(e, acc)[1])
            ),
            init,
        )
        for n in names:
            _rebind(env, n, folded[n], "S", eff)
        return

    probe, _ = walk(F.lit(None))
    state.n_anon = probe.n_anon
    for i, a in enumerate(probe.actions):
        def elem_pred(elem: Column, i: int = i) -> Column:
            return walk(elem)[0].actions[i].predicate

        any_match = F.size(F.filter(arr_col, lambda e: elem_pred(e))) > 0
        state.actions.append(
            Action(
                a.sink,
                eff & F.coalesce(any_match, F.lit(False)),
                a.params,
                foreach_arr=arr_col,
                elem_pred=elem_pred,
            )
        )


def compile_routes(
    script: str | list, env: Env | None = None, entry: str | None = None,
    globals_order: str | None = None, globals_worker: str | None = None,
) -> tuple[list[Action], Env]:
    """Compile a RainerScript routing program.

    Top-level ``ruleset(name=...){...}`` blocks are registered; the
    entry point is ``entry`` if given, else a ruleset named "main",
    else the bare top-level statements.

    ``globals_order``/``globals_worker``: required when the script
    writes ``$/`` globals — the total order (and optional worker-store
    shard key) for the window mapping (rules/globals.py). Scripts with
    globals compile in two passes: a collect pass builds each global's
    window spec at its ``set`` site (with path condition, liveness and
    locals all in scope), then the real pass resolves reads against
    those specs by program point.
    """
    stmts = parse_script(script) if isinstance(script, str) else script
    env = env or Env()
    env.globals_order_col = globals_order
    env.globals_worker_col = globals_worker

    def _run_pass(collect: bool) -> _State:
        state = _State(env)
        state.collect = collect
        for s in stmts:
            if s[0] == "ruleset":
                state.rulesets[s[1]] = s[2]
        if entry is not None:
            program = state.rulesets[entry]
            state.walking.add(entry)
        else:
            program = state.rulesets.get("main",
                                         [x for x in stmts
                                          if x[0] != "ruleset"])
            if "main" in state.rulesets:
                state.walking.add("main")
        _walk(program, F.lit(True), state)
        return state

    if _contains_global(stmts):
        _run_pass(collect=True)
        from rsyslog_spark.rules.globals import finalize_globals

        finalize_globals(env)
        # reset per-pass compilation state; keep the compiled globals
        env.globals_final = True
        env.locals.clear()
        env.cee = None
        env.tree_written = False
        env.last_action_pred = None
    state = _run_pass(collect=False)
    return _merge_actions(state.actions), env


def _merge_actions(actions: list[Action]) -> list[Action]:
    """One action per sink name. A sink reached twice (call_indirect
    fan-out, a repeated call, two bound rulesets) with the same params
    becomes one column with OR-merged predicates — "two rulesets
    appending to one file". Differing params must not silently adopt
    the first action's config, and ``foreach`` actions iterate distinct
    arrays: those keep their own disambiguated sink ``<sink>_<n>``."""
    merged: dict[str, Action] = {}
    for a in actions:
        prev = merged.get(a.sink)
        if prev is None:
            merged[a.sink] = a
        elif (
            prev.foreach_arr is None
            and a.foreach_arr is None
            and prev.params == a.params
        ):
            merged[a.sink] = Action(
                a.sink, prev.predicate | a.predicate, prev.params
            )
        else:
            i = 2
            while f"{a.sink}_{i}" in merged:
                i += 1
            merged[f"{a.sink}_{i}"] = Action(
                f"{a.sink}_{i}", a.predicate, a.params,
                a.foreach_arr, a.elem_pred,
            )
    return list(merged.values())


class Router:
    """Applies compiled routes to a DataFrame as boolean columns."""

    def __init__(self, script: str, env: Env | None = None,
                 globals_order: str | None = None,
                 globals_worker: str | None = None):
        self.actions, self.env = compile_routes(
            script, env,
            globals_order=globals_order, globals_worker=globals_worker,
        )

    @property
    def sinks(self) -> list[str]:
        return [a.sink for a in self.actions]

    def apply(self, df: DataFrame, keep_locals: bool = False) -> DataFrame:
        """Add one boolean ``route_<sink>`` column per action — a single
        narrow projection, no shuffle, evaluated in one pass. When the
        script wrote into ``$!`` (set $!k), the ``cee`` column is
        replaced by the rewritten tree (created as an empty map first
        if the input has no tree yet)."""
        if self.env.tree_written and "cee" not in df.columns:
            df = df.withColumn(
                "cee", F.create_map().cast("map<string,string>")
            )
        cols = [
            F.coalesce(a.predicate, F.lit(False)).alias(f"route_{a.sink}")
            for a in self.actions
        ]
        if keep_locals:
            cols += [
                col.alias(f"local_{name}")
                for name, (col, _t) in self.env.locals.items()
            ]
        base = [
            (self.env.cee.alias("cee")
             if c == "cee" and self.env.cee is not None else F.col(c))
            for c in df.columns
        ]
        return df.select(*base, *cols)

    def route_counts(self, df: DataFrame) -> DataFrame:
        """Per-sink routed-row counts in ONE aggregation job (no cache,
        no second scan): sum of predicate ints. foreach actions count
        per matching ELEMENT (size of the filtered array)."""
        routed = self.apply(df)
        aggs = []
        for a in self.actions:
            if a.foreach_arr is not None:
                per_row = F.when(
                    F.col(f"route_{a.sink}"),
                    F.size(F.filter(a.foreach_arr, lambda e: a.elem_pred(e))),
                ).otherwise(F.lit(0))
                aggs.append(F.sum(per_row.cast("long")).alias(a.sink))
            else:
                aggs.append(
                    F.sum(F.col(f"route_{a.sink}").cast("long")).alias(a.sink)
                )
        wide = routed.agg(*aggs)
        # unpivot to (sink, n) rows
        pairs = []
        for a in self.actions:
            pairs += [F.lit(a.sink), F.col(a.sink)]
        return wide.select(
            F.explode(F.create_map(*pairs)).alias("sink", "n")
        )

    def write_sinks(
        self,
        df: DataFrame,
        base_path: str,
        fmt: str = "parquet",
        partition_by: dict[str, list[str]] | None = None,
    ) -> dict[str, str]:
        """Single-pass multi-sink write (SURVEY.md §2.10): materialize
        the routed scan once, then each sink writes its filtered slice.
        ``partition_by`` maps sink → partition columns (the omfile
        dynafile-template ≙ partitionBy analogy, tools/omfile.c:133)."""
        routed = self.apply(df)
        routed.persist()
        try:
            return self.write_routed(routed, base_path, fmt, partition_by)
        finally:
            routed.unpersist()

    def write_routed(
        self,
        routed: DataFrame,
        base_path: str,
        fmt: str = "parquet",
        partition_by: dict[str, list[str]] | None = None,
    ) -> dict[str, str]:
        """Write each sink's :meth:`sink_slice` of an already-routed
        (and, for a single scan, persisted) frame. Returns sink →
        path."""
        out = {}
        for a in self.actions:
            path = f"{base_path}/{a.sink}"
            pb = (partition_by or {}).get(a.sink)
            writer = self.sink_slice(routed, a).write.mode("overwrite")
            if pb:
                writer = writer.partitionBy(*pb)
            writer.format(fmt).save(path)
            out[a.sink] = path
        return out

    def sink_slice(self, routed: DataFrame, a: Action) -> DataFrame:
        """One sink's rows of a routed frame: filter on its route flag,
        drop the flags, and explode a ``foreach`` action to one row per
        matching element (``item``)."""
        w = routed.filter(F.col(f"route_{a.sink}")).drop(
            *[f"route_{x.sink}" for x in self.actions]
        )
        if a.foreach_arr is None:
            return w
        return w.withColumn(
            "item",
            F.explode(F.filter(a.foreach_arr, lambda e: a.elem_pred(e))),
        )


class BoundRouter(Router):
    """Per-input ruleset binding (SURVEY §2.5: each message carries its
    ruleset, ruleset.c:614 / msg.h:104).

    ``bindings`` maps a `source` value to a ruleset name from the
    script; unbound sources run ``default`` (or the bare "main"
    program). Each ruleset's actions are compiled independently and
    gated on `source == value`; actions landing in the same sink from
    different rulesets merge like repeated calls in one ruleset
    (:func:`_merge_actions`): same params OR-merge — matching the
    reference, where two rulesets writing the same file append to it —
    and differing params or ``foreach`` actions keep their own sink.
    """

    def __init__(
        self,
        script: str,
        bindings: dict[str, str],
        default: str | None = None,
        env: Env | None = None,
        source_col: str = "source",
    ):
        from rsyslog_spark.rules.rscript import parse_script as _ps

        stmts = _ps(script)
        base_env = env or Env()
        runs = [(rs, F.col(source_col) == v) for v, rs in bindings.items()]
        if default is not None:
            unbound = ~F.col(source_col).isin(list(bindings)) | F.col(
                source_col
            ).isNull()
            runs.append((default, unbound))
        gated: list[Action] = []
        for rs_name, gate in runs:
            sub_env = Env()
            sub_env.props.update(base_env.props)
            sub_env.lookups = base_env.lookups
            sub_env.templates = base_env.templates
            actions, _ = compile_routes(stmts, sub_env, entry=rs_name)
            gated += [
                Action(a.sink, a.predicate & gate, a.params,
                       a.foreach_arr, a.elem_pred)
                for a in actions
            ]

        self.env = base_env
        self.actions = _merge_actions(gated)
