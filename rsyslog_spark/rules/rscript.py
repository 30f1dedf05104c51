"""RainerScript parser (expression + statement subset).

A from-scratch recursive-descent / Pratt parser for the RainerScript
surface needed by the routing engine. Grammar reference:
grammar/grammar.y (tokens at :100-110, statements at
:205-230) and lexer.l. This is NOT a port of the yacc grammar — just a
small parser for the same language subset:

expressions:
    literals        42, "str", 'str', ["a","b"] arrays
    properties      $msg  $hostname  $!cee!path  $.local  $/global
    operators       and or not  == != <> < <= > >=  + - * / % &(concat)
    string ops      contains contains_i startswith startswith_i endswith
    calls           fn(arg, ...)   incl. prifilt("..."), lookup("t", e)
statements:
    if EXPR then BLOCK (else if EXPR then BLOCK)* (else BLOCK)?
    set $.x = EXPR;   unset $.x;   stop
    action(name="sink" ...)        call rulesetname
    ruleset(name="x") { ... }      (top level)

AST: plain tuples — ("num", v) ("str", v) ("array", [..]) ("var", name)
("call", fn, [args]) ("binop", op, l, r) ("unop", op, x);
statements: ("if", cond, then[], else[]) ("set", var, expr)
("unset", var) ("stop",) ("action", {params}) ("call_rs", name)
("call_ind", expr) ("ruleset", name, stmts[]).
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*|//[^\n]*|/\*.*?\*/)
  | (?P<num>0x[0-9a-fA-F]+|\d+)
  | (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<var>\$(?:[!./])?[A-Za-z0-9_\-!]*)
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op><>|==|!=|<=|>=|<|>|\+|-|\*|/|%|&|\(|\)|\[|\]|\{|\}|,|;|=|\.)
    """,
    re.VERBOSE | re.DOTALL,
)

_KEYWORDS = {
    "and", "or", "not", "if", "then", "else", "set", "unset", "stop",
    "action", "call", "call_indirect", "ruleset", "contains",
    "contains_i", "startswith", "startswith_i", "endswith", "continue",
    "foreach", "do", "template",
}


class Tok:
    __slots__ = ("kind", "val", "pos")

    def __init__(self, kind, val, pos):
        self.kind, self.val, self.pos = kind, val, pos

    def __repr__(self):
        return f"{self.kind}:{self.val!r}"


def _unquote(s: str) -> str:
    body = s[1:-1]
    return re.sub(
        r"\\(.)",
        lambda m: {"n": "\n", "t": "\t", "r": "\r"}.get(m.group(1), m.group(1)),
        body,
    )


def tokenize(src: str) -> list[Tok]:
    toks, i = [], 0
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise SyntaxError(f"bad char {src[i]!r} at {i} in rule script")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        v = m.group(0)
        if kind == "num":
            toks.append(Tok("num", int(v, 0), m.start()))
        elif kind == "str":
            toks.append(Tok("str", _unquote(v), m.start()))
        elif kind == "var":
            toks.append(Tok("var", v, m.start()))
        elif kind == "name":
            toks.append(
                Tok(v if v in _KEYWORDS else "name", v, m.start())
            )
        else:
            toks.append(Tok(v, v, m.start()))
    toks.append(Tok("eof", None, len(src)))
    return toks


class Parser:
    def __init__(self, toks: list[Tok]):
        self.toks, self.i = toks, 0

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind) -> Tok:
        t = self.next()
        if t.kind != kind:
            raise SyntaxError(f"expected {kind}, got {t!r} at {t.pos}")
        return t

    def accept(self, kind) -> Tok | None:
        if self.peek().kind == kind:
            return self.next()
        return None

    # ---- expressions (precedence climbing) ----
    # or < and < not < cmp/strop < +- & < */ % < unary < primary
    def expr(self):
        return self._or()

    def _or(self):
        l = self._and()
        while self.accept("or"):
            l = ("binop", "or", l, self._and())
        return l

    def _and(self):
        l = self._not()
        while self.accept("and"):
            l = ("binop", "and", l, self._not())
        return l

    def _not(self):
        if self.accept("not"):
            return ("unop", "not", self._not())
        return self._cmp()

    _CMP_OPS = {
        "==", "!=", "<>", "<", "<=", ">", ">=",
        "contains", "contains_i", "startswith", "startswith_i", "endswith",
    }

    def _cmp(self):
        l = self._add()
        k = self.peek().kind
        if k in self._CMP_OPS:
            self.next()
            op = "!=" if k == "<>" else k
            return ("binop", op, l, self._add())
        return l

    def _add(self):
        l = self._mul()
        while self.peek().kind in ("+", "-", "&"):
            op = self.next().kind
            l = ("binop", op, l, self._mul())
        return l

    def _mul(self):
        l = self._unary()
        while self.peek().kind in ("*", "/", "%"):
            op = self.next().kind
            l = ("binop", op, l, self._unary())
        return l

    def _unary(self):
        if self.accept("-"):
            return ("unop", "-", self._unary())
        return self._primary()

    def _primary(self):
        t = self.next()
        if t.kind == "num":
            return ("num", t.val)
        if t.kind == "str":
            return ("str", t.val)
        if t.kind == "var":
            return ("var", t.val)
        if t.kind == "(":
            e = self.expr()
            self.expect(")")
            return e
        if t.kind == "[":
            items = []
            if self.peek().kind != "]":
                items.append(self.expr())
                while self.accept(","):
                    items.append(self.expr())
            self.expect("]")
            return ("array", items)
        if t.kind == "name":
            if self.accept("("):
                args = []
                if self.peek().kind != ")":
                    args.append(self.expr())
                    while self.accept(","):
                        args.append(self.expr())
                self.expect(")")
                return ("call", t.val, args)
            return ("str", t.val)  # bareword → string literal
        raise SyntaxError(f"unexpected token {t!r} at {t.pos}")

    # ---- statements ----
    def block(self) -> list:
        if self.accept("{"):
            stmts = []
            while self.peek().kind != "}":
                stmts.append(self.stmt())
            self.expect("}")
            return stmts
        return [self.stmt()]

    def stmt(self):
        t = self.peek()
        if t.kind == "if":
            self.next()
            cond = self.expr()
            self.expect("then")
            then = self.block()
            els = []
            if self.accept("else"):
                if self.peek().kind == "if":
                    els = [self.stmt()]
                else:
                    els = self.block()
            return ("if", cond, then, els)
        if t.kind == "set":
            self.next()
            var = self.expect("var").val
            self.expect("=")
            e = self.expr()
            self.accept(";")
            return ("set", var, e)
        if t.kind == "unset":
            self.next()
            var = self.expect("var").val
            self.accept(";")
            return ("unset", var)
        if t.kind == "stop":
            self.next()
            self.accept(";")
            return ("stop",)
        if t.kind == "continue":
            self.next()
            self.accept(";")
            return ("nop",)
        if t.kind == "call":
            self.next()
            name = self.expect("name").val
            self.accept(";")
            return ("call_rs", name)
        if t.kind == "call_indirect":
            # call_indirect EXPR ;  (grammar.y:198 — the callee name is
            # an expression evaluated per message)
            self.next()
            expr = self.expr()
            self.accept(";")
            return ("call_ind", expr)
        if t.kind == "foreach":
            # foreach ($.x in expr) do { ... }   (ruleset.c:310-401)
            self.next()
            self.expect("(")
            var = self.expect("var").val
            inkw = self.expect("name")
            if inkw.val != "in":
                raise SyntaxError(f"expected 'in', got {inkw!r}")
            arr = self.expr()
            self.expect(")")
            do = self.expect("do")
            del do
            body = self.block()
            return ("foreach", var, arr, body)
        if t.kind == "action":
            self.next()
            self.expect("(")
            params = {}
            while self.peek().kind != ")":
                k = self.next()
                # keywords are valid param names here — action(
                # template="...") is the single most common action
                # param and 'template' is otherwise a statement
                # keyword (code-review r5 fallout)
                if k.kind not in ("name", "str") and k.kind not in _KEYWORDS:
                    raise SyntaxError(f"bad action param {k!r}")
                key = k.val
                # dotted param names like queue.type
                while self.accept("."):  # pragma: no cover (rare)
                    key += "." + self.expect("name").val
                self.expect("=")
                v = self.next()
                if v.kind not in ("str", "num", "name"):
                    raise SyntaxError(f"bad action value {v!r}")
                params[key.lower()] = v.val
            self.expect(")")
            self.accept(";")
            return ("action", params)
        if t.kind == "ruleset":
            self.next()
            self.expect("(")
            k = self.expect("name")
            if k.val != "name":
                raise SyntaxError("ruleset(...) needs name=")
            self.expect("=")
            name = self.expect("str").val
            self.expect(")")
            stmts = self.block()
            return ("ruleset", name, stmts)
        if t.kind == "template":
            # template(name="x" type="string" string="...") /
            # type="list" { constant(...) property(...) } /
            # type="subtree" subtree="$!..."  (grammar.y tpl objects;
            # runtime/template.c:2149 tplProcessCnf)
            self.next()
            params = self._param_list()
            body = []
            if self.peek().kind == "{":
                self.next()
                while self.peek().kind != "}":
                    kw = self.next()
                    if kw.kind != "name" or kw.val not in (
                        "constant", "property"
                    ):
                        raise SyntaxError(
                            f"template block: expected constant()/"
                            f"property(), got {kw!r}"
                        )
                    body.append((kw.val, self._param_list()))
                self.expect("}")
            return ("template", params, body)
        raise SyntaxError(f"unexpected statement start {t!r} at {t.pos}")

    def _param_list(self) -> dict:
        """Parse (k="v" k2=v2 ...) — shared by action/template/entry
        param blocks. Dotted keys (position.from) supported."""
        self.expect("(")
        params = {}
        while self.peek().kind != ")":
            k = self.next()
            if k.kind not in ("name", "str"):
                raise SyntaxError(f"bad param name {k!r}")
            key = k.val
            while self.accept("."):
                key += "." + self.expect("name").val
            self.expect("=")
            v = self.next()
            if v.kind not in ("str", "num", "name", "var"):
                raise SyntaxError(f"bad param value {v!r}")
            params[key.lower()] = v.val
        self.expect(")")
        return params

    def script(self) -> list:
        stmts = []
        while self.peek().kind != "eof":
            stmts.append(self.stmt())
        return stmts


def parse_expr(src: str):
    p = Parser(tokenize(src))
    e = p.expr()
    p.expect("eof")
    return e


def parse_script(src: str) -> list:
    return Parser(tokenize(src)).script()
