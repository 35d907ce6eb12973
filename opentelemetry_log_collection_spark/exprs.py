"""Expression-language subset -> Spark SQL text, compiled at plan time.

The reference embeds the antonmedv/expr language for `if` predicates,
router routes, filter and recombine boundaries, and `EXPR(...)` string
templates (operator/helper/expr_string.go:39-151, docs/types/
expression.md). The environment exposes ``body`` (alias ``$``),
``attributes``, ``resource``, ``timestamp``, ``severity`` plus an
``env()`` function.

Instead of evaluating per entry the way the reference does
(operator/helper/transformer.go:66-72 compiles then runs per row), we
*translate* the expression once into Spark SQL text, which the caller
applies with one ``F.expr``: the predicate participates in
pushdown/codegen, costs nothing in Python at runtime, and costs three
py4j round trips to build however large it is.

Supported subset (everything the reference's own tests/fixtures use):
literals (string/number/bool/nil), field paths with dot or bracket
syntax, ``== != < <= > >=``, ``and or not ! && ||``, infix
``startsWith endsWith contains matches``, ``+`` (concat/add),
``in`` over list literals, parentheses, ``env("NAME")``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from .fields import Field, literal, quote

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<str>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
      | (?P<num>\d+\.\d+|\d+)
      | (?P<op>==|!=|<=|>=|&&|\|\||[()<>+,\[\]!])
      | (?P<word>[A-Za-z_$][A-Za-z0-9_$.]*)
    )""",
    re.VERBOSE,
)

_INFIX_WORDS = {"startsWith", "endsWith", "contains", "matches", "in"}


class ExprError(ValueError):
    pass


#: regex metacharacters that make a pattern more than a literal
_REGEX_META = set(".^$*+?()[]{}|\\")


def _regex_prefix_literal(pat: str) -> str | None:
    """The literal prefix P when ``pat`` is exactly ``^<literal>``
    (escapes of metacharacters allowed, e.g. ``^10\\.`` -> ``10.``);
    None when the pattern uses any real regex construct. Used to fold
    ``matches`` guards into ``startswith``."""
    if not pat.startswith("^"):
        return None
    out: list[str] = []
    i = 1
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            if i + 1 >= len(pat):
                return None
            nxt = pat[i + 1]
            # \d \w \s \b etc. are classes/anchors, not escapes
            if nxt.isalnum():
                return None
            out.append(nxt)
            i += 2
            continue
        if c in _REGEX_META:
            return None
        out.append(c)
        i += 1
    return "".join(out)


def _tokenize(s: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m or m.end() == pos:
            if s[pos:].strip() == "":
                break
            raise ExprError(f"cannot tokenize {s!r} at {pos}")
        pos = m.end()
        kind = m.lastgroup
        toks.append((kind, m.group(kind)))
    return toks


@dataclass
class _Val:
    """A translated operand: its Spark SQL text plus enough type info
    to pick sensible comparison casts (map values are strings)."""

    sql: str
    kind: str  # 'str' | 'num' | 'bool' | 'nil' | 'field' | 'list'
    items: list | None = None  # for list literals
    lit: str | None = None  # python value for string literals


def _str(sql: str) -> str:
    return f"CAST({sql} AS STRING)"


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        t = self.peek()
        if t is None:
            raise ExprError("unexpected end of expression")
        self.i += 1
        return t

    def expect(self, val: str) -> None:
        t = self.next()
        if t[1] != val:
            raise ExprError(f"expected {val!r}, got {t[1]!r}")

    # or_expr := and_expr (('or'|'||') and_expr)*
    def parse_or(self) -> _Val:
        left = self.parse_and()
        while (t := self.peek()) and t[1] in ("or", "||"):
            self.next()
            right = self.parse_and()
            left = _Val(f"({_as_bool(left)} OR {_as_bool(right)})", "bool")
        return left

    def parse_and(self) -> _Val:
        left = self.parse_not()
        while (t := self.peek()) and t[1] in ("and", "&&"):
            self.next()
            right = self.parse_not()
            left = _Val(f"({_as_bool(left)} AND {_as_bool(right)})", "bool")
        return left

    def parse_not(self) -> _Val:
        t = self.peek()
        if t and t[1] in ("not", "!"):
            self.next()
            inner = self.parse_not()
            return _Val(f"(NOT {_as_bool(inner)})", "bool")
        return self.parse_cmp()

    def parse_cmp(self) -> _Val:
        left = self.parse_sum()
        t = self.peek()
        if not t:
            return left
        op = t[1]
        if op in ("==", "!=", "<", "<=", ">", ">="):
            self.next()
            right = self.parse_sum()
            return _Val(_compare(op, left, right), "bool")
        if t[0] == "word" and op in _INFIX_WORDS:
            self.next()
            right = self.parse_sum()
            lc = _str(left.sql)
            if op in ("startsWith", "endsWith", "contains"):
                return _Val(f"{op.lower()}({lc}, {right.sql})", "bool")
            if op == "matches":
                if right.lit is None:
                    raise ExprError("matches requires a string literal pattern")
                # ^-anchored pure-literal patterns fold to startswith:
                # Java regex without MULTILINE anchors ^ at input start
                # only, so `matches "^10\\."` IS a prefix test — and a
                # codegen startswith costs a fraction of the regex
                # machinery the guard otherwise runs on every row
                # (the flagship evaluates several such guards per row)
                prefix = _regex_prefix_literal(right.lit)
                if prefix is not None:
                    return _Val(f"startswith({lc}, {quote(prefix)})", "bool")
                return _Val(f"({lc} RLIKE {right.sql})", "bool")
            if op == "in":
                if right.items is None:
                    raise ExprError("'in' requires a list literal")
                if not right.items:
                    # what Catalyst folds an empty IN list to
                    return _Val("false", "bool")
                items = ", ".join(literal(i) for i in right.items)
                return _Val(f"({left.sql} IN ({items}))", "bool")
        return left

    def parse_sum(self) -> _Val:
        left = self.parse_primary()
        while (t := self.peek()) and t[1] == "+":
            self.next()
            right = self.parse_primary()
            if left.kind == "num" and right.kind == "num":
                left = _Val(f"({left.sql} + {right.sql})", "num")
            else:
                left = _Val(f"concat({_str(left.sql)}, {_str(right.sql)})", "str")
        return left

    def parse_primary(self) -> _Val:
        kind, v = self.next()
        if kind == "str":
            s = _unquote(v)
            return _Val(quote(s), "str", lit=s)
        if kind == "num":
            return _Val(literal(_number(v)), "num")
        if v == "(":
            inner = self.parse_or()
            self.expect(")")
            return inner
        if v == "[":
            items = []
            while True:
                t = self.peek()
                if t and t[1] == "]":
                    self.next()
                    break
                item = self.next()
                if item[0] == "str":
                    items.append(_unquote(item[1]))
                elif item[0] == "num":
                    items.append(_number(item[1]))
                else:
                    raise ExprError("only literal lists supported")
                t = self.peek()
                if t and t[1] == ",":
                    self.next()
            return _Val("NULL", "list", items)
        if kind == "word":
            if v in ("true", "false"):
                return _Val(v, "bool")
            if v == "nil":
                return _Val("NULL", "nil")
            if v == "env":
                # env("NAME") snapshots the driver environment when
                # the stage plan is BUILT — and stages compile their
                # expressions inside apply()/transform(), so every
                # pipeline run re-reads the variable. The reference
                # reads it per rendered entry (expr_string.go:133-151);
                # in a batch plan all entries of one run share one
                # render epoch, so per-run == per-render. Within a
                # single action the value is constant by design.
                self.expect("(")
                name_t = self.next()
                self.expect(")")
                return _Val(quote(os.environ.get(_unquote(name_t[1]), "")), "str")
            return self._field(v)
        raise ExprError(f"unexpected token {v!r}")

    def _field(self, word: str) -> _Val:
        if word == "$":
            word = "body"
        # bracket continuation: attributes["k8s.pod.name"]
        path = word
        while (t := self.peek()) and t[1] == "[":
            self.next()
            key_t = self.next()
            self.expect("]")
            path += f"[{key_t[1]}]"
        return _Val(Field.parse(path).sql(), "field")


def _number(v: str) -> int | float:
    return float(v) if "." in v else int(v)


def _unquote(s: str) -> str:
    body = s[1:-1]
    return body.replace('\\"', '"').replace("\\'", "'").replace("\\\\", "\\")


def _as_bool(v: _Val) -> str:
    if v.kind == "field":
        # truthiness of a string field: non-null and not "" / "false"
        c = _str(v.sql)
        return f"({c} IS NOT NULL AND {c} != '' AND lower({c}) != 'false')"
    return f"CAST({v.sql} AS BOOLEAN)"


def _compare(op: str, left: _Val, right: _Val) -> str:
    lc, rc = left.sql, right.sql
    # nil comparisons -> null checks (expr-lang semantics)
    if right.kind == "nil":
        return f"({lc} IS {'' if op == '==' else 'NOT '}NULL)"
    if left.kind == "nil":
        return f"({rc} IS {'' if op == '==' else 'NOT '}NULL)"
    # map values are strings; comparing against a numeric literal
    # compares numerically like expr-lang does on parsed numbers
    if left.kind == "field" and right.kind == "num":
        lc = f"TRY_CAST({lc} AS DOUBLE)"
    if right.kind == "field" and left.kind == "num":
        rc = f"TRY_CAST({rc} AS DOUBLE)"
    return f"({lc} {'=' if op == '==' else op} {rc})"


def _parse(expression: str) -> _Val:
    p = _Parser(_tokenize(expression))
    out = p.parse_or()
    if p.peek() is not None:
        raise ExprError(f"trailing tokens in {expression!r}")
    return out


def compile_expr(expression: str) -> str:
    """Compile an expr-language expression to Spark SQL text."""
    return _parse(expression).sql


def compile_bool(expression: str) -> str:
    """Compile to boolean Spark SQL text (expr.AsBool semantics:
    operator/helper/transformer.go:66-72)."""
    return _as_bool(_parse(expression))


def compile_guard(expression: str) -> str:
    """``compile_bool`` with a null result counted as false — the form
    `if` guards, routes, filters and recombine boundaries apply."""
    return f"coalesce({compile_bool(expression)}, false)"


def _find_expr_spans(template: str) -> list[tuple[int, int, str]]:
    """Locate EXPR(...) spans with balanced parens, quote-aware —
    the same scan expr_string.go:39-104 does."""
    spans = []
    i = 0
    while (start := template.find("EXPR(", i)) >= 0:
        depth, j = 1, start + 5
        quote = None
        while j < len(template) and depth:
            c = template[j]
            if quote:
                if c == "\\":
                    j += 1
                elif c == quote:
                    quote = None
            elif c in "\"'":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            j += 1
        if depth:
            raise ExprError(f"unbalanced EXPR() in {template!r}")
        spans.append((start, j, template[start + 5 : j - 1]))
        i = j
    return spans


def compile_template(template: str) -> str:
    """``"literal EXPR( ... ) literal"`` -> Spark SQL ``concat`` text
    (operator/helper/expr_string.go:39-104)."""
    parts: list[str] = []
    pos = 0
    for start, end, inner in _find_expr_spans(template):
        if start > pos:
            parts.append(quote(template[pos:start]))
        parts.append(_str(compile_expr(inner)))
        pos = end
    if pos < len(template):
        parts.append(quote(template[pos:]))
    if not parts:
        return "''"
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})"
