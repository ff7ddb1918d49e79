"""Mapnik filter-expression compiler: one AST, three renderers.

Mapnik styles select which features a `mapnik-vector-tile` processor
encodes via filter expressions — `[population] > 1000 and
[name].match('San.*')` (reference parity: mapnik's
``expressions_grammar``; the processor applies the style's filter
before clipping/encoding, SURVEY §2 P-family).  This module makes that
language a first-class, Catalyst-native predicate source:

    parse(src)                 -> AST (nested tuples)
    to_sql(ast, engine)        -> SQL string for "spark" or "duckdb"
    predicate_sql(src, engine) -> non-null BOOLEAN SQL (filter-ready)
    feature_filter(df, src)    -> df.where(compiled predicate)
    evaluate(ast, row)         -> pure-Python spec evaluator (tests)

Grammar (mapnik precedence, C-like):

    or      := and  (('or'  | '||') and)*
    and     := not  (('and' | '&&') not)*
    not     := ('not' | '!') not | cmp
    cmp     := add (CMPOP add)?          -- non-associative, as mapnik
    add     := mul (('+' | '-') mul)*
    mul     := unary (('*' | '/' | '%') unary)*
    unary   := '-' unary | postfix
    postfix := primary ('.match' '(' STRING ')')*
    primary := '[' attr ']' | NUMBER | STRING | true | false | null
             | '(' or ')'
    CMPOP   := '=' | 'eq' | 'is' | '!=' | '<>' | 'neq'
             | '>=' | 'ge' | '>' | 'gt' | '<=' | 'le' | '<' | 'lt'

Semantics (the compiled contract — deliberately pinned where mapnik's
C++ variant rules and SQL disagree, so both engines and the Python
evaluator agree bit-exactly):

* ``[attr] = null`` / ``!= null`` are the mapnik null tests and render
  as null-SAFE equality (Spark ``<=>``, DuckDB ``IS NOT DISTINCT
  FROM``), which is exactly mapnik's ``value_null`` equality: null =
  null is TRUE, null = anything-else is FALSE — never SQL's NULL.
* ordered comparisons with a null operand are FALSE (mapnik returns
  false, SQL would return NULL): rendered ``COALESCE(cmp, FALSE)``.
* logical and/or/not coerce null to FALSE (mapnik's to-bool on
  value_null), so ``not [a] = 5`` is TRUE for a missing attribute in
  all three implementations.
* arithmetic follows SQL numeric rules: ``/`` is true division (DOUBLE
  in both engines), ``%`` is remainder with the dividend's sign.
  Mapnik's C++ int/int division is NOT reproduced — this narrowing is
  chosen (and documented) because the SQL rule is the one both
  engines share natively; string '+' concatenation is likewise out of
  scope (attributes here are typed columns, not variants).
* ``.match(...)`` is mapnik's FULL-string regex match
  (``boost::regex_match``): Spark ``RLIKE '^(?:p)$'``, DuckDB
  ``regexp_full_match``; patterns must stay on the Java/RE2 common
  subset (same contract as the PII rules).

No UDF anywhere: the compiled predicate is a single Catalyst
expression, so the filter participates in pushdown/codegen like any
hand-written Column.
"""

from __future__ import annotations

import re

from mapnik_vector_tile_spark.plans.shared_sql import flit

# ---------------------------------------------------------------- lexer

_TOKEN_RE = re.compile(
    r"""
    \s*(?:
        (?P<attr>\[[^\]\n]+\])
      | (?P<float>(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)
      | (?P<int>\d+)
      | (?P<str>'(?:[^'\\]|\\.|'')*')
      | (?P<match>\.match\b)
      | (?P<op>!=|<>|>=|<=|&&|\|\||[=><+\-*/%()!])
      | (?P<word>[A-Za-z_][A-Za-z_0-9]*)
    )
    """,
    re.VERBOSE,
)

_WORD_OPS = {
    "eq": "=", "is": "=", "neq": "!=",
    "gt": ">", "ge": ">=", "lt": "<", "le": "<=",
}
_CMP_OPS = {"=", "!=", "<>", ">", ">=", "<", "<="}


def _lex(src: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if m is None:
            rest = src[pos:].strip()
            if not rest:
                break
            raise ValueError(f"mvtexpr: cannot tokenize at {rest[:20]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group(kind)
        if kind == "word":
            w = text.lower()
            if w in _WORD_OPS:
                toks.append(("op", _WORD_OPS[w]))
            elif w in ("and", "or", "not", "true", "false", "null"):
                toks.append((w, w))
            else:
                raise ValueError(f"mvtexpr: unknown keyword {text!r}")
        elif kind == "op":
            toks.append(("op", {"&&": "and", "||": "or"}.get(text, text)))
            if text == "&&":
                toks[-1] = ("and", "and")
            elif text == "||":
                toks[-1] = ("or", "or")
            elif text == "!":
                toks[-1] = ("not", "not")
        else:
            toks.append((kind, text))
    toks.append(("eof", ""))
    return toks


# --------------------------------------------------------------- parser
#
# AST: ('attr', name) ('int', v) ('float', v) ('str', s) ('bool', b)
#      ('null',) ('bin', op, l, r) ('not', e) ('neg', e)
#      ('match', e, pattern)


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, text: str | None = None) -> str:
        k, t = self.next()
        if k != kind or (text is not None and t != text):
            raise ValueError(f"mvtexpr: expected {text or kind}, got {t!r}")
        return t

    def parse(self):
        e = self.or_()
        if self.peek()[0] != "eof":
            raise ValueError(
                f"mvtexpr: trailing input at {self.peek()[1]!r}"
            )
        return e

    def or_(self):
        e = self.and_()
        while self.peek()[0] == "or":
            self.next()
            e = ("bin", "or", e, self.and_())
        return e

    def and_(self):
        e = self.not_()
        while self.peek()[0] == "and":
            self.next()
            e = ("bin", "and", e, self.not_())
        return e

    def not_(self):
        if self.peek()[0] == "not":
            self.next()
            return ("not", self.not_())
        return self.cmp()

    def cmp(self):
        e = self.add()
        k, t = self.peek()
        if k == "op" and t in _CMP_OPS:
            self.next()
            op = "!=" if t == "<>" else t
            return ("bin", op, e, self.add())
        return e

    def add(self):
        e = self.mul()
        while self.peek() == ("op", "+") or self.peek() == ("op", "-"):
            _, t = self.next()
            e = ("bin", t, e, self.mul())
        return e

    def mul(self):
        e = self.unary()
        while self.peek()[0] == "op" and self.peek()[1] in ("*", "/", "%"):
            _, t = self.next()
            e = ("bin", t, e, self.unary())
        return e

    def unary(self):
        if self.peek() == ("op", "-"):
            self.next()
            return ("neg", self.unary())
        return self.postfix()

    def postfix(self):
        e = self.primary()
        while self.peek()[0] == "match":
            self.next()
            self.expect("op", "(")
            k, t = self.next()
            if k != "str":
                raise ValueError("mvtexpr: .match() needs a string literal")
            self.expect("op", ")")
            e = ("match", e, _unquote(t))
        return e

    def primary(self):
        k, t = self.next()
        if k == "attr":
            return ("attr", t[1:-1])
        if k == "int":
            return ("int", int(t))
        if k == "float":
            return ("float", float(t))
        if k == "str":
            return ("str", _unquote(t))
        if k == "true":
            return ("bool", True)
        if k == "false":
            return ("bool", False)
        if k == "null":
            return ("null",)
        if (k, t) == ("op", "("):
            e = self.or_()
            self.expect("op", ")")
            return e
        raise ValueError(f"mvtexpr: unexpected token {t!r}")


def _unquote(s: str) -> str:
    body = s[1:-1]
    # backslash escapes (mapnik) and doubled quotes (SQL style) both
    return re.sub(
        r"\\(.)|''", lambda m: m.group(1) if m.group(1) else "'", body
    )


def parse(src: str):
    """Parse a mapnik filter expression into the tuple AST."""
    return _Parser(_lex(src)).parse()


# ------------------------------------------------------------- renderer


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _ident(name: str, engine: str) -> str:
    if engine == "spark":
        return "`" + name.replace("`", "``") + "`"
    return '"' + name.replace('"', '""') + '"'


def _boolize(sql: str, ast, engine: str) -> str:
    """Mapnik's to-bool: null coerces to FALSE.  Comparisons below are
    already rendered non-null, so only bare attributes (a boolean
    column used directly as a predicate) need the COALESCE."""
    if ast[0] in ("attr",):
        return f"COALESCE({sql}, FALSE)"
    return sql


def to_sql(ast, engine: str, colmap: dict[str, str] | None = None) -> str:
    """Render the AST for ``engine`` in {'spark','duckdb'}.  ``colmap``
    maps attribute names to SQL column expressions (default: the
    attribute name as a quoted identifier)."""
    if engine not in ("spark", "duckdb"):
        raise ValueError(f"mvtexpr: unknown engine {engine!r}")
    return _render(ast, engine, colmap or {})


def _render(ast, engine: str, colmap: dict[str, str]) -> str:
    kind = ast[0]
    if kind == "attr":
        return colmap.get(ast[1], _ident(ast[1], engine))
    if kind == "int":
        return str(ast[1])
    if kind == "float":
        return flit(ast[1])
    if kind == "str":
        return _sql_str(ast[1])
    if kind == "bool":
        return "TRUE" if ast[1] else "FALSE"
    if kind == "null":
        return "NULL"
    if kind == "neg":
        return f"(- {_render(ast[1], engine, colmap)})"
    if kind == "not":
        inner = _render(ast[1], engine, colmap)
        inner = _boolize(inner, ast[1], engine)
        return f"(NOT {inner})"
    if kind == "match":
        # mapnik: null.match(...) is FALSE; SQL regex on NULL is NULL —
        # coalesce so 'not [a].match(..)' is TRUE for missing values
        tgt = _render(ast[1], engine, colmap)
        pat = ast[2]
        if engine == "spark":
            m = f"({tgt} RLIKE {_sql_str('^(?:' + pat + ')$')})"
        else:
            m = f"regexp_full_match({tgt}, {_sql_str(pat)})"
        return f"COALESCE({m}, FALSE)"
    if kind == "bin":
        op, l, r = ast[1], ast[2], ast[3]
        ls = _render(l, engine, colmap)
        rs = _render(r, engine, colmap)
        if op in ("and", "or"):
            ls = _boolize(ls, l, engine)
            rs = _boolize(rs, r, engine)
            return f"({ls} {op.upper()} {rs})"
        if op in ("=", "!="):
            # mapnik value_null equality — null-safe in both engines
            if engine == "spark":
                eq = f"({ls} <=> {rs})"
            else:
                eq = f"({ls} IS NOT DISTINCT FROM {rs})"
            return eq if op == "=" else f"(NOT {eq})"
        if op in (">", ">=", "<", "<="):
            # mapnik: ordered compare with null is false, not NULL.
            # Rendered as null-rejecting conjuncts instead of
            # COALESCE(cmp, FALSE): identical three-valued result
            # (NULL AND FALSE = FALSE), but Catalyst can push
            # IsNotNull + the comparison into the parquet scan,
            # which COALESCE blocks (pinned in tests).
            return (
                f"(({ls} {op} {rs}) AND ({ls}) IS NOT NULL "
                f"AND ({rs}) IS NOT NULL)"
            )
        if op in ("+", "-", "*", "/", "%"):
            return f"({ls} {op} {rs})"
    raise ValueError(f"mvtexpr: cannot render node {ast!r}")


def predicate_sql(src: str, engine: str,
                  colmap: dict[str, str] | None = None) -> str:
    """Compile ``src`` to a non-null BOOLEAN SQL expression (the WHERE
    / keep-column form: a bare attribute or null-valued top level
    coerces to FALSE, mapnik's to-bool)."""
    ast = parse(src)
    sql = to_sql(ast, engine, colmap)
    return _boolize(sql, ast, engine)


def feature_filter(df, src: str, colmap: dict[str, str] | None = None):
    """``df.where(...)`` with the compiled predicate — one Catalyst
    expression, pushdown/codegen-eligible, no UDF."""
    from pyspark.sql import functions as F

    return df.where(F.expr(predicate_sql(src, "spark", colmap)))


# ------------------------------------------------- pure-Python evaluator


def evaluate(ast, row: dict):
    """Spec evaluator for tests: the third implementation of the same
    pinned semantics (SQL arithmetic + mapnik null logic).  Returns a
    Python value; top-level boolean use should wrap with
    ``bool(evaluate(...) or False)`` like _boolize does."""
    kind = ast[0]
    if kind == "attr":
        return row.get(ast[1])
    if kind in ("int", "float", "str", "bool"):
        return ast[1]
    if kind == "null":
        return None
    if kind == "neg":
        v = evaluate(ast[1], row)
        return None if v is None else -v
    if kind == "not":
        v = evaluate(ast[1], row)
        return not bool(v)  # null -> False -> True
    if kind == "match":
        v = evaluate(ast[1], row)
        if v is None:
            return False
        return re.fullmatch(ast[2], str(v)) is not None
    if kind == "bin":
        op, l, r = ast[1], ast[2], ast[3]
        if op == "and":
            return bool(evaluate(l, row)) and bool(evaluate(r, row))
        if op == "or":
            return bool(evaluate(l, row)) or bool(evaluate(r, row))
        lv = evaluate(l, row)
        rv = evaluate(r, row)
        if op == "=":
            return lv == rv if (lv is not None and rv is not None) \
                else (lv is None and rv is None)
        if op == "!=":
            return not (lv == rv if (lv is not None and rv is not None)
                        else (lv is None and rv is None))
        if op in (">", ">=", "<", "<="):
            if lv is None or rv is None:
                return False
            return {"<": lv < rv, "<=": lv <= rv,
                    ">": lv > rv, ">=": lv >= rv}[op]
        if lv is None or rv is None:
            return None
        if op == "+":
            return lv + rv
        if op == "-":
            return lv - rv
        if op == "*":
            return lv * rv
        if op == "/":
            return lv / rv  # SQL true division (see module doc)
        if op == "%":
            # remainder with the dividend's sign (Spark/DuckDB rule)
            m = abs(lv) % abs(rv)
            return -m if lv < 0 else m
    raise ValueError(f"mvtexpr: cannot evaluate node {ast!r}")
