"""Safe finalize-formula compiler: HPCtoolkit ``MetricFormula`` -> Spark Columns.

The reference compiles formula strings by regex-substituting ``$N`` and
``eval``-ing a lambda (hpctoolkit_dataframe.py:59-76) — executing
untrusted text.  Here we parse a whitelisted grammar (everything observed
in the fixtures: ``$N``, numeric literals, ``+ - * /``, parentheses,
``pow(a, b)``, ``sqrt(x)`` — e.g. experiment1.xml:245 ``$2``, :250
``$3 / $4``, :260 ``sqrt(($6 / $7) - pow($5 / $7, 2))``) into an AST and
compile it to native Spark Column expressions.  No eval, no UDF.

Complex numbers: the reference imports ``cmath.sqrt`` (:3) so
``sqrt(negative-variance)`` yields complex128 (1784/3454 experiment1
StdDev rows).  Spark has no complex type; we compile every expression to
a (real, imag) pair, where imaginary parts originate at ``sqrt`` of a
negative real and propagate through + - * / correctly.  Callers store
the real part in the metric column and may also materialize the
imaginary part as a companion ``<name> (imag)`` column (FIXTURES.md
comparison rule: reference complex cells are compared by real part).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<metric>\$[0-9]+)|(?P<num>[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"
    r"|(?P<name>[A-Za-z_][A-Za-z_0-9]*)|(?P<op>[-+*/(),]))"
)


@dataclass
class _Tok:
    kind: str
    text: str


def _tokenize(formula: str) -> list[_Tok]:
    tokens: list[_Tok] = []
    pos = 0
    while pos < len(formula):
        if formula[pos:].strip() == "":
            break
        m = _TOKEN_RE.match(formula, pos)
        if m is None or m.end() == pos:
            raise ValueError(f"cannot tokenize formula at {pos}: {formula!r}")
        pos = m.end()
        for kind in ("metric", "num", "name", "op"):
            if m.group(kind) is not None:
                tokens.append(_Tok(kind, m.group(kind)))
                break
    return tokens


# AST: tuples ('metric', N) | ('num', float) | ('call', name, [args]) |
#      ('bin', op, left, right) | ('neg', expr)
class _Parser:
    def __init__(self, tokens: list[_Tok]):
        self.tokens = tokens
        self.pos = 0

    def peek(self) -> _Tok | None:
        return self.tokens[self.pos] if self.pos < len(self.tokens) else None

    def eat(self, text: str | None = None) -> _Tok:
        tok = self.peek()
        if tok is None or (text is not None and tok.text != text):
            raise ValueError(f"unexpected token {tok} (wanted {text})")
        self.pos += 1
        return tok

    def parse(self):
        expr = self.expr()
        if self.peek() is not None:
            raise ValueError(f"trailing tokens: {self.tokens[self.pos:]}")
        return expr

    def expr(self):
        node = self.term()
        while (tok := self.peek()) and tok.text in "+-":
            self.eat()
            node = ("bin", tok.text, node, self.term())
        return node

    def term(self):
        node = self.factor()
        while (tok := self.peek()) and tok.text in "*/":
            self.eat()
            node = ("bin", tok.text, node, self.factor())
        return node

    def factor(self):
        tok = self.peek()
        if tok is None:
            raise ValueError("unexpected end of formula")
        if tok.text == "-":
            self.eat()
            return ("neg", self.factor())
        if tok.kind == "metric":
            self.eat()
            return ("metric", int(tok.text[1:]))
        if tok.kind == "num":
            self.eat()
            return ("num", float(tok.text))
        if tok.kind == "name":
            self.eat()
            if tok.text not in ("pow", "sqrt"):
                raise ValueError(f"function {tok.text!r} not in whitelist")
            self.eat("(")
            args = [self.expr()]
            while self.peek() and self.peek().text == ",":
                self.eat(",")
                args.append(self.expr())
            self.eat(")")
            if tok.text == "sqrt" and len(args) != 1:
                raise ValueError("sqrt takes 1 argument")
            if tok.text == "pow" and len(args) != 2:
                raise ValueError("pow takes 2 arguments")
            return ("call", tok.text, args)
        if tok.text == "(":
            self.eat("(")
            node = self.expr()
            self.eat(")")
            return node
        raise ValueError(f"unexpected token {tok}")


def parse_formula(formula: str):
    return _Parser(_tokenize(formula)).parse()


def referenced_metric_ids(formula: str) -> set[int]:
    return {int(m[1:]) for m in re.findall(r"\$[0-9]+", formula)}


# -- compilation to (real, imag) Column pairs --------------------------------

_Resolver = Callable[[int], Column]


def _compile(node, resolve: _Resolver) -> tuple[Column, Column | None]:
    """Returns (real, imag) where imag None means provably real."""
    kind = node[0]
    if kind == "metric":
        return resolve(node[1]).cast("double"), None
    if kind == "num":
        return F.lit(float(node[1])), None
    if kind == "neg":
        re_, im_ = _compile(node[1], resolve)
        return -re_, (None if im_ is None else -im_)
    if kind == "call":
        name, args = node[1], node[2]
        if name == "sqrt":
            re_, im_ = _compile(args[0], resolve)
            if im_ is not None:
                raise ValueError("sqrt of a complex expression not supported")
            # cmath.sqrt semantics on reals: sqrt(x<0) = i*sqrt(-x).
            # No otherwise(): a NULL input must stay NULL (absent metric),
            # not collapse to the otherwise branch's 0.0
            return (
                F.when(re_ >= 0, F.sqrt(re_)).when(re_ < 0, F.lit(0.0)),
                F.when(re_ < 0, F.sqrt(-re_)).when(re_ >= 0, F.lit(0.0)),
            )
        if name == "pow":
            b_re, b_im = _compile(args[0], resolve)
            e_re, e_im = _compile(args[1], resolve)
            if b_im is not None or e_im is not None:
                raise ValueError("pow over complex expressions not supported")
            if args[1] == ("num", 2.0) or args[1] == ("num", 2):
                # pow(x, 2) compiles to x*x: JVM Math.pow(x, 2.0) is
                # BISTABLE (the C2 JIT intrinsifies it to x*x while the
                # interpreter takes the libm-style path), so the same
                # query could return ULP-different values depending on
                # warm-up.  x*x is the correctly rounded square and is
                # deterministic; it may differ from the reference's
                # C-library pow by ~1 ULP (covered by parity tolerance).
                return b_re * b_re, None
            return F.pow(b_re, e_re), None
        raise AssertionError(name)
    assert kind == "bin", node
    op = node[1]
    l_re, l_im = _compile(node[2], resolve)
    r_re, r_im = _compile(node[3], resolve)
    if l_im is None and r_im is None:
        if op == "+":
            return l_re + r_re, None
        if op == "-":
            return l_re - r_re, None
        if op == "*":
            return l_re * r_re, None
        return F.try_divide(l_re, r_re), None
    zero = F.lit(0.0)
    a, b = l_re, (l_im if l_im is not None else zero)
    c, d = r_re, (r_im if r_im is not None else zero)
    if op == "+":
        return a + c, b + d
    if op == "-":
        return a - c, b - d
    if op == "*":
        return a * c - b * d, a * d + b * c
    denom = c * c + d * d
    return (
        F.try_divide(a * c + b * d, denom),
        F.try_divide(b * c - a * d, denom),
    )


def compile_formula(
    formula: str, resolve: _Resolver
) -> tuple[Column, Column | None]:
    """Compile a finalize formula to a (real, imag-or-None) Column pair.

    ``resolve(metric_id)`` must return the Column holding that metric's
    RAW value — the reference evaluates formulas over the raw metric
    dict, never over already-finalized values (hpctoolkit_dataframe.py:
    218-231: ``formula(self, data)`` reads the unprocessed ``data``).
    """
    return _compile(parse_formula(formula), resolve)


_COMBINE_RE = re.compile(r"\s*(sum|min|max)\s*\(\s*\$([0-9]+)\s*,\s*\$([0-9]+)\s*\)\s*")


def parse_combine_formula(formula: str) -> tuple[str, int]:
    """Parse a ``combine`` MetricFormula like ``sum($2, $2)`` into
    (agg_kind, metric_id).

    The reference parses but ignores combine formulas
    (hpctoolkit_dataframe.py:69-70) — they define how a metric merges
    across profiles (experiment1.xml:244,287,292 use sum/min/max), which
    only matters for the multi-profile capability this engine adds
    (operators.cct.merge_profiles).
    """
    m = _COMBINE_RE.fullmatch(formula)
    if m is None:
        raise ValueError(f"unsupported combine formula: {formula!r}")
    kind, a, b = m.group(1), int(m.group(2)), int(m.group(3))
    if a != b:
        raise ValueError(f"combine formula references two metrics: {formula!r}")
    return kind, a
