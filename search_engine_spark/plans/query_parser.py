"""Boolean query language: lexer + recursive-descent parser + AST.

Clean-room port of the reference grammar
(``cpp_modules/boolean_search/src/query_parser.cpp``; grammar also at
``report/main.tex:741-748``):

    expr    := term (|| term)*
    term    := factor ((&& | implicit-AND) factor)*     # implicit AND between adjacent factors
    factor  := ! factor | primary
    primary := TERM | "phrase"[/N] | ( expr )

Lexer rules (query_parser.cpp:9-138):
* whitespace skipped; ``#`` comments run to end of line
* operators: ``&&``, ``||``, ``!``, ``(``, ``)``
* TERM chars: ASCII alnum, ``-``, ``_``, ``'``, or any byte >= 0x80
  (UTF-8); the term is ASCII-lowercased (``ds_string.to_lower``)
* ``"..."`` phrase; content is split on single spaces and NOT
  lowercased (reference parity — query_parser.cpp:245-247 splits the
  raw quoted content); optional ``/N`` proximity suffix after the
  closing quote
* AST optimizer: idempotence ``A op A -> A`` (query_parser.cpp:299-335;
  its double-negation branch is unreachable and therefore not ported)

Pure driver-side Python — query strings are tiny; no Spark here.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Tuple, Union


class QueryError(ValueError):
    pass


# Deepest query accepted: paren/NOT nesting plus AND/OR chain length.
# The parser, the optimizer and every evaluator recurse over the AST, and
# Python's default recursion limit breaks near 250 paren levels or ~990
# chained operators; real queries stay under 10.
MAX_QUERY_DEPTH = 64


@dataclass(frozen=True)
class Term:
    term: str

    def key(self) -> str:
        return f"T({self.term})"


@dataclass(frozen=True)
class Phrase:
    terms: Tuple[str, ...]
    proximity: Optional[int] = None  # None = exact consecutive phrase

    def key(self) -> str:
        return f"P({' '.join(self.terms)}/{self.proximity})"


@dataclass(frozen=True)
class Not:
    child: "Node"

    def key(self) -> str:
        return f"!({self.child.key()})"


@dataclass(frozen=True)
class And:
    left: "Node"
    right: "Node"

    def key(self) -> str:
        return f"AND({self.left.key()},{self.right.key()})"


@dataclass(frozen=True)
class Or:
    left: "Node"
    right: "Node"

    def key(self) -> str:
        return f"OR({self.left.key()},{self.right.key()})"


Node = Union[Term, Phrase, Not, And, Or]

_ASCII_LOWER = str.maketrans(
    {chr(c): chr(c + 32) for c in range(0x41, 0x5B)}
)


def ascii_lower(s: str) -> str:
    """ASCII-only lowercase (ds_string.h:395-406): Cyrillic unchanged."""
    return s.translate(_ASCII_LOWER)


def _is_term_char(c: str) -> bool:
    o = ord(c)
    return (
        (48 <= o <= 57) or (65 <= o <= 90) or (97 <= o <= 122)
        or c in "-_'"
        or o >= 128
    )


# token kinds
_AND, _OR, _NOT, _LP, _RP, _QUOTE, _TERM, _PROX, _END = range(9)


def _lex(query: str) -> List[Tuple[int, str]]:
    toks: List[Tuple[int, str]] = []
    i, n = 0, len(query)
    while i < n:
        c = query[i]
        if c.isspace():
            i += 1
            continue
        if c == "#":
            while i < n and query[i] != "\n":
                i += 1
            continue
        if c == "&" and i + 1 < n and query[i + 1] == "&":
            toks.append((_AND, "&&"))
            i += 2
            continue
        if c == "|" and i + 1 < n and query[i + 1] == "|":
            toks.append((_OR, "||"))
            i += 2
            continue
        if c == "!":
            toks.append((_NOT, "!"))
            i += 1
            continue
        if c == "(":
            toks.append((_LP, "("))
            i += 1
            continue
        if c == ")":
            toks.append((_RP, ")"))
            i += 1
            continue
        if c == '"':
            toks.append((_QUOTE, '"'))
            i += 1
            j = i
            while j < n and query[j] != '"':
                j += 1
            if j >= n:
                raise QueryError(f"Unclosed quote at {i}")
            toks.append((_TERM, query[i:j]))  # raw content, not lowercased
            toks.append((_QUOTE, '"'))
            i = j + 1
            # optional /N proximity after whitespace
            k = i
            while k < n and query[k].isspace():
                k += 1
            if k < n and query[k] == "/":
                k += 1
                d = k
                while d < n and query[d].isdigit():
                    d += 1
                if d == k:
                    raise QueryError(f"Invalid proximity operator at {k}")
                toks.append((_PROX, query[k:d]))
                i = d
            continue
        o = ord(c)
        if c.isascii() and (c.isalnum()) or o >= 128:
            j = i
            while j < n and _is_term_char(query[j]):
                j += 1
            toks.append((_TERM, ascii_lower(query[i:j])))
            i = j
            continue
        raise QueryError(f"Unknown character in query at {i}: {c!r}")
    toks.append((_END, ""))
    return toks


class _Parser:
    """Each rule takes ``nest``, its paren/NOT nesting, and returns
    ``(node, depth)``, the node's AST height; ``nest + depth`` is bounded
    by ``MAX_QUERY_DEPTH``."""

    def __init__(self, toks: List[Tuple[int, str]]):
        self.toks = toks
        self.pos = 0

    def peek(self) -> int:
        return self.toks[self.pos][0]

    def advance(self) -> Tuple[int, str]:
        t = self.toks[self.pos]
        self.pos += 1
        return t

    @staticmethod
    def bound(nest: int, depth: int) -> int:
        if nest + depth > MAX_QUERY_DEPTH:
            raise QueryError(
                f"Query nests deeper than {MAX_QUERY_DEPTH} levels"
            )
        return depth

    def expression(self, nest: int) -> Tuple[Node, int]:
        left, d = self.term(nest)
        while self.peek() == _OR:
            self.advance()
            right, rd = self.term(nest)
            left, d = Or(left, right), self.bound(nest, 1 + max(d, rd))
        return left, d

    def term(self, nest: int) -> Tuple[Node, int]:
        left, d = self.factor(nest)
        while True:
            k = self.peek()
            if k == _AND:
                self.advance()
            elif k in (_RP, _OR, _END):
                break
            # implicit AND: fall through without consuming
            right, rd = self.factor(nest)
            left, d = And(left, right), self.bound(nest, 1 + max(d, rd))
        return left, d

    def factor(self, nest: int) -> Tuple[Node, int]:
        self.bound(nest, 1)  # before recursing: a leaf is 1 deep
        if self.peek() == _NOT:
            self.advance()
            child, d = self.factor(nest + 1)
            return Not(child), d + 1
        return self.primary(nest)

    def primary(self, nest: int) -> Tuple[Node, int]:
        k, v = self.advance()
        if k == _LP:
            e = self.expression(nest + 1)
            if self.peek() != _RP:
                raise QueryError("Expected ')'")
            self.advance()
            return e
        if k == _QUOTE:
            pk, pv = self.advance()
            if pk != _TERM:
                raise QueryError("Expected phrase content")
            qk, _ = self.advance()
            if qk != _QUOTE:
                raise QueryError("Expected closing quote")
            terms = tuple(t for t in pv.split(" ") if t)
            if self.peek() == _PROX:
                _, dist = self.advance()
                return Phrase(terms, int(dist)), 1
            return Phrase(terms), 1
        if k == _TERM:
            return Term(v), 1
        raise QueryError("Expected term, phrase, or '('")


def optimize(node: Node) -> Node:
    """Idempotence: A op A -> A (reference AST optimizer)."""
    if isinstance(node, (And, Or)):
        left = optimize(node.left)
        right = optimize(node.right)
        if left.key() == right.key():
            return left
        return type(node)(left, right)
    if isinstance(node, Not):
        return Not(optimize(node.child))
    return node


def parse(query: str) -> Optional[Node]:
    toks = _lex(query)
    if len(toks) == 1:  # only END → empty query
        return None
    p = _Parser(toks)
    root, _ = p.expression(0)
    if p.peek() != _END:
        raise QueryError("Unexpected token")
    return optimize(root)


def validate(query: str) -> bool:
    try:
        return parse(query) is not None
    except QueryError:
        return False


def extract_terms(node: Optional[Node]) -> List[str]:
    """Unique positive terms in AST order (Q4)."""
    out: List[str] = []
    seen = set()

    def walk(n: Node) -> None:
        if isinstance(n, Term):
            if n.term not in seen:
                seen.add(n.term)
                out.append(n.term)
        elif isinstance(n, Phrase):
            for t in n.terms:
                if t not in seen:
                    seen.add(t)
                    out.append(t)
        elif isinstance(n, Not):
            walk(n.child)
        else:
            walk(n.left)
            walk(n.right)

    if node is not None:
        walk(node)
    return out


def complexity(node: Optional[Node]) -> int:
    """Operator count (Q4)."""
    if node is None:
        return 0
    if isinstance(node, (Term, Phrase)):
        return 0
    if isinstance(node, Not):
        return 1 + complexity(node.child)
    return 1 + complexity(node.left) + complexity(node.right)
