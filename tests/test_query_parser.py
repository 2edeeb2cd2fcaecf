"""Query grammar tests (query_parser.cpp parity)."""

import pytest

from search_engine_spark.plans.query_parser import (
    MAX_QUERY_DEPTH, And, Not, Or, Phrase, QueryError, Term, complexity,
    extract_terms, parse, validate,
)


def test_single_term_lowered_ascii_only():
    assert parse("Hello") == Term("hello")
    assert parse("Привет") == Term("Привет")  # ASCII-only fold


def test_explicit_operators():
    assert parse("a && b") == And(Term("a"), Term("b"))
    assert parse("a || b") == Or(Term("a"), Term("b"))
    assert parse("!a b") == And(Not(Term("a")), Term("b"))


def test_implicit_and():
    assert parse("кошки собаки") == And(Term("кошки"), Term("собаки"))


def test_precedence_and_parens():
    # OR lowest, AND middle, NOT highest
    assert parse("a || b c") == Or(Term("a"), And(Term("b"), Term("c")))
    assert parse("(a || b) c") == And(Or(Term("a"), Term("b")), Term("c"))
    assert parse("!a || b") == Or(Not(Term("a")), Term("b"))


def test_phrase_and_proximity():
    assert parse('"быстрый поиск"') == Phrase(("быстрый", "поиск"))
    assert parse('"быстрый поиск" /3') == Phrase(("быстрый", "поиск"), 3)
    # phrase content NOT lowercased (reference parity, query_parser.cpp:245)
    assert parse('"Быстрый Поиск"') == Phrase(("Быстрый", "Поиск"))


def test_term_charset():
    assert parse("foo-bar") == Term("foo-bar")
    assert parse("it's") == Term("it's")
    assert parse("a_b") == Term("a_b")


def test_comments():
    assert parse("a # this is a comment\n&& b") == And(Term("a"), Term("b"))


def test_idempotence_optimizer():
    assert parse("a && a") == Term("a")
    assert parse("a || a") == Term("a")
    assert parse("(a || a) && (a || a)") == Term("a")


def test_empty_and_errors():
    assert parse("") is None
    assert parse("# only comment") is None
    with pytest.raises(QueryError):
        parse('"unclosed')
    with pytest.raises(QueryError):
        parse("a &&")
    assert validate("a && b") and not validate('"x')


@pytest.mark.parametrize("query", [
    "(" * 248 + "a" + ")" * 248,                    # nested parens
    " || ".join(f"t{i}" for i in range(996)),       # flat OR chain
    "!" * 991 + "a",                                # NOT chain
], ids=["parens", "or_chain", "not_chain"])
def test_deep_query_raises_query_error(query):
    """Past the recursion limit these raised RecursionError, and
    validate() raised instead of returning False."""
    with pytest.raises(QueryError, match=str(MAX_QUERY_DEPTH)):
        parse(query)
    assert validate(query) is False


def test_depth_bound_edges():
    n = MAX_QUERY_DEPTH
    for ok, bad in [
        ("(" * (n - 1) + "a" + ")" * (n - 1), "(" * n + "a" + ")" * n),
        (" ".join(f"t{i}" for i in range(n)),
         " ".join(f"t{i}" for i in range(n + 1))),
        ("!" * (n - 1) + "a", "!" * n + "a"),
    ]:
        assert validate(ok) and not validate(bad)


def test_extract_terms_and_complexity():
    ast = parse('a && (b || "c d") !e')
    assert extract_terms(ast) == ["a", "b", "c", "d", "e"]
    assert complexity(ast) == 4  # 2×AND, OR, NOT
