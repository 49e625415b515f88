"""Driver-contract wiring: every queries() entry has an oracle twin and
the schemas the driver relies on stay importable without a live session."""

import pytest

import __spark_entry__ as entry


def test_queries_and_oracle_keys_match():
    qs = entry.queries()
    sql = entry.oracle_sql()
    assert list(sql) == list(qs), set(qs) ^ set(sql)
    assert len(qs) >= 70
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in sql.values())


def test_no_sql_text_pasted_into_the_driver():
    """A SQL twin runs on Spark through _tpch_sql from the oracle's one
    text, so no string in the driver holds a query. q_grouping_sets is the
    one exception: its Spark text casts to STRING/INT where the DuckDB
    twin casts to VARCHAR/INTEGER."""
    import ast
    import inspect

    pasted = [
        n.lineno
        for top in ast.parse(inspect.getsource(entry)).body
        if getattr(top, "name", None) != "q_grouping_sets"
        for n in ast.walk(top)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
        and "SELECT" in n.value
    ]
    assert not pasted, f"SQL text in __spark_entry__.py at lines {pasted}"


def test_query_without_twin_fails_at_oracle_sql(monkeypatch):
    qs = entry.queries()
    monkeypatch.setattr(entry, "queries", lambda: {**qs, "no_such_twin": None})
    with pytest.raises(AttributeError, match="no_such_twin"):
        entry.oracle_sql()


def test_entry_callable_exists():
    assert callable(entry.entry)


def test_tpch_rewrite_skips_string_literals():
    """The table→view rewriter must leave quoted literals byte-identical
    (a `LIKE '%part%'` rewritten Spark-side only would silently diverge
    the two engines the parity gate compares) while still rewriting, and
    registering views for, the same names outside quotes — including the
    '' escape form and a literal containing a lone quote-adjacent name."""
    sql = (
        "SELECT p_name, 'part' AS lit, 'it''s part of orders' AS esc\n"
        "FROM part JOIN orders ON o_orderkey = p_partkey\n"
        "WHERE p_name LIKE '%nation%' AND o_comment <> 'region'"
    )
    out, tables = entry._rewrite_tpch_tables(sql, "t9")
    assert tables == ["orders", "part"]  # literal-only names register no view
    assert "FROM part_t9 JOIN orders_t9" in out
    # every literal untouched
    for lit in ("'part'", "'it''s part of orders'", "'%nation%'", "'region'"):
        assert lit in out
    assert "part_t9'" not in out and "'%nation_t9%'" not in out
    # column names sharing a table prefix stay intact
    assert "p_partkey" in out and "o_orderkey" in out


def test_tpch_sql_texts_have_no_table_names_inside_literals():
    """Belt-and-braces: current oracle TPC-H texts keep table names out of
    string literals entirely, so rewritten and original literals agree."""
    import re

    pat = re.compile(r"\b(" + "|".join(entry._TPCH_TABLES) + r")\b")
    sqls = entry.oracle_sql()
    for name, sql in sqls.items():
        for lit in re.findall(r"'(?:[^']|'')*'", sql):
            assert not pat.search(lit), (name, lit)
