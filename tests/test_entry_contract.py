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


# A distinctive fragment of each stage several oracle twins replay, with
# the builder that alone spells it.
ORACLE_STAGE_FRAGMENTS = {
    "regexp_replace(lower(text)": "_FP (canonical fingerprint)",
    "<null-text>": "_FP_KEY (null-safe fingerprint key)",
    "string_split_regex(trim(lower(text))": "_LOWER_WORDS",
    "string_split_regex(trim(text)": "_WS_WORDS / _WS_TOKENS",
    "substr(md5(t), 1, 10)": "_word_hashes_sql (per-word hash list)",
    "GREATEST(len(": "_shingles_sql",
    "MIN((": "_minhash_sql",
    "md5(concat_ws('_'": "_lsh_bands_sql",
    "AS bkey FROM v": "_embedding_buckets_ctes",
    "HAVING COUNT(*) <=": "_cap_buckets_sql",
    "a.band = b.band AND a.bkey = b.bkey": "_capped_self_join_sql",
    "(sa.sz + sb.sz - i.inter)": "_candidate_jaccard_sql",
    "AS over_cap_docs": "_bucket_size_stats_sql",
    "DECONTAM_BENCH_MOD} = 0": "_bench_shingles_sql",
    "AS n_dup_shingles": "_dup_shingle_fraction_sql",
    "AS n_bench_shingles": "_contamination_scores_sql",
    "r.b = e2.a": "_COMPONENTS_SQL",
    "AS bigram": "_repetition_stats_sql",
    "SUM(n) OVER () AS total": "_mixture_sample_sql",
    "UNBOUNDED PRECEDING AND 1 PRECEDING": "_pack_sql",
    "ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)": "_source_cap_sql",
    "AS n_distinct FROM": "_profile_sql",
    "SPLIT_MIRROR_MOD} = 0": "_mirrored_corpus_sql",
    "CASE source": "_token_targets_sql",
}


def test_no_stage_sql_pasted_into_the_oracle():
    """An oracle twin composes the stage builders and never pastes a
    stage's SQL: each fragment above is spelled once in oracle.py."""
    import inspect

    from xoverrr_spark import oracle

    src = inspect.getsource(oracle)
    pasted = [
        f"{frag!r} x{src.count(frag)}: compose {builder}"
        for frag, builder in ORACLE_STAGE_FRAGMENTS.items()
        if src.count(frag) != 1
    ]
    assert not pasted, "stage SQL pasted in oracle.py:\n" + "\n".join(pasted)


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
