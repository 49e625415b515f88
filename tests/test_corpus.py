"""Corpus-curation operator tests: per-source caps + source-level quality."""

import pytest
from pyspark.sql import functions as F

from xoverrr_spark.operators.corpus import (
    cap_per_source,
    cap_per_source_hash,
    source_keep_rate,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"src{i % 3}", f"text {i}") for i in range(90)]
    return spark.createDataFrame(rows, "doc_id int, source string, text string")


def test_cap_per_source_exact(docs):
    out = cap_per_source(docs, "source", "doc_id", 5)
    assert out.count() == 15
    got = out.groupBy("source").agg(F.count(F.lit(1)).alias("n"),
                                    F.min("doc_id").alias("lo")).collect()
    assert all(r["n"] == 5 for r in got)
    # deterministic: the k SMALLEST ids of each source survive
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {i for i in range(90) if i // 3 < 5}


def test_cap_per_source_hash_approx_and_stable(docs):
    out1 = cap_per_source_hash(docs, "source", "doc_id", 10)
    out2 = cap_per_source_hash(docs.repartition(7), "source", "doc_id", 10)
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    ids2 = sorted(r["doc_id"] for r in out2.collect())
    assert ids1 == ids2            # pure function of doc_id — partitioning-stable
    per = out1.groupBy("source").count().collect()
    for r in per:                  # ~k kept per source (binomial around 10 of 30)
        assert 2 <= r["count"] <= 20, per


def test_source_keep_rate_and_filter(spark, docs):
    decisions = docs.select(
        "doc_id", (F.col("source") != "src2").alias("keep"))
    rates = source_keep_rate(decisions, docs)
    got = {r["source"]: (r["total_docs"], r["kept_docs"], r["keep_pct"])
           for r in rates.collect()}
    assert got["src0"] == (30, 30, 100.0)
    assert got["src2"] == (30, 0, 0.0)


def test_remove_boilerplate_lines(spark):
    from xoverrr_spark.operators.corpus import remove_boilerplate_lines

    boiler = "accept cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\nunique article one\nshare this page"),
            (2, f"{boiler}\nanother real paragraph\nshare this page"),
            (3, f"{boiler}\nthird body text"),
            (4, f"  {boiler}  "),  # whitespace-variant, whole doc is boiler
            (5, "no boilerplate at all"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["text_clean"], r["n_lines_removed"])
        for r in remove_boilerplate_lines(docs, "doc_id", "text", 2).collect()
    }
    # boiler appears in 4 docs (trim-normalized), "share this page" in 2
    assert out[1] == ("unique article one\nshare this page", 1)
    assert out[2] == ("another real paragraph\nshare this page", 1)
    assert out[3] == ("third body text", 1)
    assert out[4] == ("", 1)          # fully-boilerplate doc kept, emptied
    assert out[5] == ("no boilerplate at all", 0)
    assert len(out) == 5              # no rows lost


def test_remove_boilerplate_preserves_line_order(spark):
    from xoverrr_spark.operators.corpus import remove_boilerplate_lines

    text = "\n".join(f"line {i}" for i in range(20))
    docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
    row = remove_boilerplate_lines(docs, "doc_id", "text", 5).collect()[0]
    assert row["text_clean"] == text and row["n_lines_removed"] == 0


def test_value_outliers_flags_injected_anomaly(spark):
    from xoverrr_spark.operators.profile import value_outliers

    rows = [(i, "a", 10.0 + (i % 7) * 0.1) for i in range(200)]
    rows.append((900, "a", 10_000.0))          # the outlier
    rows += [(1000 + i, "b", 5.0) for i in range(50)]  # zero-variance group
    df = spark.createDataFrame(rows, "event_id int, event_type string, value double")
    got = value_outliers(df, "value", ["event_type"], 3.0, id_cols=["event_id"]).collect()
    assert [r["event_id"] for r in got] == [900]
    assert got[0]["z"] > 3.0


# ------------------------------------------------ top-quality fraction ----

def _scored_docs(spark):
    from xoverrr_spark.functions.tokens import quality_score
    from pyspark.sql import functions as F
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return d.select("doc_id", "lang",
                    quality_score(F.col("text")).alias("score"))


def test_top_quality_fraction_keeps_about_the_fraction(spark):
    from xoverrr_spark.operators.corpus import top_quality_fraction
    s = _scored_docs(spark)
    per_lang = {r.lang: r for r in s.groupBy("lang").count().collect()}
    kept = top_quality_fraction(s, "lang", "score", 0.3)
    for r in kept.groupBy("lang").count().collect():
        n = per_lang[r.lang]["count"]
        # pr >= 0.7 keeps ~0.3*(n-1)+1 ranks; score ties can only ADD rows.
        # Exactness is pinned by the DuckDB oracle — this is a sanity band.
        assert int(0.3 * (n - 1)) <= r["count"] <= 0.45 * n + 1


# ------------------------------------------------------- mixture_sample ----

def test_mixture_sample_recipe_math(spark):
    from xoverrr_spark.operators.corpus import mixture_sample
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    total = d.count()
    weights = {"src0": 0.5, "src3": 0.05}
    got = mixture_sample(d, weights, 0.4)
    by_src = {r.source: r["count"] for r in got.groupBy("source").count().collect()}
    # unweighted sources are DROPPED (least(NULL,1.0)=1.0 trap is guarded)
    assert set(by_src) <= set(weights)
    n_src0 = d.filter("source='src0'").count()
    # src0 rate = min(1, .5*.4*total/n) -> capped at 1: everything kept
    assert by_src["src0"] == n_src0
    # src3 rate 0.4: hash-threshold keeps ~40%, binomial-ish band
    n3 = d.filter("source='src3'").count()
    assert 0.15 * n3 <= by_src.get("src3", 0) <= 0.7 * n3


def test_mixture_sample_deterministic_and_stable_under_repartition(spark):
    from xoverrr_spark.operators.corpus import mixture_sample
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    w = {"src1": 0.6, "src2": 0.4}
    a = {r.doc_id for r in mixture_sample(d, w, 0.3).collect()}
    b = {r.doc_id for r in mixture_sample(d.repartition(13), w, 0.3).collect()}
    assert a == b and len(a) > 0


def test_mixture_sample_corpus_never_shuffles(spark):
    """The corpus side must reach the filter via a broadcast join — no
    exchange of the full documents frame (the whole point of the hash-
    threshold form)."""
    from xoverrr_spark.operators.corpus import mixture_sample
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = mixture_sample(d, {"src0": 1.0}, 0.2)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# -------------------------------------------------------- pack_documents ----

def test_pack_documents_contiguous_budget_semantics(spark):
    from xoverrr_spark.operators.corpus import pack_documents
    rows = [(i, "s", "w " * 10) for i in range(10)]  # 10 tokens each
    d = spark.createDataFrame(rows, "doc_id int, source string, text string")
    got = {r.doc_id: r.pack_id for r in pack_documents(d, 25).collect()}
    # cum_before: 0,10,20,30,... -> floor(/25): 0,0,0,1,1,2,2,2,3,3
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 2, 8: 3, 9: 3}


def test_pack_documents_pack_fill_property(spark):
    """Every pack except a group's last fills to >= budget - (max_doc - 1)
    tokens (a doc straddling far past a boundary eats into the next pack's
    range — that overshoot is bounded by the largest doc); ids inside a
    pack are contiguous."""
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.corpus import pack_documents
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assigned = pack_documents(d, 256)
    maxdoc = {r.source: r.m for r in
              assigned.groupBy("source").agg(F.max("n_tokens").alias("m")).collect()}
    packs = (
        assigned
        .groupBy("source", "pack_id")
        .agg(F.sum("n_tokens").alias("tok"), F.min("doc_id").alias("lo"),
             F.max("doc_id").alias("hi"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    last = {}
    for p in packs:
        last[p.source] = max(last.get(p.source, -1), p.pack_id)
    for p in packs:
        if p.pack_id != last[p.source]:
            assert p.tok >= 256 - (maxdoc[p.source] - 1), p
    # contiguity: within a source, doc_id ranges of packs don't interleave
    by_src = {}
    for p in sorted(packs, key=lambda r: (r.source, r.pack_id)):
        prev = by_src.get(p.source)
        if prev is not None:
            assert p.lo > prev
        by_src[p.source] = p.hi


# ------------------------------------------------------- chunk_documents ----

def test_chunk_documents_overlap_and_remainder(spark):
    import pytest
    from xoverrr_spark.operators.corpus import chunk_documents
    text = " ".join(f"w{i}" for i in range(10))
    d = spark.createDataFrame([(1, text), (2, ""), (3, None), (4, "solo")],
                              "doc_id bigint, text string")
    got = sorted((r.doc_id, r.chunk_idx, r.n_chunk_tokens, r.chunk_text)
                 for r in chunk_documents(d, 4, 3).collect())
    # doc 1: starts 0,3,6,9 -> windows of <=4 tokens, last is remainder w9
    assert [(g[1], g[3]) for g in got if g[0] == 1] == [
        (0, "w0 w1 w2 w3"), (1, "w3 w4 w5 w6"), (2, "w6 w7 w8 w9"), (3, "w9")]
    # empty/null docs yield no chunks; 1-word doc yields itself
    assert [g for g in got if g[0] in (2, 3)] == []
    assert [(g[1], g[3]) for g in got if g[0] == 4] == [(0, "solo")]
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(d, 4, 5)


def test_chunk_documents_reconstructs_with_disjoint_stride(spark):
    """stride == max_tokens: chunks partition the token stream exactly."""
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.corpus import chunk_documents
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ch = chunk_documents(d, 7)
    back = (
        ch.groupBy("doc_id")
        .agg(F.concat_ws(" ", F.array_sort(
            F.collect_list(F.struct("chunk_idx", "chunk_text"))
        ).getField("chunk_text")).alias("rebuilt"),
             F.sum("n_chunk_tokens").alias("tok"))
    )
    j = d.join(back, "doc_id")
    bad = j.filter(
        F.col("rebuilt") != F.concat_ws(" ", F.split(F.trim("text"), r"\s+"))
    ).count()
    assert bad == 0


def test_chunk_documents_matches_python_twin_property(spark):
    from hypothesis import HealthCheck, given, settings, strategies as st
    from xoverrr_spark.operators.corpus import chunk_documents

    words = st.lists(st.sampled_from(["aa", "b", "ccc"]), min_size=0, max_size=12)

    @settings(max_examples=20, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(docs=st.lists(words, min_size=1, max_size=5),
           max_tokens=st.integers(1, 6), stride_off=st.integers(0, 5))
    def run(docs, max_tokens, stride_off):
        stride = max(1, max_tokens - stride_off % max_tokens)
        rows = [(i, " ".join(w)) for i, w in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = sorted((r.doc_id, r.chunk_idx, r.chunk_text) for r in
                     chunk_documents(df, max_tokens, stride).collect())
        want = []
        for i, w in enumerate(docs):
            for k, s in enumerate(range(0, len(w), stride)):
                want.append((i, k, " ".join(w[s:s + max_tokens])))
        assert got == sorted(want)

    run()
