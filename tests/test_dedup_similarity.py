"""Dedup + similarity operator tests (small deterministic corpora)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xoverrr_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_near_dups,
    minhash_signature,
    ngram_jaccard,
    simhash,
)
from xoverrr_spark.operators.similarity import cosine_topk, embedding_near_dups

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "The  Quick Brown fox jumps over the lazy dog near the river bank"),  # ws/case dup of 1
    (4, "the quick brown fox jumps over the lazy cat near the river bank"),  # near dup
    (5, "completely different text about spark query engines and shuffles"),
    (6, "short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dedup(docs):
    groups = exact_dedup_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["canonical_id"] == 1 and groups[0]["dup_count"] == 3
    survivors = sorted(r["doc_id"] for r in exact_dedup(docs, "doc_id", "text").collect())
    assert survivors == [1, 4, 5, 6]


def test_minhash_identical_signatures(docs):
    sig = minhash_signature(docs, "doc_id", "text").toPandas().set_index("doc_id")
    assert sig.loc[1].tolist() == sig.loc[2].tolist() == sig.loc[3].tolist()
    assert sig.loc[1].tolist() != sig.loc[5].tolist()


def test_lsh_finds_near_dup_pair(docs):
    sig = minhash_signature(docs, "doc_id", "text")
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sig).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(5 in p for p in pairs)


def test_minhash_near_dups_threshold(docs):
    nd = {(r["doc_a"], r["doc_b"]): r["jaccard"]
          for r in minhash_near_dups(docs, "doc_id", "text", jaccard_threshold=0.5).collect()}
    assert nd[(1, 2)] == 1.0
    if (1, 4) in nd:  # one word differs -> high but < 1
        assert 0.5 <= nd[(1, 4)] < 1.0


def test_ngram_jaccard_exact_values(docs):
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"]
         for r in ngram_jaccard(docs, "doc_id", "text").collect()}
    assert j[(1, 2)] == 1.0
    # doc4 differs in 1 word of 13 => 3-gram shingles: 11 total each, 3 containing
    # the changed word differ => inter=8, union=14 => 4/7
    assert j[(1, 4)] == pytest.approx(8 / 14)


def test_simhash_dups_equal_distinct_differs(docs):
    s = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert s[1] == s[2] == s[3]
    assert s[1] != s[5]
    # near-dup: small hamming distance
    ham = bin(s[1] ^ s[4]).count("1")
    assert ham <= 12


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(8)
    rows = []
    for i in range(40):
        v = rng.standard_normal(8)
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in base + 0.01 * rng.standard_normal(8)]))
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_cosine_topk_finds_clone(emb):
    q = emb.filter(F.col("vec_id") == 100)
    top = cosine_topk(emb, q, k=3).orderBy("rank").collect()
    assert top[0]["neighbor_id"] == 101 and top[0]["cos"] > 0.99
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_embedding_near_dups(emb):
    nd = embedding_near_dups(emb, threshold=0.95, dim=8).collect()
    assert {(r["id_a"], r["id_b"]) for r in nd} == {(100, 101)}


def test_embedding_near_dups_recall_vs_bruteforce(spark):
    from xoverrr_spark.operators.similarity import embedding_near_dups_exact

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"])
             for r in embedding_near_dups_exact(emb, threshold=0.42).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in embedding_near_dups(emb, threshold=0.42).collect()}
    assert lsh <= exact          # rerank is exact -> no false positives
    assert exact                 # fixture yields a non-empty pair set
    assert len(lsh) / len(exact) >= 0.7  # banded-LSH recall at the threshold


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    # 300 identical docs: every band bucket holds all 300 -> the self-join
    # would build 44850 pairs x 4 bands; the cap drops those buckets
    # entirely (exact-dup territory, handled by exact_dedup upstream).
    docs = spark.range(300).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("same boilerplate text repeated across every doc").alias("text"),
    )
    sig = minhash_signature(docs, "doc_id", "text")
    assert lsh_candidate_pairs(sig, max_bucket_size=200).count() == 0
    assert lsh_candidate_pairs(sig, max_bucket_size=None).count() == 300 * 299 // 2


def test_simhash_bucket_cap_bounds_degenerate_corpus(spark):
    from xoverrr_spark.operators.dedup import simhash_near_dups

    docs = spark.range(300).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("same boilerplate text repeated across every doc").alias("text"),
    )
    assert simhash_near_dups(docs, "doc_id", "text", max_bucket_size=200).count() == 0
    assert (
        simhash_near_dups(docs, "doc_id", "text", max_bucket_size=None).count()
        == 300 * 299 // 2
    )


def test_candidate_jaccard_matches_ngram_jaccard(docs):
    from xoverrr_spark.operators.dedup import candidate_jaccard

    full = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard(docs, "doc_id", "text").collect()}
    cands = docs.sparkSession.createDataFrame(
        [(1, 2), (1, 4)], "doc_a int, doc_b int")
    restricted = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                  for r in candidate_jaccard(docs, "doc_id", "text", cands).collect()}
    assert set(restricted) == {(1, 2), (1, 4)}
    for k, v in restricted.items():
        assert v == pytest.approx(full[k])


def test_cluster_near_dups_connected_components(spark):
    from xoverrr_spark.operators.dedup import cluster_near_dups

    # components: {1,2,3,4} (chain), {10,11}, singleton edges only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a int, doc_b int")
    labels = {r["doc_id"]: r["cluster_id"] for r in cluster_near_dups(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_long_chain_converges_by_pointer_doubling(spark):
    from xoverrr_spark.operators.dedup import cluster_near_dups

    # a 100-node path: one-hop min propagation needs 99 iterations; the
    # doubling hop converges in O(log n) — well inside max_iter=10
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "doc_a int, doc_b int")
    labels = cluster_near_dups(pairs, max_iter=10).collect()
    assert len(labels) == 100
    assert all(r["cluster_id"] == 0 for r in labels)


def test_cluster_raises_instead_of_splitting(spark):
    from xoverrr_spark.operators.dedup import ClusteringNotConverged, cluster_near_dups

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "doc_a int, doc_b int")
    with pytest.raises(ClusteringNotConverged):
        cluster_near_dups(pairs, max_iter=2)


def test_cluster_near_dups_on_real_lsh_pairs(spark):
    from xoverrr_spark.operators.dedup import cluster_near_dups, minhash_near_dups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_near_dups(docs, "doc_id", "text", jaccard_threshold=0.8)
    labels = cluster_near_dups(pairs)
    n_docs = labels.count()
    n_clusters = labels.select("cluster_id").distinct().count()
    assert n_docs > n_clusters  # at least one multi-doc cluster
    # cluster_id is always the min doc_id of its component
    bad = labels.filter("cluster_id > doc_id").count()
    assert bad == 0


def test_ngram_jaccard_stop_shingle_cap(spark):
    # 200 docs all sharing one boilerplate suffix + unique prefixes: the
    # shared shingles alone would co-occur every doc with every doc.
    # With the doc-freq cap the hot shingles drop before the self-join,
    # so only genuinely-overlapping pairs survive.
    docs = spark.range(200).select(
        F.col("id").cast("int").alias("doc_id"),
        F.concat(
            F.lit("unique"), F.col("id").cast("string"),
            F.lit(" alpha beta gamma delta epsilon zeta eta theta"),
        ).alias("text"),
    )
    capped = ngram_jaccard(
        docs, "doc_id", "text", max_shingle_doc_freq=50
    )
    assert capped.count() == 0  # every shared shingle is in all 200 docs
    # uncapped finds all C(200,2) co-occurring pairs
    assert ngram_jaccard(docs, "doc_id", "text").count() == 200 * 199 // 2


def test_cluster_survivors_pick_max_quality(spark):
    from xoverrr_spark.operators.dedup import cluster_survivors

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "doc_id int, cluster_id int")
    scores = spark.createDataFrame(
        [(1, 50.0), (2, 90.0), (3, 90.0), (10, 10.0), (11, 5.0)],
        "doc_id int, quality_score double")
    got = {r["cluster_id"]: r["doc_id"]
           for r in cluster_survivors(labels, scores).collect()}
    # cluster 1: 2 and 3 tie at 90 -> smallest id wins; cluster 10: max score
    assert got == {1: 2, 10: 10}


def test_decontamination_flags_benchmark_overlap(spark):
    from xoverrr_spark.operators.dedup import contaminated_docs

    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely unrelated text about spark shuffles and joins"),
        (3, "we saw the quick brown fox near the old barn"),  # shares 3-grams with bench
    ], "doc_id int, text string")
    bench = spark.createDataFrame(
        [(100, "did the quick brown fox really jump")], "doc_id int, text string")
    hit = {r["doc_id"] for r in contaminated_docs(docs, bench, "doc_id", "text").collect()}
    assert hit == {1, 3}


def test_decontamination_benchmark_side_broadcasts(spark):
    from xoverrr_spark.operators.dedup import contaminated_docs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.limit(5)
    plan = contaminated_docs(docs, bench, "doc_id", "text") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


# ----------------------------------------------------------- round 3 ----

def test_ngram_jaccard_stop_shingle_consistent_universe(spark):
    # ADVICE r02: |A|, |B| and |A∩B| must share ONE shingle universe when
    # max_shingle_doc_freq is set. Docs 0 and 1 are identical and composed
    # MOSTLY of boilerplate shingles (shared with 120 other docs); after
    # the stop-shingle filter their remaining shingle sets are still
    # identical, so jaccard must be exactly 1.0 — the pre-filter-sizes bug
    # divided the filtered intersection by full-size denominators and
    # collapsed exactly these pairs toward 0.
    boiler = "alpha beta gamma delta epsilon zeta"
    twins = [(i, boiler + " special0 special1 special2 special3") for i in (0, 1)]
    others = [(10 + i, f"{boiler} unique{i}") for i in range(120)]
    docs = spark.createDataFrame(twins + others, "doc_id int, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard(docs, "doc_id", "text", max_shingle_doc_freq=50).collect()
    }
    assert got[(0, 1)] == pytest.approx(1.0)


def test_scope_frees_minhash_caches(spark):
    from xoverrr_spark.intermediates import scope
    from xoverrr_spark.operators.dedup import minhash_near_dups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with scope() as frames:
        nd = minhash_near_dups(docs, "doc_id", "text", jaccard_threshold=0.5)
        nd.count()  # materialize the result (and thereby the caches)
        # shingle sets + LSH bucket table + candidate pair set
        assert len(frames) >= 2
        assert all(f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames)
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk) for f in frames
    )


def test_lsh_bucket_stats_reports_over_cap(spark):
    # the "no silent caps" audit: 300 identical docs -> in every band ONE
    # bucket of 300, which the default cap (200) drops entirely
    from xoverrr_spark.operators.dedup import lsh_bucket_stats

    docs = spark.range(300).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("same boilerplate text repeated across every doc").alias("text"),
    )
    sig = minhash_signature(docs, "doc_id", "text")
    stats = {r["band"]: r for r in lsh_bucket_stats(sig).collect()}
    assert set(stats) == {0, 1, 2, 3}
    for r in stats.values():
        assert r["n_buckets"] == 1
        assert r["max_bucket_size"] == 300
        assert r["over_cap_buckets"] == 1
        assert r["over_cap_docs"] == 300


def test_embedding_near_dups_cap_bounds_degenerate_flood(spark):
    # VERDICT r02: a flood of identical embeddings (failed encoders) lands
    # in ONE bucket in EVERY band; the cap must bound the self-join
    rows = [(i, [1.0, 0.5, -0.25, 0.75, -1.0, 0.3, 0.9, -0.6]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    assert embedding_near_dups(emb, threshold=0.9, dim=8, max_bucket_size=200).count() == 0
    assert (
        embedding_near_dups(emb, threshold=0.9, dim=8, max_bucket_size=None).count()
        == 300 * 299 // 2
    )


def test_embedding_near_dups_bucket_table_cached_and_released(spark):
    # the bucket table (with its plane-dot projections) must be persisted so
    # the self-join's two sides share one computation (self-joins never
    # reuse exchanges), and freed when its scope closes
    from xoverrr_spark.intermediates import scope

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with scope() as frames:
        nd = embedding_near_dups(emb, threshold=0.42, max_bucket_size=200)
        plan = nd._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2, plan
        nd.count()
        assert frames and all(
            f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames
        )
    assert all(
        not (f.storageLevel.useMemory or f.storageLevel.useDisk) for f in frames
    )


def test_changed_count_reads_checkpoints_only(spark):
    # VERDICT r02: convergence is counted from the CHECKPOINTED labels, so
    # the per-iteration propagation plan executes once. The changed-count
    # frame must therefore read only materialized RDD scans — no
    # aggregation, no source scan.
    from xoverrr_spark.operators.dedup import _changed_count_frame

    a = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id int, cluster_id int"
    ).localCheckpoint(eager=True)
    b = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id int, cluster_id int"
    ).localCheckpoint(eager=True)
    frame = _changed_count_frame(a, b)
    assert frame.count() == 1
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "FileScan" not in plan, plan


def test_exact_dedup_window_matches_semi_join_form(spark):
    from xoverrr_spark.operators.dedup import exact_dedup, exact_dedup_window

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(r["doc_id"] for r in exact_dedup(docs, "doc_id", "text").collect())
    b = sorted(r["doc_id"] for r in exact_dedup_window(docs, "doc_id", "text").collect())
    assert a == b
    # the window form's selling point: the input is scanned ONCE
    plan_w = exact_dedup_window(docs, "doc_id", "text") \
        ._jdf.queryExecution().executedPlan().toString()
    plan_s = exact_dedup(docs, "doc_id", "text") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan_w.count("Scan parquet") == 1, plan_w
    assert plan_s.count("Scan parquet") == 2, plan_s


def test_quantiles_type7_interpolation(spark):
    from xoverrr_spark.operators.profile import quantiles

    df = spark.createDataFrame([(float(v),) for v in (1, 2, 3, 4, 5)], "value double")
    row = quantiles(df, "value", [0.25, 0.5, 0.9]).collect()[0]
    assert row["q_25"] == 2.0
    assert row["q_50"] == 3.0
    assert abs(row["q_90"] - 4.6) < 1e-12  # (n-1)*p = 3.6 -> 4 + 0.6*(5-4)


def test_embedding_bucket_stats_counts_all_vectors(spark):
    from xoverrr_spark.operators.dedup import bucket_size_stats
    from xoverrr_spark.operators.similarity import embedding_band_buckets

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    buckets = embedding_band_buckets(emb)
    stats = bucket_size_stats(buckets, 200).collect()
    assert len(stats) == 4  # one row per band
    # every vector lands in exactly one bucket per band
    per_band = buckets.groupBy("band").count().collect()
    assert all(r["count"] == n for r in per_band)


# ------------------------------------------------- incremental ingestion ----

def test_incremental_exact_dedup_vs_corpus_and_within_batch(spark):
    from xoverrr_spark.operators.dedup import (
        fingerprint_index, incremental_exact_dedup)
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta text here"), (3, None)],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(100, "alpha beta gamma"),   # exact dup of corpus (dropped)
         (101, "ALPHA  beta gamma "), # canonical-form dup too (dropped)
         (102, "brand new content"),  # fresh (kept)
         (103, "brand new content"),  # within-batch dup of 102 (dropped)
         (104, None),                 # null text: dup of corpus null group
         (105, "another fresh doc")],
        "doc_id bigint, text string")
    fps = fingerprint_index(corpus, "doc_id", "text")
    kept = sorted(r.doc_id for r in
                  incremental_exact_dedup(new, fps, "doc_id", "text").collect())
    assert kept == [102, 105]


def test_incremental_exact_dedup_null_text_fresh_when_corpus_has_none(spark):
    from xoverrr_spark.operators.dedup import (
        fingerprint_index, incremental_exact_dedup)
    corpus = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    new = spark.createDataFrame([(100, None), (101, None)],
                                "doc_id bigint, text string")
    kept = sorted(r.doc_id for r in incremental_exact_dedup(
        new, fingerprint_index(corpus, "doc_id", "text"),
        "doc_id", "text").collect())
    # no null-text group in the corpus: ONE null-text survivor (min id)
    assert kept == [100]


def test_incremental_near_dups_finds_cross_table_pairs_only(spark):
    from xoverrr_spark.operators.dedup import incremental_near_dups
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [(i, base + f" tail{i}") for i in range(3)] +
        [(10, "completely different corpus entry about spark plans")],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(100, base + " tail0 extra"),       # near-dups corpus doc 0 (at least)
         (101, "utterly unrelated new doc about benchmarking engines")],
        "doc_id bigint, text string")
    got = incremental_near_dups(new, corpus, "doc_id", "text",
                                jaccard_threshold=0.6)
    rows = got.collect()
    assert all(r.new_id >= 100 and r.corpus_id < 100 for r in rows)
    assert any(r.new_id == 100 and r.corpus_id == 0 for r in rows)
    assert not any(r.new_id == 101 for r in rows)
    for r in rows:
        assert 0.6 <= r.jaccard <= 1.0


def test_incremental_near_dups_rejects_colliding_ids(spark):
    """A batch whose id sequence restarts (ids overlap the corpus) would
    silently merge shingle sets in the union-verify — the guard raises
    with example ids instead (r03 ADVICE)."""
    import pytest
    from xoverrr_spark.operators.dedup import incremental_near_dups
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "one two three four five six seven")],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(1, "totally different new document text here"),  # collides with corpus id 1
         (2, "another brand new batch document arrives")],
        "doc_id bigint, text string")
    with pytest.raises(ValueError, match="collide"):
        incremental_near_dups(new, corpus, "doc_id", "text",
                              check_disjoint_ids=True)
    # disjoint ids pass the guard
    ok = spark.createDataFrame(
        [(100, "totally different new document text here")],
        "doc_id bigint, text string")
    incremental_near_dups(ok, corpus, "doc_id", "text",
                          check_disjoint_ids=True).collect()


# ------------------------------------------------- bloom decontamination ----

def test_bloom_decontaminate_never_misses_exact_hits(spark):
    """Bloom guarantees no false negatives: flagged ⊇ exact at any m."""
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.dedup import (
        bloom_contaminated_docs, contaminated_docs)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    exact = {r.doc_id for r in
             contaminated_docs(d, bench, "doc_id", "text").collect()}
    bloom = {r.doc_id for r in
             bloom_contaminated_docs(d, bench, "doc_id", "text").collect()}
    assert exact <= bloom
    # at the default 2^20 bits and this tiny benchmark, FPs should be rare
    assert len(bloom - exact) <= max(2, len(exact) // 10)


def test_bloom_decontaminate_small_m_floods_false_positives(spark):
    """Shrinking m to 64 bits saturates the filter — flagged set grows
    toward the whole corpus while still containing every true hit (the
    FP-rate/broadcast-size dial, made visible)."""
    from pyspark.sql import functions as F
    from xoverrr_spark.operators.dedup import (
        bloom_contaminated_docs, contaminated_docs)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    exact = {r.doc_id for r in
             contaminated_docs(d, bench, "doc_id", "text").collect()}
    tiny = {r.doc_id for r in
            bloom_contaminated_docs(d, bench, "doc_id", "text",
                                    m_bits=64).collect()}
    assert exact <= tiny
    # 64 bits vs ~1.5k benchmark shingles: the filter saturates and flags
    # essentially the whole corpus
    assert len(tiny) >= 0.95 * d.count() > len(exact)


def test_zero_vector_never_ranks_first(spark):
    """A zero embedding (failed encoder) must score cos 0.0, not NaN —
    Spark sorts NaN above every real number, so without the guard a single
    zero vector becomes the rank-1 neighbor of EVERY query."""
    from xoverrr_spark.operators.similarity import cosine_topk
    rows = [("q", [1.0, 0.0, 0.0]),
            ("good", [0.9, 0.1, 0.0]),
            ("dead", [0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = {r.neighbor_id: (r.rank, r.cos) for r in
           cosine_topk(df, df.filter("vec_id = 'q'"), k=2).collect()}
    assert got["good"][0] == 1
    assert got["dead"][0] == 2 and got["dead"][1] == 0.0


# ---------------------------------------------------------------------------
# dup_shingle_fraction — cross-corpus duplicated n-gram fraction
# ---------------------------------------------------------------------------

def test_dup_shingle_fraction_closed_form(spark):
    """Mini corpus with one shared trigram: d1/d2 share exactly 'a b c'
    (half of each doc's two distinct trigrams), d3 is fully unique."""
    from xoverrr_spark.operators.dedup import dup_shingle_fraction

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "q w e r")],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in dup_shingle_fraction(df, "doc_id", "text").collect()}
    assert got[1].n_shingles == 2 and got[1].n_dup_shingles == 1
    assert got[1].dup_fraction == 0.5 and got[2].dup_fraction == 0.5
    assert got[3].dup_fraction == 0.0 and got[3].n_dup_shingles == 0
    # raising the doc-frequency floor above the corpus multiplicity
    # zeroes every fraction
    got3 = {r.doc_id: r.dup_fraction
            for r in dup_shingle_fraction(df, "doc_id", "text", min_docs=3).collect()}
    assert got3 == {1: 0.0, 2: 0.0, 3: 0.0}


def test_dup_shingle_fraction_extremes(docs):
    """Exact/ws-case triplicate docs score 1.0 (every shingle in 3 docs);
    the unique doc scores 0.0; the near dup lands strictly between; the
    2-word doc participates via its single 0-padded shingle."""
    from xoverrr_spark.intermediates import scope
    from xoverrr_spark.operators.dedup import dup_shingle_fraction

    with scope() as frames:
        out = dup_shingle_fraction(docs, "doc_id", "text")
        got = {r.doc_id: r for r in out.collect()}
    assert got[1].dup_fraction == got[2].dup_fraction == got[3].dup_fraction == 1.0
    assert got[5].dup_fraction == 0.0
    assert 0.0 < got[4].dup_fraction < 1.0
    assert got[6].n_shingles == 1 and got[6].dup_fraction == 0.0
    # the internally-built shingle table is persisted in the caller's scope
    assert len(frames) == 1


def test_dup_shingle_fraction_prebuilt_and_nulls(spark):
    """A prebuilt shingle table yields identical results (and persists no
    intermediate — the caller owns its cache). Degenerate texts follow the
    shingle_table sentinel contract: the two null texts share shingle 0 and
    score 1.0 against each other (exact_dedup's null-grouping policy); a
    lone blank text folds md5('') and stays unique."""
    from xoverrr_spark.intermediates import persist, scope
    from xoverrr_spark.operators.dedup import dup_shingle_fraction, shingle_table

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, None), (4, None), (5, "   ")],
        "doc_id int, text string",
    )
    with scope():
        sh = persist(shingle_table(df, "doc_id", "text"))
        with scope() as pre_frames:
            rows_pre = sorted(
                dup_shingle_fraction(df, "doc_id", "text", shingles=sh).collect()
            )
        with scope() as own_frames:
            rows_own = sorted(dup_shingle_fraction(df, "doc_id", "text").collect())
        assert rows_pre == rows_own
        got = {r.doc_id: r.dup_fraction for r in rows_pre}
        assert got == {1: 0.5, 2: 0.5, 3: 1.0, 4: 1.0, 5: 0.0}
        assert len(pre_frames) == 0
        assert len(own_frames) == 1


def test_contamination_scores_closed_form(spark):
    """d1 IS a benchmark doc (1.0); d2 quotes half of it (0.5); d3 is
    clean (0.0) — the fractional signal contaminated_docs cannot give."""
    from xoverrr_spark.operators.dedup import contaminated_docs, contamination_scores

    corpus = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "q w e r")],
        "doc_id int, text string",
    )
    bench = corpus.filter("doc_id = 1")
    got = {r.doc_id: r for r in
           contamination_scores(corpus, bench, "doc_id", "text").collect()}
    assert got[1].contamination == 1.0
    assert got[2].contamination == 0.5 and got[2].n_bench_shingles == 1
    assert got[3].contamination == 0.0 and got[3].n_shingles == 2
    # binary flag agrees with fraction > 0
    flagged = {r.doc_id for r in
               contaminated_docs(corpus, bench, "doc_id", "text").collect()}
    assert flagged == {d for d, r in got.items() if r.contamination > 0}
    # degenerate: EMPTY benchmark -> every doc scores exactly 0.0 (the
    # broadcast side is empty, the left join marks nothing)
    none = contamination_scores(
        corpus, corpus.filter("doc_id < 0"), "doc_id", "text").collect()
    assert {r.contamination for r in none} == {0.0} and len(none) == 3
