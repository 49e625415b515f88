"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship quality-filter pipeline on sf0.001 documents.
``queries()``     — one Spark callable per implemented operator (SURVEY.md §2
                    + training-data ops), each over the parquet tables in a
                    given sf_dir.
``oracle_sql()``  — the DuckDB twin of each query: ``oracle.<same name>()``
                    in ``xoverrr_spark/oracle.py``, built from the same
                    constants the Spark plans use. Each query is named once,
                    in ``queries()``; a query without a twin fails loudly
                    in ``oracle_sql()``. A twin that is plain SQL text runs
                    on Spark verbatim through ``_tpch_sql``, so there is
                    one text per query.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xoverrr_spark import oracle
from xoverrr_spark.functions import rulespec as R
from xoverrr_spark.functions.normalize import canonicalize
from xoverrr_spark.functions.tokens import (
    bpe_token_count,
    fingerprint,
    quality_score,
    ws_token_count,
)
from xoverrr_spark.intermediates import persist, scope
from xoverrr_spark.operators.counts import (
    count_discrepancies,
    counts_joined,
    daily_counts,
)
from xoverrr_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard,
    simhash,
    simhash_near_dups,
)
from xoverrr_spark.operators.diff import diff_classify, diff_stats_row
from xoverrr_spark.operators.similarity import cosine_topk, embedding_near_dups
from xoverrr_spark.pipeline.quality_filter import quality_filter


def _row_groups_and_rows(path: str) -> tuple[int, int]:
    """(num_row_groups, num_rows) of a local parquet file — the EFFECTIVE
    scan parallelism signal. Spark splits a file by byte ranges, but one
    row group is always read by exactly one task, so a 6 MB single-row-
    group file computes its whole map stage on ONE core regardless of
    maxPartitionBytes (guide §2.5 "input skew": one huge unsplittable
    file). Unknown layouts report as fully splittable (no rebalance).
    The footer read is cached per (path, mtime, size), so a file
    rewritten at the same path is read again."""
    try:
        st = os.stat(path)
    except OSError:
        return 1 << 30, 0
    return _footer_layout(path, st.st_mtime_ns, st.st_size)


@functools.lru_cache(maxsize=256)
def _footer_layout(path: str, mtime_ns: int, size: int) -> tuple[int, int]:
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        return md.num_row_groups, md.num_rows
    except Exception:
        return 1 << 30, 0


# tables worth rebalancing when their layout under-parallelizes the scan:
# every query over them does heavy per-row work (regex/shingle/md5/vector
# folds) BEFORE the first exchange. Key-hash repartition (deterministic,
# no round-robin pre-sort) on the lead column spreads rows evenly.
_REBALANCE_TABLES = {"documents", "embeddings"}
# 2000: sf0.1's 5k-doc table still gains 1.4-2.4x (measured); below that the
# exchange round-trip costs more than the parallelism buys
_MIN_REBALANCE_ROWS = 2000


def _t(spark: SparkSession, sf_dir: str, name: str,
       rebalance: bool | None = None) -> DataFrame:
    """Read a testdata table; ``rebalance`` redistributes rows across
    ``defaultParallelism`` partitions when the file's row-group layout
    would otherwise serialize the scan-side map work (guide §2.5). Auto
    (None) = on for the text/vector tables every consumer maps heavily;
    pass True/False to override per query. At production layouts (row
    groups >= cores) this is a no-op — the condition is scale-adaptive,
    not tuned to local mode."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if rebalance is None:
        rebalance = name in _REBALANCE_TABLES
    if rebalance:
        par = spark.sparkContext.defaultParallelism
        rgs, rows = _row_groups_and_rows(path)
        if rgs < par and rows >= _MIN_REBALANCE_ROWS:
            df = df.repartition(par, F.col(df.columns[0]))
    return df


def _orders_sides(spark, sf_dir):
    src = _t(spark, sf_dir, "orders")
    trg = src.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 101 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
    )
    return src, trg


def _events_sides(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        daily_counts(ev.filter(F.col("event_id") % 2 == 0), "ts"),
        daily_counts(ev.filter(F.col("event_id") % 3 != 0), "ts"),
    )


# ------------------------------------------------------------- queries ----

def q_diff_classify(spark, sf_dir):
    src, trg = _orders_sides(spark, sf_dir)
    return diff_classify(src, trg, ["o_orderkey"], normalize=False)


def q_diff_stats(spark, sf_dir):
    src, trg = _orders_sides(spark, sf_dir)
    return diff_stats_row(src, trg, ["o_orderkey"], normalize=False)


def q_dup_keys(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem", rebalance=True)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def q_daily_counts(spark, sf_dir):
    return daily_counts(_t(spark, sf_dir, "events"), "ts")


def q_counts_crossfill(spark, sf_dir):
    s, t = _events_sides(spark, sf_dir)
    return counts_joined(s, t)


def q_count_mismatch(spark, sf_dir):
    s, t = _events_sides(spark, sf_dir)
    return count_discrepancies(s, t)


def q_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id", k.alias("k"),
        F.when(k > 50, "high").otherwise("low").alias("k_band"),
    )


def q_rollup_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.to_date("ts").alias("dt"), "value")
        .rollup("event_type", "dt")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dt").cast("string"), F.lit("ALL")).alias("dt"),
            "total_value", "n",
        )
    )


def q_sniff_histogram(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.when(F.col("o_totalprice") > oracle.SNIFF_THRESHOLD, "y")
            .otherwise("n")
            .alias("status_value")
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )


def q_sniff_stats(spark, sf_dir):
    flag = F.when(F.col("o_totalprice") > oracle.SNIFF_THRESHOLD, "y").otherwise("n")
    df = _t(spark, sf_dir, "orders").select(flag.alias("flag"))
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(F.col("flag") == "y", 1)).alias("passed_rows"),
        F.count(F.when(F.col("flag") == "n", 1)).alias("issue_rows"),
        (F.count(F.when(F.col("flag") == "n", 1)) * 100.0 / F.count(F.lit(1))).alias("issue_rows_pct"),
        (100.0 - F.count(F.when(F.col("flag") == "n", 1)) * 100.0 / F.count(F.lit(1))).alias("final_score"),
    )


def q_normalize(spark, sf_dir):
    # map-only regex canonicalization: rebalance the scan (guide §2.5) so
    # the per-row regex work is not bounded by the file's row-group count
    li = _t(spark, sf_dir, "lineitem", rebalance=True).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate",
    )
    return canonicalize(li)


def q_q1(spark, sf_dir):
    # rebalance: the per-row DECIMAL partial aggregation dominates and was
    # bounded by the file's 6 row groups (guide §2.5; 1.3s -> 1.0s at sf1)
    li = _t(spark, sf_dir, "lineitem", rebalance=True)
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_top10(spark, sf_dir):
    # rebalance the fact side: the broadcast-join probe + partial agg ran
    # at row-group parallelism (guide §2.5; 3.2s -> 1.7s at sf1 local[32])
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem", rebalance=True)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit(oracle.CUSTOMER_CUTOFF).cast("date")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_salted_join_lineitem(spark, sf_dir):
    """Explicit salted join (operators/salting.salted_join): the skew
    mitigation for hot keys AQE's byte-based detection cannot see
    (tests/test_skew_aqe.py third pin). Result-identical to the plain
    join — the oracle runs the plain SQL."""
    from xoverrr_spark.operators.salting import salted_join

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_partkey", "p_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        salted_join(li, pt, ["p_partkey"], salt=8)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_fk_orphans_orders(spark, sf_dir):
    """Referential-integrity audit (the engine behind
    checker.check_referential, operators/integrity.fk_orphans): orders
    whose customer is absent from the positive-balance parent set.
    broadcast_parent keeps the fact-side scan shuffle-free — the plan a
    100-TB child table needs against a dimension-sized parent."""
    from xoverrr_spark.operators.integrity import fk_orphans

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return fk_orphans(
        o, c, [("o_custkey", "c_custkey")], broadcast_parent=True
    ).select("o_orderkey", "o_custkey")


def q_dup_key_stats_lineitem(spark, sf_dir):
    """Key-uniqueness audit (the engine behind checker.check_uniqueness,
    operators/integrity.duplicate_key_stats): one null-safe groupBy on
    the key, summary aggregated from the per-key frame — one scan of the
    base table regardless of size."""
    from xoverrr_spark.operators.integrity import (
        duplicate_key_stats, key_duplication,
    )

    li = _t(spark, sf_dir, "lineitem")
    return duplicate_key_stats(key_duplication(li, ["l_orderkey"]), ["l_orderkey"])


def q_freshness_events(spark, sf_dir):
    """Source-freshness audit (the engine behind checker.check_freshness,
    operators/profile.freshness): lag of the newest event vs a pinned
    as_of — one max-aggregate scan, footer-stat cheap on partitioned
    event tables."""
    from xoverrr_spark.operators.profile import freshness

    return freshness(_t(spark, sf_dir, "events"), "ts",
                     as_of=oracle.FRESHNESS_AS_OF)


def q_freshness_by_type_events(spark, sf_dir):
    """Per-group source freshness (checker.check_freshness group_by mode,
    operators/profile.freshness_by_group): staleness per event_type —
    the global max hides a dead feed behind a healthy one."""
    from xoverrr_spark.operators.profile import freshness_by_group

    return freshness_by_group(
        _t(spark, sf_dir, "events"), "ts", ["event_type"],
        as_of=oracle.FRESHNESS_AS_OF)


def q_top3_suppliers(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), "s_suppkey")
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal", "rk")
    )


def q_langid(spark, sf_dir):
    # materialized-feature form (r6): the self-contained lang_columns
    # expression embeds the tokenizer split in every stopword score and
    # the score trees again in the argmax when-chain — Catalyst's
    # conditional branches defeat subexpression elimination, so each row
    # re-split several times. Attribute columns are computed once
    # (CLAUDE.md: never hand Catalyst a reused non-trivial tree).
    from xoverrr_spark.functions.langid import (
        lang_from_scores, stopword_hits, tokens_column,
    )

    d = _t(spark, sf_dir, "documents")
    d = d.withColumn("_toks", tokens_column(F.col("text")))
    d = d.withColumns(
        {f"_s_{lang}": stopword_hits(F.col("_toks"), lang) for lang in R.LANGS}
    )
    lang, top = lang_from_scores({lang: F.col(f"_s_{lang}") for lang in R.LANGS})
    words = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(
        F.size(F.col("_toks"))
    )
    d = d.withColumn("_words", words)
    conf = F.least(
        top.cast("double") / F.greatest(F.col("_words"), F.lit(1)), F.lit(1.0)
    )
    return d.select("doc_id", lang.alias("lang"), conf.alias("lang_conf"))


def q_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality_score"))


def q_stratified_sample(spark, sf_dir):
    from xoverrr_spark.functions.tokens import deterministic_sample_flag

    d = _t(spark, sf_dir, "documents")
    rate = F.lit(0)
    for lang, r in oracle.SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return d.filter(deterministic_sample_flag(F.col("doc_id"), rate)).select("doc_id", "lang")


def q_vocab_top_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    # distributed top-k (TakeOrderedAndProject) FIRST; the rank window then
    # runs over only K rows — a global window over the full vocabulary
    # would single-partition it
    top = counts.orderBy(F.desc("freq"), "term").limit(oracle.VOCAB_TOP_K)
    w = Window.orderBy(F.desc("freq"), "term")
    return top.withColumn("rank", F.row_number().over(w))


def q_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1000000))
    return exact_dedup_groups(doubled, "doc_id", "text")


def q_minhash_signatures(spark, sf_dir):
    return minhash_signature(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_lsh_candidates(spark, sf_dir):
    sig = minhash_signature(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return lsh_candidate_pairs(sig)


def q_jaccard_pairs(spark, sf_dir):
    return ngram_jaccard(_t(spark, sf_dir, "documents"), "doc_id", "text").filter(
        F.col("jaccard") >= 0.5
    )


def q_simhash_near_dups(spark, sf_dir):
    return simhash_near_dups(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_minhash_near_dups(spark, sf_dir):
    from xoverrr_spark.operators.dedup import minhash_near_dups

    return minhash_near_dups(
        _t(spark, sf_dir, "documents"), "doc_id", "text", jaccard_threshold=0.5
    )


def q_near_dup_clusters(spark, sf_dir):
    from xoverrr_spark.operators.dedup import cluster_near_dups

    # labels come back checkpointed (materialized), so the pair set's
    # caches can go when this nested scope closes
    with scope():
        return cluster_near_dups(
            simhash_near_dups(_t(spark, sf_dir, "documents"), "doc_id", "text")
        )


def q_simhash(spark, sf_dir):
    return simhash(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_count_anomalies(spark, sf_dir):
    from xoverrr_spark.operators.counts import count_anomalies, daily_counts

    return count_anomalies(daily_counts(_t(spark, sf_dir, "events"), "ts"))


def q_profile_orders(spark, sf_dir):
    from xoverrr_spark.operators.profile import profile

    return profile(_t(spark, sf_dir, "orders"), oracle.PROFILE_ORDERS_COLS)


def q_profile_drift(spark, sf_dir):
    from xoverrr_spark.operators.profile import profile_drift

    src = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    trg = (
        src.filter(k % 97 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(k % 101 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(k % oracle.DRIFT_NULL_MOD == 0, F.lit(None)).otherwise(
                F.col("o_orderpriority")
            ),
        )
    )
    return profile_drift(src, trg, oracle.PROFILE_ORDERS_COLS)


def q_histogram_orders(spark, sf_dir):
    from xoverrr_spark.operators.profile import histogram

    return histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice",
        oracle.HIST_LO, oracle.HIST_HI, oracle.HIST_BINS,
    )


def q_session_stats(spark, sf_dir):
    from xoverrr_spark.operators.counts import session_stats

    return session_stats(_t(spark, sf_dir, "events"))


def _curated_survivors(spark, sf_dir):
    """The flagship curation COMPOSITION up to its per-source cap, one lazy
    plan end-to-end: exact-dedup survivors -> quality-filter keep -> drop
    docs sharing n-grams with the benchmark subset. Each stage is an
    already-oracle-verified operator; the curate queries pin that they
    compose. Dedup uses the single-scan window form: the composition reads
    and fingerprints the corpus once instead of twice (the semi-join form is
    for flood-prone corpora; see exact_dedup docstrings). Decontamination
    shingles ONLY the quality-kept survivors — the anti-join can only
    remove ids present in that frame, so flagging the rest of the corpus
    is pure wasted work (at 10^9 docs the decontamination pass runs over
    the curated subset, not the raw crawl)."""
    from xoverrr_spark.operators.dedup import contaminated_docs, exact_dedup_window
    from xoverrr_spark.pipeline.quality_filter import annotate

    # no rebalance: only the fingerprint map runs pre-shuffle here; the
    # battery runs on post-window partitions (measured 4.1s vs 4.9s plain-wins)
    d = _t(spark, sf_dir, "documents", rebalance=False)
    survivors = exact_dedup_window(d, "doc_id", "text")
    # annotate keeps every input column, so the keep decision is a FILTER on
    # the survivor frame (no self-semi-join that would recompute the dedup);
    # PERSISTED because two consumers read it (the anti-join left side and
    # the decontamination shingling) and branches of one plan never share.
    # Project to the columns those consumers actually read BEFORE the
    # persist (guide §2.3): a cache cannot be column-pruned after the fact,
    # and the full annotate row would materialize the scrubbed caption and
    # language columns nothing downstream touches.
    # persist BEFORE the keep-filter: pushing filter("keep") below the
    # annotate projection makes Catalyst inline the whole rule battery
    # into the predicate — measured 116 regexp_replace / 46 split / 39
    # stopword INSET copies in the optimized plan and 7.2s for this one
    # stage (the CLAUDE.md reused-tree trap via FilterPushdown). Caching
    # the four consumed columns evaluates the battery exactly once; the
    # filter then reads the cached boolean.
    dec = persist(
        annotate(survivors, caption_col="text", with_ppl=False)
        .select("doc_id", "source", "text", "keep")
    )
    s2 = dec.filter("keep").select("doc_id", "source", "text")
    bench = d.filter(F.col("doc_id") % oracle.DECONTAM_BENCH_MOD == 0)
    return (
        s2.select("doc_id", "source")
        .join(contaminated_docs(s2, bench, "doc_id", "text"), "doc_id", "left_anti")
    )


def q_curate_documents(spark, sf_dir):
    """The curation composition capped per source by a window rank."""
    from xoverrr_spark.operators.corpus import cap_per_source

    return cap_per_source(
        _curated_survivors(spark, sf_dir), "source", "doc_id", oracle.CURATE_SOURCE_CAP)


def q_curate_documents_hash(spark, sf_dir):
    """Same curation composition with the WINDOWLESS hash cap as the final
    stage — the hot-domain scale path (a 10^8-doc domain stays fully
    parallel instead of serializing in one window partition)."""
    from xoverrr_spark.operators.corpus import cap_per_source_hash

    return cap_per_source_hash(
        _curated_survivors(spark, sf_dir), "source", "doc_id", oracle.CURATE_SOURCE_CAP)


def q_lsh_bucket_stats(spark, sf_dir):
    """Bucket-size audit for the MinHash LSH banding — makes the
    DEFAULT_MAX_BUCKET cap's recall loss observable (no silent caps)."""
    from xoverrr_spark.operators.dedup import lsh_bucket_stats

    sig = minhash_signature(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return lsh_bucket_stats(sig)


def q_decontaminate(spark, sf_dir):
    from xoverrr_spark.operators.dedup import contaminated_docs

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % oracle.DECONTAM_BENCH_MOD == 0)
    return contaminated_docs(d, bench, "doc_id", "text")


def q_contamination_scores(spark, sf_dir):
    """Fractional benchmark-overlap decontamination (dedup.
    contamination_scores): broadcast benchmark shingle set, corpus-side
    one pass — distinguishes a doc quoting one benchmark sentence from
    the benchmark page itself, where contaminated_docs only flags."""
    from xoverrr_spark.operators.dedup import contamination_scores

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % oracle.DECONTAM_BENCH_MOD == 0)
    return contamination_scores(d, bench, "doc_id", "text")


def q_apply_changes(spark, sf_dir):
    """CDC merge of a derived change feed (updates %5, deletes %7,
    inserts %11 offset) into orders — single-shuffle window merge."""
    from xoverrr_spark.operators.merge import apply_changes

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    upd = (
        o.filter((k % oracle.MERGE_UPD_MOD == 0) | (k % oracle.MERGE_DEL_MOD == 0))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn(
            "op",
            F.when(k % oracle.MERGE_DEL_MOD == 0, F.lit("D")).otherwise(F.lit("U")),
        )
    )
    ins = (
        o.filter(k % oracle.MERGE_INS_MOD == 0)
        .withColumn("o_orderkey", k + oracle.MERGE_INS_OFFSET)
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("op", F.lit("U"))
    )
    return apply_changes(
        o, upd.unionByName(ins), ["o_orderkey"], op_col="op"
    )


def q_curate_documents_v2(spark, sf_dir):
    """Training-data recipe composition, one lazy plan: single-scan window
    exact-dedup -> drop Gopher-repetitive docs (broadcast anti-join on the
    flagged tail) -> weighted mixture sample (hash threshold, corpus never
    shuffles for the rates) -> token-budget sequence packing. Each stage
    is an independently oracle-verified operator; this pins composition."""
    from xoverrr_spark.operators.corpus import mixture_sample, pack_documents
    from xoverrr_spark.operators.dedup import exact_dedup_window
    from xoverrr_spark.operators.repetition import repetitive_docs

    d = _t(spark, sf_dir, "documents", rebalance=False)
    # the dedup survivors feed FOUR branches (repetition agg, anti-join
    # left side, mixture rate counts, mixture main) and branches of one
    # lazy plan never share execution — persist
    dd = persist(exact_dedup_window(d, "doc_id", "text"))
    rep = repetitive_docs(
        dd, max_dup_frac=oracle.CURATE2_MAX_DUP,
        max_top_frac=oracle.CURATE2_MAX_TOP,
    )
    keepr = persist(dd.join(F.broadcast(rep.select("doc_id")), "doc_id", "left_anti"))
    mixed = mixture_sample(keepr, oracle.MIXTURE_WEIGHTS, oracle.MIXTURE_TARGET_FRAC)
    return pack_documents(mixed, oracle.PACK_BUDGET_TOKENS)


def q_curate_documents_v3(spark, sf_dir):
    """Round-5 recipe composing the new corpus-level signals, one lazy
    plan over ONE shared persisted shingle table: window exact-dedup ->
    drop docs whose CROSS-corpus duplicated-ngram ratio exceeds 1.25x
    the global ratio -> drop docs FULLY contained in the benchmark's
    shingle set (hard decontam; quoting survives, mirror pages do not).

    Both gates are scale-free and integer-exact: the ratio gate is the
    cross-multiplied form ``4 * n_dup * S_sh <= 5 * n_sh * S_dup``
    (fixed-share thresholds go vacuous as the corpus grows — the q11
    lesson — and float division orders differ across engines); the
    containment gate is the integer equality ``n_bench == n_shingles``,
    no division at all. Products stay far under int64 (counts are
    per-doc x corpus-total of 40-bit-hash rows).
    """
    from xoverrr_spark.operators.dedup import (
        contamination_scores, dup_shingle_fraction, exact_dedup_window,
        shingle_table,
    )

    d = _t(spark, sf_dir, "documents", rebalance=False)
    dd = persist(exact_dedup_window(d, "doc_id", "text"))
    # ONE shingle table feeds the dup-fraction agg, the benchmark set and
    # the containment scores (branches never share execution unpersisted)
    sh = persist(shingle_table(dd, "doc_id", "text"))
    frac = persist(dup_shingle_fraction(dd, "doc_id", "text", shingles=sh))
    tots = frac.agg(
        F.sum("n_shingles").alias("_ts"),
        F.sum("n_dup_shingles").alias("_td"),
    )
    gated = (
        frac.crossJoin(F.broadcast(tots))
        .filter(
            F.lit(4) * F.col("n_dup_shingles") * F.col("_ts")
            <= F.lit(5) * F.col("n_shingles") * F.col("_td")
        )
        .select("doc_id", "n_shingles", "n_dup_shingles")
    )
    bench = dd.filter(F.col("doc_id") % oracle.DECONTAM_BENCH_MOD == 0)
    contained = (
        contamination_scores(dd, bench, "doc_id", "text", shingles=sh)
        .filter("n_bench_shingles = n_shingles")
        .select("doc_id")
    )
    return gated.join(contained, "doc_id", "left_anti")


def q_bloom_decontaminate(spark, sf_dir):
    from xoverrr_spark.operators.dedup import bloom_contaminated_docs

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % oracle.DECONTAM_BENCH_MOD == 0)
    return bloom_contaminated_docs(d, bench, "doc_id", "text")


def q_cluster_survivors(spark, sf_dir):
    from xoverrr_spark.operators.dedup import cluster_near_dups, cluster_survivors

    d = _t(spark, sf_dir, "documents")
    with scope():
        labels = cluster_near_dups(simhash_near_dups(d, "doc_id", "text"))
    scores = d.select("doc_id", quality_score(F.col("text")).alias("quality_score"))
    return cluster_survivors(labels, scores)


def q_source_cap(spark, sf_dir):
    from xoverrr_spark.operators.corpus import cap_per_source

    d = _t(spark, sf_dir, "documents", rebalance=False).select("doc_id", "source")
    return cap_per_source(d, "source", "doc_id", oracle.SOURCE_CAP_K)


def q_source_cap_hash(spark, sf_dir):
    from xoverrr_spark.operators.corpus import cap_per_source_hash

    d = _t(spark, sf_dir, "documents", rebalance=False).select("doc_id", "source")
    return cap_per_source_hash(d, "source", "doc_id", oracle.SOURCE_CAP_K)


def q_source_keep_rate(spark, sf_dir):
    from xoverrr_spark.operators.corpus import source_keep_rate

    from xoverrr_spark.pipeline.quality_filter import annotate

    d = _t(spark, sf_dir, "documents")
    # annotate keeps every input column incl. `source`, so the decisions
    # frame feeds the rate aggregation directly: ONE scan + one groupBy,
    # no re-join against the corpus (quality_filter's decision-only
    # projection would drop source and force the join form)
    dec = annotate(d, caption_col="text", with_ppl=False)
    return source_keep_rate(dec)


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < oracle.ANN_QUERY_MAX_ID)
    return cosine_topk(emb, q, k=oracle.ANN_K).select("query_id", "neighbor_id", "rank")


def q_embedding_near_dups(spark, sf_dir):
    from xoverrr_spark.operators.dedup import DEFAULT_MAX_BUCKET

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dups(
        emb, threshold=oracle.NEAR_DUP_COS, max_bucket_size=DEFAULT_MAX_BUCKET
    ).select("id_a", "id_b")


def q_quality_filter_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumnRenamed("doc_id", "image_id")
    out = quality_filter(d, caption_col="text", with_ppl=False)
    return out.select(
        F.col("image_id").alias("doc_id"),
        "lang",
        F.concat_ws(",", "drop_reasons").alias("drop_reasons"),
        "keep",
        "caption_scrubbed",
    )


def q_drop_reason_examples(spark, sf_dir):
    from xoverrr_spark.operators.sniff import drop_reason_examples

    d = _t(spark, sf_dir, "documents").withColumnRenamed("doc_id", "image_id")
    out = quality_filter(d, caption_col="text", with_ppl=False)
    return drop_reason_examples(out, key_col="image_id")


def q_drop_reason_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumnRenamed("doc_id", "image_id")
    out = quality_filter(d, caption_col="text", with_ppl=False)
    return (
        out.select(F.explode("drop_reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("issue_count"))
    )


def q_asof_events(spark, sf_dir):
    """Point-in-time lookup: each query event (id % 5 == 0) picks up the
    most recent other event (id % 5 != 0) of the same user at or before
    its timestamp — tagged-union + window, ONE shuffle, zero joins."""
    from xoverrr_spark.operators.timeseries import asof_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "tsec", F.col("ts").cast("timestamp").cast("long")
    )
    left = ev.filter(F.col("event_id") % 5 == 0).select("event_id", "user_id", "tsec")
    right = ev.filter(F.col("event_id") % 5 != 0).select("user_id", "tsec", "value")
    return asof_join(left, right, ["user_id"], "tsec", "tsec", ["value"])


def q_quantiles_events(spark, sf_dir):
    from xoverrr_spark.operators.profile import quantiles

    q = quantiles(
        _t(spark, sf_dir, "events"), "value", oracle.QUANTILE_PROBS, ["event_type"]
    )
    # DECIMAL(18,6) round-trip: a 1-ulp interpolation-order difference
    # between engines cannot break the value hash
    return q.select(
        "event_type",
        *[
            F.col(f"q_{int(round(p * 100))}")
            .cast("decimal(18,6)").cast("double")
            .alias(f"q_{int(round(p * 100))}")
            for p in oracle.QUANTILE_PROBS
        ],
    )


def q_pivot_events_by_day(spark, sf_dir):
    """Daily event-type count matrix via groupBy().pivot() with an explicit
    value list (deterministic columns; no extra distinct-scan job)."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.select(F.to_date("ts").alias("dt"), "event_type")
        .groupBy("dt")
        .pivot("event_type", oracle.EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # absent (dt, type) combos are null after pivot; the oracle's
    # conditional COUNT yields 0 — align
    return p.select(
        "dt", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in oracle.EVENT_TYPES]
    )


def q_exact_dedup_survivors(spark, sf_dir):
    from xoverrr_spark.operators.dedup import exact_dedup_window

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return exact_dedup_window(d, "doc_id", "text").select("doc_id", "source")


def q_cube_events(spark, sf_dir):
    """All four grouping sets of (event_type, day) — cube complements the
    rollup query's hierarchy (same 'ALL' sentinel convention)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", F.to_date("ts").alias("dt"), "value")
        .cube("event_type", "dt")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dt").cast("string"), F.lit("ALL")).alias("dt"),
            "total_value", "n",
        )
    )


def q_candidate_edit_distance(spark, sf_dir):
    """Edit-distance verify on LSH candidate pairs — a second exact
    near-dup confirmation modality (Levenshtein <= k), O(candidates)."""
    from xoverrr_spark.operators.dedup import lsh_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    sig = minhash_signature(d, "doc_id", "text")
    cands = lsh_candidate_pairs(sig)
    texts = d.select("doc_id", "text")
    return (
        cands.join(texts.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta")), "doc_a")
        .join(texts.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb")), "doc_b")
        .select("doc_a", "doc_b", F.levenshtein("_ta", "_tb").alias("edit_distance"))
        .filter(F.col("edit_distance") <= oracle.EDIT_DISTANCE_MAX)
    )


def q_multimodal_near_dup_clusters(spark, sf_dir):
    """Modality fusion: MinHash-Jaccard and SimHash-Hamming near-dup pairs
    union into ONE edge set before connected components — the two
    detectors catch different duplicate families (shingle overlap vs
    token distribution), and clustering after fusion merges chains that
    cross modalities."""
    from xoverrr_spark.operators.dedup import cluster_near_dups, minhash_near_dups

    d = _t(spark, sf_dir, "documents")
    with scope():
        mh = minhash_near_dups(d, "doc_id", "text", jaccard_threshold=0.8)
        sh = simhash_near_dups(d, "doc_id", "text")
        return cluster_near_dups(
            mh.select("doc_a", "doc_b")
            .unionByName(sh.select("doc_a", "doc_b"))
            .distinct()
        )


def q_boilerplate_lines(spark, sf_dir):
    """Line-level boilerplate removal over deterministically constructed
    multi-line docs (text + source + a constant footer): the footer and
    any hot source line drop; unique text lines survive in order."""
    from xoverrr_spark.operators.corpus import remove_boilerplate_lines

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n", F.col("text"), F.col("source"), F.lit(oracle.BOILERPLATE_FOOTER)
        ).alias("text"),
    )
    out = remove_boilerplate_lines(
        d, "doc_id", "text", oracle.BOILERPLATE_LINE_MAX_DOCS
    )
    return out.select("doc_id", "text_clean", "n_lines_removed")


def q_value_outliers(spark, sf_dir):
    from xoverrr_spark.operators.profile import value_outliers

    ev = _t(spark, sf_dir, "events")
    return value_outliers(
        ev, "value", ["event_type"], z_threshold=oracle.OUTLIER_Z,
        id_cols=["event_id"],
    )


def q_embedding_bucket_stats(spark, sf_dir):
    from xoverrr_spark.operators.dedup import DEFAULT_MAX_BUCKET, bucket_size_stats
    from xoverrr_spark.operators.similarity import embedding_band_buckets

    emb = _t(spark, sf_dir, "embeddings")
    return bucket_size_stats(embedding_band_buckets(emb), DEFAULT_MAX_BUCKET)


def q_range_count_events(spark, sf_dir):
    """Binned interval join: per error event, the count and value-sum of
    same-user events in the following 5 minutes (zero-match errors kept)."""
    from xoverrr_spark.operators.timeseries import range_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    pairs = range_join(
        errors, ev, ["user_id"], "ts", "ts", ["value"], window_seconds=300
    )
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("r_value").cast("decimal(18,4)")).alias("_tv"),
    )
    return (
        errors.join(agg, "event_id", "left")
        .select(
            "event_id",
            F.coalesce(F.col("_n"), F.lit(0)).alias("n_follow"),
            F.coalesce(F.col("_tv").cast("double"), F.lit(0.0)).alias("total_value"),
        )
    )


def q_quality_top_fraction(spark, sf_dir):
    from xoverrr_spark.operators.corpus import top_quality_fraction

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality_score")
    )
    return top_quality_fraction(
        scored, "lang", "quality_score", oracle.TOP_QUALITY_FRAC
    )


def q_mixture_sample(spark, sf_dir):
    from xoverrr_spark.operators.corpus import mixture_sample

    # no rebalance: the map side is one md5 per id — the extra exchange
    # costs more than the parallelism buys (measured +0.3s)
    d = _t(spark, sf_dir, "documents", rebalance=False)
    return mixture_sample(
        d, oracle.MIXTURE_WEIGHTS, oracle.MIXTURE_TARGET_FRAC
    ).select("doc_id", "source")


def q_incremental_dedup(spark, sf_dir):
    """Ingestion-time dedup of a derived new batch (1/3 exact copies, 1/3
    appended-token near-dups, 1/3 fresh) against the documents corpus."""
    from xoverrr_spark.functions.tokens import fingerprint as _fp
    from xoverrr_spark.operators.dedup import (
        fingerprint_index,
        incremental_near_dups,
    )

    d = _t(spark, sf_dir, "documents")
    mod3 = F.col("doc_id") % 3
    new = d.select(
        (F.col("doc_id") + oracle.INCR_ID_OFFSET).alias("doc_id"),
        F.when(mod3 == 0, F.col("text"))
        .when(mod3 == 1, F.concat(F.col("text"), F.lit(" " + oracle.INCR_NEAR_TAIL)))
        .otherwise(
            F.concat(
                F.lit(oracle.INCR_FRESH_PREFIX),
                F.col("doc_id").cast("string"),
                F.lit(oracle.INCR_FRESH_SUFFIX),
            )
        )
        .alias("text"),
    )
    fps = fingerprint_index(d, "doc_id", "text")
    sentinel = F.lit("\x00<null-text>")
    nfp = new.withColumn("text_fp", F.coalesce(_fp(F.col("text")), sentinel))
    exact_ids = nfp.join(fps, "text_fp", "left_semi").select("doc_id")
    nonexact = new.join(exact_ids, "doc_id", "left_anti")
    near_ids = (
        incremental_near_dups(
            nonexact, d, "doc_id", "text", jaccard_threshold=oracle.INCR_JACCARD
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return (
        new.join(exact_ids.withColumn("_e", F.lit(True)), "doc_id", "left")
        .join(near_ids.withColumn("_n", F.lit(True)), "doc_id", "left")
        .select(
            F.col("doc_id").alias("new_id"),
            F.when(F.col("_e"), "exact_dup")
            .when(F.col("_n"), "near_dup")
            .otherwise("fresh")
            .alias("status"),
        )
    )


def q_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape declared declaratively — Catalyst pushes both date
    filters into the scans and broadcast-joins the filtered customer dim."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == oracle.Q3_SEGMENT
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(oracle.Q3_DATE).cast("date")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(oracle.Q3_DATE).cast("date")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-table star join + local-supplier condition; the
    three dimension tables broadcast, the fact joins shuffle on their keys."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(oracle.Q5_YEAR_LO).cast("date"))
        & (F.col("o_orderdate") < F.lit(oracle.Q5_YEAR_HI).cast("date"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == oracle.Q5_REGION)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(
            s,
            (l["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: two-nation trade flows by year — the disjunctive
    pair condition rides the two broadcast nation joins."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    a, b = oracle.Q7_NATION_A, oracle.Q7_NATION_B
    pair = (
        (F.col("supp_nation") == a) & (F.col("cust_nation") == b)
    ) | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
    return (
        s.join(l, s["s_suppkey"] == l["l_suppkey"])
        .join(o, o["o_orderkey"] == l["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's yearly market."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rk")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == oracle.Q8_REGION)
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        l.join(s, s["s_suppkey"] == l["l_suppkey"])
        .join(o, o["o_orderkey"] == l["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .join(r, F.col("n2_rk") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("l_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == oracle.Q8_NATION, vol)
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


def q_q12_priority_counts(spark, sf_dir):
    """TPC-H Q12 shape: conditional priority counts per return flag."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(hi, 1)).alias("high_line_count"),
            F.count(F.when(~hi, 1)).alias("low_line_count"),
        )
    )


def q_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (correlated EXISTS) through the spark.sql path —
    Catalyst rewrites the subquery to a left-semi hash join on
    l_orderkey; the date filter pushes to the orders scan. The fixture
    lacks l_commitdate, so l_returnflag='R' plays the late-line role."""
    return _tpch_sql(spark, sf_dir, oracle.q4_order_priority(), "q4")


def q_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: left-outer join with an ON-clause exclusion, then
    a two-level aggregation (per-customer count -> count distribution).
    Zero-order customers must survive into the c_count=0 bucket — the
    exclusion predicate lives in the JOIN condition, not a WHERE."""
    return _tpch_sql(spark, sf_dir, oracle.q13_customer_distribution(), "q13")


def q_q16_parts_supplier(spark, sf_dir):
    """TPC-H Q16 shape: NOT IN anti-subquery + COUNT(DISTINCT) —
    Catalyst's null-aware anti join (the NOT IN subquery column is
    non-null here, so it stays a broadcast anti-join, not the O(n*m)
    null-aware fallback). lineitem stands in for partsupp."""
    return _tpch_sql(spark, sf_dir, oracle.q16_parts_supplier(), "q16")


def q_q18_large_volume(spark, sf_dir):
    """TPC-H Q18 shape: IN-subquery over a HAVING aggregate — Catalyst
    plans a left-semi against the grouped lineitem quantities. Threshold
    tuned to the fixture's ~4 lines x uniform(1..50) per order."""
    return _decimals_to_double(
        _tpch_sql(spark, sf_dir, oracle.q18_large_volume(), "q18")
    )


def q_q22_global_sales(spark, sf_dir):
    """TPC-H Q22 shape: scalar subqueries + NOT EXISTS anti — two more
    Catalyst rewrites (ScalarSubquery + left-anti). The above-average
    test is expressed as bal * count > sum in DECIMAL (exact in both
    engines; a float AVG threshold could flip boundary rows per engine).
    The fixture has no c_phone; the customer-number digits play the
    country-code role."""
    return _tpch_sql(spark, sf_dir, oracle.q22_global_sales(), "q22")


_TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem")


def _tpch_sql(spark, sf_dir, sql, tag):
    """Execute an oracle TPC-H shape twin's SQL text on Spark verbatim.

    The TPC-H shapes written as SQL (q2/q4/q6/q9/q10/q11/q13/q14/q15/
    q16/q17/q18/q19/q20/q21/q22) use the DuckDB ∩ Spark SQL dialect
    intersection (DATE literals, EXTRACT(year), DECIMAL casts, correlated
    scalar subqueries, EXISTS/IN/NOT IN, LEFT OUTER joins with ON-clause
    filters) — so the Spark side runs the IDENTICAL text
    with bare table names rewritten to per-query temp views. One SQL
    string per query means the two engines can never drift structurally;
    only Catalyst's physical planning differs.

    Caveat: output aliases in these SQL texts must never equal a bare
    table name (`AS nation` would be rewritten to `AS nation_qN` and
    break column parity) — underscore-adjacent forms like `supp_nation`
    are safe because \\b does not match inside a word. String literals
    are exempt from rewriting (a `LIKE '%part%'` pattern must reach
    both engines byte-identical — rewriting it Spark-side only would
    silently diverge the two results the parity gate compares).
    """
    rewritten, tables = _rewrite_tpch_tables(sql, tag)
    for t in tables:
        _t(spark, sf_dir, t).createOrReplaceTempView(f"{t}_{tag}")
    return spark.sql(rewritten)


def _rewrite_tpch_tables(sql, tag):
    """Rewrite bare TPC-H table names to ``{table}_{tag}`` OUTSIDE
    single-quoted SQL string literals ('' escapes handled); return
    (rewritten_sql, sorted set of table names seen outside literals)."""
    import re

    pat = re.compile(r"\b(" + "|".join(_TPCH_TABLES) + r")\b")
    parts = re.split(r"('(?:[^']|'')*')", sql)
    seen: set = set()
    out = []
    for i, seg in enumerate(parts):
        if i % 2:  # quoted literal — pass through untouched
            out.append(seg)
        else:
            seen.update(pat.findall(seg))
            out.append(pat.sub(lambda m: f"{m.group(1)}_{tag}", seg))
    return "".join(out), sorted(seen)


def _decimals_to_double(df: DataFrame) -> DataFrame:
    """Final Spark-side cast of DECIMAL output columns to DOUBLE.

    DuckDB's client materializes DECIMAL results as float64 while Spark's
    toPandas keeps decimal.Decimal ('400000.10' vs 400000.1) — identical
    values, different hash representations (the one red driver row of
    round 5, q18). The oracle SQL is untouched; the cast is exact
    (DECIMAL(18,2) magnitudes are well inside double's 2^53), matching
    the q22_global_sales pattern. Guarded by
    tests/test_no_decimal_outputs.py."""
    from pyspark.sql import types as T

    casts = {
        f.name: F.col(f.name).cast("double")
        for f in df.schema.fields
        if isinstance(f.dataType, T.DecimalType)
    }
    return df.withColumns(casts) if casts else df


def q_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: correlated MIN scalar subquery — cheapest supplier
    rows per size-11 part (lineitem stands in for partsupp)."""
    return _decimals_to_double(
        _tpch_sql(spark, sf_dir, oracle.q2_min_cost_supplier(), "q2")
    )


def q_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-aggregate; every predicate reaches the
    parquet scan (no join, no window — the pushdown litmus query)."""
    return _tpch_sql(spark, sf_dir, oracle.q6_forecast_revenue(), "q6")


def q_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: five-way join + derived-year grouping with
    DECIMAL-cast per-row profit."""
    return _tpch_sql(spark, sf_dir, oracle.q9_product_profit(), "q9")


def q_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer over a
    four-way join (no LIMIT: top-k ties are engine-nondeterministic)."""
    return _decimals_to_double(
        _tpch_sql(spark, sf_dir, oracle.q10_returned_items(), "q10")
    )


def q_q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: HAVING gated by scalar subqueries (above-2x-mean
    part value, exact scale-free math)."""
    return _tpch_sql(spark, sf_dir, oracle.q11_important_parts(), "q11")


def q_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio (promo share) with
    DECIMAL sums and a fixed-order DOUBLE division."""
    return _tpch_sql(spark, sf_dir, oracle.q14_promo_revenue(), "q14")


def q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: aggregated CTE + scalar MAX over it joined back
    to supplier; DECIMAL revenue makes the max-equality exact."""
    return _tpch_sql(spark, sf_dir, oracle.q15_top_supplier(), "q15")


def q_q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subqueries; q < 0.2*avg(q)
    rewritten as q*5*cnt < sum(q) for BIGINT-exact boundaries."""
    return _tpch_sql(spark, sf_dir, oracle.q17_small_quantity(), "q17")


def q_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs brand/size/quantity bands over a
    part-lineitem join."""
    return _tpch_sql(spark, sf_dir, oracle.q19_disjunctive_revenue(), "q19")


def q_q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 shape: IN over a grouped-HAVING subquery with a nested
    IN (lineitem stands in for partsupp)."""
    return _tpch_sql(spark, sf_dir, oracle.q20_potential_promotion(), "q20")


def q_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS on the same table
    with supplier-inequality (sole failing supplier per order)."""
    return _tpch_sql(spark, sf_dir, oracle.q21_waiting_suppliers(), "q21")


def q_sliding_counts(spark, sf_dir):
    """Sliding event-time windows (10 min window / 5 min step); each event
    lands in window/step = 2 epoch-aligned windows."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = F.window(
        F.col("ts").cast("timestamp"),
        f"{oracle.SLIDE_WINDOW_S} seconds",
        f"{oracle.SLIDE_STEP_S} seconds",
    )
    return (
        ev.groupBy(w.alias("_w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )


def q_chunk_documents(spark, sf_dir):
    from xoverrr_spark.operators.corpus import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"),
        oracle.CHUNK_MAX_TOKENS,
        oracle.CHUNK_STRIDE,
    )


def q_pack_documents(spark, sf_dir):
    from xoverrr_spark.operators.corpus import pack_documents

    return pack_documents(
        _t(spark, sf_dir, "documents"), oracle.PACK_BUDGET_TOKENS
    )


def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS via spark.sql. The one SQL query with its own Spark
    text: it spells the casts STRING/INT where the DuckDB twin spells
    VARCHAR/INTEGER, so it cannot run the twin through ``_tpch_sql``."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(CAST(ts AS DATE) AS STRING), 'ALL') AS dt,
               COUNT(*) AS cnt,
               CAST(grouping(event_type) AS INT) AS g_type,
               CAST(grouping(CAST(ts AS DATE)) AS INT) AS g_dt
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
        """
    )


def q_cumulative_users(spark, sf_dir):
    """Running distinct-user count by day: first-seen day per user (one
    groupBy) then a cumulative sum over the tiny daily frame — a naive
    running COUNT(DISTINCT) window would hold unbounded state."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    first_seen = ev.groupBy(
        (F.col("user_id") * 1000 + F.col("event_id") % 97).alias("u")
    ).agg(F.min(F.col("ts").cast("date")).alias("dt"))
    daily = first_seen.groupBy("dt").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "dt", "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


def q_id_gaps(spark, sf_dir):
    """Holes in a key sequence (engineered: %97 keys removed) — the
    completeness check behind 'did the extract skip rows'. Partition-range
    form: lead within key buckets + a tiny per-bucket boundary stitch, so
    no task ever sorts the full key set (operators/sequence.py).
    bucket_bits=10 so the sf0.01 key space (~60k) actually spans dozens of
    buckets and the boundary-stitch path is exercised by the oracle gate."""
    from xoverrr_spark.operators.sequence import id_gaps

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 != 0)
    return id_gaps(o, "o_orderkey", bucket_bits=10)


def q_unpivot(spark, sf_dir):
    """Wide per-type daily counts melted back to long form via the
    built-in unpivot (the inverse of q_pivot_events_by_day)."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy(F.col("ts").cast("date").alias("dt")).agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(t)
            for t in ("click", "view", "error")
        ]
    )
    return wide.unpivot(["dt"], ["click", "view", "error"], "event_type", "val")


def q_key_skew(spark, sf_dir):
    from xoverrr_spark.operators.profile import key_skew_stats

    return key_skew_stats(
        _t(spark, sf_dir, "lineitem"), ["l_orderkey"], oracle.SKEW_TOP_K
    )


def q_pii_counts(spark, sf_dir):
    """Per-source PII incidence of the scrub battery's patterns over a
    derived corpus with deterministically injected emails/phones."""
    from xoverrr_spark.functions.scrub import has_email, has_phone

    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(
            k % 4 == 0,
            F.concat(F.lit(" contact user"), k.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            k % 5 == 0,
            F.concat(
                F.lit(" call +1 (555) 010-"), (1000 + k % 9000).cast("string")
            ),
        ).otherwise(F.lit("")),
    )
    d2 = d.select("doc_id", "source", text.alias("text"))
    return d2.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.count(F.when(has_email(F.col("text")), 1)).alias("email_docs"),
        F.count(F.when(has_phone(F.col("text")), 1)).alias("phone_docs"),
    )


def q_repetition_stats(spark, sf_dir):
    from xoverrr_spark.operators.repetition import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_dup_shingle_fraction(spark, sf_dir):
    """Cross-corpus duplicated n-gram fraction per doc (dedup.
    dup_shingle_fraction): the MassiveText-style corpus-level repetition
    signal — doc-freq agg + membership left join on near-uniform 40-bit
    shingle hashes, no self-join. Oracle replays the identical shingle
    fold and the same single int/int double division."""
    from xoverrr_spark.operators.dedup import dup_shingle_fraction

    return dup_shingle_fraction(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (splits.assign_splits):
    md5('seed:id') thresholded over the 60-bit space — zero shuffle,
    partitioning/retry/engine-independent. Fractions + seed come from
    oracle.SPLIT_FRACTIONS/SPLIT_SEED so the twin can never drift."""
    from xoverrr_spark.operators.splits import assign_splits

    d = _t(spark, sf_dir, "documents", rebalance=False).select("doc_id")
    return assign_splits(d, "doc_id", oracle.SPLIT_FRACTIONS, seed=oracle.SPLIT_SEED)


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split duplicate-leakage audit (splits.split_leakage) over a
    derived corpus: every SPLIT_MIRROR_MOD-th doc mirrored verbatim at
    doc_id + SPLIT_MIRROR_OFFSET (the raw table has no exact dups — the
    mirror creates cross-id dup groups whose members hash to independent
    splits), then every doc whose fingerprint spans >= 2 splits is
    reported with the sorted split set — the eval-contamination check a
    split pipeline must run before training."""
    from xoverrr_spark.operators.splits import assign_splits, split_leakage

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % oracle.SPLIT_MIRROR_MOD == 0).select(
            (F.col("doc_id") + oracle.SPLIT_MIRROR_OFFSET).alias("doc_id"), "text"
        )
    )
    with_split = assign_splits(
        corpus, "doc_id", oracle.SPLIT_FRACTIONS, seed=oracle.SPLIT_SEED
    )
    return split_leakage(with_split, "doc_id", "text", "split")


def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture plan (splits.token_budget_mixture with
    upsampling): one groupBy over sources; driver-computed integer
    targets; bigint floor-div epoch/ppm math. src8 (weight 2) targets
    more tokens than it holds -> epochs >= 1 plus a fractional pass;
    src9..src19 carry no weight and surface as visible rate-0 rows
    instead of being silently kept."""
    from xoverrr_spark.operators.splits import token_budget_mixture

    return token_budget_mixture(
        _t(spark, sf_dir, "documents"),
        "source",
        "text",
        oracle.MIX_WEIGHTS,
        oracle.MIX_BUDGET_TOKENS,
        allow_upsample=True,
    )


def q_assemble_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end assembly recipe (splits.assemble_dataset) over the
    mirrored corpus: deterministic split -> cross-split leakage
    quarantine (TRAIN copies of leaked groups dropped, eval copies kept
    — the Brown et al. 2020 decontamination direction) -> token-budget
    plan over the quarantined train split -> independent-hash sampling.
    One persisted split-assigned frame feeds all four consumers."""
    from xoverrr_spark.operators.splits import assemble_dataset

    # no rebalance: the split-assigned corpus persists after one md5 map;
    # the recipe's work is post-persist (measured 2.9s plain vs 3.2-4.4s)
    d = _t(spark, sf_dir, "documents", rebalance=False).select("doc_id", "text", "source")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % oracle.SPLIT_MIRROR_MOD == 0).select(
            (F.col("doc_id") + oracle.SPLIT_MIRROR_OFFSET).alias("doc_id"),
            "text",
            "source",
        )
    )
    return assemble_dataset(
        corpus,
        "doc_id",
        "text",
        "source",
        oracle.SPLIT_FRACTIONS,
        oracle.MIX_WEIGHTS,
        oracle.MIX_BUDGET_TOKENS,
        seed=oracle.SPLIT_SEED,
    )


def q_near_dup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split NEAR-duplicate leakage (splits.near_dup_pair_leakage):
    minhash-verified near-dup pairs joined to the deterministic split
    assignment, keeping pairs that straddle splits — the GPT-3-style
    near-dup decontamination audit (exact-dup leakage alone misses
    templated/lightly-edited contamination). Detector params match
    minhash_near_dups_documents; split params match
    split_assignment_documents."""
    from xoverrr_spark.operators.dedup import minhash_near_dups
    from xoverrr_spark.operators.splits import assign_splits, near_dup_pair_leakage

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_dups(d, "doc_id", "text", jaccard_threshold=0.5)
    splits_df = assign_splits(
        d.select("doc_id"), "doc_id", oracle.SPLIT_FRACTIONS, seed=oracle.SPLIT_SEED
    )
    return near_dup_pair_leakage(pairs, splits_df, "doc_id", "split")


def q_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-keyed split (splits.assign_splits with the SOURCE column as
    the hash key): every document of a source lands in the same split —
    the standard defense against intra-domain near-dup leakage (two
    scrapes of one site can never straddle the eval boundary). Fractions
    apply to groups, not documents."""
    from xoverrr_spark.operators.splits import assign_splits

    d = _t(spark, sf_dir, "documents", rebalance=False).select("doc_id", "source")
    return assign_splits(d, "source", oracle.SPLIT_FRACTIONS, seed=oracle.SPLIT_SEED)


# -------------------------------------------------------------- contract ----

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full quality-filter pipeline (incl. perplexity pandas UDF)
    over the sf0.001 documents table."""
    d = _t(spark, "/root/testdata/sf0.001", "documents").withColumnRenamed("doc_id", "image_id")
    out = quality_filter(d, caption_col="text", with_ppl=True)
    return out.withColumn("drop_reasons", F.concat_ws(",", "drop_reasons"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate records the FIRST 50
    # entries. Round 5 ROTATES the window (r4 verdict #4): ten tail rows
    # the driver has never recorded (TPC-H subquery shapes, skew/outlier/
    # quantile diagnostics, grouping sets, the multimodal cluster fusion)
    # are promoted into the first 50; ten simple rows the driver verified
    # green in CORRECTNESS_r04.json (crossfill/sniff variants, the
    # single-function pipeline stages subsumed by quality_filter_documents)
    # ride the tail this round. The full set is still swept locally by
    # scripts/check_oracle.py / verify_all.sh at sf0.01 + sf0.1.
    return {
        # --- reference engines: diff / counts / profile ------------------
        "diff_classify_orders": q_diff_classify,
        "diff_stats_orders": q_diff_stats,
        "dup_keys_lineitem": q_dup_keys,
        "daily_counts_events": q_daily_counts,
        "profile_orders": q_profile_orders,
        "profile_drift_orders": q_profile_drift,
        # --- quality-filter pipeline (full composition) ------------------
        "quality_filter_documents": q_quality_filter_docs,
        # --- promoted: never driver-recorded before round 5 --------------
        "q13_customer_distribution": q_q13_customer_distribution,
        "q16_parts_supplier": q_q16_parts_supplier,
        "q18_large_volume": q_q18_large_volume,
        "q22_global_sales": q_q22_global_sales,
        "key_skew_lineitem": q_key_skew,
        "quantiles_events": q_quantiles_events,
        "value_outliers_events": q_value_outliers,
        "grouping_sets_events": q_grouping_sets,
        "histogram_orders": q_histogram_orders,
        "multimodal_near_dup_clusters": q_multimodal_near_dup_clusters,
        # round-5 new check families (referential integrity, freshness) —
        # straight into the driver window; id_gaps_orders and
        # apply_changes_orders (both r4-green) ride the tail
        "fk_orphans_orders": q_fk_orphans_orders,
        # round-5 batch-4: ninth family's engine, oracle-backed like the
        # other check families (ann_topk_embeddings, r4-green, slides out)
        "dup_key_stats_lineitem": q_dup_key_stats_lineitem,
        "freshness_events": q_freshness_events,
        "freshness_by_type_events": q_freshness_by_type_events,
        "salted_join_lineitem": q_salted_join_lineitem,
        # --- dedup chain ------------------------------------------------
        "exact_dedup_documents": q_exact_dedup,
        "minhash_signatures_documents": q_minhash_signatures,
        "lsh_candidates_documents": q_lsh_candidates,
        "lsh_bucket_stats_documents": q_lsh_bucket_stats,
        "jaccard_pairs_documents": q_jaccard_pairs,
        "minhash_near_dups_documents": q_minhash_near_dups,
        "near_dup_clusters_documents": q_near_dup_clusters,
        "cluster_survivors_documents": q_cluster_survivors,
        "simhash_documents": q_simhash,
        "simhash_near_dups_documents": q_simhash_near_dups,
        "decontaminate_documents": q_decontaminate,
        "bloom_decontaminate_documents": q_bloom_decontaminate,
        "incremental_dedup_documents": q_incremental_dedup,
        # --- curation recipes + corpus ops ------------------------------
        "curate_documents": q_curate_documents,
        "curate_documents_v2": q_curate_documents_v2,
        "curate_documents_hash": q_curate_documents_hash,
        # round-5 batch-4: composition of the new corpus-level signals
        "curate_documents_v3": q_curate_documents_v3,
        "source_cap_documents": q_source_cap,
        "source_keep_rate_documents": q_source_keep_rate,
        "repetition_stats_documents": q_repetition_stats,
        # round-5 batch-4: cross-corpus duplicated-ngram fraction — new,
        # straight into the driver window (embedding_bucket_stats, r4-green,
        # slides to the tail side of the cut)
        "dup_shingle_fraction_documents": q_dup_shingle_fraction,
        "contamination_scores_documents": q_contamination_scores,
        "boilerplate_lines_documents": q_boilerplate_lines,
        "mixture_sample_documents": q_mixture_sample,
        # round-5 batch-5: dataset assembly — deterministic splits, the
        # cross-split leakage audit, and token-budget mixture planning,
        # straight into the driver window (pack/chunk/source_cap_hash,
        # all r4-green, slide to the tail)
        "split_assignment_documents": q_split_assignment,
        "split_leakage_documents": q_split_leakage,
        "token_budget_mixture_documents": q_token_budget_mixture,
        # batch-5b: the composed assembly recipe goes in-window too
        # (exact_dedup_survivors, r4-green, slides to the tail)
        "assemble_dataset_documents": q_assemble_dataset,
        # ================= driver gate cut-off (50) =====================
        # (the cut-off marker sat four rows too low until round-5 batch-4
        # — recounted, then four batch-4 queries each slid it one row;
        # everything below here is r4-green driver-verified or locally
        # swept every round)
        "pack_documents": q_pack_documents,
        "chunk_documents": q_chunk_documents,
        "exact_dedup_survivors_documents": q_exact_dedup_survivors,
        # batch-5d: near-dup cross-split leakage (composition of two
        # in-window queries: minhash_near_dups x split_assignment)
        "near_dup_split_leakage_documents": q_near_dup_split_leakage,
        "split_by_source_documents": q_split_by_source,
        "source_cap_hash_documents": q_source_cap_hash,
        "quality_top_fraction_documents": q_quality_top_fraction,
        # --- embeddings -------------------------------------------------
        "ann_topk_embeddings": q_ann_topk,
        "embedding_near_dup_pairs": q_embedding_near_dups,
        "embedding_bucket_stats": q_embedding_bucket_stats,
        # --- time series / CDC / completeness ---------------------------
        "asof_events": q_asof_events,
        "range_count_events": q_range_count_events,
        "apply_changes_orders": q_apply_changes,
        "id_gaps_orders": q_id_gaps,
        # demoted this round (driver-verified green in CORRECTNESS_r04):
        "counts_crossfill_events": q_counts_crossfill,
        "count_mismatch_days": q_count_mismatch,
        "sniff_stats_orders": q_sniff_stats,
        "sniff_histogram_orders": q_sniff_histogram,
        "normalize_lineitem": q_normalize,
        "drop_reason_counts_documents": q_drop_reason_counts,
        "langid_documents": q_langid,
        "token_stats_documents": q_token_stats,
        "fingerprint_documents": q_fingerprint,
        "quality_score_documents": q_quality_score,
        # never-promoted tail (locally swept every round):
        "session_stats_events": q_session_stats,
        "count_anomalies_events": q_count_anomalies,
        "json_extract_events": q_json_extract,
        "rollup_events": q_rollup_events,
        "cube_events": q_cube_events,
        "q1_pricing_summary": q_q1,
        "revenue_top10": q_revenue_top10,
        "customers_without_orders": q_customers_without_orders,
        "top3_suppliers_per_nation": q_top3_suppliers,
        "stratified_sample_documents": q_stratified_sample,
        "vocab_top_terms": q_vocab_top_terms,
        "drop_reason_examples_documents": q_drop_reason_examples,
        "pivot_events_by_day": q_pivot_events_by_day,
        "candidate_edit_distance_documents": q_candidate_edit_distance,
        "sliding_counts_events": q_sliding_counts,
        "q3_shipping_priority": q_q3_shipping_priority,
        "q5_local_supplier_volume": q_q5_local_supplier_volume,
        "pii_counts_documents": q_pii_counts,
        "unpivot_events_metrics": q_unpivot,
        "cumulative_users_events": q_cumulative_users,
        "q4_order_priority": q_q4_order_priority,
        "q7_volume_shipping": q_q7_volume_shipping,
        "q8_market_share": q_q8_market_share,
        "q12_priority_counts": q_q12_priority_counts,
        # --- round-5 additions: remaining TPC-H shape twins --------------
        "q2_min_cost_supplier": q_q2_min_cost_supplier,
        "q6_forecast_revenue": q_q6_forecast_revenue,
        "q9_product_profit": q_q9_product_profit,
        "q10_returned_items": q_q10_returned_items,
        "q11_important_parts": q_q11_important_parts,
        "q14_promo_revenue": q_q14_promo_revenue,
        "q15_top_supplier": q_q15_top_supplier,
        "q17_small_quantity": q_q17_small_quantity,
        "q19_disjunctive_revenue": q_q19_disjunctive_revenue,
        "q20_potential_promotion": q_q20_potential_promotion,
        "q21_waiting_suppliers": q_q21_waiting_suppliers,
    }


def oracle_sql() -> dict[str, str]:
    """``oracle.<name>()`` for every ``queries()`` name, in the same order;
    a query without a twin raises AttributeError here."""
    return {name: getattr(oracle, name)() for name in queries()}
