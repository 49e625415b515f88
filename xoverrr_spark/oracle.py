"""DuckDB oracle-SQL builders — the independent twin of every driver query.

Each function returns ANSI SQL (DuckDB dialect) that must produce exactly
the rows of the matching Spark query in ``__spark_entry__.py``. All shared
constants come from ``functions.rulespec`` / ``operators.dedup`` so the two
implementations cannot drift apart silently.

Cross-engine determinism rules observed throughout:
- float *aggregation* goes through exact DECIMAL casts (addition order
  differs between engines; decimal sums don't);
- per-row double arithmetic (products, divisions) is identical IEEE ops in
  identical order — safe to compare;
- regexes restricted to the RE2 ∩ Java-regex subset; letter class spelled
  ``\\p{L}`` (Java) vs ``\\pL`` (RE2); every DuckDB regexp_replace that must
  replace all occurrences carries the ``'g'`` flag (Spark default);
- rank ties broken by id; md5-based integer hashing identical by
  construction (see tokens.md5_long).
"""

from __future__ import annotations

from .functions import rulespec as R
from .operators.dedup import (
    DEFAULT_MAX_BUCKET,
    MINHASH_MOD,
    SIMHASH_BITS,
    minhash_params,
)

# ---------------------------------------------------------------- diff ----

ORDERS_VALUE_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]

# engineered target side: drop keys %97==0, corrupt status on %101==0
ORDERS_TRG_CTE = """
trg AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 101 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
)"""

_EQ = " AND ".join(f"s.{c} = t.{c}" for c in ORDERS_VALUE_COLS)


def diff_classify_orders() -> str:
    return f"""
WITH {ORDERS_TRG_CTE.strip()}
SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       CASE WHEN t.o_orderkey IS NULL THEN 'source_only'
            WHEN s.o_orderkey IS NULL THEN 'target_only'
            WHEN {_EQ} THEN 'matched'
            ELSE 'differs' END AS diff_status
FROM orders s FULL OUTER JOIN trg t ON s.o_orderkey = t.o_orderkey
"""


def diff_stats_orders() -> str:
    # IS DISTINCT FROM mirrors the Spark side's null-safe NOT(<=>) counters
    issue_cols = ",\n       ".join(
        f"COUNT(CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL "
        f"AND s.{c} IS DISTINCT FROM t.{c} THEN 1 END) AS issue_{c}"
        for c in ORDERS_VALUE_COLS
    )
    return f"""
WITH {ORDERS_TRG_CTE.strip()}
SELECT COUNT(s.o_orderkey) AS total_source_rows,
       COUNT(t.o_orderkey) AS total_target_rows,
       CAST(0 AS BIGINT) AS dup_source_rows,
       CAST(0 AS BIGINT) AS dup_target_rows,
       COUNT(CASE WHEN t.o_orderkey IS NULL THEN 1 END) AS only_source_rows,
       COUNT(CASE WHEN s.o_orderkey IS NULL THEN 1 END) AS only_target_rows,
       COUNT(CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN 1 END) AS comparable_rows,
       COUNT(CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL AND {_EQ} THEN 1 END) AS passed_rows,
       {issue_cols}
FROM orders s FULL OUTER JOIN trg t ON s.o_orderkey = t.o_orderkey
"""


def dup_keys_lineitem() -> str:
    return """
SELECT l_orderkey, COUNT(*) AS dup_count
FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
"""


# --------------------------------------------------------------- counts ----

def daily_counts_events() -> str:
    return "SELECT CAST(ts AS DATE) AS dt, COUNT(*) AS cnt FROM events GROUP BY 1"


_EVENTS_SIDES = """
s AS (SELECT CAST(ts AS DATE) AS dt, COUNT(*) AS cnt FROM events WHERE event_id % 2 = 0 GROUP BY 1),
t AS (SELECT CAST(ts AS DATE) AS dt, COUNT(*) AS cnt FROM events WHERE event_id % 3 <> 0 GROUP BY 1)"""


def counts_crossfill_events() -> str:
    return f"""
WITH {_EVENTS_SIDES.strip()}
SELECT COALESCE(s.dt, t.dt) AS dt,
       COALESCE(s.cnt, 0) AS src_cnt, COALESCE(t.cnt, 0) AS trg_cnt
FROM s FULL OUTER JOIN t ON s.dt IS NOT DISTINCT FROM t.dt
"""


def count_mismatch_days() -> str:
    return f"""
WITH {_EVENTS_SIDES.strip()},
j AS (
  SELECT COALESCE(s.dt, t.dt) AS dt,
         COALESCE(s.cnt, 0) AS src_cnt, COALESCE(t.cnt, 0) AS trg_cnt
  FROM s FULL OUTER JOIN t ON s.dt IS NOT DISTINCT FROM t.dt
)
SELECT dt, src_cnt, trg_cnt, src_cnt - trg_cnt AS diff
FROM j WHERE src_cnt <> trg_cnt
"""


# ---------------------------------------------------------------- sniff ----

SNIFF_THRESHOLD = 150000.0


def sniff_histogram_orders() -> str:
    return f"""
SELECT CASE WHEN o_totalprice > {SNIFF_THRESHOLD} THEN 'y' ELSE 'n' END AS status_value,
       COUNT(*) AS count
FROM orders GROUP BY 1
"""


def sniff_stats_orders() -> str:
    return f"""
WITH f AS (
  SELECT CASE WHEN o_totalprice > {SNIFF_THRESHOLD} THEN 'y' ELSE 'n' END AS flag FROM orders
)
SELECT COUNT(*) AS total_rows,
       COUNT(CASE WHEN flag = 'y' THEN 1 END) AS passed_rows,
       COUNT(CASE WHEN flag = 'n' THEN 1 END) AS issue_rows,
       COUNT(CASE WHEN flag = 'n' THEN 1 END) * 100.0 / COUNT(*) AS issue_rows_pct,
       100.0 - COUNT(CASE WHEN flag = 'n' THEN 1 END) * 100.0 / COUNT(*) AS final_score
FROM f
"""


# ------------------------------------------------------------ normalize ----

def normalize_lineitem() -> str:
    # canonical-string parity with functions.normalize.canonical_column
    return r"""
SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
       CAST(l_linenumber AS VARCHAR) AS l_linenumber,
       CASE WHEN l_quantity = floor(l_quantity) AND abs(l_quantity) < 1e15
            THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
            ELSE regexp_replace(regexp_replace(lower(CAST(l_quantity AS VARCHAR)),
                 '(\.\d*?)0+($|e)', '\1\2', 'g'), '\.($|e)', '\1', 'g') END AS l_quantity,
       CASE WHEN l_extendedprice = floor(l_extendedprice) AND abs(l_extendedprice) < 1e15
            THEN CAST(CAST(l_extendedprice AS BIGINT) AS VARCHAR)
            ELSE regexp_replace(regexp_replace(lower(CAST(l_extendedprice AS VARCHAR)),
                 '(\.\d*?)0+($|e)', '\1\2', 'g'), '\.($|e)', '\1', 'g') END AS l_extendedprice,
       l_returnflag,
       regexp_replace(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'), ' 00:00:00$', '') AS l_shipdate
FROM lineitem
"""


# ----------------------------------------------------------- TPC-H-ish ----

def q1_pricing_summary() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def revenue_top10() -> str:
    return """
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


CUSTOMER_CUTOFF = "1994-01-01"


def customers_without_orders() -> str:
    return f"""
SELECT c.c_custkey, c.c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate < DATE '{CUSTOMER_CUTOFF}')
"""


def salted_join_lineitem() -> str:
    """Twin of q_salted_join_lineitem: a salted join is RESULT-identical
    to the plain join (each big row meets each small row of its key via
    exactly one salt replica), so the oracle is the plain SQL join —
    parity proves the salt/replicate/drop plumbing loses and duplicates
    nothing."""
    return """
SELECT p.p_brand,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


def fk_orphans_orders() -> str:
    """Twin of q_fk_orphans_orders (checker.check_referential's engine):
    ANSI FK semantics — NULL foreign keys satisfy the constraint, so the
    orphan set is non-null child keys with no qualifying parent row. The
    parent set is pre-filtered (positive-balance customers) so the fixture
    yields a non-empty, deterministic orphan set at every SF."""
    return """
SELECT o_orderkey, o_custkey
FROM orders o
WHERE o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 0)
"""


def dup_key_stats_lineitem() -> str:
    """Twin of q_dup_key_stats_lineitem (checker.check_uniqueness's
    engine, integrity.duplicate_key_stats): one-row uniqueness summary of
    l_orderkey over lineitem — total rows, distinct keys, duplicated
    keys, excess rows (what a dedup would drop), null-key rows. SUMs cast
    to BIGINT (DuckDB aggregates ints into HUGEINT)."""
    return """
WITH g AS (SELECT l_orderkey, COUNT(*) AS row_count
           FROM lineitem GROUP BY l_orderkey)
SELECT CAST(SUM(row_count) AS BIGINT) AS n_rows,
       COUNT(*) AS n_keys,
       CAST(SUM(CASE WHEN row_count > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS duplicate_keys,
       CAST(SUM(CASE WHEN row_count > 1 THEN row_count - 1 ELSE 0 END) AS BIGINT)
         AS excess_rows,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN row_count ELSE 0 END) AS BIGINT)
         AS null_key_rows
FROM g
"""


# deterministic "now" for the freshness twin (events span Jan 2024)
FRESHNESS_AS_OF = "2024-02-01 00:00:00"


def freshness_events() -> str:
    """Twin of q_freshness_events (checker.check_freshness's engine):
    staleness of the newest event vs a FIXED as_of. Both engines floor
    each epoch to whole seconds BEFORE subtracting (Spark's
    timestamp->long cast is integer micros // 1e6; epoch_us // 1000000
    replays it), so lag_seconds is bit-identical."""
    return f"""
SELECT COUNT(*) AS n_rows,
       COUNT(ts) AS n_ts,
       MAX(ts) AS max_ts,
       (epoch_us(TIMESTAMP '{FRESHNESS_AS_OF}') // 1000000)
         - (epoch_us(MAX(ts)) // 1000000) AS lag_seconds
FROM events
"""


def freshness_by_type_events() -> str:
    """Twin of q_freshness_by_type_events (check_freshness group_by mode):
    per-group staleness — the check whose GLOBAL form is blind to one
    dead feed hiding behind a healthy one. Same floor-to-seconds epoch
    replay as freshness_events, per event_type."""
    return f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(ts) AS n_ts,
       MAX(ts) AS max_ts,
       (epoch_us(TIMESTAMP '{FRESHNESS_AS_OF}') // 1000000)
         - (epoch_us(MAX(ts)) // 1000000) AS lag_seconds
FROM events
GROUP BY event_type
"""


def top3_suppliers_per_nation() -> str:
    return """
SELECT s_nationkey, s_suppkey, s_name, s_acctbal, rk FROM (
  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
         CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey
              ORDER BY s_acctbal DESC, s_suppkey) AS INTEGER) AS rk
  FROM supplier
) WHERE rk <= 3
"""


def json_extract_events() -> str:
    return """
SELECT event_id, json_extract(props, '$.k')::INT AS k,
       CASE WHEN json_extract(props, '$.k')::INT > 50 THEN 'high' ELSE 'low' END AS k_band
FROM events
"""


def rollup_events() -> str:
    # grouping keys stringified with an 'ALL' sentinel: rollup NULLs render
    # differently across engines (None vs NaT) — a sentinel is unambiguous
    return """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS dt,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       COUNT(*) AS n
FROM events
GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
"""


# -------------------------------------------------- text / training ops ----

def _tokens_sql(text_expr: str) -> str:
    # WORD_SPLIT_RE is the shared explicit ASCII class — RE2's \s lacks
    # \x0B while Java's includes it, so `\s+` would diverge on vertical tabs
    return f"string_split_regex(trim(lower({text_expr})), '{R.WORD_SPLIT_RE}')"


def _lang_counts_sql(toks_expr: str) -> str:
    """Token-membership stopword counts (twin of langid.stopword_hits)."""
    parts = []
    for lang in R.LANGS:
        inlist = ", ".join(f"'{w}'" for w in R.STOPWORDS[lang])
        parts.append(
            f"len(list_filter({toks_expr}, x -> x IN ({inlist}))) AS s_{lang}"
        )
    return ",\n       ".join(parts)


_LANG_CASE = """CASE WHEN m = 0 THEN 'und'
            WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de'
            WHEN s_fr = m THEN 'fr' ELSE 'es' END"""


def langid_documents() -> str:
    return f"""
WITH tk AS (
  SELECT doc_id, text, {_tokens_sql('text')} AS toks FROM documents
), sc AS (
  SELECT doc_id, {_lang_counts_sql('toks')},
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS words
  FROM tk
), m AS (
  SELECT doc_id, s_en, s_de, s_fr, s_es, words,
         GREATEST(s_en, s_de, s_fr, s_es) AS m FROM sc
)
SELECT doc_id, {_LANG_CASE} AS lang,
       LEAST(m * 1.0 / GREATEST(words, 1), 1.0) AS lang_conf
FROM m
"""


def token_stats_documents() -> str:
    return r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS ws_tokens,
       len(regexp_extract_all(text, '\pL+|[0-9]+|[^\pL0-9\s]')) AS bpe_tokens
FROM documents
"""


def fingerprint_documents() -> str:
    return r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


# shared by quality_score_documents and quality_top_fraction_documents:
# feature CTE + the score expression over its columns (n, wc, dwc, text)
_QSCORE_F_CTE = r"""f AS (
  SELECT doc_id, lang, text, length(text) AS n,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS wc,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) END AS dwc
  FROM documents
)"""

_QSCORE_EXPR = r"""round((
         (CASE WHEN n = 0 THEN 0.0
               ELSE length(regexp_replace(text, '[^\pL]', '', 'g')) * 1.0 / n END) * 0.4
         + (CASE WHEN wc = 0 THEN 0.0 ELSE dwc * 1.0 / wc END) * 0.3
         + (CASE WHEN n >= 20 AND n <= 2000 THEN 1.0
                 WHEN n = 0 THEN 0.0 ELSE 0.5 END) * 0.3
       ) * 100, 4)"""


def quality_score_documents() -> str:
    return f"""
WITH {_QSCORE_F_CTE}
SELECT doc_id, {_QSCORE_EXPR} AS quality_score
FROM f
"""


# top-fraction filter: keep the best TOP_QUALITY_FRAC of docs per language
TOP_QUALITY_FRAC = 0.3


def quality_top_fraction_documents() -> str:
    """Twin of corpus.top_quality_fraction over quality_score per lang:
    PERCENT_RANK is (rank-1)/(n-1) in both engines — one int/int double
    division, bit-identical."""
    cut = repr(1.0 - TOP_QUALITY_FRAC)
    return f"""
WITH {_QSCORE_F_CTE},
s AS (
  SELECT doc_id, lang, {_QSCORE_EXPR} AS quality_score FROM f
),
r AS (
  SELECT doc_id, lang, quality_score,
         PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality_score) AS pr
  FROM s
)
SELECT doc_id, lang, quality_score FROM r WHERE pr >= {cut}
"""


# per-language sampling rates (permille) for the stratified-sample query
SAMPLE_RATES = {"en": 200, "de": 500, "fr": 500, "es": 500, "zh": 800}


def stratified_sample_documents() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {rate}" for lang, rate in SAMPLE_RATES.items()
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 1000
      < (CASE {cases} ELSE 0 END)
"""


VOCAB_TOP_K = 50


def vocab_top_terms() -> str:
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
counts AS (
  SELECT term, COUNT(*) AS freq FROM toks WHERE term <> '' GROUP BY term
)
SELECT term, freq, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS INTEGER) AS rank
FROM counts
QUALIFY rank <= {VOCAB_TOP_K}
"""


def exact_dedup_documents() -> str:
    # doubled corpus => every doc has exactly one clone
    return r"""
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
)
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_fp,
       MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
FROM doubled
GROUP BY 1 HAVING COUNT(*) > 1
"""


def _shingle_fold(wh: str, i: str, n: int = 3) -> str:
    """Left-assoc rolling fold h=(h*P + w)%M over n word hashes, 0-padded
    past the end — the EXACT integer chain shingle_table runs."""
    from xoverrr_spark.operators.dedup import SHINGLE_P

    acc = "0"
    for j in range(n):
        w = f"{wh}[{i} + {j}]" if j else f"{wh}[{i}]"
        acc = f"(({acc}) * {SHINGLE_P} + COALESCE({w}, 0)) % {MINHASH_MOD}"
    return acc


_SHINGLES_CTE = rf"""
w AS (SELECT doc_id,
             list_transform(string_split_regex(trim(lower(text)), '\s+'),
                            t -> ('0x' || substr(md5(t), 1, 10))::BIGINT) AS wh
      FROM documents),
sh0 AS (
  SELECT w.doc_id, {_shingle_fold('w.wh', 'g.i')} AS x
  FROM w, LATERAL (SELECT unnest(generate_series(1, GREATEST(len(w.wh) - 2, 1))) AS i) g
),
sh AS (SELECT DISTINCT doc_id, x FROM sh0)"""


def minhash_signatures_documents(num_hashes: int = 16) -> str:
    mins = ",\n       ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    return f"""
WITH {_SHINGLES_CTE.strip()}
SELECT doc_id, {mins}
FROM sh GROUP BY doc_id
"""


def lsh_candidates_documents(num_hashes: int = 16, bands: int = 4) -> str:
    rows = num_hashes // bands
    band_selects = []
    for b in range(bands):
        cols = ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bkey FROM sig"
        )
    buckets = "\n  UNION ALL\n  ".join(band_selects)
    mins = ",\n       ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    return f"""
WITH {_SHINGLES_CTE.strip()},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
buckets0 AS (
  {buckets}
),
ok AS (SELECT band, bkey FROM buckets0 GROUP BY band, bkey
       HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
buckets AS (SELECT b.* FROM buckets0 b SEMI JOIN ok USING (band, bkey))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey
WHERE a.doc_id < b.doc_id
"""


def jaccard_pairs_documents(threshold: float = 0.5) -> str:
    return f"""
WITH {_SHINGLES_CTE.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.x = b.x
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter * 1.0 / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {threshold}
"""


def dup_shingle_fraction_documents(min_docs: int = 2) -> str:
    """Twin of dedup.dup_shingle_fraction: share of each doc's distinct
    word n-grams that occur in >= min_docs documents corpus-wide. Replays
    the identical shingle fold (_SHINGLES_CTE); the fraction is the same
    single int/int double division (exact operands, correctly rounded —
    bit-identical across engines). SUM cast to BIGINT (DuckDB sums ints
    into HUGEINT, which would schema-mismatch Spark's bigint)."""
    return f"""
WITH {_SHINGLES_CTE.strip()},
dup AS (SELECT x FROM sh GROUP BY x HAVING COUNT(*) >= {min_docs})
SELECT s.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN d.x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_shingles,
       CAST(SUM(CASE WHEN d.x IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_fraction
FROM sh s LEFT JOIN dup d ON s.x = d.x
GROUP BY s.doc_id
"""


def minhash_near_dups_documents(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.5
) -> str:
    """Twin of dedup.minhash_near_dups: LSH candidates (capped buckets)
    verified with exact Jaccard computed ONLY over the candidate pairs —
    the intersection join is restricted to candidate docs, mirroring the
    Spark side's candidate_jaccard (never a full shingle self-join)."""
    rows = num_hashes // bands
    band_selects = []
    for b in range(bands):
        cols = ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bkey FROM sig"
        )
    buckets = "\n  UNION ALL\n  ".join(band_selects)
    mins = ",\n       ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    return f"""
WITH {_SHINGLES_CTE.strip()},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
buckets0 AS (
  {buckets}
),
ok AS (SELECT band, bkey FROM buckets0 GROUP BY band, bkey
       HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
buckets AS (SELECT b.* FROM buckets0 b SEMI JOIN ok USING (band, bkey)),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.x = a.x
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       i.inter * 1.0 / (sa.sz + sb.sz - i.inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= {threshold}
"""


def near_dup_clusters_documents(max_hamming: int = 3) -> str:
    """Twin of dedup.cluster_near_dups over the simhash near-dup pairs:
    connected components via a recursive transitive closure (tiny pair set
    at oracle scale), cluster_id = min doc_id of the component."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({simhash_near_dups_documents(max_hamming).strip()})
),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
"""


DECONTAM_BENCH_MOD = 50  # synthetic "benchmark set": doc_id % 50 == 0
CURATE_SOURCE_CAP = 20


def _curated_kept_ctes() -> str:
    """The CTEs every curation twin shares, ending in ``kept``: exact-dedup
    survivors -> quality keep -> drop benchmark-contaminated. Each stage
    reuses an already-verified twin."""
    return f"""WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
dedup AS (
  SELECT doc_id, source FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp
  ) WHERE rn = 1
),
qf AS ({quality_filter_documents().strip()}),
contam AS ({decontaminate_documents().strip()}),
kept AS (
  SELECT dd.doc_id, dd.source
  FROM dedup dd
  JOIN qf ON qf.doc_id = dd.doc_id AND qf.keep
  ANTI JOIN contam c ON c.doc_id = dd.doc_id
)"""


def curate_documents() -> str:
    """Twin of the full curation composition (q_curate_documents): the
    shared curation CTEs, then a per-source window cap."""
    return f"""
{_curated_kept_ctes()}
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM kept
) WHERE rn <= {CURATE_SOURCE_CAP}
"""


def curate_documents_hash() -> str:
    """Twin of q_curate_documents_hash — the same curation composition with
    the WINDOWLESS hash cap as the final stage (the hot-domain scale path:
    a 10^8-doc domain stays fully parallel instead of serializing in one
    window partition). Kept iff md5_long(id) mod n_source < cap, same md5
    integer math as corpus.cap_per_source_hash."""
    from .functions.tokens import md5_long_sql

    h = md5_long_sql("CAST(k.doc_id AS VARCHAR)")
    return f"""
{_curated_kept_ctes()},
c AS (SELECT source AS src_n, COUNT(*) AS n FROM kept GROUP BY source)
SELECT k.doc_id, k.source
FROM kept k JOIN c ON k.source IS NOT DISTINCT FROM c.src_n
WHERE {h} % c.n < {CURATE_SOURCE_CAP}
"""


def lsh_bucket_stats_documents(
    num_hashes: int = 16, bands: int = 4, cap: int | None = None
) -> str:
    """Twin of dedup.lsh_bucket_stats — the "no silent caps" audit: per
    band, how many buckets exist, the largest, and how many buckets/docs
    the DEFAULT_MAX_BUCKET cap would drop (ADVICE r02)."""
    cap = DEFAULT_MAX_BUCKET if cap is None else cap
    rows = num_hashes // bands
    band_selects = []
    for b in range(bands):
        cols = ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bkey FROM sig"
        )
    buckets = "\n  UNION ALL\n  ".join(band_selects)
    mins = ",\n       ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )
    return f"""
WITH {_SHINGLES_CTE.strip()},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
buckets0 AS (
  {buckets}
),
per_bucket AS (SELECT band, bkey, COUNT(*) AS n FROM buckets0 GROUP BY band, bkey)
SELECT band,
       COUNT(*) AS n_buckets,
       MAX(n) AS max_bucket_size,
       COUNT(CASE WHEN n > {cap} THEN 1 END) AS over_cap_buckets,
       CAST(COALESCE(SUM(CASE WHEN n > {cap} THEN n END), 0) AS BIGINT) AS over_cap_docs
FROM per_bucket GROUP BY band
"""


def decontaminate_documents() -> str:
    """Twin of dedup.contaminated_docs with the synthetic benchmark subset:
    docs sharing any 3-gram shingle with a doc_id % 50 == 0 document."""
    return f"""
WITH {_SHINGLES_CTE.strip()},
bench AS (SELECT DISTINCT x FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} = 0)
SELECT DISTINCT doc_id FROM sh SEMI JOIN bench USING (x)
"""


def contamination_scores_documents() -> str:
    """Twin of dedup.contamination_scores with the synthetic benchmark
    subset (doc_id % DECONTAM_BENCH_MOD == 0): per-doc fraction of
    distinct 3-gram shingles appearing anywhere in the benchmark. Same
    fold, same single int/int double division; SUM cast to BIGINT
    (HUGEINT would schema-mismatch Spark)."""
    return f"""
WITH {_SHINGLES_CTE.strip()},
bench AS (SELECT DISTINCT x FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} = 0)
SELECT s.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN b.x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bench_shingles,
       CAST(SUM(CASE WHEN b.x IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS contamination
FROM sh s LEFT JOIN bench b ON s.x = b.x
GROUP BY s.doc_id
"""


def cluster_survivors_documents(max_hamming: int = 3) -> str:
    """Twin of dedup.cluster_survivors over the simhash near-dup clusters:
    per cluster keep the max-quality_score member, ties to min doc_id."""
    return f"""
WITH labels AS (
  SELECT * FROM ({near_dup_clusters_documents(max_hamming).strip()})
),
scores AS ({quality_score_documents().strip()}),
j AS (
  SELECT l.doc_id, l.cluster_id, s.quality_score
  FROM labels l JOIN scores s USING (doc_id)
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cluster_id ORDER BY quality_score DESC, doc_id
  ) AS rn FROM j
)
SELECT doc_id, cluster_id, quality_score FROM r WHERE rn = 1
"""


def simhash_documents() -> str:
    bit_sums = ",\n       ".join(
        f"SUM(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
SELECT doc_id, {assemble} AS simhash FROM bits
"""


def simhash_near_dups_documents(max_hamming: int = 3) -> str:
    from .operators.dedup import SIMHASH_BANDS

    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    band_sel = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * band_bits}) & {mask} AS bkey FROM sig"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH sig AS ({simhash_documents().strip()}),
bands0 AS (
  {band_sel}
),
ok AS (SELECT band, bkey FROM bands0 GROUP BY band, bkey
       HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
bands AS (SELECT b.* FROM bands0 b SEMI JOIN ok USING (band, bkey)),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cands WHERE hamming <= {max_hamming}
"""


def count_anomalies_events(window_days: int = 7, factor: int = 2,
                           min_days: int = 3) -> str:
    """Twin of counts.count_anomalies over the events daily counts —
    integer-only trailing-window comparison, exact across engines."""
    return f"""
WITH d AS ({daily_counts_events().strip()}),
t AS (
  SELECT dt, cnt,
         SUM(cnt) OVER (ORDER BY dt ROWS BETWEEN {window_days} PRECEDING AND 1 PRECEDING) AS tsum,
         COUNT(cnt) OVER (ORDER BY dt ROWS BETWEEN {window_days} PRECEDING AND 1 PRECEDING) AS tn
  FROM d
)
SELECT dt, cnt, tsum, tn,
       (tn >= {min_days} AND (cnt * tn > {factor} * tsum OR cnt * tn * {factor} < tsum)) AS is_anomaly
FROM t
"""


PROFILE_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


def profile_orders() -> str:
    """Twin of operators.profile.profile over the orders table."""
    parts = [
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
        f"COUNT(*) - COUNT({c}) AS n_nulls, "
        f"COUNT(DISTINCT {c}) AS n_distinct FROM orders"
        for c in PROFILE_ORDERS_COLS
    ]
    return "\nUNION ALL\n".join(parts)


SESSION_GAP_S = 1800


def session_stats_events(gap_seconds: int = SESSION_GAP_S) -> str:
    """Twin of counts.session_stats: gap-based sessionization over the
    events table (lag + running-sum windows on truncated epoch seconds)."""
    return f"""
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events
),
g AS (
  SELECT *, tsec - LAG(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS gap
  FROM e
),
m AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > {gap_seconds} THEN 1 ELSE 0 END AS brk
  FROM g
),
s AS (
  SELECT *, CAST(SUM(brk) OVER (
    PARTITION BY user_id ORDER BY tsec, event_id ROWS UNBOUNDED PRECEDING
  ) AS BIGINT) AS session_seq
  FROM m
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(tsec) AS session_start, MAX(tsec) AS session_end
FROM s GROUP BY 1, 2
"""


# ------------------------------------------------------- corpus curation ----

SOURCE_CAP_K = 20


def source_cap_documents(k: int = SOURCE_CAP_K) -> str:
    """Twin of corpus.cap_per_source (exact window form)."""
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn <= {k}
"""


def source_cap_hash_documents(k: int = SOURCE_CAP_K) -> str:
    """Twin of corpus.cap_per_source_hash (windowless scale form): doc kept
    iff md5_long(id) mod n_source < k — same md5 integer math as Spark."""
    from .functions.tokens import md5_long_sql

    h = md5_long_sql("CAST(d.doc_id AS VARCHAR)")
    return f"""
WITH c AS (SELECT source AS src_n, COUNT(*) AS n FROM documents GROUP BY source)
SELECT d.doc_id, d.source
FROM documents d JOIN c ON d.source IS NOT DISTINCT FROM c.src_n
WHERE {h} % c.n < {k}
"""


def source_keep_rate_documents() -> str:
    """Twin of corpus.source_keep_rate over the quality-filter decisions."""
    return f"""
WITH qf AS ({quality_filter_documents().strip()}),
j AS (
  SELECT d.source, qf.keep
  FROM qf JOIN documents d ON d.doc_id = qf.doc_id
)
SELECT source,
       COUNT(*) AS total_docs,
       COUNT(CASE WHEN keep THEN 1 END) AS kept_docs,
       COUNT(CASE WHEN keep THEN 1 END) * 100.0 / COUNT(*) AS keep_pct
FROM j GROUP BY source
"""


# ------------------------------------------------------------ similarity ----

ANN_QUERY_MAX_ID = 8
ANN_K = 5


def ann_topk_embeddings() -> str:
    den = "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
    # zero-vector guard mirrors similarity.cosine (NaN would sort first)
    cos = f"CASE WHEN {den} = 0.0 THEN 0.0 ELSE list_dot_product(qv, cv) / {den} END"
    return f"""
WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv
           FROM embeddings WHERE vec_id < {ANN_QUERY_MAX_ID}),
c AS (SELECT vec_id AS neighbor_id, list_transform(embedding, x -> x::DOUBLE) AS cv
      FROM embeddings),
s AS (SELECT query_id, neighbor_id, {cos} AS cos
      FROM c, q WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM s
) WHERE rank <= {ANN_K}
"""


# testdata embeddings are near-orthogonal random vectors (max pair cosine
# ~0.51 at sf0.01) — 0.42 yields a small non-empty "near-dup" pair set
NEAR_DUP_COS = 0.42

_EMB_DIM = 64


def _fold_dot(va: str, vb: str, dim: int = _EMB_DIM) -> str:
    """Left-assoc fold `((0.0 + a1*b1) + a2*b2) + ...` — the exact IEEE op
    sequence of Spark's aggregate(zip_with(a,b,x*y), 0.0, acc+v), so dot
    products (and the signs/thresholds derived from them) are bit-identical
    across engines."""
    terms = " + ".join(f"{va}[{i + 1}]*{vb}[{i + 1}]" for i in range(dim))
    return f"(0.0 + {terms})"


def _fold_dot_lit(va: str, plane, dim: int = _EMB_DIM) -> str:
    """Same fold against per-element double literals (repr round-trips the
    exact float64 the Spark plan carries as lit())."""
    terms = " + ".join(f"{va}[{i + 1}]*({float(plane[i])!r})" for i in range(dim))
    return f"(0.0 + {terms})"


def _fold_norm(v: str, dim: int = _EMB_DIM) -> str:
    terms = " + ".join(f"{v}[{i + 1}]*{v}[{i + 1}]" for i in range(dim))
    return f"sqrt(0.0 + {terms})"


def embedding_near_dup_pairs() -> str:
    """Replays the Spark banded-hyperplane-LSH + exact-cosine-rerank plan
    (operators/similarity.py:embedding_near_dups) with identical plane
    literals and fold order — parity is exact even though LSH recall < 1
    vs a brute-force all-pairs scan. The bucket-size cap is replayed as
    the same HAVING predicate the text-LSH twins use (VERDICT r02)."""
    from .operators.similarity import (
        NEAR_DUP_BANDS,
        NEAR_DUP_PLANE_SEED,
        NEAR_DUP_PLANES_PER_BAND,
        hyperplanes,
    )

    planes = hyperplanes(_EMB_DIM, NEAR_DUP_BANDS * NEAR_DUP_PLANES_PER_BAND,
                         NEAR_DUP_PLANE_SEED)
    band_selects = []
    for b in range(NEAR_DUP_BANDS):
        bits = " + ".join(
            f"(CASE WHEN {_fold_dot_lit('ve', planes[b * NEAR_DUP_PLANES_PER_BAND + i])} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(NEAR_DUP_PLANES_PER_BAND)
        )
        band_selects.append(f"SELECT vec_id, {b} AS band, {bits} AS bkey FROM v")
    buckets = "\n  UNION ALL\n  ".join(band_selects)
    den = f"({_fold_norm('va')} * {_fold_norm('vb')})"
    cos = f"CASE WHEN {den} = 0.0 THEN 0.0 ELSE {_fold_dot('va', 'vb')} / {den} END"
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
buckets0 AS (
  {buckets}
),
ok AS (SELECT band, bkey FROM buckets0 GROUP BY band, bkey
       HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
buckets AS (SELECT b.* FROM buckets0 b SEMI JOIN ok USING (band, bkey)),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.vec_id < b.vec_id
),
p AS (
  SELECT c.id_a, c.id_b, x.ve AS va, y.ve AS vb
  FROM cands c JOIN v x ON x.vec_id = c.id_a JOIN v y ON y.vec_id = c.id_b
)
SELECT id_a, id_b FROM p WHERE {cos} >= {NEAR_DUP_COS}
"""


# ------------------------------------------- quality-filter on documents ----

def quality_filter_documents() -> str:
    """The full heuristic pipeline (sans perplexity) replayed in SQL."""
    reasons = f"""list_filter([
      CASE WHEN n < {R.MIN_CAPTION_CHARS} THEN '{R.REASON_TOO_SHORT}' END,
      CASE WHEN n > {R.MAX_CAPTION_CHARS} THEN '{R.REASON_TOO_LONG}' END,
      CASE WHEN words < {R.MIN_WORDS} THEN '{R.REASON_TOO_FEW_WORDS}' END,
      CASE WHEN alpha < {R.MIN_ALPHA_RATIO} THEN '{R.REASON_LOW_ALPHA}' END,
      CASE WHEN digit > {R.MAX_DIGIT_RATIO} THEN '{R.REASON_HIGH_DIGIT}' END,
      CASE WHEN words >= {R.REPETITION_MIN_WORDS} AND distinct_ratio < {R.MIN_DISTINCT_RATIO}
           THEN '{R.REASON_REPETITIVE}' END,
      CASE WHEN lang = 'en' AND words >= {R.STOPWORD_RULE_MIN_WORDS}
                AND s_en * 1.0 / words < {R.MIN_STOPWORD_RATIO}
           THEN '{R.REASON_LOW_STOPWORD}' END,
      CASE WHEN lang = 'und' AND words >= {R.LANG_RULE_MIN_WORDS}
           THEN '{R.REASON_LANG}' END,
      CASE WHEN len(regexp_extract_all(t, '{R.TOXIC_RE}')) > 0 THEN '{R.REASON_TOXIC}' END
    ], x -> x IS NOT NULL)"""
    return f"""
WITH base0 AS (
  SELECT doc_id, regexp_replace(COALESCE(text, ''), '{R.TRIM_RE}', '', 'g') AS t0
  FROM documents
),
base AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(t0, '{R.NULLISH_RE}')
              THEN '{R.NULL_REPLACEMENT}' ELSE t0 END AS t
  FROM base0
),
tk AS (
  SELECT doc_id, t, {_tokens_sql('t')} AS toks FROM base
),
feat AS (
  SELECT doc_id, t, length(t) AS n,
         CASE WHEN length(t) = 0 THEN 0
              ELSE len(string_split_regex(t, '{R.WORD_SPLIT_RE}')) END AS words,
         CASE WHEN length(t) = 0 THEN 0.0
              ELSE length(regexp_replace(t, '[^\\pL]', '', 'g')) * 1.0 / length(t) END AS alpha,
         CASE WHEN length(t) = 0 THEN 0.0
              ELSE length(regexp_replace(t, '[^0-9]', '', 'g')) * 1.0 / length(t) END AS digit,
         CASE WHEN length(t) = 0 THEN 1.0
              ELSE len(list_distinct(toks)) * 1.0 / len(toks) END AS distinct_ratio,
         {_lang_counts_sql('toks')}
  FROM tk
),
lng AS (
  SELECT *, GREATEST(s_en, s_de, s_fr, s_es) AS m FROM feat
),
lab AS (
  SELECT doc_id, t, n, words, alpha, digit, distinct_ratio, s_en,
         {_LANG_CASE} AS lang
  FROM lng
)
SELECT doc_id, lang,
       CASE WHEN t = '{R.NULL_REPLACEMENT}' THEN '{R.REASON_EMPTY}'
            ELSE COALESCE(array_to_string({reasons}, ','), '') END AS drop_reasons,
       CASE WHEN t = '{R.NULL_REPLACEMENT}' THEN FALSE
            ELSE len({reasons}) = 0 END AS keep,
       regexp_replace(regexp_replace(regexp_replace(t,
           '{R.EMAIL_RE}', '{R.EMAIL_TOKEN}', 'g'),
           '{R.PHONE_RE}', '{R.PHONE_TOKEN}', 'g'),
           '{R.TOXIC_RE}', '{R.TOXIC_MASK}', 'g') AS caption_scrubbed
FROM lab
"""


def drop_reason_examples_documents(max_examples: int = 3) -> str:
    return f"""
WITH qf AS ({quality_filter_documents().strip()}),
r AS (
  SELECT doc_id AS example_key, unnest(string_split(drop_reasons, ',')) AS reason
  FROM qf WHERE drop_reasons <> ''
),
ranked AS (
  SELECT reason, example_key,
         CAST(ROW_NUMBER() OVER (PARTITION BY reason ORDER BY example_key) AS INTEGER) AS rn
  FROM r
)
SELECT reason, example_key, rn FROM ranked WHERE rn <= {max_examples}
"""


def drop_reason_counts_documents() -> str:
    return f"""
WITH qf AS ({quality_filter_documents().strip()}),
r AS (
  SELECT unnest(string_split(drop_reasons, ',')) AS reason
  FROM qf WHERE drop_reasons <> ''
)
SELECT reason, COUNT(*) AS issue_count FROM r GROUP BY 1
"""


# ------------------------------------------------- round-3 additions ----

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
QUANTILE_PROBS = [0.25, 0.5, 0.9]


def asof_events() -> str:
    """Twin of timeseries.asof_join over events: query events (id % 5 == 0)
    pick up the most recent other event (id % 5 != 0) of the same user at
    or before their timestamp. DuckDB's native ASOF LEFT JOIN replays the
    tagged-union + last(ignorenulls) window formulation exactly (inclusive
    >= tie rule; right side pre-deduped per (user, tsec) by max value, the
    same pick as Spark's lexicographic max struct)."""
    return """
WITH ev AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value
  FROM events
),
l AS (SELECT event_id, user_id, tsec FROM ev WHERE event_id % 5 = 0),
r0 AS (SELECT user_id, tsec, value FROM ev WHERE event_id % 5 <> 0),
r AS (SELECT user_id, tsec, MAX(value) AS value FROM r0 GROUP BY 1, 2)
SELECT l.event_id, l.user_id, l.tsec,
       r.tsec AS ref_tsec, r.value AS ref_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.tsec >= r.tsec
"""


def quantiles_events() -> str:
    """Twin of profile.quantiles per event_type: exact linear-interpolated
    (type-7) quantiles — quantile_cont uses the same interpolation rule as
    Spark's percentile; outputs round-trip through DECIMAL(18,6) so a
    1-ulp interpolation-order difference cannot break the value hash."""
    qs = ",\n       ".join(
        f"CAST(CAST(quantile_cont(value, {p}) AS DECIMAL(18,6)) AS DOUBLE)"
        f" AS q_{int(round(p * 100))}"
        for p in QUANTILE_PROBS
    )
    return f"""
SELECT event_type,
       {qs}
FROM events GROUP BY event_type
"""


def pivot_events_by_day() -> str:
    """Twin of the groupBy().pivot() daily event-type matrix — replayed as
    conditional aggregation (the semantics pivot desugars to)."""
    cols = ",\n       ".join(
        f'COUNT(CASE WHEN event_type = \'{t}\' THEN 1 END) AS "{t}"'
        for t in EVENT_TYPES
    )
    return f"""
SELECT CAST(ts AS DATE) AS dt,
       {cols}
FROM events GROUP BY 1
"""


def exact_dedup_survivors_documents() -> str:
    """Twin of dedup.exact_dedup_window (single-scan window form): the
    min-id survivor of every exact-duplicate text group."""
    return """
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT doc_id, source FROM (
  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM fp
) WHERE rn = 1
"""


def embedding_bucket_stats() -> str:
    """Twin of bucket_size_stats over the embedding hyperplane-LSH bucket
    table — the same "no silent caps" audit as lsh_bucket_stats_documents
    for the embedding modality."""
    from .operators.similarity import (
        NEAR_DUP_BANDS,
        NEAR_DUP_PLANE_SEED,
        NEAR_DUP_PLANES_PER_BAND,
        hyperplanes,
    )

    planes = hyperplanes(_EMB_DIM, NEAR_DUP_BANDS * NEAR_DUP_PLANES_PER_BAND,
                         NEAR_DUP_PLANE_SEED)
    band_selects = []
    for b in range(NEAR_DUP_BANDS):
        bits = " + ".join(
            f"(CASE WHEN {_fold_dot_lit('ve', planes[b * NEAR_DUP_PLANES_PER_BAND + i])} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(NEAR_DUP_PLANES_PER_BAND)
        )
        band_selects.append(f"SELECT vec_id, {b} AS band, {bits} AS bkey FROM v")
    buckets = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ve FROM embeddings),
buckets0 AS (
  {buckets}
),
per_bucket AS (SELECT band, bkey, COUNT(*) AS n FROM buckets0 GROUP BY band, bkey)
SELECT band,
       COUNT(*) AS n_buckets,
       MAX(n) AS max_bucket_size,
       COUNT(CASE WHEN n > {DEFAULT_MAX_BUCKET} THEN 1 END) AS over_cap_buckets,
       CAST(COALESCE(SUM(CASE WHEN n > {DEFAULT_MAX_BUCKET} THEN n END), 0) AS BIGINT) AS over_cap_docs
FROM per_bucket GROUP BY band
"""


EDIT_DISTANCE_MAX = 10


def cube_events() -> str:
    """Twin of the cube aggregation (all four grouping sets of
    (event_type, day)); same 'ALL' sentinel convention as rollup_events."""
    return """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS dt,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       COUNT(*) AS n
FROM events
GROUP BY CUBE(event_type, CAST(ts AS DATE))
"""


def candidate_edit_distance_documents(
    num_hashes: int = 16, bands: int = 4, max_distance: int = EDIT_DISTANCE_MAX
) -> str:
    """Twin of the edit-distance verify over LSH candidate pairs: classic
    near-dup confirmation by Levenshtein distance, computed ONLY on
    candidates (O(len^2) per pair is fine there; never all-pairs).
    DuckDB's levenshtein == Spark's levenshtein (unit edit costs)."""
    return f"""
WITH cands AS ({lsh_candidates_documents(num_hashes, bands).strip()}),
p AS (
  SELECT c.doc_a, c.doc_b, levenshtein(da.text, db.text) AS edit_distance
  FROM cands c
  JOIN documents da ON da.doc_id = c.doc_a
  JOIN documents db ON db.doc_id = c.doc_b
)
SELECT doc_a, doc_b, edit_distance FROM p WHERE edit_distance <= {max_distance}
"""


OUTLIER_Z = 3.0


def value_outliers_events() -> str:
    """Twin of profile.value_outliers on events.value per event_type:
    mean/std derive from exact DECIMAL sums (identical on both engines),
    the per-row z is the same IEEE op sequence, and the output z
    round-trips DECIMAL(18,6)."""
    return f"""
WITH stats0 AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(28,6))) AS s,
         SUM(CAST(value * value AS DECIMAL(28,6))) AS sq
  FROM events GROUP BY event_type
),
stats AS (
  SELECT event_type,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt(greatest(CAST(sq AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS std
  FROM stats0
)
SELECT e.event_id, e.event_type, e.value,
       CAST(CAST(CASE WHEN st.std > 0 THEN (e.value - st.mean) / st.std ELSE 0.0 END
            AS DECIMAL(18,6)) AS DOUBLE) AS z
FROM events e JOIN stats st ON e.event_type IS NOT DISTINCT FROM st.event_type
WHERE abs(CASE WHEN st.std > 0 THEN (e.value - st.mean) / st.std ELSE 0.0 END) >= {OUTLIER_Z}
"""


def multimodal_near_dup_clusters(
    num_hashes: int = 16, bands: int = 4, jaccard_threshold: float = 0.8,
    max_hamming: int = 3,
) -> str:
    """Twin of the modality-fusion composition: near-dup pairs from BOTH
    the MinHash-Jaccard and SimHash-Hamming detectors union into one edge
    set before connected components — two detectors catch different
    duplicate families (shingle-overlap vs token-distribution), and
    clustering after fusion merges chains that cross modalities."""
    return f"""
WITH RECURSIVE mh AS (
  SELECT doc_a, doc_b FROM ({minhash_near_dups_documents(num_hashes, bands, jaccard_threshold).strip()})
),
sh2 AS (
  SELECT doc_a, doc_b FROM ({simhash_near_dups_documents(max_hamming).strip()})
),
pairs AS (SELECT * FROM mh UNION SELECT * FROM sh2),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
"""


BOILERPLATE_LINE_MAX_DOCS = 20
BOILERPLATE_FOOTER = "corpus footer boilerplate"


def boilerplate_lines_documents() -> str:
    """Twin of corpus.remove_boilerplate_lines over deterministically
    constructed multi-line docs (text + source + a constant footer as
    three lines): lines appearing in more than BOILERPLATE_LINE_MAX_DOCS
    distinct docs drop from every doc; the rebuild preserves line order;
    docs whose every line is boilerplate come back empty, never missing."""
    return f"""
WITH ml AS (
  SELECT doc_id,
         string_split(text || chr(10) || source || chr(10) || '{BOILERPLATE_FOOTER}',
                      chr(10)) AS l
  FROM documents
),
lines AS (
  SELECT doc_id, l[pos] AS line, pos
  FROM ml, UNNEST(generate_series(1, len(l))) AS t(pos)
),
freq AS (
  SELECT trim(line) AS lk, COUNT(DISTINCT doc_id) AS docs FROM lines GROUP BY 1
),
kept AS (
  SELECT li.doc_id, li.line, li.pos FROM lines li JOIN freq f ON trim(li.line) = f.lk
  WHERE f.docs <= {BOILERPLATE_LINE_MAX_DOCS}
),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         COUNT(*) AS kept_lines
  FROM kept GROUP BY doc_id
)
SELECT m.doc_id,
       COALESCE(r.text_clean, '') AS text_clean,
       CAST(len(m.l) - COALESCE(r.kept_lines, 0) AS BIGINT) AS n_lines_removed
FROM ml m LEFT JOIN rebuilt r USING (doc_id)
"""


def repetition_stats_documents() -> str:
    """Twin of operators.repetition.repetition_stats: word-bigram instance
    counts per doc; fractions are single int/int double divisions (IEEE
    correctly-rounded => bit-identical to Spark).

    Bigrams are keyed by the SAME 40-bit hashed fold as the Spark operator
    (per-word md5-40 then ``(wh[i]*P + wh[i+1]) mod 2^40``) — not by raw
    strings — so a within-doc 40-bit collision merges the same two bigrams
    on BOTH engines and counts replay identically (r03 ADVICE)."""
    return r"""
WITH w AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(lower(text)), '\s+'),
                        t -> ('0x' || substr(md5(t), 1, 10))::BIGINT) AS wh
  FROM documents WHERE text IS NOT NULL
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(wh) - 1),
                i -> (wh[i] * 1000003 + COALESCE(wh[i + 1], 0)) % 1099511627776)) AS bigram
  FROM w WHERE len(wh) >= 2
),
c AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_bigrams,
       CAST(MAX(c) AS BIGINT) AS top_count,
       CAST(SUM(c) - COUNT(*) AS BIGINT) * 1.0 / CAST(SUM(c) AS BIGINT)
         AS dup_bigram_frac,
       MAX(c) * 1.0 / CAST(SUM(c) AS BIGINT) AS top_bigram_frac
FROM c GROUP BY doc_id
"""


def range_count_events() -> str:
    """Twin of the q_range_count_events binned interval join: DuckDB plays
    the naive inequality join (semantically identical — binning only bounds
    Spark's candidate set). Null-safe key equality mirrors eqNullSafe."""
    return """
WITH e AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
m AS (
  SELECT e.event_id, COUNT(*) AS n,
         SUM(CAST(r.value AS DECIMAL(18,4))) AS tv
  FROM e JOIN events r
    ON e.user_id IS NOT DISTINCT FROM r.user_id
   AND r.ts > e.ts AND r.ts <= e.ts + INTERVAL 300 SECOND
  GROUP BY e.event_id
)
SELECT e.event_id,
       CAST(COALESCE(m.n, 0) AS BIGINT) AS n_follow,
       CAST(COALESCE(m.tv, 0) AS DOUBLE) AS total_value
FROM e LEFT JOIN m USING (event_id)
"""


# mixture-sampling recipe for the mixture_sample_documents query
MIXTURE_WEIGHTS = {"src0": 0.5, "src1": 0.2, "src2": 0.2, "src3": 0.05, "src4": 0.05}
MIXTURE_TARGET_FRAC = 0.4


def mixture_sample_documents() -> str:
    """Twin of corpus.mixture_sample: w*frac folded to repr() literals so
    both engines run the identical (literal * total) / n -> min -> *2^20
    -> floor chain (same policy as the LSH plane folds)."""
    from xoverrr_spark.operators.corpus import MIXTURE_BUCKETS

    cases = " ".join(
        f"WHEN source = '{s}' THEN {w * MIXTURE_TARGET_FRAC!r}"
        for s, w in MIXTURE_WEIGHTS.items()
    )
    b = float(MIXTURE_BUCKETS)
    return f"""
WITH c AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
ct AS (
  SELECT source, n, SUM(n) OVER () AS total FROM c
),
th AS (
  SELECT source,
         CASE WHEN (CASE {cases} ELSE NULL END) IS NULL THEN NULL
              ELSE CAST(floor(LEAST((CASE {cases} ELSE NULL END) * total / n, 1.0)
                         * {b!r}) AS BIGINT) END AS th
  FROM ct
)
SELECT d.doc_id, d.source
FROM documents d JOIN th ON d.source IS NOT DISTINCT FROM th.source
WHERE th.th IS NOT NULL
  AND (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT)
      % {MIXTURE_BUCKETS} < th.th
"""


PACK_BUDGET_TOKENS = 256


def pack_documents() -> str:
    """Twin of corpus.pack_documents: running-sum window (rows between
    unbounded preceding and 1 preceding) -> floor(cum/budget). Integer /
    in both engines is double division; floor of exact ints is exact."""
    return f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       CAST(floor(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {PACK_BUDGET_TOKENS}) AS BIGINT) AS pack_id
FROM t
"""


# incremental-ingestion dedup: the derived new batch (1/3 exact copies,
# 1/3 appended-token near-dups, 1/3 fresh docs)
INCR_NEAR_TAIL = "zqx zqy"
INCR_FRESH_PREFIX = "totally fresh item "
INCR_FRESH_SUFFIX = " nothing shared here"
INCR_ID_OFFSET = 1000000
INCR_JACCARD = 0.7


def _shingles_sql(table: str, tag: str) -> str:
    """Parameterized twin of _SHINGLES_CTE over an arbitrary CTE/table."""
    return rf"""
w{tag} AS (SELECT doc_id,
             list_transform(string_split_regex(trim(lower(text)), '\s+'),
                            t -> ('0x' || substr(md5(t), 1, 10))::BIGINT) AS wh
      FROM {table}),
sh0{tag} AS (
  SELECT w.doc_id, {_shingle_fold('w.wh', 'g.i')} AS x
  FROM w{tag} w, LATERAL (SELECT unnest(generate_series(1, GREATEST(len(w.wh) - 2, 1))) AS i) g
),
sh{tag} AS (SELECT DISTINCT doc_id, x FROM sh0{tag})"""


def incremental_dedup_documents(num_hashes: int = 16, bands: int = 4) -> str:
    """Twin of q_incremental_dedup: per new-batch doc, exact_dup (canonical
    fingerprint in the corpus index) / near_dup (capped corpus-side LSH
    candidates verified with candidate-restricted Jaccard >= 0.7) / fresh.
    Same affine MinHash + banding math as minhash_near_dups_documents,
    played across TWO tables (new batch never self-joins, corpus never
    self-joins)."""
    rows = num_hashes // bands
    mins = ",\n       ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    )

    def _bands(sig: str) -> str:
        sel = []
        for b in range(bands):
            cols = ", ".join(f"mh_{b * rows + r}" for r in range(rows))
            sel.append(
                f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bkey FROM {sig}"
            )
        return "\n  UNION ALL\n  ".join(sel)

    fp = r"COALESCE(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), chr(0) || '<null-text>')"
    return f"""
WITH newd AS (
  SELECT doc_id + {INCR_ID_OFFSET} AS doc_id,
         CASE doc_id % 3
           WHEN 0 THEN text
           WHEN 1 THEN text || ' {INCR_NEAR_TAIL}'
           ELSE '{INCR_FRESH_PREFIX}' || CAST(doc_id AS VARCHAR) || '{INCR_FRESH_SUFFIX}'
         END AS text
  FROM documents
),
cfp AS (SELECT DISTINCT {fp} AS fpv FROM documents),
nfp AS (SELECT doc_id, {fp} AS fpv FROM newd),
exact AS (SELECT n.doc_id FROM nfp n SEMI JOIN cfp c ON n.fpv = c.fpv),
nonexact AS (SELECT d.* FROM newd d ANTI JOIN exact e USING (doc_id)),
{_shingles_sql('nonexact', 'n').strip()},
{_shingles_sql('documents', 'c').strip()},
sign AS (SELECT doc_id, {mins} FROM shn GROUP BY doc_id),
sigc AS (SELECT doc_id, {mins} FROM shc GROUP BY doc_id),
bn AS (
  {_bands('sign')}
),
bc0 AS (
  {_bands('sigc')}
),
ok AS (SELECT band, bkey FROM bc0 GROUP BY band, bkey
       HAVING COUNT(*) <= {DEFAULT_MAX_BUCKET}),
bc AS (SELECT b.* FROM bc0 b SEMI JOIN ok USING (band, bkey)),
cands AS (
  SELECT DISTINCT n.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bn n JOIN bc c ON n.band = c.band AND n.bkey = c.bkey
),
szn AS (SELECT doc_id, COUNT(*) AS sz FROM shn GROUP BY doc_id),
szc AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cands c
  JOIN shn a ON a.doc_id = c.doc_a
  JOIN shc b ON b.doc_id = c.doc_b AND b.x = a.x
  GROUP BY 1, 2
),
near AS (
  SELECT DISTINCT i.doc_a AS doc_id
  FROM inter i JOIN szn sa ON sa.doc_id = i.doc_a
  JOIN szc sb ON sb.doc_id = i.doc_b
  WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= {INCR_JACCARD}
)
SELECT d.doc_id AS new_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'fresh' END AS status
FROM newd d
LEFT JOIN exact e ON e.doc_id = d.doc_id
LEFT JOIN near nr ON nr.doc_id = d.doc_id
"""


def bloom_decontaminate_documents() -> str:
    """Twin of dedup.bloom_contaminated_docs with the same synthetic
    benchmark (doc_id % DECONTAM_BENCH_MOD == 0): affine Bloom positions
    mod 2^20, a shingle hits iff ALL its distinct positions are set — even
    false positives replay exactly."""
    from xoverrr_spark.operators.dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        BLOOM_SEED,
    )

    parms = minhash_params(BLOOM_K, BLOOM_SEED)
    pos_list = ", ".join(
        f"(({a} * x + {b}) % {MINHASH_MOD}) % {BLOOM_M_BITS}" for a, b in parms
    )
    return f"""
WITH {_SHINGLES_CTE.strip()},
bench AS (SELECT DISTINCT x FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} = 0),
bpos AS (SELECT DISTINCT unnest(list_distinct([{pos_list}])) AS pos FROM bench),
dpos AS (SELECT doc_id, x, list_distinct([{pos_list}]) AS pl FROM sh),
dx AS (
  SELECT doc_id, x, len(pl) AS npos, unnest(pl) AS pos FROM dpos
),
hits AS (
  SELECT d.doc_id, d.x, d.npos, COUNT(*) AS hit
  FROM dx d SEMI JOIN bpos b ON d.pos = b.pos
  GROUP BY 1, 2, 3
)
SELECT DISTINCT doc_id FROM hits WHERE hit = npos
"""


# apply_changes (CDC merge) derivation constants
MERGE_UPD_MOD = 5      # updated keys: +1000 total price
MERGE_DEL_MOD = 7      # deleted keys (delete wins over update)
MERGE_INS_MOD = 11     # inserted keys: o_orderkey + MERGE_INS_OFFSET
MERGE_INS_OFFSET = 10000000


def apply_changes_orders() -> str:
    """Twin of merge.apply_changes over a derived change feed: since the
    feed has exactly one change row per key, the window formulation
    collapses to 'non-delete changes UNION base rows with no change'."""
    return f"""
WITH ch AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 1000 AS o_totalprice, o_orderdate, o_orderpriority,
         CASE WHEN o_orderkey % {MERGE_DEL_MOD} = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders
  WHERE o_orderkey % {MERGE_UPD_MOD} = 0 OR o_orderkey % {MERGE_DEL_MOD} = 0
  UNION ALL
  SELECT o_orderkey + {MERGE_INS_OFFSET}, o_custkey, 'N', o_totalprice,
         o_orderdate, o_orderpriority, 'U'
  FROM orders WHERE o_orderkey % {MERGE_INS_MOD} = 0
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM ch WHERE op <> 'D'
UNION ALL
SELECT b.* FROM orders b ANTI JOIN ch ON b.o_orderkey = ch.o_orderkey
"""


DRIFT_NULL_MOD = 13  # engineered drift: priority nulled on %13 keys


def profile_drift_orders() -> str:
    """Twin of profile.profile_drift: src = orders, trg = engineered side
    (keys %97 dropped, status corrupted %101, priority NULLed %13)."""
    def prof(table: str) -> str:
        parts = [
            f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
            f"COUNT(*) - COUNT({c}) AS n_nulls, "
            f"COUNT(DISTINCT {c}) AS n_distinct FROM {table}"
            for c in PROFILE_ORDERS_COLS
        ]
        return "\nUNION ALL\n".join(parts)

    return f"""
WITH trg AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 101 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice, o_orderdate,
         CASE WHEN o_orderkey % {DRIFT_NULL_MOD} = 0 THEN NULL ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
),
ps AS ({prof('orders')}),
pt AS ({prof('trg')})
SELECT ps.column_name,
       ps.n_rows AS src_rows, pt.n_rows AS trg_rows,
       pt.n_rows - ps.n_rows AS row_delta,
       ps.n_nulls AS src_nulls, pt.n_nulls AS trg_nulls,
       ps.n_distinct AS src_distinct, pt.n_distinct AS trg_distinct,
       pt.n_distinct - ps.n_distinct AS distinct_delta,
       CASE WHEN ps.n_rows = 0 THEN 0.0 ELSE ps.n_nulls * 1.0 / ps.n_rows END AS src_null_rate,
       CASE WHEN pt.n_rows = 0 THEN 0.0 ELSE pt.n_nulls * 1.0 / pt.n_rows END AS trg_null_rate
FROM ps JOIN pt USING (column_name)
"""


# curate_v2 thresholds (the synthetic docs are mildly repetitive; these
# flag the tail without emptying the corpus)
CURATE2_MAX_DUP = 0.25
CURATE2_MAX_TOP = 0.12


def curate_documents_v2() -> str:
    """Twin of q_curate_documents_v2: window exact-dedup -> drop repetitive
    docs (Gopher bigram fractions) -> weighted mixture sample -> sequence
    packing. Every stage is an already-verified oracle piece, re-played
    over the previous stage's CTE."""
    from xoverrr_spark.operators.corpus import MIXTURE_BUCKETS

    cases = " ".join(
        f"WHEN source = '{s}' THEN {w * MIXTURE_TARGET_FRAC!r}"
        for s, w in MIXTURE_WEIGHTS.items()
    )
    b = float(MIXTURE_BUCKETS)
    md5i = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)"
    return f"""
WITH fpd AS (
  SELECT doc_id, source, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fpv
  FROM documents
),
dd AS (
  SELECT doc_id, source, text FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fpv ORDER BY doc_id) AS rn FROM fpd
  ) WHERE rn = 1
),
wds AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(lower(text)), '\\s+'),
                        t -> ('0x' || substr(md5(t), 1, 10))::BIGINT) AS wh
  FROM dd WHERE text IS NOT NULL
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(wh) - 1),
                i -> (wh[i] * 1000003 + COALESCE(wh[i + 1], 0)) % 1099511627776)) AS bigram
  FROM wds WHERE len(wh) >= 2
),
bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
rep AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           CAST(SUM(c) - COUNT(*) AS BIGINT) * 1.0 / CAST(SUM(c) AS BIGINT) AS df,
           MAX(c) * 1.0 / CAST(SUM(c) AS BIGINT) AS tf
    FROM bc GROUP BY doc_id
  ) WHERE df > {CURATE2_MAX_DUP} OR tf > {CURATE2_MAX_TOP}
),
keepr AS (SELECT d.* FROM dd d ANTI JOIN rep r USING (doc_id)),
cnt AS (SELECT source, COUNT(*) AS n FROM keepr GROUP BY source),
ct AS (SELECT source, n, SUM(n) OVER () AS total FROM cnt),
th AS (
  SELECT source,
         CASE WHEN (CASE {cases} ELSE NULL END) IS NULL THEN NULL
              ELSE CAST(floor(LEAST((CASE {cases} ELSE NULL END) * total / n, 1.0)
                         * {b!r}) AS BIGINT) END AS th
  FROM ct
),
mixed AS (
  SELECT k.doc_id, k.source, k.text
  FROM keepr k JOIN th ON k.source IS NOT DISTINCT FROM th.source
  WHERE th.th IS NOT NULL AND {md5i} % {MIXTURE_BUCKETS} < th.th
),
tok AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM mixed
)
SELECT doc_id, source, n_tokens,
       CAST(floor(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {PACK_BUDGET_TOKENS}) AS BIGINT) AS pack_id
FROM tok
"""


def curate_documents_v3() -> str:
    """Twin of q_curate_documents_v3: window exact-dedup -> drop docs
    whose cross-corpus dup-ngram ratio exceeds 1.25x the global ratio
    (cross-multiplied BIGINT form, no float division) -> drop docs fully
    contained in the benchmark shingle set (integer-equality containment,
    no division). One shingle CTE over the dedup survivors feeds all
    three, mirroring the Spark side's shared persisted shingle table."""
    return f"""
WITH fpd AS (
  SELECT doc_id, source, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fpv
  FROM documents
),
dd AS (
  SELECT doc_id, source, text FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fpv ORDER BY doc_id) AS rn FROM fpd
  ) WHERE rn = 1
),
{_shingles_sql('dd', 'd').strip()},
dupset AS (SELECT x FROM shd GROUP BY x HAVING COUNT(*) >= 2),
per AS (
  SELECT s.doc_id,
         COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN f.x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_shingles
  FROM shd s LEFT JOIN dupset f ON s.x = f.x
  GROUP BY s.doc_id
),
tot AS (
  SELECT CAST(SUM(n_shingles) AS BIGINT) AS ts,
         CAST(SUM(n_dup_shingles) AS BIGINT) AS td
  FROM per
),
gated AS (
  SELECT per.doc_id, per.n_shingles, per.n_dup_shingles
  FROM per, tot
  WHERE 4 * n_dup_shingles * ts <= 5 * n_shingles * td
),
bshd AS (SELECT DISTINCT x FROM shd WHERE doc_id % {DECONTAM_BENCH_MOD} = 0),
contained AS (
  SELECT s.doc_id
  FROM shd s LEFT JOIN bshd b ON s.x = b.x
  GROUP BY s.doc_id
  HAVING COUNT(*) = SUM(CASE WHEN b.x IS NOT NULL THEN 1 ELSE 0 END)
)
SELECT g.doc_id, g.n_shingles, g.n_dup_shingles
FROM gated g ANTI JOIN contained c USING (doc_id)
"""


CHUNK_MAX_TOKENS = 20
CHUNK_STRIDE = 15


def chunk_documents() -> str:
    """Twin of corpus.chunk_documents: starts via range(0, n, stride),
    1-based inclusive list slice, ordered string_agg-free rebuild."""
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
st AS (
  SELECT doc_id, words, unnest(range(0, len(words), {CHUNK_STRIDE})) AS s
  FROM w
)
SELECT doc_id,
       CAST(s // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(len(words[s + 1 : s + {CHUNK_MAX_TOKENS}]) AS INTEGER) AS n_chunk_tokens,
       array_to_string(words[s + 1 : s + {CHUNK_MAX_TOKENS}], ' ') AS chunk_text
FROM st
"""


SLIDE_WINDOW_S = 600
SLIDE_STEP_S = 300


def sliding_counts_events() -> str:
    """Twin of q_sliding_counts: Spark's F.window(ts, 10min, 5min) sliding
    windows (epoch-aligned). Each event belongs to exactly window/step = 2
    windows: starts floor5(t) and floor5(t) - step."""
    return f"""
WITH e AS (
  SELECT event_type, ts,
         to_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // {SLIDE_STEP_S})
                      * {SLIDE_STEP_S}) AS s0
  FROM events WHERE ts IS NOT NULL
),
x AS (
  SELECT event_type, ts,
         unnest([s0, s0 - INTERVAL {SLIDE_STEP_S} SECOND]) AS ws
  FROM e
)
SELECT CAST(ws AS TIMESTAMP) AS window_start,
       CAST(ws + INTERVAL {SLIDE_WINDOW_S} SECOND AS TIMESTAMP) AS window_end,
       event_type, COUNT(*) AS cnt
FROM x
WHERE ts >= ws AND ts < ws + INTERVAL {SLIDE_WINDOW_S} SECOND
GROUP BY 1, 2, 3
"""


Q3_SEGMENT = "BUILDING"
Q3_DATE = "1996-06-01"


def q3_shipping_priority() -> str:
    """TPC-H Q3 shape: 3-table join, pre-join filters on both fact sides,
    top-10 by revenue with deterministic tiebreak."""
    return f"""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       o.o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = '{Q3_SEGMENT}'
  AND o.o_orderdate < DATE '{Q3_DATE}'
  AND l.l_shipdate > DATE '{Q3_DATE}'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


Q5_REGION = "ASIA"
Q5_YEAR_LO = "1996-01-01"
Q5_YEAR_HI = "1997-01-01"


def q5_local_supplier_volume() -> str:
    """TPC-H Q5 shape: 6-table star join with the local-supplier condition
    (supplier nation == customer nation) — the Catalyst join-ordering /
    broadcast showcase."""
    return f"""
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{Q5_REGION}'
  AND o.o_orderdate >= DATE '{Q5_YEAR_LO}'
  AND o.o_orderdate < DATE '{Q5_YEAR_HI}'
GROUP BY n.n_name
"""


HIST_LO = 0.0
HIST_HI = 600000.0
HIST_BINS = 12


def histogram_orders() -> str:
    """Twin of profile.histogram over o_totalprice: identical
    floor((x-lo)/w) chain, clamped to [0, n_bins-1]."""
    w = repr((HIST_HI - HIST_LO) / HIST_BINS)
    return f"""
WITH b AS (
  SELECT LEAST(GREATEST(CAST(floor((o_totalprice - {HIST_LO!r}) / {w}) AS BIGINT),
               0), {HIST_BINS - 1}) AS bin
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT bin,
       {HIST_LO!r} + bin * {w} AS bin_lo,
       {HIST_LO!r} + (bin + 1) * {w} AS bin_hi,
       COUNT(*) AS cnt
FROM b GROUP BY bin
"""


def pii_counts_documents() -> str:
    """Twin of q_pii_counts: per-source incidence of the scrub battery's
    EMAIL/PHONE patterns over a derived corpus with deterministic injected
    PII (%4 -> an email, %5 -> a phone). regexp_matches == Java
    Pattern.find on the RE2 ∩ Java-regex subset rulespec enforces."""
    return rf"""
WITH d AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 4 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call +1 (555) 010-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
)
SELECT source,
       COUNT(*) AS total_docs,
       COUNT(CASE WHEN regexp_matches(text, '{R.EMAIL_RE}') THEN 1 END) AS email_docs,
       COUNT(CASE WHEN regexp_matches(text, '{R.PHONE_RE}') THEN 1 END) AS phone_docs
FROM d GROUP BY source
"""


SKEW_TOP_K = 20


def key_skew_lineitem() -> str:
    """Twin of profile.key_skew_stats over lineitem's join key."""
    return f"""
WITH c AS (
  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey
),
t AS (SELECT COUNT(*) AS total FROM lineitem)
SELECT c.l_orderkey, c.cnt, c.cnt * 1.0 / t.total AS share
FROM c, t
ORDER BY c.cnt DESC, c.l_orderkey
LIMIT {SKEW_TOP_K}
"""


def grouping_sets_events() -> str:
    """Twin of q_grouping_sets (which runs Spark SQL verbatim — the one
    query exercised through spark.sql rather than the DataFrame API; both
    engines speak the same ANSI GROUPING SETS)."""
    return """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS dt,
       COUNT(*) AS cnt,
       CAST(grouping(event_type) AS INTEGER) AS g_type,
       CAST(grouping(CAST(ts AS DATE)) AS INTEGER) AS g_dt
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
"""


def id_gaps_orders() -> str:
    """Twin of q_id_gaps: holes in the o_orderkey sequence via lead()."""
    return """
WITH s AS (
  SELECT o_orderkey AS k,
         LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
  FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT k + 1 AS gap_start, nxt - 1 AS gap_end, nxt - k - 1 AS missing
FROM s WHERE nxt - k > 1
"""


def unpivot_events_metrics() -> str:
    """Twin of q_unpivot: wide per-type daily aggregates melted back to
    (dt, metric, event_type, val) long form — DuckDB UNPIVOT."""
    return """
WITH wide AS (
  SELECT CAST(ts AS DATE) AS dt,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
         COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
         COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
  FROM events GROUP BY 1
)
SELECT dt, event_type, val
FROM wide UNPIVOT (val FOR event_type IN (click, view, error))
"""


def cumulative_users_events() -> str:
    """Twin of q_cumulative_users: running distinct-user count by day via
    the first-seen-day trick (a naive running COUNT(DISTINCT) window is
    unbounded-state; first-seen reduces it to a cumulative SUM)."""
    return """
WITH first_seen AS (
  -- synthetic wider user key (the fixture has ~15 raw users): derived
  -- identically on the Spark side
  SELECT user_id * 1000 + event_id % 97 AS u, MIN(CAST(ts AS DATE)) AS dt
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id * 1000 + event_id % 97
),
daily AS (
  SELECT dt, COUNT(*) AS new_users FROM first_seen GROUP BY dt
)
SELECT dt, new_users,
       CAST(SUM(new_users) OVER (ORDER BY dt
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily
"""


Q7_NATION_A = "NATION_2"
Q7_NATION_B = "NATION_7"


def q7_volume_shipping() -> str:
    """TPC-H Q7 shape: supplier-nation x customer-nation flows between two
    nations (disjunctive pair condition), revenue by year."""
    return f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
     OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}')
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


Q8_NATION = "NATION_7"
Q8_REGION = "ASIA"


def q8_market_share() -> str:
    """TPC-H Q8 shape: one nation's share of a region's yearly market —
    conditional-sum ratio over the star join. Both sums are exact DECIMAL
    cast to DOUBLE before ONE division (cross-engine deterministic)."""
    return f"""
SELECT l_year,
       CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                     THEN CAST(volume AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS l_year,
         n1.n_name AS supp_nation,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{Q8_REGION}'
) flows
GROUP BY l_year
"""


def q12_priority_counts() -> str:
    """TPC-H Q12 shape: conditional priority counts per return flag (the
    fixture lacks l_shipmode; l_returnflag plays the grouping role)."""
    return """
SELECT l.l_returnflag,
       COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_line_count,
       COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
GROUP BY l.l_returnflag
"""


def q4_order_priority() -> str:
    """TPC-H Q4 shape: priority counts of orders that EXISTS-match a
    lineitem predicate — exercises Catalyst's correlated-EXISTS-to-semi
    rewrite. Fixture lacks l_commitdate/l_receiptdate, so a returned line
    (l_returnflag = 'R') plays the late-delivery role."""
    return """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
  )
GROUP BY o_orderpriority
"""


def q13_customer_distribution() -> str:
    """TPC-H Q13 shape: left-outer customer->orders with an exclusion
    predicate (o_orderpriority plays the comment-pattern role), per-
    customer count, then the distribution of counts. Customers with no
    qualifying orders land in the c_count = 0 bucket, never drop."""
    return """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""


def q16_parts_supplier() -> str:
    """TPC-H Q16 shape: supplier-count per part attribute with a NOT IN
    anti-subquery — exercises Catalyst's null-aware anti-join rewrite.
    The fixture has no partsupp table; lineitem is the part<->supplier
    association, and negative-balance suppliers play the complaints role.
    COUNT(DISTINCT) after the anti-join, exactly like the original."""
    return """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#2'
  AND p.p_size IN (11, 14, 23, 45, 19, 3, 36, 9)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


def q18_large_volume() -> str:
    """TPC-H Q18 shape twin: IN over a HAVING aggregate."""
    return """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(o.o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
       CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 280
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


def q22_global_sales() -> str:
    """TPC-H Q22 shape twin: scalar AVG subquery + NOT EXISTS. The DECIMAL
    cast inside SUM pins cross-engine float addition order."""
    return """
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
  SELECT substring(c.c_name, 17, 2) AS cntrycode, c.c_acctbal
  FROM customer c
  WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * (
    SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0
  ) > (
    SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
    FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '1-URGENT'
  )
) custsale
GROUP BY cntrycode
"""


def q2_min_cost_supplier() -> str:
    """TPC-H Q2 shape twin: correlated MIN scalar subquery selecting the
    cheapest supplier rows per part (reference has no Spark engine; shape
    per TPC-H spec Q2 with lineitem standing in for partsupp — the
    testdata has no partsupp/ps_supplycost). MIN is exact selection (no
    arithmetic) so float equality is engine-stable."""
    return """
SELECT DISTINCT p.p_partkey, p.p_name, s.s_name,
       CAST(l.l_extendedprice AS DECIMAL(18,2)) AS min_cost
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_size = 11
  AND l.l_extendedprice = (
    SELECT MIN(l2.l_extendedprice) FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey)
"""


def q6_forecast_revenue() -> str:
    """TPC-H Q6 shape twin: pure scan-aggregate with range predicates —
    every filter must reach the parquet scan."""
    return """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q9_product_profit() -> str:
    """TPC-H Q9 shape twin: five-way join + derived-year grouping.
    p_retailprice*qty*0.1 stands in for ps_supplycost (no partsupp).
    Per-row profit is a double expression with fixed parse order, then
    DECIMAL-cast before SUM for cross-engine addition order."""
    return """
SELECT n.n_name AS supp_nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * l.l_quantity * 0.1 AS DECIMAL(18,4))) AS DOUBLE) AS profit
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE 'red%'
GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER)
"""


def q10_returned_items() -> str:
    """TPC-H Q10 shape twin: returned-item revenue per customer (no
    LIMIT — top-k truncation is tie-nondeterministic across engines;
    the full deterministic group set is compared instead)."""
    return """
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(c.c_acctbal AS DECIMAL(18,2)) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1996-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
"""


def q11_important_parts() -> str:
    """TPC-H Q11 shape twin: HAVING gated by scalar subqueries. The
    above-2x-mean test is sum*n_parts > 2*total — exact DECIMAL/BIGINT
    math, scale-free (a fixed share threshold goes vacuous as the part
    count grows)."""
    return """
SELECT l.l_partkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE s.s_nationkey = 3
GROUP BY l.l_partkey
HAVING SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) * (
    SELECT COUNT(DISTINCT l3.l_partkey) FROM lineitem l3
    JOIN supplier s3 ON s3.s_suppkey = l3.l_suppkey WHERE s3.s_nationkey = 3
  ) > 2 * (
    SELECT SUM(CAST(l2.l_extendedprice AS DECIMAL(18,2))) FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey WHERE s2.s_nationkey = 3)
"""


def q14_promo_revenue() -> str:
    """TPC-H Q14 shape twin: conditional-aggregate ratio. Both sums are
    exact DECIMAL; the single ratio is computed in DOUBLE with fixed
    left-assoc order (100.0*x)/y — identical IEEE ops per engine."""
    return """
SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'ECONOMY'
          THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
          ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE)
       AS DOUBLE) AS promo_revenue_pct
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1996-02-01'
"""


def q15_top_supplier() -> str:
    """TPC-H Q15 shape twin: aggregated CTE + scalar MAX over it, joined
    back to supplier. DECIMAL revenue makes the MAX-equality exact."""
    return """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


def q17_small_quantity() -> str:
    """TPC-H Q17 shape twin: correlated scalar subqueries per outer row.
    q < 0.2*avg(q) is rewritten q*5*cnt < sum(q) — BIGINT-exact on both
    engines (a float AVG threshold could flip boundary rows)."""
    return """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND CAST(l.l_quantity AS BIGINT) * 5 * (
    SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  ) < (
    SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS BIGINT)
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def q19_disjunctive_revenue() -> str:
    """TPC-H Q19 shape twin: disjunction of conjunctive brand/size/qty
    bands over a join — the OR-of-ANDs predicate Catalyst must still
    push below the join build side."""
    return """
SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity >= 20 AND l.l_quantity <= 30)
"""


def q20_potential_promotion() -> str:
    """TPC-H Q20 shape twin: IN over a grouped-HAVING subquery that is
    itself filtered by a nested IN (lineitem stands in for partsupp;
    qty>40 keeps the inner HAVING selective but non-vacuous at small SF)."""
    return """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_nationkey = 5
  AND s.s_suppkey IN (
    SELECT l.l_suppkey FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(CAST(l.l_quantity AS BIGINT)) > 40
  )
"""


def q21_waiting_suppliers() -> str:
    """TPC-H Q21 shape twin: EXISTS + NOT EXISTS both correlated on the
    same table with a supplier-inequality — the classic 'sole failing
    supplier on a multi-supplier order' pattern. l_returnflag='R' stands
    in for receiptdate>commitdate (testdata has no commit/receipt dates)."""
    return """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s.s_name
"""


# ------------------------------------------------------------------ splits --

# Shared constants for the split-family queries: __spark_entry__ reads
# THESE so the Spark query and the SQL twin can never drift apart.
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SEED = 42
SPLIT_MIRROR_OFFSET = 1_000_000  # derived-corpus ids for the leakage query
SPLIT_MIRROR_MOD = 5  # every 5th doc is mirrored verbatim -> cross-id dup
MIX_BUDGET_TOKENS = 10_000
# src0..src7 weight 1, src8 weight 2; src9..src19 intentionally
# unweighted -> visible rate-0 rows (the least(NULL,1.0) trap, r3)
MIX_WEIGHTS = {**{f"src{i}": 1.0 for i in range(8)}, "src8": 2.0}

_FP_SQL = (
    r"COALESCE(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), "
    r"chr(0) || '<null-text>')"
)


def split_assignment_documents() -> str:
    """Twin of splits.assign_splits: the identical md5('seed:id') 60-bit
    threshold CASE (splits.split_case_sql builds it from the same
    fractions/seed constants), so the per-doc assignment matches
    value-for-value — the property that lets a split committed by one
    engine be honored by another."""
    from .operators.splits import split_case_sql

    case = split_case_sql("doc_id", SPLIT_FRACTIONS, SPLIT_SEED)
    return f"SELECT doc_id, {case} AS split FROM documents\n"


def split_leakage_documents() -> str:
    """Twin of splits.split_leakage over a derived corpus: every
    SPLIT_MIRROR_MOD-th document is mirrored verbatim at doc_id +
    SPLIT_MIRROR_OFFSET (the raw table has no exact dups), the union is
    split-assigned, and docs whose fingerprint spans >= 2 splits are
    reported with the sorted split set. Null texts share the
    exact_dedup sentinel, so cross-split null pairs leak too."""
    from .operators.splits import split_case_sql

    case = split_case_sql("doc_id", SPLIT_FRACTIONS, SPLIT_SEED)
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {SPLIT_MIRROR_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {SPLIT_MIRROR_MOD} = 0
),
d AS (
  SELECT doc_id, {case} AS split, {_FP_SQL} AS text_fp FROM corpus
),
p AS (SELECT DISTINCT text_fp, split FROM d),
s AS (
  SELECT text_fp, CAST(COUNT(*) AS BIGINT) AS n_splits,
         string_agg(split, ',' ORDER BY split) AS splits
  FROM p GROUP BY text_fp HAVING COUNT(*) >= 2
)
SELECT d.doc_id, d.split, d.text_fp, s.n_splits, s.splits
FROM d JOIN s USING (text_fp)
"""


def token_budget_mixture_documents() -> str:
    """Twin of splits.token_budget_mixture(allow_upsample=True): per-source
    token counts (the ws_token_count twin), driver-computed integer targets
    as literals in BOTH engines, and pure-bigint floor-division epoch/ppm
    math (DuckDB // and % == Spark div and % for non-negative ints).
    Upsample mode so BOTH branches are non-trivial on the testdata: src8
    (weight 2) targets more tokens than it has -> epochs >= 1 + fractional
    remainder; the weight-1 sources stay sub-epoch. SUM/COUNT cast to
    BIGINT (HUGEINT schema-mismatches Spark)."""
    wsum = sum(MIX_WEIGHTS.values())
    targets = {s: int(MIX_BUDGET_TOKENS * w / wsum) for s, w in MIX_WEIGHTS.items()}
    from .operators.splits import _sql_str

    branches = " ".join(f"WHEN {_sql_str(s)} THEN {t}" for s, t in targets.items())
    return rf"""
WITH ps AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (
  SELECT *, CAST(CASE source {branches} ELSE 0 END AS BIGINT) AS target_tokens
  FROM ps
)
SELECT source, n_docs, n_tokens, target_tokens,
       CAST(CASE WHEN n_tokens > 0 THEN target_tokens // n_tokens
                 ELSE 0 END AS BIGINT) AS epochs,
       CAST(CASE WHEN n_tokens > 0
                 THEN ((target_tokens % n_tokens) * 1000000) // n_tokens
                 ELSE 0 END AS BIGINT) AS rate_ppm,
       CAST(CASE WHEN n_tokens > 0 THEN target_tokens ELSE 0 END
            AS BIGINT) AS planned_tokens
FROM t
"""


def assemble_dataset_documents() -> str:
    """Twin of splits.assemble_dataset over the mirrored corpus: split
    CASE -> leaked fingerprints (>=2 distinct splits) -> TRAIN copies
    quarantined (null-safe anti join) -> token-budget plan over the
    quarantined train split (capped mode) -> independent-stream sample
    hash ('sample:seed:id') -> eval survivors UNION sampled train."""
    from .operators.splits import split_case_sql

    case = split_case_sql("doc_id", SPLIT_FRACTIONS, SPLIT_SEED)
    wsum = sum(MIX_WEIGHTS.values())
    targets = {s: int(MIX_BUDGET_TOKENS * w / wsum) for s, w in MIX_WEIGHTS.items()}
    from .operators.splits import _sql_str

    branches = " ".join(f"WHEN {_sql_str(s)} THEN {t}" for s, t in targets.items())
    sample_h = (
        "(('0x' || substr(md5(('sample:" + str(SPLIT_SEED) + ":' || "
        "COALESCE(CAST(doc_id AS VARCHAR), chr(0) || '<null-id>'))), 1, 15))"
        "::BIGINT)"
    )
    return rf"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {SPLIT_MIRROR_OFFSET} AS doc_id, text, source
  FROM documents WHERE doc_id % {SPLIT_MIRROR_MOD} = 0
),
d AS (
  SELECT doc_id, {case} AS split, source, text, {_FP_SQL} AS text_fp
  FROM corpus
),
p AS (SELECT DISTINCT text_fp, split FROM d),
s AS (SELECT text_fp FROM p GROUP BY text_fp HAVING COUNT(*) >= 2),
drop_train AS (
  SELECT DISTINCT doc_id FROM d SEMI JOIN s USING (text_fp)
  WHERE split = 'train'
),
clean AS (
  SELECT d.* FROM d ANTI JOIN drop_train t
  ON d.doc_id IS NOT DISTINCT FROM t.doc_id
),
train AS (SELECT * FROM clean WHERE split = 'train'),
ps AS (
  SELECT source,
         CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END)
              AS BIGINT) AS n_tokens
  FROM train GROUP BY source
),
plan AS (
  SELECT source,
         CAST(CASE WHEN n_tokens > 0
                   THEN least(1000000,
                        (CAST(CASE source {branches} ELSE 0 END AS BIGINT)
                         * 1000000) // n_tokens)
                   ELSE 0 END AS BIGINT) AS rate_ppm
  FROM ps
),
samp AS (
  SELECT tr.doc_id, tr.split, tr.source
  FROM train tr LEFT JOIN plan pl
    ON tr.source IS NOT DISTINCT FROM pl.source
  WHERE ({sample_h} % 1000000) < COALESCE(pl.rate_ppm, 0)
)
SELECT doc_id, split, source FROM clean WHERE split <> 'train'
UNION ALL
SELECT doc_id, split, source FROM samp
"""


def near_dup_split_leakage_documents() -> str:
    """Twin of splits.near_dup_pair_leakage over the minhash detector:
    the full minhash_near_dups pair query as a subquery, each side joined
    to the split CASE, keeping split-straddling pairs."""
    from .operators.splits import split_case_sql

    case = split_case_sql("doc_id", SPLIT_FRACTIONS, SPLIT_SEED)
    nd = minhash_near_dups_documents().strip()
    return f"""
WITH s AS (SELECT doc_id, {case} AS split FROM documents)
SELECT nd.doc_a, nd.doc_b, nd.jaccard, sa.split AS split_a, sb.split AS split_b
FROM ({nd}) nd
JOIN s sa ON nd.doc_a IS NOT DISTINCT FROM sa.doc_id
JOIN s sb ON nd.doc_b IS NOT DISTINCT FROM sb.doc_id
WHERE sa.split IS DISTINCT FROM sb.split
"""


def split_by_source_documents() -> str:
    """Twin of the group-keyed split: the same CASE over the SOURCE
    column — all docs of a source share a split by construction."""
    from .operators.splits import split_case_sql

    case = split_case_sql("source", SPLIT_FRACTIONS, SPLIT_SEED)
    return f"SELECT doc_id, source, {case} AS split FROM documents\n"
