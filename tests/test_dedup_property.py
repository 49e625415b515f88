"""Property-based checks for the dedup family: the distributed operators
agree with independent sequential twins written from the spec (union-find
for connected components; python set-Jaccard for the candidate verify).
"""

import hashlib

from hypothesis import HealthCheck, given, settings, strategies as st

from xoverrr_spark.operators.dedup import candidate_jaccard, cluster_near_dups

_EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=15),
              st.integers(min_value=0, max_value=15))
    .filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=20,
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_EDGES)
def test_cluster_labels_match_union_find(spark, edges):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a int, doc_b int")
    got = {r["doc_id"]: r["cluster_id"]
           for r in cluster_near_dups(pairs, max_iter=10).collect()}
    assert got == _union_find_components(edges)


_WORDS = ["red", "blue", "fox", "dog", "cat", "run", "sit", "sky"]
_DOC = st.lists(st.sampled_from(_WORDS), min_size=1, max_size=10).map(" ".join)


def _py_shingles(text, n=3):
    words = text.lower().split()
    if len(words) < n:
        grams = {" ".join(words)}
    else:
        grams = {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}
    return {int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_DOC, min_size=2, max_size=6))
def test_candidate_jaccard_matches_python_twin(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    cands_py = [(i, j) for i in range(len(texts)) for j in range(i + 1, len(texts))]
    cands = spark.createDataFrame(cands_py, "doc_a int, doc_b int")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in candidate_jaccard(docs, "doc_id", "text", cands).collect()}
    for i, j in cands_py:
        a, b = _py_shingles(texts[i]), _py_shingles(texts[j])
        expected = len(a & b) / len(a | b)
        assert abs(got[(i, j)] - expected) < 1e-12, (i, j, texts)


_WORD = st.sampled_from(["a", "b", "c"])
_TEXT = st.one_of(
    st.none(),
    st.lists(_WORD, min_size=0, max_size=5).map(" ".join),
)
_CORPUS = st.lists(_TEXT, min_size=1, max_size=8)

_NULL_SENTINEL = ("<null>",)


def _py_shingle_set(text, n=3):
    """Sequential twin of shingle_table written from the spec: distinct
    word n-gram TUPLES (hash-free — the 40-bit fold is injective on this
    3-word vocabulary for all practical purposes), with the contract's
    degenerate cases: null text -> one shared sentinel shingle; fewer
    than n words (incl. the empty string's [''] word list) -> one
    pad-completed shingle."""
    import re

    if text is None:
        return {_NULL_SENTINEL}
    words = re.split(r"\s+", text.strip())  # '' -> [''] like Spark's split
    if len(words) < n:
        return {tuple(words) + ("<pad>",) * (n - len(words))}
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_CORPUS)
def test_dup_shingle_fraction_matches_set_replay(spark, texts):
    from xoverrr_spark.intermediates import scope
    from xoverrr_spark.operators.dedup import dup_shingle_fraction

    sets = {i: _py_shingle_set(t) for i, t in enumerate(texts)}
    freq = {}
    for sh in sets.values():
        for x in sh:
            freq[x] = freq.get(x, 0) + 1
    expect = {
        i: (len(sh), sum(1 for x in sh if freq[x] >= 2))
        for i, sh in sets.items()
    }

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string")
    with scope():  # one per example: free each example's shingle table
        out = dup_shingle_fraction(df, "doc_id", "text")
        got = {r.doc_id: (r.n_shingles, r.n_dup_shingles) for r in out.collect()}
    assert got == expect
