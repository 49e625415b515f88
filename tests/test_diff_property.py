"""Property-based check: the distributed diff engine agrees with an
independent sequential implementation of the same spec on randomized
inputs (dup keys, nulls, textual nulls, one/two value columns).

The sequential twin below is written from the spec (SURVEY.md §2.3:
min-struct dedup, per-key classification, reference scoring math) — it
shares no code with the Spark implementation.
"""

from hypothesis import HealthCheck, given, settings, strategies as st

from xoverrr_spark.operators.diff import build_check_stats, compare_frames

_VALS = st.one_of(
    st.none(),
    st.sampled_from(["a", "b", "c", "", " ", "None", "nan", "5.0", "5"]),
)
_ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=6), _VALS, _VALS),
    min_size=0, max_size=25,
)


def _canon(v) -> str:
    if v is None:
        return "N/A"
    s = str(v)
    if s.strip() == "" or s.strip().lower() in ("none", "nan", "nat"):
        return "N/A"
    return s


def _sequential_diff(src_rows, trg_rows):
    def side(rows):
        groups = {}
        for k, a, b in rows:
            groups.setdefault(k, []).append((_canon(a), _canon(b)))
        return {k: (len(vs), min(vs)) for k, vs in groups.items()}

    s, t = side(src_rows), side(trg_rows)
    total_s, total_t = len(src_rows), len(trg_rows)
    dup_s = sum(c - 1 for c, _ in s.values())
    dup_t = sum(c - 1 for c, _ in t.values())
    only_s = len(set(s) - set(t))
    only_t = len(set(t) - set(s))
    common = set(s) & set(t)
    passed = sum(1 for k in common if s[k][1] == t[k][1])
    issue_counts = []
    for i in range(2):
        n = sum(1 for k in common if s[k][1][i] != t[k][1][i])
        if n:
            issue_counts.append(n)
    return build_check_stats(
        total_s, total_t, dup_s, dup_t, only_s, only_t,
        len(common), passed, issue_counts,
    )


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(src=_ROWS, trg=_ROWS)
def test_distributed_diff_matches_sequential_spec(spark, src, trg):
    schema = "k int, v1 string, v2 string"
    sdf = spark.createDataFrame(src, schema) if src else spark.createDataFrame([], schema)
    tdf = spark.createDataFrame(trg, schema) if trg else spark.createDataFrame([], schema)
    stats, _ = compare_frames(sdf, tdf, ["k"], max_examples=0)
    if not src and not trg:
        assert stats is None
        return
    expect = _sequential_diff(src, trg)
    got = {f: getattr(stats, f) for f in (
        "total_source_rows", "total_target_rows", "dup_source_rows",
        "dup_target_rows", "only_source_rows", "only_target_rows",
        "comparable_rows", "passed_rows",
    )}
    want = {f: getattr(expect, f) for f in got}
    assert got == want, (src, trg)
    assert abs(stats.final_score - expect.final_score) < 1e-9
    # issue-pct aggregates (max/median over per-column counts) must agree too
    assert abs(stats.max_issue_pct - expect.max_issue_pct) < 1e-9
    assert abs(stats.median_issue_pct - expect.median_issue_pct) < 1e-9
