"""Property-based check: fk_orphans agrees with a sequential set-based
replay on randomized child/parent feeds (null fks, composite keys, dup
keys both sides, empty frames, unreferenced parents)."""

from hypothesis import HealthCheck, given, settings, strategies as st

from xoverrr_spark.operators.integrity import fk_orphans

_K1 = st.one_of(st.none(), st.integers(min_value=0, max_value=4))
_K2 = st.one_of(st.none(), st.sampled_from(["x", "y"]))
_CHILD = st.lists(st.tuples(_K1, _K2, st.integers(min_value=0, max_value=99)),
                  min_size=0, max_size=12)
_PARENT = st.lists(st.tuples(_K1, _K2), min_size=0, max_size=8)


def _sequential_orphans(child_rows, parent_rows):
    # ANSI FK: any-null fk row is exempt; parent rows with a null key can
    # never match anything (equality with null is not true)
    parents = {(k1, k2) for k1, k2 in parent_rows
               if k1 is not None and k2 is not None}
    return sorted(
        v for k1, k2, v in child_rows
        if k1 is not None and k2 is not None and (k1, k2) not in parents
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(child_rows=_CHILD, parent_rows=_PARENT)
def test_fk_orphans_matches_set_replay(spark, child_rows, parent_rows):
    child = (spark.createDataFrame(child_rows, "k1 bigint, k2 string, v int")
             if child_rows
             else spark.createDataFrame([], "k1 bigint, k2 string, v int"))
    parent = (spark.createDataFrame(parent_rows, "k1 bigint, k2 string")
              if parent_rows
              else spark.createDataFrame([], "k1 bigint, k2 string"))
    got = sorted(r.v for r in fk_orphans(child, parent, ["k1", "k2"]).collect())
    assert got == _sequential_orphans(child_rows, parent_rows)
