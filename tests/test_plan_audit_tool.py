"""tools/plan_audit.py: the duplicated-reference counter itself, and
the allowances of the retrieval queries (the full-catalog sweep runs as
a standalone gate, not in pytest)."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from pyspark.sql import functions as F  # noqa: E402

from plan_audit import dup_count  # noqa: E402


def test_no_duplicates_counts_zero():
    plan = ("Join\n:- Relation [a#1L,b#2] parquet\n"
            "+- Relation [c#3L] parquet\n")
    assert dup_count(plan) == 0


def test_duplicated_relation_counted_per_extra_reference():
    plan = ("Union\n:- Relation [doc_id#1L,text#2] parquet\n"
            ":- Relation [doc_id#7L,text#8] parquet\n"
            ":- Relation [doc_id#9L,text#10] parquet\n")
    # three references to the same column set -> 2 duplicated
    assert dup_count(plan) == 2


def test_distinct_first_columns_not_conflated():
    plan = ("Join\n:- Relation [doc_id#1L] parquet\n"
            "+- Relation [vec_id#2L] parquet\n")
    assert dup_count(plan) == 0


def test_same_first_column_different_tables_not_conflated():
    """r10 advice false-positive class: two DISTINCT relations whose
    FIRST column shares a name are not duplicates — keying is by the
    full sorted column-name set."""
    plan = ("Join\n:- Relation [id#1L,text#2] parquet\n"
            "+- Relation [id#3L,embedding#4] parquet\n")
    assert dup_count(plan) == 0


def test_column_order_does_not_split_the_key():
    # the key is the SORTED set: projection order must not matter
    plan = ("Join\n:- Relation [b#1,a#2L] parquet\n"
            "+- Relation [a#3L,b#4] parquet\n")
    assert dup_count(plan) == 1


def test_pruned_rescan_merges_into_wider_scan():
    """r11 advice false-negative class: a raw read plus an
    aggregate-subtree read of the SAME table prune to different column
    sets — the subset is the same table re-scanned."""
    plan = ("Join\n:- Relation [doc_id#1L,text#2,lang#3] parquet\n"
            "+- Relation [doc_id#7L] parquet\n")
    assert dup_count(plan) == 1


def test_ambiguous_subset_stands_alone():
    """A pruned set that fits under TWO distinct wider tables (shared
    key column) cannot be attributed — counted as its own table, not a
    duplicate of either."""
    plan = ("Join\n:- Relation [doc_id#1L,text#2] parquet\n"
            ":- Relation [doc_id#3L,embedding#4] parquet\n"
            "+- Relation [doc_id#9L] parquet\n")
    assert dup_count(plan) == 0


def test_exprid_suffix_stripped():
    # same base column, different expression ids -> same relation
    plan = ("Join\n:- Relation [l_orderkey#12L,l_suppkey#13L] parquet\n"
            "+- Relation [l_orderkey#99L,l_suppkey#100L] parquet\n")
    assert dup_count(plan) == 1


def test_identical_ambiguous_sets_count_among_themselves():
    """r12 advice false-negative class: N identical scans of an
    AMBIGUOUS column set (subset of two wider groups) are still N
    scans of ONE table — they group with each other even though they
    cannot be attributed to either wider group."""
    plan = ("Join\n:- Relation [doc_id#1L,text#2] parquet\n"
            ":- Relation [doc_id#3L,embedding#4] parquet\n"
            "+- Relation [doc_id#9L] parquet\n"
            "+- Relation [doc_id#10L] parquet\n"
            "+- Relation [doc_id#11L] parquet\n")
    assert dup_count(plan) == 2


def test_leaf_path_identity_catches_disjoint_column_rescan(spark,
                                                           tmp_path):
    """r12 judge item: two scans of the SAME parquet pruned to
    DISJOINT column sets evade subset grouping — path identity counts
    them as a re-scan."""
    from plan_audit import dup_count_leaves, leaf_identities

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a", 2.0)], "k long, s string, v double") \
        .write.parquet(p)
    df = spark.read.parquet(p)
    left = df.groupBy("k").count()
    right = df.select("s", "v").groupBy("s").sum("v")  # k pruned away
    q = left.join(right, F.lit(True), "left")
    leaves = leaf_identities(q._jdf.queryExecution().optimizedPlan())
    paths = [i for i, _ in leaves if i and i.startswith("path:")]
    assert len(paths) == 2 and paths[0] == paths[1]
    assert dup_count_leaves(leaves) == 1
    # path grouping is exact regardless of how each scan was pruned —
    # disjoint pruned sets would evade the subset heuristic entirely


def test_leaf_rdd_rerefs_not_counted_as_rescans(spark):
    """N references to one localCheckpointed frame read cached
    partitions — the FIX for re-scans, never ratcheted against."""
    from plan_audit import dup_count_leaves, leaf_identities

    base = spark.range(10).localCheckpoint(eager=True)
    q = base.join(base.select(F.col("id").alias("id2")),
                  F.lit(True), "left")
    leaves = leaf_identities(q._jdf.queryExecution().optimizedPlan())
    rdds = [i for i, _ in leaves if i and i.startswith("rdd:")]
    assert len(rdds) == 2 and rdds[0] == rdds[1]
    assert dup_count_leaves(leaves) == 0


def test_retrieval_allowances_are_exact(spark):
    """The ALLOWED entries of the queries that run budgeted_accumulate
    are their reviewed counts, not ceilings: at sf0.001 each optimized
    plan has exactly that many duplicated base-relation references, so
    a branch that re-reads the pattern results fails here, not only in
    the standalone sweep.  Plans are built, not executed (the query
    functions themselves still run their own setup actions: the
    pipeline's enumeration and budget collects, r_retrieve_data's input
    persist)."""
    from conftest import SF_SMOKE
    from plan_audit import ALLOWED, dup_count_leaves, leaf_identities

    from graphraft_spark import registry

    registry.load_all()
    lookup = dict(registry.EXTRA_QUERIES)
    lookup.update(registry.QUERIES)
    names = ("p_full_pipeline", "r_budget_accumulate", "r_retrieve_data",
             "m_retrieval_eval")
    got = {}
    for name in names:
        plan = lookup[name](spark, SF_SMOKE)._jdf \
            .queryExecution().optimizedPlan()
        got[name] = dup_count_leaves(leaf_identities(plan))
    assert got == {name: ALLOWED[name] for name in names}
