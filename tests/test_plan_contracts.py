"""Physical-plan contracts: the scale properties SCALE.md promises,
asserted so a plan regression fails the suite (not just the manual
`tools/explain_audit.py` pass).

Checked per query: join strategy (dimension lookups must broadcast, no
accidental CartesianProduct), filter pushdown into the parquet scan,
column pruning (no full-width reads for narrow projections), and an
exchange (shuffle) budget.
"""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    df = load_all()[name].spark(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _exchanges(plan: str) -> int:
    # count in the operator tree only (header section before the node
    # details), mirroring tools/explain_audit.py
    return len(re.findall(r"\bExchange\b", plan.split("\n\n")[0]))


def test_j1_lookup_join_broadcasts(spark):
    plan = _plan(spark, "j1_broadcast_lookup_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), "date filter not pushed"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert "l_comment" not in cols and len(cols) <= 7, cols
    # single hash-agg over one scan: exactly one shuffle (partial → final)
    assert _exchanges(plan) == 1, plan.split("\n\n")[0]


def test_q3_broadcasts_dimension_and_pushes_filters(spark):
    plan = _plan(spark, "j_tpch_q3_shipping_priority")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*c_mktsegment", plan), "dim filter not pushed"
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), "fact filter not pushed"


def test_w1_split_single_exchange(spark):
    # row_number + count over the same (attack, state) window partitioning
    # must share ONE shuffle (SCALE.md §W1)
    plan = _plan(spark, "w1_chrono_split_counts")
    assert _exchanges(plan) <= 2, plan.split("\n\n")[0]  # window + final agg


def test_topk_uses_heap_not_global_sort(spark):
    plan = _plan(spark, "w8_topk_by_score")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_minhash_lsh_no_cartesian(spark):
    plan = _plan(spark, "dedup_minhash_lsh_pairs")
    assert "CartesianProduct" not in plan
    # band-key equi-join, never a nested-loop over doc pairs
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    # the training corpus must NEVER shuffle on the shingle key: the eval
    # side broadcasts into a BroadcastHashJoin (left_semi)
    plan = _plan(spark, "dedup_decontaminate_train")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_top_ngrams_uses_heap_not_global_sort(spark):
    plan = _plan(spark, "text_top_ngrams")
    assert "TakeOrderedAndProject" in plan


def _pinned_rdd_ids(node) -> list[int]:
    """RDD ids of every ``Scan ExistingRDD`` in a physical plan, looking
    through query stages (a stage's plan is not one of its children)."""
    name = node.getClass().getSimpleName()
    if name == "RDDScanExec":
        return [node.rdd().id()]
    if name.endswith("QueryStageExec"):
        return _pinned_rdd_ids(node.plan())
    children = node.children()
    return [i for k in range(children.size()) for i in _pinned_rdd_ids(children.apply(k))]


def test_kaplan_meier_cuts_to_first_30_before_scanning(spark):
    # the 30 shown event times are taken first (a bounded heap), and the
    # risk sets and survival are computed for those rows only: no global
    # range exchange, no prefix-sum window, one pinned cells frame
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    df = load_all()["a_kaplan_meier"].spark(spark, SF)
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    # AdaptiveSparkPlan prints the final plan, then the initial one
    final = adaptive.toString().split("== Initial Plan ==")[0]
    assert "rangepartitioning" not in final
    assert "Window" not in final
    assert "TakeOrderedAndProject" in final
    pins = _pinned_rdd_ids(adaptive.executedPlan())
    assert pins and len(set(pins)) == 1, pins


def test_no_unpartitioned_window_in_oracle_queries(spark):
    """SCALE.md's strongest claim, enforced: no oracle-checked plan may
    contain a WindowExec with an empty partition spec (the 'No Partition
    Defined for Window operation — moving all data to a single partition'
    shape). Global scans must go through operators.scan (range-bucketed
    two-phase prefix sums) or partition on real keys.

    A windowspecdefinition whose first argument is an ORDER-BY expression
    (no partition columns) renders as `windowspecdefinition(<col> ASC|DESC
    ...` — partitioned specs list the partition cols first, without a
    sort direction."""
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    unpartitioned = re.compile(
        r"windowspecdefinition\([^(),]*(?: ASC| DESC)[^)]*NULLS (?:FIRST|LAST)"
    )
    offenders = []
    for name, q in load_all().items():
        if q.oracle is None:
            continue
        df = q.spark(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "windowspecdefinition" not in line:
                continue
            if unpartitioned.search(line):
                offenders.append((name, line.strip()[:120]))
                break
    assert not offenders, offenders


def test_no_rowwise_python_udf_in_relational_queries(spark):
    # the relational surface stays JVM-side: BatchEvalPython (row-at-a-time
    # Python UDF) must not appear in any oracle-checked plan
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    qs = load_all()
    offenders = []
    for name, q in qs.items():
        if q.oracle is None:
            continue  # rows-only ops may use Arrow/pandas edges
        df = q.spark(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_no_python_rdd_scan_in_oracle_queries(spark):
    """Tiny lookup/dimension tables must be JVM literal relations
    (functions.literals.literal_df), never spark.createDataFrame: the
    Python-RDD path (`Scan ExistingRDD` via applySchemaToPythonRDD)
    launches Python workers inside the query and hides the relation from
    Catalyst (unknown partitioning, no constant folding). Measured cost:
    ~2s of a 3s query at sf0.1.

    JVM-side ExistingRDD scans from localCheckpoint (lineage truncation
    in the connected-components fixpoint) are fine — only the
    applySchemaToPythonRDD marker is the Python path."""
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    offenders = []
    for name, q in load_all().items():
        if q.oracle is None:
            continue
        df = q.spark(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        if "applySchemaToPythonRDD" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_bucketed_smb_join_has_no_join_side_exchange(spark):
    """Bucketed tables must satisfy the SMJ distribution requirement from
    storage: no Exchange may appear below the SortMergeJoin (the only
    shuffle allowed is the final aggregation's)."""
    plan = _plan(spark, "j_bucketed_smb_join")
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" in tree
    join_pos = tree.index("SortMergeJoin")
    below = tree[join_pos:]
    assert "Exchange" not in below, below


def test_partitioned_lake_scan_prunes_partitions(spark):
    """The source predicate must be a PartitionFilter on the lake scan
    (directory pruning), not a row-level filter after a full read."""
    plan = _plan(spark, "s9_partitioned_lake_roundtrip")
    assert re.search(r"PartitionFilters: \[[^\]]*source[^\]]*IN \(src1,src3\)", plan), plan[-2000:]
