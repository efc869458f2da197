"""Physical-plan quality gates: these assert the plans we *designed for*
actually materialize — filter pushdown reaches the parquet scan, small
dimensions broadcast, the default redaction path is shuffle-free, and
aggregations partial-aggregate map-side. A regression here is a
performance bug even when results stay correct.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pdfredact_spark.fixtures import SSN_RULE, corpus
from pdfredact_spark.pipeline import docs_to_df, redact_full
from pdfredact_spark.queries import (
    q_q1_pricing_summary,
    q_revenue_by_nation,
)

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def tree_of(df) -> str:
    """The TREE section only of the formatted plan. The details section
    after the blank line repeats every operator name (round-6 review:
    'X below Y' assertions against the full text are vacuous whenever X
    exists anywhere), so structural assertions must use the tree."""
    return plan_of(df).split("\n\n")[0]


def subtree_of(tree: str, node: str) -> str:
    """The child lines of the first tree line containing `node` — lines
    whose operator name starts in a deeper column, up to the next
    sibling. Lets a test assert what a node actually CONSUMES."""
    import re as _re

    def name_col(line: str) -> int:
        return _re.match(r"^[\s:+*-]*", line).end()

    lines = tree.splitlines()
    idx = next(i for i, l in enumerate(lines) if node in l)
    col = name_col(lines[idx])
    out = []
    for line in lines[idx + 1:]:
        if name_col(line) <= col:
            break
        out.append(line)
    return "\n".join(out)


def test_filter_pushdown_reaches_scan(spark):
    df = q_q1_pricing_summary(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused columns like l_tax
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m and "l_tax" not in m.group(1) and "l_quantity" in m.group(1)


def test_dimension_join_broadcasts(spark):
    """Round-6 review: the old version carried an `or True` tautology
    and never checked WHICH side broadcast. Every join in this query is
    dim-sized on one side, so no sort-merge join may appear at all, and
    nation's columns must sit under a BroadcastExchange (details-section
    check: the exchange's Input lists n_nationkey)."""
    df = q_revenue_by_nation(spark, SF_DIR)
    tree = tree_of(df)
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree, tree
    assert re.search(
        r"\(\d+\) BroadcastExchange[\s\S]{0,600}?n_nationkey", plan_of(df)
    ), "nation is not on a broadcast side"


def test_q1_partial_aggregation(spark):
    plan = plan_of(q_q1_pricing_summary(spark, SF_DIR))
    # partial + final HashAggregate pair (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_default_redact_plan_is_shuffle_free(spark):
    """The zero-shuffle design (BENCH/BASELINE.md finding #2): scan ->
    mapInPandas -> sink with NO Exchange in the default path."""
    docs = docs_to_df(spark, corpus(8)).where(F.lit(True))
    out = redact_full(docs, [SSN_RULE])
    plan = plan_of(out)
    assert "MapInArrow" in plan  # Arrow-native stage, no pandas conversion
    assert "Exchange" not in plan, plan


def test_locate_regions_default_is_shuffle_free(spark):
    """Round-5 review: locate_regions hash-shuffled the entire span
    table before a purely row-wise map. Default path must inherit
    input-split parallelism like redact_full's default — repartition
    only on explicit request."""
    from pdfredact_spark.pipeline import locate_regions

    docs = docs_to_df(spark, corpus(8)).where(F.lit(True))
    plan = plan_of(locate_regions(docs, [SSN_RULE]))
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan


def test_mega_split_only_shuffles_mega_slice(spark):
    """Round-6 review: the old version only asserted an Exchange and a
    MapInArrow EXIST, which a whole-input shuffle also satisfies. Pin
    the structure: the small-doc branch is MapInArrow directly over
    Filter over Scan (no Exchange touches it), and the tree carries
    EXACTLY the mega branch's two exchanges (page fan-out + reassembly)
    — a third exchange means something started shuffling the full
    input."""
    docs = docs_to_df(spark, corpus(8))
    out = redact_full(docs, [SSN_RULE], mega_split=True)
    tree = tree_of(out)
    assert re.search(
        r":- MapInArrow \(\d+\)\s*\n\s*:\s*\+- Filter \(\d+\)\s*\n\s*:\s*\+- Scan",
        tree,
    ), tree
    assert tree.count("Exchange") == 2, tree


def test_whole_stage_codegen_on_sql_queries(spark):
    # AQE hides codegen spans until execution — check the executed plan.
    df = q_q1_pricing_summary(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen spans in the compact form
    assert "*(1)" in executed and "*(2)" in executed, executed[:500]


def test_bucket_partition_pruning(spark, tmp_path):
    """The resumable output layout prunes bucket partitions at plan time."""
    from pdfredact_spark.checkpoint import run_resumable
    from pdfredact_spark.fixtures import corpus

    out_dir = str(tmp_path / "o")
    run_resumable(spark, docs_to_df(spark, corpus(20)), out_dir, [SSN_RULE],
                  n_buckets=4, buckets_per_batch=4)
    df = spark.read.parquet(out_dir + "/data").where(F.col("bucket") == 2)
    plan = plan_of(df)
    # the predicate must be INSIDE the PartitionFilters bracket (round-6
    # review: a near-window substring check also matched a demoted
    # PushedFilters data filter right after an empty PartitionFilters)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan
    assert df.count() > 0


def test_dedup_embedding_cosine_no_bnlj(spark):
    """The near-dup pair finder must stay a banded-LSH equi-join: an
    all-pairs BroadcastNestedLoopJoin is the O(n^2) scale-killer the
    round-1 review flagged."""
    from pdfredact_spark.queries import SQL_QUERIES

    df = SQL_QUERIES["dedup_embedding_cosine"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_exact_selection_has_no_per_group_sort_funnel(spark):
    """Exact median/quartiles must NOT rank raw rows via
    Window.partitionBy(group): that sends each group's entire data
    through one task's sort, capping parallelism at #groups (3 return
    flags) no matter the cluster size. l_quantity is a bounded domain,
    so _rank_select takes regime A: the heavy pass is a partial+final
    HashAggregate pair down to (group, value) FREQUENCY rows, and the
    only window (the running sum) consumes those aggregate rows — in
    formatted explain (root first, children after) a HashAggregate must
    therefore appear BELOW the Window node."""
    from pdfredact_spark.queries import q_exact_quartiles, q_upper_median

    for fn in (q_upper_median, q_exact_quartiles):
        df = fn(spark, SF_DIR)
        plan = plan_of(df)
        assert "windowspecdefinition" in plan, plan
        assert plan.count("HashAggregate") >= 2, plan  # map-side combine
        # the Window node's OWN subtree must contain the frequency
        # aggregate (round-6 review: 'HashAggregate after Window' over
        # the full formatted text was vacuous — the details section
        # repeats every operator name, and the raw-row-ranking
        # regression shape passed it)
        tree = tree_of(df)
        assert "HashAggregate" in subtree_of(tree, "Window ("), tree


def test_rank_select_regime_b_binning(spark):
    """High-cardinality values route to regime B: deterministic
    hash-sampled value bins, per-(bin, group) counts, windowed pick. The
    pick window must lead with the bin column (P-way parallel per
    group), the answer must be the exact sorted[floor(n*q)]+1 element,
    and — the round-3 verdict #3 fix — a cache wipe between the counts
    job and the pick job must recompute the identical answer (no frozen
    lineage to lose)."""
    import random

    from pdfredact_spark.queries import _rank_select

    rng = random.Random(7)
    rows = [(f"g{i % 2}", rng.random() * 1000.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = _rank_select(df, "grp", "v", {"q50": 0.5, "q25": 0.25}, distinct_cap=100)

    plan = plan_of(got)
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(s == "bin" for s in specs), specs

    # the lazy plan above already ran the counts job inside _rank_select;
    # wiping every cached block before collecting the pick job simulates
    # executor loss between the two jobs
    spark.catalog.clearCache()
    picked = {(r["grp"], r["tag"]): r["v"] for r in got.collect()}
    for g in ("g0", "g1"):
        vals = sorted(v for grp, v in rows if grp == g)
        n = len(vals)
        assert picked[(g, "q50")] == vals[int(n * 0.5)]  # 1-based floor(n*q)+1
        assert picked[(g, "q25")] == vals[int(n * 0.25)]


def test_ivf_assign_is_map_only(spark):
    """The IVF centroid-assignment stage must be a pure map pass: score
    the K broadcast-constant centroids as an array column and argmax per
    row. The round-4 shape (crossJoin + Window.partitionBy(vec_id)) blew
    the corpus up 16x and shuffled it for a per-row decision — at 10^12
    embeddings that is 16 corpus volumes through the wire. NO Exchange
    of any kind may appear in the assign subplan."""
    from pdfredact_spark.queries import _ivf_assign, _ivf_centroids, _t

    emb = _t(spark, SF_DIR, "embeddings")
    assigned = _ivf_assign(emb, _ivf_centroids(spark, SF_DIR))
    plan = plan_of(assigned)
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    # and it really is one row per vector, every vector assigned
    assert assigned.count() == emb.count()


def test_ann_batch_topk_has_no_per_query_funnel(spark):
    """Batch ANN's grouped top-k must be TWO-LEVEL: the heavy candidate
    sort runs per (q_id, input partition) — parallelism #partitions x
    #queries — and only the <= 5-per-partition survivors reach the
    per-query merge window. A single Window.partitionBy(q_id) would cap
    parallelism at 8 tasks and funnel each query's whole candidate
    slice through one sort."""
    import re as _re

    from pdfredact_spark.queries import SQL_QUERIES

    plan = plan_of(SQL_QUERIES["ann_batch_topk"](spark, SF_DIR))
    assert _re.search(r"windowspecdefinition\(q_id#\d+L?, pid#", plan), plan
    assert plan.count("Window") >= 2, plan


def test_topk_queries_use_take_ordered(spark):
    """Top-k must compile to TakeOrderedAndProject (distributed heaps),
    never an unpartitioned row_number window that funnels every candidate
    into one partition."""
    from pdfredact_spark.queries import SQL_QUERIES

    for name in ["ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "top_customers"]:
        plan = plan_of(SQL_QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name


def test_interval_overlap_day_aggregate_broadcasts(spark):
    """The hierarchical interval rollup must join the tiny per-day event
    aggregate by broadcast and never fall back to a nested-loop or
    cartesian shape (the pair-materializing plan it replaced)."""
    from pdfredact_spark.queries import SQL_QUERIES

    plan = plan_of(SQL_QUERIES["interval_overlap_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ngram_jaccard_stays_equi_join(spark):
    """The df-capped shingle self-join must remain a hash equi-join on
    the shingle key — no nested-loop pair scan."""
    from pdfredact_spark.queries import SQL_QUERIES

    plan = plan_of(SQL_QUERIES["dedup_ngram_jaccard"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cc_lease_ttl_bad_env_falls_back(monkeypatch):
    """The CC lease ttl's env knob degrades gracefully: a value that is
    not a finite, non-negative number falls back to the caller's ttl
    instead of raising (a non-number) or reaching the lease (nan, a
    negative or an infinite ttl); 0 still disables the lease."""
    from pdfredact_spark.queries import _cc_lease_ttl

    monkeypatch.delenv("PDFREDACT_CC_LEASE_TTL", raising=False)
    assert _cc_lease_ttl(600.0) == 600.0
    for good, want in (("10", 10.0), ("2.5", 2.5), ("0", 0.0)):
        monkeypatch.setenv("PDFREDACT_CC_LEASE_TTL", good)
        assert _cc_lease_ttl(600.0) == want
    for bad in ("ten", "", "nan", "-1", "inf", "-inf"):
        monkeypatch.setenv("PDFREDACT_CC_LEASE_TTL", bad)
        assert _cc_lease_ttl(600.0) == 600.0
