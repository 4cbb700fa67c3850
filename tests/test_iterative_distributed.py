"""Round 11 (VERDICT r10 #1): the driver-side fast paths for small
iterative graphs (`cluster.CC_DRIVER_MAX_EDGES`,
`paths.PATH_DRIVER_MAX_EDGES`) meant every test input exercised ONLY
the collect+union-find/BFS path — the distributed label-propagation CC
and semi-naive closure loops (the actual 100 TB code path) had no
forced CI coverage. These tests assert BOTH paths label-identical on
the same random graphs (gate monkeypatched to 0 for the distributed
leg, the suite's established pattern — see BATCH_BROADCAST_MAX_ROWS
in test_rdfs.py), plus one input that PROVABLY crosses the paths gate
without any monkeypatch."""

import random

import pytest
from pyspark.sql import functions as F

from graphula_spark.operators import cluster as cluster_mod
from graphula_spark.operators import paths as paths_mod


def _py_components(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def _py_closure(edges):
    succ = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)
    reached = {a: set(bs) for a, bs in succ.items()}
    changed = True
    while changed:
        changed = False
        for a in reached:
            step = set()
            for b in reached[a]:
                step |= succ.get(b, set())
            fresh = step - reached[a]
            if fresh:
                reached[a] |= fresh
                changed = True
    return {(a, b) for a, bs in reached.items() for b in bs}


def _force_distributed(monkeypatch, which):
    """Gate the named op's driver fast path OFF so the distributed
    loop runs — the 100 TB code path, asserted label-identical."""
    if which == "distributed":
        monkeypatch.setattr(cluster_mod, "CC_DRIVER_MAX_EDGES", 0)
        monkeypatch.setattr(paths_mod, "PATH_DRIVER_MAX_EDGES", 0)


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_connected_components_both_paths(spark, monkeypatch, path):
    _force_distributed(monkeypatch, path)
    rng = random.Random(42)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(120)]
    edges = [e for e in edges if e[0] != e[1]]
    truth = _py_components(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["cluster"]
        for r in cluster_mod.connected_components(df).collect()
    }
    assert got == truth


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_transitive_closure_both_paths(spark, monkeypatch, path):
    _force_distributed(monkeypatch, path)
    rng = random.Random(11)
    # sparse DAG-ish random edges keep the closure bounded
    edges = sorted(
        {
            (a, a + 1 + rng.randrange(6))
            for a in (rng.randrange(40) for _ in range(60))
        }
    )
    truth = _py_closure(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r["src"], r["dst"])
        for r in paths_mod.transitive_closure(df).collect()
    }
    assert got == truth


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_reachable_from_both_paths(spark, monkeypatch, path):
    _force_distributed(monkeypatch, path)
    rng = random.Random(23)
    edges = sorted(
        {
            (a, a + 1 + rng.randrange(6))
            for a in (rng.randrange(40) for _ in range(60))
        }
    )
    closure = _py_closure(edges)
    seeds = [0, 7, 19]
    truth = {(s, n) for s, n in closure if s in seeds}
    df = spark.createDataFrame(edges, ["src", "dst"])
    sdf = spark.createDataFrame([(s,) for s in seeds], ["start"])
    got = {
        (r["start"], r["node"])
        for r in paths_mod.reachable_from(df, sdf).collect()
    }
    assert got == truth


def test_transitive_closure_crosses_gate_for_real(spark):
    """NO monkeypatch: an input past PATH_DRIVER_MAX_EDGES takes the
    distributed semi-naive loop by construction — 5000 disjoint chains
    of 5 edges each (25k edges > the 20k gate), closed-form closure of
    15 pairs per chain."""
    n_chains, chain_len = 5000, 5
    assert n_chains * chain_len > paths_mod.PATH_DRIVER_MAX_EDGES
    base = spark.range(n_chains).select(
        F.explode(
            F.sequence(F.lit(0), F.lit(chain_len - 1))
        ).alias("i"),
        (F.col("id") * 100).alias("c0"),
    )
    edges = base.select(
        (F.col("c0") + F.col("i")).alias("src"),
        (F.col("c0") + F.col("i") + 1).alias("dst"),
    )
    out = paths_mod.transitive_closure(edges)
    # per chain: sum_{k=1..5} k = 15 pairs
    assert out.count() == n_chains * 15
    # spot-check one chain end-to-end and no cross-chain pairs
    chain0 = {
        (r["src"], r["dst"])
        for r in out.where(F.col("src") < 100).collect()
    }
    want = {(i, j) for i in range(5) for j in range(i + 1, 6)}
    assert chain0 == want


def test_path_ops_prepared_base_identical(spark):
    """Round 14: `prepare_edges` + ``prepared=True`` (the shared-prep
    fast path q_graph_reach uses) must return exactly the unprepared
    results on both operators."""
    rng = random.Random(7)
    edges = sorted(
        {
            (a, a + 1 + rng.randrange(6))
            for a in (rng.randrange(40) for _ in range(60))
        }
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    base = paths_mod.prepare_edges(df, "src", "dst")
    plain_clo = {
        (r["src"], r["dst"])
        for r in paths_mod.transitive_closure(df).collect()
    }
    prep_clo = {
        (r["src"], r["dst"])
        for r in paths_mod.transitive_closure(
            base, prepared=True
        ).collect()
    }
    assert prep_clo == plain_clo
    seeds = spark.createDataFrame([(0,), (7,), (19,)], ["start"])
    plain_reach = {
        (r["start"], r["node"])
        for r in paths_mod.reachable_from(df, seeds).collect()
    }
    prep_reach = {
        (r["start"], r["node"])
        for r in paths_mod.reachable_from(
            base, seeds, prepared=True
        ).collect()
    }
    assert prep_reach == plain_reach


def test_pagerank_dangling_nodes_mass_redistributed(spark):
    """Round 14: the dangling-node set is precomputed once and the
    per-iteration mass aggregate only runs when it is non-empty — pin
    the non-empty path against the plain-python recurrence (node 5 and
    node 6 dangle; n_iter crosses the checkpoint cadence boundary)."""
    from graphula_spark.operators.graph_analytics import pagerank

    edge_list = [(1, 2), (2, 3), (3, 1), (1, 5), (4, 6), (3, 4)]
    nodes = sorted({n for e in edge_list for n in e})
    n = len(nodes)
    deg: dict = {}
    for s, _d in edge_list:
        deg[s] = deg.get(s, 0) + 1
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(6):
        inflow = {v: 0.0 for v in nodes}
        for s, d in edge_list:
            inflow[d] += ranks[s] / deg[s]
        dm = sum(r for v, r in ranks.items() if v not in deg)
        ranks = {
            v: 0.15 / n + 0.85 * (inflow[v] + dm / n) for v in nodes
        }
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {
        r["node"]: r["rank"] for r in pagerank(edges, n_iter=6).collect()
    }
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-6, (v, got[v], ranks[v])
    assert abs(sum(got.values()) - 1.0) < 1e-3
