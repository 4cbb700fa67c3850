"""A saved store: its one on-disk triple copy and its row order, the
partition pruning of o-bound scans, the planner stats and the
partition pruning that INSERT DATA / DELETE DATA snapshots of it carry
(`BgpStats.with_delta`) instead of recomputing over the whole store,
the shape of the result decode, small batches applied with the store
streaming, and the empty store."""

import glob
import os
import random
from collections import Counter

import pyarrow.parquet as pq
import pytest

from graphula_spark.graph import Graph
from graphula_spark.plans.bgp import BgpStats, TriplePattern, Var

EX = "http://ex/"
PREDS = [f"{EX}{p}" for p in ("name", "knows", "type", "rare", "fresh")]


def _base_triples() -> set:
    rng = random.Random(7)
    out = set()
    for i in range(60):
        s = f"{EX}s{i}"
        out.add((s, f"{EX}name", f'"n{i}"'))
        out.add((s, f"{EX}knows", f"{EX}s{rng.randrange(60)}"))
        out.add((s, f"{EX}type", f"{EX}C{i % 3}"))
    for i in range(3):
        out.add((f"{EX}s{i}", f"{EX}rare", f'"r{i}"'))
    return out


@pytest.fixture(scope="session")
def small_store(spark, tmp_path_factory):
    """(store path, its triples as term strings) — 183 triples, four
    predicates, one of them ('rare') with only three triples."""
    base = _base_triples()
    path = str(tmp_path_factory.mktemp("small_store") / "store")
    df = spark.createDataFrame(sorted(base), "s string, p string, o string")
    Graph.from_string_triples(spark, df).save(path)
    return path, base


# -- layout -------------------------------------------------------------


def _rows(path: str, order: tuple[str, ...]) -> list[list[tuple]]:
    files = sorted(glob.glob(f"{path}/p_bucket=*/*.parquet"))
    assert files, f"no parquet files under {path}"
    out = []
    for f in files:
        t = pq.read_table(f, columns=list(order))
        out.append(list(zip(*(t.column(c).to_pylist() for c in order))))
    return out


def test_saved_copies_are_sorted_and_hold_the_same_rows(small_store):
    """The store's one triple copy is (p, s, o)-sorted in every file and
    holds exactly the base triples; there is no second copy."""
    path, base = small_store
    assert sorted(os.listdir(path)) == ["_meta.json", "dict", "triples"]
    spo = _rows(f"{path}/triples", ("p", "s", "o"))
    for rows in spo:
        assert rows == sorted(rows)
    t = pq.read_table(f"{path}/dict", columns=["id", "value"])
    term = dict(zip(t.column("id").to_pylist(), t.column("value").to_pylist()))
    stored = [(term[s], term[p], term[o]) for rows in spo for p, s, o in rows]
    assert len(stored) == len(base) and set(stored) == base


# -- carried stats ------------------------------------------------------


def _nt(t: tuple) -> str:
    return " ".join(x if x.startswith('"') else f"<{x}>" for x in t)


def _insert(rng: random.Random, current: set, step: int) -> list:
    """New triples (one under a predicate the store never had), stored
    ones and duplicates within the batch."""
    new = [(f"{EX}s{rng.randrange(80)}", f"{EX}name", f'"x{step}-{i}"') for i in range(4)]
    new.append((f"{EX}s{rng.randrange(80)}", f"{EX}fresh", f'"f{step}"'))
    stored = rng.sample(sorted(current), 3)
    return new + stored + rng.sample(new, 2)


def _delete(rng: random.Random, current: set, step: int) -> list:
    """Every triple of one predicate, some other stored triples and
    absent ones."""
    preds = sorted({p for _, p, _ in current})
    gone = rng.choice([p for p in preds if sum(t[1] == p for t in current) <= 8] or preds)
    victims = [t for t in current if t[1] == gone]
    victims += rng.sample(sorted(current), 4)
    victims += [(f"{EX}s{step}", f"{EX}knows", f"{EX}nobody{i}") for i in range(2)]
    victims += [(f"{EX}s{step}", f"{EX}absent", '"z"')]
    return victims


def _check_stats(spark, g, current: set) -> None:
    sc = spark.sparkContext
    sc.setJobGroup("carried-stats", "stats of a fresh snapshot")
    try:
        assert g._stats is not None
        st = g.stats
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("carried-stats")

    ids = g.dictionary.lookup_terms(PREDS)
    want = Counter(p for _, p, _ in current)
    got = BgpStats.compute(g.triples)
    assert {p: v[0] for p, v in st.by_pred.items()} == {
        p: v[0] for p, v in got.by_pred.items()
    } == {ids[p]: n for p, n in want.items()}
    assert st.total == got.total == len(current)
    for c, ns, no in st.by_pred.values():
        assert 1 <= ns <= c and 1 <= no <= c
    for (p, _), c in st.po_top.items():
        assert c <= st.by_pred[p][0]
    for p in PREDS:
        pat = [TriplePattern(Var("s"), p, Var("o"))]
        assert g.count_bgp(pat) == want[p]
        if p in ids and want[p] == 0:
            assert g.execute_bgp(pat).count() == 0


@pytest.mark.parametrize("first", ["INSERT", "DELETE"])
def test_update_chain_carries_exact_stats(spark, small_store, first):
    path, base = small_store
    rng = random.Random(first)
    g = Graph.load(spark, path)
    assert g._stats is not None
    current = set(base)
    for step in range(3):
        if (step % 2 == 0) == (first == "INSERT"):
            batch = _insert(rng, current, step)
            verb = "INSERT"
            current |= set(batch)
        else:
            batch = _delete(rng, current, step)
            verb = "DELETE"
            current -= set(batch)
        body = " . ".join(_nt(t) for t in batch)
        g = g.sparql_update(f"{verb} DATA {{ {body} }}")
        _check_stats(spark, g, current)


def test_with_delta_clips_and_drops():
    st = BgpStats({1: (10, 8, 3), 2: (2, 2, 1)}, 12, {(1, 5): 6, (2, 9): 2})
    out = st.with_delta(added={1: (2, 4, 4), 3: (1, 1, 1)}, removed={1: 7, 2: 2})
    assert out.by_pred == {1: (5, 5, 5), 3: (1, 1, 1)}
    assert out.total == 6
    assert out.po_top == {(1, 5): 5}
    with pytest.raises(ValueError):
        BgpStats({}, 0, complete=False).with_delta(added={1: (1, 1, 1)})


# -- decode plan shape --------------------------------------------------


def _children(node) -> list:
    """Child nodes of a physical plan node, through the AQE wrapper, its
    query stages and reused exchanges."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _nodes(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_children(n))


def _scans_dir(node, directory: str) -> bool:
    """Whether a file scan under `node` reads `directory`."""
    for n in _nodes(node):
        if n.getClass().getSimpleName() == "FileSourceScanExec":
            roots = n.relation().location().rootPaths()
            for i in range(roots.size()):
                if roots.apply(i).toString().rstrip("/").endswith(directory):
                    return True
    return False


@pytest.mark.parametrize(
    "query, expected",
    [
        (
            f"SELECT ?s ?o WHERE {{ ?s <{EX}type> ?o }}",
            {(f"{EX}s{i}", f"{EX}C{i % 3}") for i in range(60)},
        ),
        (
            f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}",
            {
                (f"{EX}name", '"n1"'),
                (f"{EX}type", f"{EX}C1"),
                (f"{EX}rare", '"r1"'),
                # _base_triples' second draw from Random(7)
                (f"{EX}knows", f"{EX}s9"),
            },
        ),
        (
            f'SELECT ?s ?n WHERE {{ ?s <{EX}name> ?n FILTER(STRSTARTS(?n, "n5")) }} '
            "ORDER BY DESC(?n) LIMIT 3",
            [(f"{EX}s59", '"n59"'), (f"{EX}s58", '"n58"'), (f"{EX}s57", '"n57"')],
        ),
    ],
    ids=["two-columns", "bound-subject", "filter-order-limit"],
)
def test_decode_never_broadcasts_the_dictionary(spark, small_store, query, expected):
    """Result decode joins the dictionary without broadcasting it, so a
    cached plan pins no hashed copy of the dictionary."""
    path, _ = small_store
    df = Graph.load(spark, path).sparql(query)
    rows = [tuple(r) for r in df.collect()]
    if isinstance(expected, list):
        assert rows == expected
    else:
        assert len(rows) == len(expected) and set(rows) == expected
    plan = df._jdf.queryExecution().executedPlan()
    dict_dir = f"{path}/dict"
    assert _scans_dir(plan, dict_dir)
    broadcasts = [
        n
        for n in _nodes(plan)
        if n.getClass().getSimpleName() == "BroadcastExchangeExec"
    ]
    assert not [b for b in broadcasts if _scans_dir(b, dict_dir)]


# -- partition pruning --------------------------------------------------


def _partition_filters(df, directory: str) -> list[str]:
    """The partition filters of every file scan of `directory` in the
    executed plan of `df`."""
    plan = df._jdf.queryExecution().executedPlan()
    return [
        n.partitionFilters().toString()
        for n in _nodes(plan)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and _scans_dir(n, directory)
    ]


def _assert_prunes(df, path: str) -> None:
    filters = _partition_filters(df, f"{path}/triples")
    assert filters and all("p_bucket" in f for f in filters), filters


@pytest.mark.parametrize(
    "where, prunes",
    [
        (f"?s ?p <{EX}C1>", False),
        (f"?s <{EX}type> <{EX}C1>", True),
        (f"?s <{EX}knows> <{EX}s9>", True),
        (f'?s <{EX}rare> "r2"', True),
        (f"?s <{EX}type> <{EX}C2> . ?s <{EX}name> ?n", True),
    ],
    ids=["o", "type-o", "knows-o", "rare-o", "po-star"],
)
def test_o_bound_scans_match_memory_and_prune(spark, small_store, where, prunes):
    """o-bound and (p, o)-bound patterns on the loaded store return the
    in-memory graph's rows; a bound predicate keeps its p_bucket
    partition filter."""
    path, base = small_store
    query = f"SELECT * WHERE {{ {where} }}"
    mem = Graph.from_string_triples(
        spark, spark.createDataFrame(sorted(base), "s string, p string, o string")
    )
    want = sorted(map(tuple, mem.sparql(query).collect()))
    df = Graph.load(spark, path).sparql(query)
    assert sorted(map(tuple, df.collect())) == want and want
    if prunes:
        _assert_prunes(df, path)


def test_update_snapshots_keep_partition_pruning(spark, tmp_path):
    """After an INSERT DATA and a DELETE DATA on a store saved with 7
    buckets, a bound-predicate scan still reads only its predicate's
    partition, with the store's modulus, and sees both updates."""
    base = _base_triples()
    path = str(tmp_path / "store7")
    df = spark.createDataFrame(sorted(base), "s string, p string, o string")
    Graph.from_string_triples(spark, df).save(path, p_buckets=7)
    g = Graph.load(spark, path)
    added = [(f"{EX}s{i}", f"{EX}name", f'"m{i}"') for i in (1, 70, 71)]
    removed = [(f"{EX}s{i}", f"{EX}name", f'"n{i}"') for i in (2, 3)] + [added[1]]
    g = g.sparql_update(f"INSERT DATA {{ {' . '.join(map(_nt, added))} }}")
    g = g.sparql_update(f"DELETE DATA {{ {' . '.join(map(_nt, removed))} }}")
    current = (base | set(added)) - set(removed)
    want = sorted((s, o) for s, p, o in current if p == f"{EX}name")
    q = g.sparql(f"SELECT ?s ?o WHERE {{ ?s <{EX}name> ?o }}")
    assert sorted(map(tuple, q.collect())) == want
    _assert_prunes(q, path)


@pytest.mark.parametrize("verb", ["add", "delete"])
def test_materialized_updates_keep_partition_pruning(spark, tmp_path, verb):
    """add/delete_materialized_rdfs on a closed store saved with 7
    buckets: the snapshot keeps the store layout, so a bound-predicate
    scan still reads only its predicate's partition."""
    from graphula_spark.operators.rdfs import RDF_TYPE, RDFS_SUBCLASS

    base = _base_triples() | {
        (f"{EX}C1", RDFS_SUBCLASS, f"{EX}Top"),
        (f"{EX}s90", RDF_TYPE, f"{EX}C1"),
    }
    path = str(tmp_path / "closed7")
    df = spark.createDataFrame(sorted(base), "s string, p string, o string")
    Graph.from_string_triples(spark, df).materialize_rdfs().save(path, p_buckets=7)
    g = Graph.load(spark, path)
    tops = {f"{EX}s90"}
    if verb == "add":
        # the new C1 member derives its Top membership
        batch = [(f"{EX}s91", RDF_TYPE, f"{EX}C1")]
        g = g.add_materialized_rdfs(spark.createDataFrame(batch, "s string, p string, o string"))
        tops.add(f"{EX}s91")
    else:
        # the victim stays: s90 still derives it from its C1 membership
        batch = [(f"{EX}s90", RDF_TYPE, f"{EX}Top")]
        g = g.delete_materialized_rdfs(spark.createDataFrame(batch, "s string, p string, o string"))
    q = g.sparql(f"SELECT ?s WHERE {{ ?s <{RDF_TYPE}> <{EX}Top> }}")
    assert sorted(r.s for r in q.collect()) == sorted(tops)
    _assert_prunes(q, path)


# -- small batches against a store above the broadcast threshold -------

#: nodes that pass a scan's rows on one for one: an Exchange reached
#: from a scan through these alone shuffles or broadcasts the scan
_ROW_PASSING = (
    "ProjectExec",
    "FilterExec",
    "ColumnarToRowExec",
    "InputAdapter",
    "WholeStageCodegenExec",
)


def _exchanges_over_scan(df, directories: list[str]) -> list[str]:
    """The Exchange nodes in the executed plan of `df` that move the
    rows of a scan of one of `directories`."""
    df.collect()
    out = []
    for n in _nodes(df._jdf.queryExecution().executedPlan()):
        if not n.getClass().getSimpleName().endswith("ExchangeExec"):
            continue
        stack = _children(n)
        while stack:
            c = stack.pop()
            name = c.getClass().getSimpleName()
            if name == "FileSourceScanExec" and any(
                _scans_dir(c, d) for d in directories
            ):
                out.append(n.toString())
            elif name in _ROW_PASSING:
                stack.extend(_children(c))
    return out


def test_small_batches_stream_a_store_above_the_broadcast_threshold(
    spark, small_store, monkeypatch
):
    """With the broadcast threshold below the store's triples and
    dictionary but above a few-row batch, INSERT DATA, DELETE DATA and
    a dictionary union give the right rows, and none of their
    batch-against-store joins moves the store: each counted batch is
    sized by the planner and broadcast, the store streams."""
    from graphula_spark import batch as batch_mod

    path, base = small_store
    g = Graph.load(spark, path)
    added = [(f"{EX}s{i}", f"{EX}name", f'"m{i}"') for i in (1, 70)]
    removed = [(f"{EX}s{i}", f"{EX}name", f'"n{i}"') for i in (2, 3)]
    terms = [f"{EX}s1", f"{EX}brand-new"]
    # every frame a batch-against-store join ran in: the two-step's
    # results, and the probes (the dictionary's id-clash check) that
    # run inside an isEmpty
    frames = []
    minus_stored = batch_mod.minus_stored
    is_empty = type(g.triples).isEmpty

    def spy_minus_stored(*args, **kwargs):
        frames.append(minus_stored(*args, **kwargs))
        return frames[-1]

    def spy_is_empty(df):
        frames.append(df)
        return is_empty(df)

    low = 2048
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(threshold)
    spark.conf.set(threshold, str(low))
    try:
        for part in (g.triples, g.dictionary.df):
            est = part._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            assert est > low
        with monkeypatch.context() as m:
            m.setattr(batch_mod, "minus_stored", spy_minus_stored)
            m.setattr(type(g.triples), "isEmpty", spy_is_empty)
            g_ins = g.sparql_update(f"INSERT DATA {{ {' . '.join(map(_nt, added))} }}")
            g_del = g.sparql_update(f"DELETE DATA {{ {' . '.join(map(_nt, removed))} }}")
            d2 = g.dictionary.union(spark.createDataFrame([(t,) for t in terms], "value string"))
        frames += [g_del.triples, d2.df]
        store = [f"{path}/triples", f"{path}/dict"]
        for df in frames:
            assert not _exchanges_over_scan(df, store)
    finally:
        spark.conf.set(threshold, prev)
    assert len(frames) > 4
    query = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
    assert set(map(tuple, g_ins.sparql(query).collect())) == base | set(added)
    assert set(map(tuple, g_del.sparql(query).collect())) == base - set(removed)
    assert d2.df.count() == g.dictionary.df.count() + 1
    assert set(d2.lookup_terms(terms)) == set(terms)


# -- empty store --------------------------------------------------------


def test_empty_graph_saves_loads_and_queries(spark, tmp_path):
    store = str(tmp_path / "empty")
    empty = spark.createDataFrame([], "s string, p string, o string")
    Graph.from_string_triples(spark, empty).save(store)
    g = Graph.load(spark, store)
    assert g.sparql("SELECT ?s ?o WHERE { ?s ?p ?o }").collect() == []
