"""A saved store: the row order of both on-disk triple copies, and the
planner stats that INSERT DATA / DELETE DATA snapshots of it carry
(`BgpStats.with_delta`) instead of recomputing over the whole store."""

import glob
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
    path, base = small_store
    spo = _rows(f"{path}/triples", ("p", "s", "o"))
    ops = _rows(f"{path}/triples_ops", ("p", "o", "s"))
    for rows in spo + ops:
        assert rows == sorted(rows)
    spo_set = {(s, p, o) for rows in spo for p, s, o in rows}
    ops_set = {(s, p, o) for rows in ops for p, o, s in rows}
    assert len(spo_set) == sum(map(len, spo)) == len(base)
    assert spo_set == ops_set


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
