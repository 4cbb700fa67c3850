"""LUBM golden suite against the *persisted* graph layout.

Re-runs all 14 golden queries through Graph.save/load — exercising the
predicate-bucket partition pruning, which bound-object patterns use too
(most LUBM queries bind o: rdf:type <Class>, takesCourse <Course0>, ...)
— results must match the committed answers exactly, same as the
in-memory suite.
"""

import pytest

from tests.test_lubm_golden import (
    DATA,
    EXPECTED_ROWS,
    PREFIXES,
    QUERIES,
    load_answers,
    needs_lubm_data,
)


@pytest.fixture(scope="module")
def lubm_store(spark, tmp_path_factory):
    import glob
    import os

    from graphula_spark.graph import Graph

    paths = sorted(glob.glob(f"{DATA}/university0_*.nt"))
    store = str(tmp_path_factory.mktemp("lubm") / "store")
    g = Graph.from_ntriples(spark, paths, cache=False)
    g.save(store)
    g2 = Graph.load(spark, store)
    assert not os.path.exists(f"{store}/triples_ops"), "the store keeps one triple copy"
    yield g2


@needs_lubm_data
@pytest.mark.parametrize("n", sorted(QUERIES))
def test_lubm_store_query(lubm_store, n):
    header, expected = load_answers(n)
    df = lubm_store.sparql(PREFIXES + QUERIES[n])
    if header:
        df = df.select(*header)

    def lex(t):
        if t is not None and t.startswith('"') and t.endswith('"'):
            return t[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        return t

    got = sorted(tuple(lex(v) for v in r) for r in df.collect())
    assert len(got) == EXPECTED_ROWS[n], f"Q{n}: {len(got)} rows"
    assert got == expected, f"Q{n} row mismatch on persisted store"


def test_bucketed_table_star_join_no_shuffle(spark, tmp_path):
    """The s-bucketed table layout: a star self-join on subject plans
    as a SortMergeJoin with ZERO shuffle exchanges even when neither
    side broadcasts — the big-big join regime at 100 TB."""
    from pyspark.sql import functions as F

    from graphula_spark.graph import Graph

    rows = [
        (f"http://ex/s{i}", p, f"http://ex/o{i}_{p[-1]}")
        for i in range(200)
        for p in ("http://ex/p1", "http://ex/p2")
    ]
    g = Graph.from_string_triples(
        spark, spark.createDataFrame(rows, ["s", "p", "o"]), cache=False
    )
    loc = str(tmp_path / "bucketed")
    g.save_bucketed_table("t_bucketed_test", loc, s_buckets=8)
    gb = Graph.from_bucketed_table(spark, "t_bucketed_test")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = gb.triples
        p1 = gb.dictionary.lookup_terms(["http://ex/p1"])["http://ex/p1"]
        p2 = gb.dictionary.lookup_terms(["http://ex/p2"])["http://ex/p2"]
        a = t.where(F.col("p") == p1).alias("a")
        b = t.where(F.col("p") == p2).alias("b")
        joined = a.join(b, F.col("a.s") == F.col("b.s")).select(
            F.col("a.s"), F.col("a.o").alias("o1"), F.col("b.o").alias("o2")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-partitioned by bucketing
        assert joined.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bucketed_test")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_test_dict")


def test_planner_routes_star_join_to_bucketed_layout(spark, tmp_path):
    """With a bucketed copy attached and the routing threshold lowered,
    a subject-star BGP executes over the s-bucketed table with zero
    shuffle exchanges — and returns exactly the default path's rows."""
    from pyspark.sql import functions as F

    import graphula_spark.plans.bgp as bgp_mod
    from graphula_spark.graph import Graph
    from graphula_spark.plans.bgp import TriplePattern, Var

    rows = [
        (f"http://ex/s{i}", p, f"http://ex/o{i}_{p[-1]}")
        for i in range(300)
        for p in ("http://ex/p1", "http://ex/p2", "http://ex/p3")
    ]
    g = Graph.from_string_triples(
        spark, spark.createDataFrame(rows, ["s", "p", "o"]), cache=False
    )
    loc = str(tmp_path / "routed")
    g.save_bucketed_table("t_routed_test", loc, s_buckets=8)
    gb = Graph.from_bucketed_table(spark, "t_routed_test")

    pats = [
        TriplePattern(Var("x"), "http://ex/p1", Var("a")),
        TriplePattern(Var("x"), "http://ex/p2", Var("b")),
        TriplePattern(Var("x"), "http://ex/p3", Var("c")),
    ]
    expected = sorted(map(tuple, g.execute_bgp(pats).collect()))

    old_thresh = bgp_mod.BUCKETED_SCAN_MIN_EST
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        bgp_mod.BUCKETED_SCAN_MIN_EST = 0
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got_df = gb.execute_bgp(pats)
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert sorted(map(tuple, got_df.collect())) == expected
        assert len(expected) == 300
    finally:
        bgp_mod.BUCKETED_SCAN_MIN_EST = old_thresh
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.sql("DROP TABLE IF EXISTS t_routed_test")
        spark.sql("DROP TABLE IF EXISTS t_routed_test_dict")


def test_bucketed_store_reopens_from_path(spark, tmp_path):
    """Dropping the catalog entry (= a fresh session without a shared
    metastore) and re-registering from the files keeps the bucketing
    spec: the star join still plans with zero exchanges."""
    from pyspark.sql import functions as F

    from graphula_spark.graph import Graph

    rows = [
        (f"http://ex/s{i}", p, f"http://ex/o{i}_{p[-1]}")
        for i in range(100)
        for p in ("http://ex/p1", "http://ex/p2")
    ]
    g = Graph.from_string_triples(
        spark, spark.createDataFrame(rows, ["s", "p", "o"]), cache=False
    )
    loc = str(tmp_path / "reopen")
    g.save_bucketed_table("t_reopen_a", loc, s_buckets=4)
    # simulate a fresh session: the catalog entries are gone
    spark.sql("DROP TABLE t_reopen_a")
    spark.sql("DROP TABLE t_reopen_a_dict")

    gb = Graph.from_bucketed_path(spark, loc, "t_reopen_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = gb.triples
        a = t.alias("a")
        b = t.alias("b")
        j = a.join(b, F.col("a.s") == F.col("b.s"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert j.count() == 400  # 2x2 per subject
        assert gb.triples.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_reopen_b")
        spark.sql("DROP TABLE IF EXISTS t_reopen_b_dict")


def test_planner_routes_chain_join_to_bucketed_layouts(spark, tmp_path):
    """Chain BGP (?x p1 ?y . ?y p2 ?z): the o-side scan reads the
    o-bucketed twin and the s-side the s-bucketed copy — the y join
    co-partitions with zero exchanges."""
    import graphula_spark.plans.bgp as bgp_mod
    from graphula_spark.graph import Graph
    from graphula_spark.plans.bgp import TriplePattern, Var

    rows = [("http://ex/a%d" % i, "http://ex/p1", "http://ex/b%d" % i)
            for i in range(250)]
    rows += [("http://ex/b%d" % i, "http://ex/p2", "http://ex/c%d" % i)
             for i in range(250)]
    g = Graph.from_string_triples(
        spark, spark.createDataFrame(rows, ["s", "p", "o"]), cache=False
    )
    loc = str(tmp_path / "chain")
    g.save_bucketed_table("t_chain_test", loc, s_buckets=8, include_o=True)
    gb = Graph.from_bucketed_table(spark, "t_chain_test")
    assert gb.triples_o is not None

    pats = [
        TriplePattern(Var("x"), "http://ex/p1", Var("y")),
        TriplePattern(Var("y"), "http://ex/p2", Var("z")),
    ]
    expected = sorted(map(tuple, g.execute_bgp(pats).collect()))

    old_thresh = bgp_mod.BUCKETED_SCAN_MIN_EST
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        bgp_mod.BUCKETED_SCAN_MIN_EST = 0
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got_df = gb.execute_bgp(pats)
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert sorted(map(tuple, got_df.collect())) == expected
        assert len(expected) == 250
    finally:
        bgp_mod.BUCKETED_SCAN_MIN_EST = old_thresh
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        for t in ("t_chain_test", "t_chain_test_dict", "t_chain_test_o"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@needs_lubm_data
def test_lubm_over_bucketed_store(spark, tmp_path):
    """Real-data end-to-end guard for the bucketed routing: a sample of
    LUBM queries answered over a subject-bucketed store, with routing
    forced on, must match the committed golden cardinalities."""
    import glob

    import graphula_spark.plans.bgp as bgp_mod
    from graphula_spark.graph import Graph
    from graphula_spark.lubm import EXPECTED_ROWS, PREFIXES, QUERIES

    files = sorted(
        glob.glob("/root/reference/benchmarks/data/university0_*.nt")
    )
    g = Graph.from_ntriples(spark, files)
    loc = str(tmp_path / "lubm_bucketed")
    g.save_bucketed_table("t_lubm_bkt", loc, s_buckets=16, include_o=True)
    gb = Graph.from_bucketed_table(spark, "t_lubm_bkt")

    old_thresh = bgp_mod.BUCKETED_SCAN_MIN_EST
    try:
        bgp_mod.BUCKETED_SCAN_MIN_EST = 0  # route every eligible scan
        # q2/q9 are the 6-pattern joins; q4 star; q14 single-pattern
        for n in (1, 2, 4, 8, 9, 14):
            got = gb.sparql(PREFIXES + QUERIES[n]).count()
            assert got == EXPECTED_ROWS[n], (n, got)
    finally:
        bgp_mod.BUCKETED_SCAN_MIN_EST = old_thresh
        for t in ("t_lubm_bkt", "t_lubm_bkt_dict", "t_lubm_bkt_o"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stale_o_twin_not_attached(spark, tmp_path):
    """Re-saving a table name WITHOUT include_o must drop a previous
    save's o-twin — a stale twin would serve another graph's triples
    under the new dictionary."""
    from graphula_spark.graph import Graph

    g1 = Graph.from_string_triples(
        spark,
        spark.createDataFrame([("a", "p", "b")], ["s", "p", "o"]),
        cache=False,
    )
    g1.save_bucketed_table("t_stale_o", str(tmp_path / "v1"), s_buckets=2,
                           include_o=True)
    assert spark.catalog.tableExists("t_stale_o_o")

    g2 = Graph.from_string_triples(
        spark,
        spark.createDataFrame([("x", "q", "y")], ["s", "p", "o"]),
        cache=False,
    )
    g2.save_bucketed_table("t_stale_o", str(tmp_path / "v2"), s_buckets=2)
    assert not spark.catalog.tableExists("t_stale_o_o")
    gb = Graph.from_bucketed_table(spark, "t_stale_o")
    assert gb.triples_o is None
    for t in ("t_stale_o", "t_stale_o_dict", "t_stale_o_o"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
