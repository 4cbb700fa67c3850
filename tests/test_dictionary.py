"""Dictionary round-trip + collision property tests.

Mirrors the reference's DictionarySpec (core/src/test/scala/com/graphula/
dictionary/DictionarySpec.scala:29-89) which uses a deliberately
colliding hasher; we cannot inject a hasher into F.xxhash64, so the
collision path is exercised directly through Dictionary.build on crafted
inputs plus Hypothesis round-trip properties.
"""

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphula_spark.dictionary import Dictionary, HASH_MASK


def test_roundtrip_basic(spark):
    terms = ["a", "b", "", "http://example.org/x", '"lit"@en', "_:b0", "äöü€"]
    d = Dictionary.build(spark, spark.createDataFrame([(t,) for t in terms], ["value"]))
    df = d.df.collect()
    assert len(df) == len(set(terms))
    ids = [r["id"] for r in df]
    assert len(ids) == len(set(ids)), "ids must be unique"
    assert all(0 <= i <= HASH_MASK for i in ids)
    # decode round trip
    enc = d.encode_col(
        spark.createDataFrame([(t,) for t in terms], ["t"]), "t", "tid"
    ).select(F.col("tid").alias("x"))
    dec = d.decode_col(enc, "x")
    assert sorted(r["x"] for r in dec.collect()) == sorted(terms)


def test_unknown_decodes_as_blank_node(spark):
    d = Dictionary.build(spark, spark.createDataFrame([("a",)], ["value"]))
    df = spark.createDataFrame([(12345,)], ["x"])
    out = d.decode_col(df, "x").collect()
    assert out[0]["x"] == "_:12345"


def test_union_extends_and_keeps_ids(spark):
    d1 = Dictionary.build(spark, spark.createDataFrame([("a",), ("b",)], ["value"]))
    before = {r["value"]: r["id"] for r in d1.df.collect()}
    d2 = d1.union(spark.createDataFrame([("b",), ("c",)], ["value"]))
    after = {r["value"]: r["id"] for r in d2.df.collect()}
    assert set(after) == {"a", "b", "c"}
    assert after["a"] == before["a"] and after["b"] == before["b"]
    assert len(set(after.values())) == 3


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet=string.printable, max_size=30),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
def test_roundtrip_property(spark, terms):
    d = Dictionary.build(spark, spark.createDataFrame([(t,) for t in terms], ["value"]))
    got = {r["value"]: r["id"] for r in d.df.collect()}
    assert set(got) == set(terms)
    assert len(set(got.values())) == len(terms)


def test_forced_collision_build_and_union(spark, monkeypatch):
    """Reference DictionarySpec analogue (Fixture.scala:65-76 forces
    collisions with hash % 10): shrink the id space to 16 slots so both
    the build and the union clash paths must re-salt, then assert full
    uniqueness and stability of pre-existing ids."""
    import graphula_spark.dictionary as D
    from pyspark.sql import functions as F

    monkeypatch.setattr(
        D, "term_id_col", lambda c: F.xxhash64(c).bitwiseAND(F.lit(15))
    )
    t1 = [f"old{i}" for i in range(5)]
    d1 = D.Dictionary.build(
        spark, spark.createDataFrame([(t,) for t in t1], ["value"])
    )
    m1 = {r["value"]: r["id"] for r in d1.df.collect()}
    assert set(m1) == set(t1)
    assert len(set(m1.values())) == 5

    t2 = [f"new{i}" for i in range(6)]
    d2 = d1.union(spark.createDataFrame([(t,) for t in t2 + t1[:2]], ["value"]))
    m2 = {r["value"]: r["id"] for r in d2.df.collect()}
    assert set(m2) == set(t1) | set(t2)
    # every id unique even in the 16-slot space
    assert len(set(m2.values())) == 11
    # existing ids never move on union
    for t in t1:
        assert m2[t] == m1[t]


def test_bucketed_decode_path(spark, tmp_path, monkeypatch):
    """A store-backed dictionary past BUCKETED_DECODE_MIN_ROWS decodes
    through the id-bucketed layout: values identical to the plain
    decode join, and the join carries the partition column so the dict
    scan is prunable to the result's buckets."""
    import graphula_spark.dictionary as D
    from graphula_spark.graph import Graph
    from graphula_spark.plans.bgp import TriplePattern, Var

    triples = [(f"s{i}", "p", f"o{i}") for i in range(20)]
    g = Graph.from_string_triples(
        spark, spark.createDataFrame(triples, ["s", "p", "o"]), cache=False
    )
    store = str(tmp_path / "store")
    g.save(store)
    g2 = Graph.load(spark, store)
    assert g2.dictionary.id_buckets == Graph.DICT_BUCKETS

    X, Y = Var("X"), Var("Y")
    expected = {(f"s{i}", f"o{i}") for i in range(20)}
    # plain decode join
    got_b = {
        (r["X"], r["Y"])
        for r in g2.execute_bgp_decoded([TriplePattern(X, "p", Y)]).collect()
    }
    assert got_b == expected
    # force the bucketed join path
    monkeypatch.setattr(D.Dictionary, "BUCKETED_DECODE_MIN_ROWS", 0)
    decoded = g2.execute_bgp_decoded([TriplePattern(X, "p", Y)])
    got = {(r["X"], r["Y"]) for r in decoded.collect()}
    assert got == expected
    assert "id_bucket" in decoded._jdf.queryExecution().executedPlan().toString()


def test_assign_ids_nonconvergence_raises(spark, monkeypatch):
    """More terms than available ids must fail loudly, not loop."""
    import pytest as _pytest

    import graphula_spark.dictionary as D
    from pyspark.sql import functions as F

    monkeypatch.setattr(
        D, "term_id_col", lambda c: F.xxhash64(c).bitwiseAND(F.lit(1))
    )
    with _pytest.raises(RuntimeError, match="converge"):
        D.Dictionary._assign_ids(
            spark.createDataFrame([(f"t{i}",) for i in range(5)], ["value"]),
            None,
            max_rounds=3,
        )
