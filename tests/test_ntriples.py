"""N-Triples source tests: syntax edge cases the NxParser path of the
reference handles (escaped quotes, lang tags, typed literals, blank
nodes, comments/garbage lines)."""

import os

import pytest

from graphula_spark.sources.ntriples import read_ntriples
from tests.test_lubm_golden import needs_lubm_data

NT = r"""
<http://ex.org/a> <http://ex.org/p> <http://ex.org/b> .
<http://ex.org/a> <http://ex.org/name> "Alice" .
<http://ex.org/a> <http://ex.org/greet> "hello \"world\"" .
<http://ex.org/a> <http://ex.org/label> "bonjour"@fr .
<http://ex.org/a> <http://ex.org/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
_:b0 <http://ex.org/p> _:b1 .
# a comment line
not a triple at all
<http://ex.org/x> <http://ex.org/p> "trailing spaces" .
"""


@pytest.fixture(scope="module")
def nt_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("nt") / "test.nt"
    p.write_text(NT)
    df = read_ntriples(spark, str(p))
    rows = {(r["s"], r["p"], r["o"]) for r in df.collect()}
    return rows


def test_parse_count(nt_df):
    assert len(nt_df) == 7  # comment + garbage dropped


def test_uri_triple(nt_df):
    assert ("http://ex.org/a", "http://ex.org/p", "http://ex.org/b") in nt_df


def test_plain_literal_verbatim(nt_df):
    assert ("http://ex.org/a", "http://ex.org/name", '"Alice"') in nt_df


def test_escaped_quotes_kept(nt_df):
    assert ("http://ex.org/a", "http://ex.org/greet", '"hello \\"world\\""') in nt_df


def test_lang_tag_verbatim(nt_df):
    assert ("http://ex.org/a", "http://ex.org/label", '"bonjour"@fr') in nt_df


def test_typed_literal_verbatim(nt_df):
    assert (
        "http://ex.org/a",
        "http://ex.org/age",
        '"30"^^<http://www.w3.org/2001/XMLSchema#integer>',
    ) in nt_df


def test_blank_nodes(nt_df):
    assert ("_:b0", "http://ex.org/p", "_:b1") in nt_df


def test_sparql_over_typed_literals(spark, tmp_path_factory):
    from graphula_spark.graph import Graph

    p = tmp_path_factory.mktemp("nt2") / "typed.nt"
    p.write_text(
        '<http://e/x> <http://e/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/y> <http://e/age> "9"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    g = Graph.from_ntriples(spark, str(p), cache=False)
    # numeric FILTER must use the lexical value of the typed literal
    df = g.sparql("SELECT ?s WHERE { ?s <http://e/age> ?a . FILTER(?a > 10) }")
    assert [r["s"] for r in df.collect()] == ["http://e/x"]
    # DATATYPE() extraction
    df2 = g.sparql(
        "SELECT ?s (DATATYPE(?a) AS ?dt) WHERE { ?s <http://e/age> ?a . }"
    )
    assert {r["dt"] for r in df2.collect()} == {
        "http://www.w3.org/2001/XMLSchema#integer"
    }


def test_read_nquads(spark, tmp_path):
    from graphula_spark.sources.ntriples import read_nquads

    f = tmp_path / "data.nq"
    f.write_text(
        '<http://ex/s1> <http://ex/p> "lit" <http://ex/g1> .\n'
        "<http://ex/s2> <http://ex/p> <http://ex/o> _:gb .\n"
        "<http://ex/s3> <http://ex/p> <http://ex/o> .\n"  # triple syntax
        "# comment\n"
        "malformed line\n"
    )
    rows = {r["s"]: r.asDict() for r in read_nquads(spark, str(f)).collect()}
    assert set(rows) == {"http://ex/s1", "http://ex/s2", "http://ex/s3"}
    assert rows["http://ex/s1"]["g"] == "http://ex/g1"
    assert rows["http://ex/s1"]["o"] == '"lit"'
    assert rows["http://ex/s2"]["g"] == "_:gb"
    assert rows["http://ex/s3"]["g"] is None


@needs_lubm_data
def test_nquads_reads_plain_ntriples_identically(spark):
    import glob

    from graphula_spark.sources.ntriples import read_nquads, read_ntriples

    path = sorted(
        glob.glob("/root/reference/benchmarks/data/university0_*.nt")
    )[0]
    nt = read_ntriples(spark, path)
    nq = read_nquads(spark, path)
    assert nq.where("g IS NOT NULL").count() == 0
    assert nt.count() == nq.count()
    assert nt.exceptAll(nq.select("s", "p", "o")).count() == 0


@needs_lubm_data
def test_ntriples_export_roundtrip(spark, tmp_path):
    import glob

    from graphula_spark.graph import Graph
    from graphula_spark.sources.ntriples import read_ntriples, write_ntriples

    src = sorted(glob.glob("/root/reference/benchmarks/data/university0_*.nt"))[0]
    g = Graph.from_ntriples(spark, [src])
    out_dir = str(tmp_path / "export")
    write_ntriples(g, out_dir)

    orig = read_ntriples(spark, src)
    back = read_ntriples(spark, out_dir + "/*.txt")
    # set semantics: the store deduplicates, so compare distinct sets
    assert back.count() == orig.distinct().count()
    assert orig.distinct().exceptAll(back).count() == 0
    assert back.exceptAll(orig.distinct()).count() == 0


def test_read_turtle(spark, tmp_path):
    from graphula_spark.graph import Graph
    from graphula_spark.sources.turtle import read_turtle

    (tmp_path / "a.ttl").write_text(
        "@prefix ex: <http://ex/> .\n"
        "@prefix foaf: <http://xmlns.com/foaf/0.1/> .\n"
        "ex:alice a foaf:Person ;\n"
        '    foaf:name "Alice"@en ;\n'
        "    foaf:knows ex:bob, ex:carol .\n"
    )
    (tmp_path / "b.ttl").write_text(
        "@prefix ex: <http://ex/> .\n"
        'ex:bob ex:age "42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        "_:b1 ex:p ex:alice .\n"
    )
    df = read_turtle(spark, [str(tmp_path / "a.ttl"), str(tmp_path / "b.ttl")])
    rows = {(r["s"], r["p"], r["o"]) for r in df.collect()}
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert ("http://ex/alice", rdf_type, "http://xmlns.com/foaf/0.1/Person") in rows
    assert ("http://ex/alice", "http://xmlns.com/foaf/0.1/name", '"Alice"@en') in rows
    assert ("http://ex/alice", "http://xmlns.com/foaf/0.1/knows", "http://ex/bob") in rows
    assert ("http://ex/alice", "http://xmlns.com/foaf/0.1/knows", "http://ex/carol") in rows
    assert ("_:b1", "http://ex/p", "http://ex/alice") in rows
    assert len(rows) == 6

    # loads into a graph and queries like any other source
    g = Graph.from_string_triples(spark, df, cache=False)
    got = g.sparql(
        "SELECT ?n WHERE { <http://ex/alice> "
        "<http://xmlns.com/foaf/0.1/name> ?n }"
    ).collect()
    assert [r["n"] for r in got] == ['"Alice"@en']


def test_turtle_anonymous_blanks_and_collections():
    from graphula_spark.sources.turtle import _parse_turtle_text

    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    triples = set(
        _parse_turtle_text(
            "@prefix ex: <http://ex/> .\n"
            'ex:alice ex:address [ ex:city "Springfield" ; ex:zip "123" ] .\n'
            "[] ex:p ex:o .\n"
            "[ ex:q ex:r ] .\n"
            "ex:s ex:list ( ex:a ex:b ) .\n"
            "ex:s ex:empty () .\n",
            blank_prefix="t",
        )
    )
    # anonymous object node carries its nested properties
    addr = next(o for s, p, o in triples if p == "http://ex/address")
    assert addr.startswith("_:tanon")
    assert (addr, "http://ex/city", '"Springfield"') in triples
    assert (addr, "http://ex/zip", '"123"') in triples
    # anonymous subjects
    assert any(
        s.startswith("_:tanon") and p == "http://ex/p" for s, p, o in triples
    )
    assert any(
        s.startswith("_:tanon") and p == "http://ex/q" for s, p, o in triples
    )
    # collection expands to a first/rest chain ending in rdf:nil
    head = next(o for s, p, o in triples if p == "http://ex/list")
    assert (head, rdf + "first", "http://ex/a") in triples
    rest = next(o for s, p, o in triples if s == head and p == rdf + "rest")
    assert (rest, rdf + "first", "http://ex/b") in triples
    assert (rest, rdf + "rest", rdf + "nil") in triples
    # empty collection is rdf:nil itself
    assert ("http://ex/s", "http://ex/empty", rdf + "nil") in triples


def test_read_trig_into_dataset(spark, tmp_path):
    from graphula_spark.dataset import Dataset
    from graphula_spark.sources.turtle import read_trig

    (tmp_path / "d.trig").write_text(
        "@prefix ex: <http://ex/> .\n"
        "ex:x ex:p ex:y .\n"
        "ex:g1 { ex:a a ex:T ; ex:p ex:b, ex:c . }\n"
        'GRAPH ex:g2 { ex:d ex:p "lit" . }\n'
    )
    df = read_trig(spark, str(tmp_path / "d.trig"))
    ds = Dataset.from_string_quads(spark, df)
    assert ds.default_graph.triples.count() == 1
    assert ds.graph("http://ex/g1").triples.count() == 3
    r = ds.sparql(
        "SELECT ?o WHERE { GRAPH <http://ex/g2> { ?s <http://ex/p> ?o } }"
    ).collect()
    assert [x["o"] for x in r] == ['"lit"']


class TestRdfXml:
    def test_parse_constructs(self):
        from graphula_spark.sources.rdfxml import parse_rdfxml_text

        doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex/v#" xml:base="http://ex/base/doc">
  <ex:Person rdf:about="http://ex/alice" ex:nick="Al">
    <ex:name xml:lang="en">Alice</ex:name>
    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</ex:age>
    <ex:knows rdf:resource="http://ex/bob"/>
    <ex:address rdf:parseType="Resource">
      <ex:city>Springfield</ex:city>
    </ex:address>
    <ex:pet rdf:nodeID="fido"/>
    <ex:employer>
      <rdf:Description rdf:about="http://ex/acme">
        <ex:name>Acme "quoted" &amp; Co</ex:name>
      </rdf:Description>
    </ex:employer>
  </ex:Person>
  <rdf:Description rdf:ID="frag">
    <ex:label>fragment subject</ex:label>
  </rdf:Description>
  <rdf:Description rdf:about="http://ex/seq">
    <rdf:li rdf:resource="http://ex/one"/>
    <rdf:li rdf:resource="http://ex/two"/>
  </rdf:Description>
</rdf:RDF>"""
        rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        triples = set(parse_rdfxml_text(doc, blank_prefix="t"))
        assert ("http://ex/alice", rdf + "type", "http://ex/v#Person") in triples
        assert ("http://ex/alice", "http://ex/v#nick", '"Al"') in triples
        assert ("http://ex/alice", "http://ex/v#name", '"Alice"@en') in triples
        assert (
            "http://ex/alice", "http://ex/v#age",
            '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
        ) in triples
        assert ("http://ex/alice", "http://ex/v#knows", "http://ex/bob") in triples
        # parseType=Resource generated a blank with the city literal
        addr = [o for s, p, o in triples
                if p == "http://ex/v#address"][0]
        assert addr.startswith("_:t")
        assert (addr, "http://ex/v#city", '"Springfield"') in triples
        assert ("http://ex/alice", "http://ex/v#pet", "_:tfido") in triples
        # nested node element
        assert ("http://ex/alice", "http://ex/v#employer", "http://ex/acme") in triples
        assert (
            "http://ex/acme", "http://ex/v#name", '"Acme \\"quoted\\" & Co"'
        ) in triples
        # rdf:ID resolves against xml:base
        assert ("http://ex/base/doc#frag", "http://ex/v#label",
                '"fragment subject"') in triples
        # containers
        assert ("http://ex/seq", rdf + "_1", "http://ex/one") in triples
        assert ("http://ex/seq", rdf + "_2", "http://ex/two") in triples

    def test_parsetype_collection(self):
        """rdf:parseType="Collection" expands to an rdf:first/rest
        chain ending in rdf:nil (RDF/XML §7.2.19); an empty collection
        is rdf:nil directly."""
        from graphula_spark.sources.rdfxml import parse_rdfxml_text

        rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                  xmlns:ex="http://ex/">
          <rdf:Description rdf:about="http://ex/s">
            <ex:list rdf:parseType="Collection">
              <rdf:Description rdf:about="http://ex/a"/>
              <rdf:Description rdf:about="http://ex/b"/>
            </ex:list>
            <ex:none rdf:parseType="Collection"/>
          </rdf:Description></rdf:RDF>"""
        triples = parse_rdfxml_text(doc)
        firsts = {s: o for s, p, o in triples if p == rdf + "first"}
        rests = {s: o for s, p, o in triples if p == rdf + "rest"}
        head = next(o for s, p, o in triples if p == "http://ex/list")
        order, cell = [], head
        while cell != rdf + "nil":
            order.append(firsts[cell])
            cell = rests[cell]
        assert order == ["http://ex/a", "http://ex/b"]
        assert ("http://ex/s", "http://ex/none", rdf + "nil") in triples

    def test_unsupported_parsetype(self):
        import pytest

        from graphula_spark.sources.rdfxml import parse_rdfxml_text

        doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                  xmlns:ex="http://ex/">
          <rdf:Description rdf:about="http://ex/s">
            <ex:xml rdf:parseType="Literal"><b>markup</b></ex:xml>
          </rdf:Description></rdf:RDF>"""
        with pytest.raises(NotImplementedError, match="Literal"):
            parse_rdfxml_text(doc)

    def test_read_rdfxml_and_query(self, spark, tmp_path):
        from graphula_spark.graph import Graph
        from graphula_spark.sources.rdfxml import read_rdfxml

        for i in range(2):
            (tmp_path / f"f{i}.rdf").write_text(
                f"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                     xmlns:ex="http://ex/">
               <ex:Doc rdf:about="http://ex/d{i}">
                 <ex:title>doc {i}</ex:title>
                 <ex:part><rdf:Description><ex:n>inner</ex:n></rdf:Description></ex:part>
               </ex:Doc></rdf:RDF>"""
            )
        df = read_rdfxml(spark, str(tmp_path) + "/*.rdf")
        g = Graph.from_string_triples(spark, df, cache=False)
        rows = g.sparql(
            "SELECT ?s ?t WHERE { ?s <http://ex/title> ?t } ORDER BY ?s"
        ).collect()
        assert [(r["s"], r["t"]) for r in rows] == [
            ("http://ex/d0", '"doc 0"'), ("http://ex/d1", '"doc 1"'),
        ]
        # per-file blank prefixes: the two generated inner blanks differ
        blanks = {r["o"] for r in df.where("p = 'http://ex/part'").collect()}
        assert len(blanks) == 2


def test_write_nquads_round_trip(spark, tmp_path):
    from graphula_spark.dataset import Dataset
    from graphula_spark.sources.ntriples import read_nquads, write_nquads
    from pyspark.sql.types import StringType, StructField, StructType

    sch = StructType(
        [StructField(c, StringType(), True) for c in ("s", "p", "o", "g")]
    )
    rows = [
        ("http://ex/a", "http://ex/p", '"lit"@en', "http://ex/g1"),
        ("http://ex/b", "http://ex/p", "http://ex/c", None),
        ("_:b0", "http://ex/q", '"42"^^<http://www.w3.org/2001/XMLSchema#integer>', "http://ex/g2"),
    ]
    ds = Dataset.from_string_quads(
        spark, spark.createDataFrame(rows, sch), cache=False
    )
    out = str(tmp_path / "out_nq")
    write_nquads(ds, out)
    back = read_nquads(spark, out + "/*.txt")
    got = {(r["s"], r["p"], r["o"], r["g"]) for r in back.collect()}
    assert got == set(rows)


def test_turtle_rejects_bare_subject_statement():
    import pytest

    from graphula_spark.sources.turtle import _parse_turtle_text

    with pytest.raises(SyntaxError):
        _parse_turtle_text("@prefix ex: <http://ex/> .\nex:s .\n")


def test_rdfxml_other_scheme_iris_not_resolved():
    from graphula_spark.sources.rdfxml import parse_rdfxml_text

    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
              xmlns:ex="http://ex/" xml:base="http://ex/base/doc">
      <rdf:Description rdf:about="tag:example.org,2024:x">
        <ex:ref rdf:resource="doi:10.1000/182"/>
        <ex:rel rdf:resource="other"/>
      </rdf:Description></rdf:RDF>"""
    triples = set(parse_rdfxml_text(doc))
    assert ("tag:example.org,2024:x", "http://ex/ref", "doi:10.1000/182") in triples
    # genuinely relative references still resolve against xml:base
    assert ("tag:example.org,2024:x", "http://ex/rel", "http://ex/base/other") in triples


def test_write_nquads_blank_graph_label(spark, tmp_path):
    from graphula_spark.dataset import Dataset
    from graphula_spark.sources.ntriples import read_nquads, write_nquads
    from pyspark.sql.types import StringType, StructField, StructType

    sch = StructType(
        [StructField(c, StringType(), True) for c in ("s", "p", "o", "g")]
    )
    rows = [("http://ex/a", "http://ex/p", "http://ex/b", "_:gb")]
    ds = Dataset.from_string_quads(
        spark, spark.createDataFrame(rows, sch), cache=False
    )
    out = str(tmp_path / "bg_nq")
    write_nquads(ds, out)
    back = read_nquads(spark, out + "/*.txt")
    assert [(r["s"], r["g"]) for r in back.collect()] == [("http://ex/a", "_:gb")]


def test_parsers_fail_cleanly_on_garbage():
    """Malformed Turtle/TriG/RDF-XML documents raise parse errors —
    never crash with internal exceptions, never silently return
    wrong/partial triples."""
    import random

    from graphula_spark.sources.rdfxml import parse_rdfxml_text
    from graphula_spark.sources.turtle import (
        _parse_trig_text,
        _parse_turtle_text,
    )

    rng = random.Random(11)
    corpus = (
        "@prefix ex: <http://ex/> . ex:a ex:p ex:b ; ex:q \"lit\"@en . "
        "GRAPH ex:g { ex:c ex:p ( ex:d [ ex:r ex:e ] ) . } <zzz> {} [ ] ;"
    )
    ok_exc = (SyntaxError, NotImplementedError, ValueError)
    for _ in range(300):
        # random slices and shuffles of valid token soup
        n = rng.randint(1, len(corpus))
        start = rng.randint(0, len(corpus) - n)
        s = corpus[start : start + n]
        if rng.random() < 0.5:
            chars = list(s)
            rng.shuffle(chars)
            s = "".join(chars)
        for parser in (_parse_turtle_text, _parse_trig_text):
            try:
                parser(s)
            except ok_exc:
                pass  # clean parse error is the contract
    for _ in range(100):
        n = rng.randint(1, 80)
        s = "".join(rng.choice("<>{}()[]\"@.;,:ex abpq\n") for _ in range(n))
        try:
            parse_rdfxml_text(f"<rdf:RDF xmlns:rdf='http://www.w3.org/1999/02/22-rdf-syntax-ns#'>{s}</rdf:RDF>")
        except ok_exc:
            pass
        except Exception as exc:  # XML-level errors are also fine
            import xml.etree.ElementTree as ET

            assert isinstance(exc, ET.ParseError), exc
