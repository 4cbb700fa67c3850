"""LUBM golden-answer suite: all 14 queries row-exact vs committed answers.

Port of the reference's GroundTruthSpec (benchmarks/src/test/scala/com/
graphula/benchmarks/lubm/GroundTruthSpec.scala:25-168): load the 15
LUBM(1) .nt files, run each SPARQL query, compare the full sorted row
set against benchmarks/data/answers_query{n}.txt.
"""

import glob

import pytest

from graphula_spark.lubm import EXPECTED_ROWS, PREFIXES, QUERIES

DATA = "/root/reference/benchmarks/data"

#: Skips a test that reads the reference's LUBM(1) files where they are
#: absent; it runs unchanged wherever they are in place.
needs_lubm_data = pytest.mark.skipif(
    not glob.glob(f"{DATA}/university0_*.nt"),
    reason="reference LUBM data not present",
)


def load_answers(n):
    """Answer TSV: header of var names + rows, or 'NO ANSWERS.'
    (GroundTruthSpec.scala:149-168)."""
    lines = [
        line.rstrip("\n")
        for line in open(f"{DATA}/answers_query{n}.txt", encoding="utf-8")
    ]
    lines = [l for l in lines if l != ""]
    if lines and lines[0].strip() == "NO ANSWERS.":
        return [], []
    header = lines[0].split("\t")
    rows = sorted(tuple(l.split("\t")) for l in lines[1:])
    return header, rows


@pytest.fixture(scope="module")
def lubm(spark):
    from graphula_spark.graph import Graph

    paths = sorted(glob.glob(f"{DATA}/university0_*.nt"))
    assert len(paths) == 15
    g = Graph.from_ntriples(spark, paths)
    g.triples.count()  # materialize cache
    yield g
    g.triples.unpersist()
    g.dictionary.df.unpersist()


@needs_lubm_data
@pytest.mark.parametrize("n", sorted(QUERIES))
def test_lubm_query(lubm, n):
    header, expected = load_answers(n)
    df = lubm.sparql(PREFIXES + QUERIES[n])
    # project in the answer file's variable order
    if header:
        df = df.select(*header)
    def lex(t):
        # answer files hold Jena node strings: plain literals appear in
        # lexical form without quotes (GroundTruthSpec normalization)
        if t is not None and t.startswith('"') and t.endswith('"'):
            return t[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        return t

    got = sorted(tuple(lex(v) for v in r) for r in df.collect())
    assert len(got) == EXPECTED_ROWS[n], f"Q{n}: {len(got)} rows, want {EXPECTED_ROWS[n]}"
    assert got == expected, f"Q{n} row mismatch"
