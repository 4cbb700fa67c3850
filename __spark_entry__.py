"""Driver contract for the spark-graft builder (PySpark target).

Every entry demonstrates an operator from SURVEY.md §2 (core triple
store / SPARQL surface, exercised through the graphula_spark engine
over triple-ized TPC-H-ish tables) or a driver-mandated extension
(dedup / similarity / multimodal / text / streaming, over the
documents / embeddings / events tables). Every `queries()` entry has a
matching DuckDB `oracle_sql()` — including the approximate ones, which
emit deterministic outputs a SQL program reproduces (exact all-pairs
truth for LSH pipelines whose recall is provably ~1 on this corpus,
closed-form hyperplanes/centroids for the ANN entries).

Graph term convention for triple-ized tables: subject = 'table:key',
predicate = column name, object = bare value string (see
graphula_spark/sources/relational.py). SPARQL constants for such terms
are written as <bare-term> IRIs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_GRAPH_CACHE: dict = {}


def _graph(spark: SparkSession, sf_dir: str):
    """Shared triple-ized graph, persisted to the predicate-partitioned
    parquet layout and re-read: queries then plan against small parquet
    scans with pushdown + partition pruning instead of dragging the
    whole triple-ization lineage into every query plan."""
    key = ("tpch", sf_dir)
    if key not in _GRAPH_CACHE:
        import os

        from graphula_spark.graph import Graph
        from graphula_spark.sources.relational import load_tpch_graph

        tag = sf_dir.strip("/").replace("/", "_")
        store = f"/tmp/graphula_store/{tag}"
        marker = f"{store}/_DONE"
        if not os.path.exists(marker):
            g = load_tpch_graph(spark, sf_dir, cache=False)
            g.save(store)
            open(marker, "w").write("ok")
        g = Graph.load(spark, store)
        g.stats  # warm planner stats (one tiny aggregate job)
        _GRAPH_CACHE[key] = g
    return _GRAPH_CACHE[key]


def _nation_graph(spark: SparkSession, sf_dir: str):
    key = ("nation", sf_dir)
    if key not in _GRAPH_CACHE:
        from graphula_spark.sources.relational import load_tpch_graph

        _GRAPH_CACHE[key] = load_tpch_graph(spark, sf_dir, tables=("nation",), cache=False)
    return _GRAPH_CACHE[key]


def _lineitem_graph(spark: SparkSession, sf_dir: str):
    """Separate heavy graph: triple-ized lineitem (6.6M triples at
    sf0.1) — the scale test for BGP aggregation."""
    key = ("lineitem", sf_dir)
    if key not in _GRAPH_CACHE:
        import os

        from graphula_spark.graph import Graph
        from graphula_spark.sources.relational import lineitem_to_triples

        tag = sf_dir.strip("/").replace("/", "_") + "_lineitem"
        store = f"/tmp/graphula_store/{tag}"
        marker = f"{store}/_DONE"
        if not os.path.exists(marker):
            df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            # __key is unique per source row by construction, so the
            # triple set is distinct — skip the dedup shuffle (round 14)
            g = Graph.from_string_triples(
                spark, lineitem_to_triples(df), cache=False,
                assume_distinct=True,
            )
            g.save(store)
            open(marker, "w").write("ok")
        g = Graph.load(spark, store)
        g.stats
        _GRAPH_CACHE[key] = g
    return _GRAPH_CACHE[key]


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark, sf_dir):
    from graphula_spark.sources.events import read_events

    return read_events(spark, f"{sf_dir}/events.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: SPARQL aggregation over the triple-ized star schema."""
    return queries()["sq_groupby_agg"](spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------
# core engine queries (SPARQL over triple-ized tables)
# ---------------------------------------------------------------------


def q_bgp_join(spark, sf):
    g = _graph(spark, sf)
    df = g.sparql(
        """SELECT ?cname ?nname WHERE {
             ?c <c_name> ?cname . ?c <c_nationkey> ?k .
             ?n <n_name> ?nname . ?n <n_nationkey> ?k . }"""
    )
    return df.select("cname", "nname")


def q_bgp_star(spark, sf):
    g = _graph(spark, sf)
    df = g.sparql(
        """SELECT ?o ?price ?cust WHERE {
             ?o <o_orderstatus> <F> .
             ?o <o_orderpriority> <1-URGENT> .
             ?o <o_totalprice> ?price .
             ?o <o_custkey> ?cust . }"""
    )
    return df.select(
        "o", F.col("price").cast("double").alias("price"), F.col("cust").cast("long").alias("cust")
    )


def q_bgp_count(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        'SELECT (COUNT(?o) AS ?n) WHERE { ?o <o_orderstatus> <F> . }'
    )


def q_exists_probe(spark, sf):
    g = _graph(spark, sf)
    return g.sparql("ASK { <customer:1> <c_mktsegment> ?s . }")


def q_values_scan(spark, sf):
    # reference index semantics: values(0, p, 0) enumerates the
    # *subjects* using predicate p (Index.scala key (0,p,0) → all s)
    g = _graph(spark, sf)
    return g.values(None, "c_mktsegment", None).select(F.col("v").alias("subj"))


def q_value_count(spark, sf):
    g = _graph(spark, sf)
    return (
        g.values(None, "c_mktsegment", None)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_dict_terms(spark, sf):
    g = _nation_graph(spark, sf)
    return g.dictionary.df.agg(F.count(F.lit(1)).alias("n_terms"))


def q_decode_roundtrip(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?c WHERE { ?c <c_mktsegment> <FURNITURE> . }
           ORDER BY ?c LIMIT 5"""
    )


def q_graph_probes(spark, sf):
    """Eight core probe operators folded into one driver row (the driver
    records at most 50 CORRECTNESS rows, in queries() insertion order):
    COUNT-only BGP (O14, Graphula.scala:365-486), existence probe (O4,
    Index.scala:112-118), pattern cardinality (O6, Index.scala:120-131),
    dictionary term count (O7, Dictionary.scala:144-161), the decode
    round-trip (O8, Dictionary.scala:103-119), SPARQL ASK (the
    reference throws on ASK, Sparql.scala:115-128), the prefix
    values scan (O5, Index.scala key (0,p,0) -> all subjects; was its
    own entry through round 3), and SPARQL DISTINCT (was `sq_distinct`).
    Each sub-probe keeps its own pytest coverage; this entry is the
    oracle-hashed evidence."""
    parts = [
        q_bgp_count(spark, sf).select(
            F.lit("bgp_count").alias("probe"), F.col("n").cast("string").alias("v")
        ),
        q_exists_probe(spark, sf).select(
            F.lit("exists_probe").alias("probe"), F.col("ask").cast("string").alias("v")
        ),
        q_value_count(spark, sf).select(
            F.lit("value_count").alias("probe"), F.col("n").cast("string").alias("v")
        ),
        q_dict_terms(spark, sf).select(
            F.lit("dict_terms").alias("probe"),
            F.col("n_terms").cast("string").alias("v"),
        ),
        q_decode_roundtrip(spark, sf).select(
            F.lit("decode").alias("probe"), F.col("c").alias("v")
        ),
        q_ask(spark, sf).select(
            F.lit("sparql_ask").alias("probe"),
            F.col("ask").cast("string").alias("v"),
        ),
        q_values_scan(spark, sf).select(
            F.lit("values_scan").alias("probe"), F.col("subj").alias("v")
        ),
        q_distinct(spark, sf).select(
            F.lit("distinct_seg").alias("probe"), F.col("seg").alias("v")
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_filter(spark, sf):
    g = _graph(spark, sf)
    df = g.sparql(
        """SELECT ?name ?bal WHERE {
             ?c <c_name> ?name . ?c <c_acctbal> ?bal .
             FILTER(?bal > 5000) }"""
    )
    return df.select("name", F.col("bal").cast("double").alias("bal"))


def q_optional(spark, sf):
    g = _graph(spark, sf)
    df = g.sparql(
        """SELECT ?name ?ok WHERE {
             ?c <c_name> ?name . ?c <c_custkey> ?k .
             OPTIONAL { ?o <o_custkey> ?k . ?o <o_orderkey> ?ok } }"""
    )
    return df.select("name", F.col("ok").cast("long").alias("ok"))


def q_sq_path_seq(spark, sf):
    """Sequence + inverse property path: customer → nation name via the
    shared key value node (c_nationkey value, entered backwards through
    n_nationkey). Exercises PSeq/PInv end-to-end over the store."""
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?cn ?nname WHERE {
             ?c <c_name> ?cn .
             ?c <c_nationkey>/^<n_nationkey>/<n_name> ?nname }"""
    )


def q_union(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?name WHERE {
             { ?c <c_mktsegment> <FURNITURE> . ?c <c_name> ?name }
             UNION
             { ?c <c_mktsegment> <MACHINERY> . ?c <c_name> ?name } }"""
    )


def q_minus(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?name WHERE {
             ?c <c_name> ?name . ?c <c_custkey> ?k .
             MINUS { ?o <o_custkey> ?k } }"""
    )


def q_exists_filter(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?name WHERE {
             ?c <c_name> ?name . ?c <c_custkey> ?k .
             FILTER EXISTS { ?o <o_custkey> ?k } }"""
    )


def q_set_ops(spark, sf):
    """UNION + MINUS + FILTER EXISTS in one driver row (round-5 fold
    of the former sq_union/sq_minus/sq_exists entries — the freed
    slots went to rdfs_closure and rel_pagerank); the `part` column
    keys each family's rows."""
    u = q_union(spark, sf).select(F.lit("union").alias("part"), "name")
    m = q_minus(spark, sf).select(F.lit("minus").alias("part"), "name")
    e = q_exists_filter(spark, sf).select(F.lit("exists").alias("part"), "name")
    return u.unionByName(m).unionByName(e)


def q_distinct(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        "SELECT DISTINCT ?seg WHERE { ?c <c_mktsegment> ?seg . }"
    )


def q_order_limit(spark, sf):
    g = _graph(spark, sf)
    df = g.sparql(
        """SELECT ?name ?bal WHERE { ?c <c_name> ?name . ?c <c_acctbal> ?bal . }
           ORDER BY DESC(?bal) ?name LIMIT 10"""
    )
    return df.select("name", F.col("bal").cast("double").alias("bal"))


def q_groupby_agg(spark, sf):
    g = _graph(spark, sf)
    df = g.sparql(
        """SELECT ?nname (COUNT(?c) AS ?n) (AVG(?bal) AS ?avg_bal) WHERE {
             ?n <n_name> ?nname . ?n <n_nationkey> ?k .
             ?c <c_nationkey> ?k . ?c <c_acctbal> ?bal . }
           GROUP BY ?nname"""
    )
    return df.select("nname", "n", F.round("avg_bal", 4).alias("avg_bal"))


def q_having(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?seg (COUNT(?c) AS ?n) WHERE {
             ?c <c_mktsegment> ?seg . ?c <c_acctbal> ?bal . FILTER(?bal > 5000) }
           GROUP BY ?seg HAVING (COUNT(?c) > 2)"""
    )


def q_agg_minmax(spark, sf):
    g = _graph(spark, sf)
    df = g.sparql(
        """SELECT ?seg (MIN(?bal) AS ?min_bal) (MAX(?bal) AS ?max_bal) WHERE {
             ?c <c_mktsegment> ?seg . ?c <c_acctbal> ?bal . }
           GROUP BY ?seg"""
    )
    return df.select(
        "seg",
        F.col("min_bal").cast("double").alias("min_bal"),
        F.col("max_bal").cast("double").alias("max_bal"),
    )


def q_bind(spark, sf):
    # includes an xsd:integer constructor cast (SPARQL §17.5; ARQ
    # surface the reference inherits via Jena) — whole_bal truncates
    # the account balance toward zero like CAST(... AS BIGINT)
    g = _graph(spark, sf)
    df = g.sparql(
        """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
           SELECT ?name ?bonus ?whole_bal WHERE {
             ?c <c_name> ?name . ?c <c_acctbal> ?bal .
             BIND(?bal * 0.1 AS ?bonus)
             BIND(xsd:integer(?bal) AS ?whole_bal)
             FILTER(?bal > 9000) }"""
    )
    return df.select(
        "name",
        F.round(F.col("bonus"), 4).alias("bonus"),
        F.col("whole_bal").cast("long").alias("whole_bal"),
    )


def q_values_undef(spark, sf):
    """VALUES incl. UNDEF rows: inline-data join plus the SPARQL
    compatibility semantics (unbound matches anything) — a solution
    compatible with both VALUES rows appears once per row (bag
    semantics), mirrored by UNION ALL in the oracle."""
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?cname ?seg ?nname WHERE {
             ?c <c_name> ?cname . ?c <c_mktsegment> ?seg .
             ?c <c_nationkey> ?k .
             ?n <n_nationkey> ?k . ?n <n_name> ?nname .
             VALUES (?seg ?nname) { (<FURNITURE> UNDEF) (UNDEF <NATION_2>) } }"""
    )


def q_ask(spark, sf):
    g = _graph(spark, sf)
    return g.sparql("ASK { ?c <c_mktsegment> <FURNITURE> . }")


def q_select_expr(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?name (CONCAT(STR(?seg), "!") AS ?tagged) WHERE {
             ?c <c_name> ?name . ?c <c_mktsegment> ?seg .
             FILTER(REGEX(STR(?name), "Customer#00000000[0-4]$")) }"""
    )


def q_subquery(spark, sf):
    """SPARQL 1.1 subquery: customers of the two largest nations."""
    g = _graph(spark, sf)
    df = g.sparql(
        """SELECT ?name ?n WHERE {
             { SELECT ?k (COUNT(?c) AS ?n) WHERE { ?c <c_nationkey> ?k }
               GROUP BY ?k ORDER BY DESC(?n) ?k LIMIT 2 }
             ?c2 <c_nationkey> ?k . ?c2 <c_name> ?name . }"""
    )
    return df.select("name", "n")


def q_term_fns(spark, sf):
    """Term-constructor and hash builtins in one row: IRI() building a
    subject from a foreign-key value and joining it back into the graph
    (val-var/id-var join), plus MD5/SHA256 over the joined name — the
    ARQ-delegated function surface the reference gets from Jena
    (Sparql.scala:41-52, build.sbt:25)."""
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?o ?name ?md ?sha WHERE {
             ?o <o_custkey> ?ck .
             BIND(IRI(CONCAT("customer:", STR(?ck))) AS ?cust)
             ?cust <c_name> ?name .
             BIND(MD5(STR(?name)) AS ?md)
             BIND(SHA256(STR(?name)) AS ?sha) }"""
    )


def q_datetime_parts(spark, sf):
    g = _graph(spark, sf)
    return g.sparql(
        """SELECT ?o ?y ?m WHERE {
             ?o <o_orderdate> ?d . ?o <o_orderstatus> <F> .
             BIND(YEAR(?d) AS ?y) BIND(MONTH(?d) AS ?m) }"""
    )


def q_lineitem_agg(spark, sf):
    """TPC-H Q1-style pricing summary over the triple-ized lineitem —
    a 4-pattern BGP star at millions-of-triples scale feeding GROUP BY."""
    g = _lineitem_graph(spark, sf)
    df = g.sparql(
        """SELECT ?rf ?ls (COUNT(?li) AS ?n) (SUM(?qty) AS ?sum_qty)
                  (AVG(?price) AS ?avg_price) WHERE {
             ?li <l_returnflag> ?rf .
             ?li <l_linestatus> ?ls .
             ?li <l_quantity> ?qty .
             ?li <l_extendedprice> ?price . }
           GROUP BY ?rf ?ls"""
    )
    return df.select(
        "rf",
        "ls",
        "n",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("avg_price", 2).alias("avg_price"),
    )


# ---------------------------------------------------------------------
# extensions: dedup / similarity / text / multimodal / windows / stream
# ---------------------------------------------------------------------


def q_dedup_exact(spark, sf):
    from graphula_spark.operators.dedup import exact_dedup

    docs = _docs(spark, sf).select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return exact_dedup(doubled, "text", "doc_id").select("doc_id")


def q_dedup_substr(spark, sf):
    """Cross-document substring (span) dedup, the ExactSubstr
    discipline of Lee et al. 2022 — any 5-token span occurring more
    than once corpus-wide is removed from all but its globally first
    occurrence. Returns the cleaned corpus with per-doc removal stats;
    the oracle replays the identical window/gaps-and-islands program
    in DuckDB."""
    from graphula_spark.operators.dedup import substring_dedup

    docs = _docs(spark, sf).select("doc_id", "text")
    return substring_dedup(docs, "doc_id", "text", min_len=5).select(
        "doc_id",
        "clean_text",
        F.col("n_dup_positions").cast("long").alias("n_dup_positions"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_tokens_kept").cast("long").alias("n_tokens_kept"),
    )


def q_dedup_minhash(spark, sf):
    from graphula_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf)
    return minhash_lsh_pairs(
        docs, "doc_id", "text", jaccard_threshold=0.3
    ).orderBy("id_a", "id_b")


def q_dedup_incremental(spark, sf):
    """Incremental dedup against a PERSISTED MinHash index: the corpus
    (doc_id % 5 != 0) is indexed once (bands + shingles parquet,
    band-partitioned); the ingest batch (doc_id % 5 == 0) probes it
    with a broadcast join — zero corpus shuffle — then exact-verifies
    candidates. The oracle is the exact all-cross-pairs truth, valid
    for the same reason as dedup_minhash (min true-pair Jaccard on
    this corpus is 0.9; banded-miss probability there is ~2e-4 with
    deterministic hashes)."""
    import os

    from graphula_spark.operators.dedup import MinHashIndex

    docs = _docs(spark, sf).select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    tag = sf.strip("/").replace("/", "_")
    path = f"/tmp/graphula_minhash_idx/{tag}"
    # cache key includes the source file's identity: a regenerated
    # dataset at the same path must NOT hit a stale index (the oracle
    # reads the CURRENT table)
    src = f"{sf}/documents.parquet"

    def _fingerprint(p):
        st = os.stat(p)
        parts = [f"{st.st_mtime_ns}:{st.st_size}"]
        if os.path.isdir(p):
            for name in sorted(os.listdir(p)):
                s = os.stat(os.path.join(p, name))
                parts.append(f"{name}:{s.st_mtime_ns}:{s.st_size}")
        return ";".join(parts)

    fp = _fingerprint(src)
    fp_file = f"{path}/_source_fp"
    if (
        os.path.exists(f"{path}/_meta.json")
        and os.path.exists(fp_file)
        and open(fp_file).read() == fp
    ):
        idx = MinHashIndex.load(spark, path)
    else:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        idx = MinHashIndex.build(corpus, "doc_id", "text", path)
        open(fp_file, "w").write(fp)
    pairs = idx.query(batch, "doc_id", "text", jaccard_threshold=0.3)
    return pairs.select(
        F.col("id_new").cast("long").alias("id_new"),
        F.col("id_corpus").cast("long").alias("id_corpus"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def q_dedup_ngram_jaccard(spark, sf):
    from graphula_spark.operators.dedup import ngram_jaccard_blocked

    return ngram_jaccard_blocked(
        _docs(spark, sf), "doc_id", "text", prefix_len=16, threshold=0.1
    )


def q_dedup_clusters(spark, sf):
    # transitive closure of the blocked-jaccard near-dup pairs via
    # min-label connected components; one canonical doc per cluster
    from graphula_spark.operators.cluster import dedup_clusters
    from graphula_spark.operators.dedup import ngram_jaccard_blocked

    docs = _docs(spark, sf)
    pairs = ngram_jaccard_blocked(docs, "doc_id", "text", prefix_len=16, threshold=0.1)
    return dedup_clusters(docs, pairs, "doc_id")


def q_dedup_simhash(spark, sf):
    # portable 60-bit simhash (md5-hex token hash): the oracle reproduces
    # fingerprints bit-for-bit; 4x15-bit blocks cover Hamming<=3 exactly
    from graphula_spark.operators.dedup import simhash_portable_pairs

    return simhash_portable_pairs(_docs(spark, sf), "doc_id", "text", max_hamming=3)


def q_ann_cosine(spark, sf):
    from graphula_spark.operators.ann import cosine_topk

    emb = _emb(spark, sf)
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def q_ann_lsh(spark, sf):
    # bucket on the first 16 dims so the oracle can embed the same
    # hyperplane constants; 4 planes + 2-bit multi-probe keeps buckets
    # dense enough for top-5 recall at small SF
    from graphula_spark.operators.ann import lsh_bucket_topk

    emb = _emb(spark, sf)
    dim = len(emb.select("embedding").first()[0])
    return lsh_bucket_topk(
        emb, emb.where(F.col("vec_id") < 10), dim=dim, k=5,
        num_planes=4, multi_probe=3, bucket_dims=16,
    )


def q_ann_ivf(spark, sf):
    """Merged IVF entry (driver caps CORRECTNESS at 50 rows):

    - part='seed_topk': deterministic seed-centroid IVF rows, exactly
      reproduced by the DuckDB oracle.
    - part='kmeans_recall': the PRODUCTION KMeans-learned `ivf_topk`
      path (operators/ann.py:214, IvfIndex:105) measured in-Spark
      against exact `cosine_topk`; emits 1.0 iff mean recall@5 over the
      10 probe queries is >= 0.6 (observed 0.82-0.92 across
      partitionings at n_probe=8 of 16 cells; the oracle hash-matches
      the literal 1.0, so a recall regression turns the row red).
    - part='ivfpq_exact' (round 13, VERDICT r12 #4): the full IVF×PQ
      pipeline — `pq_train` → `pq_encode` → `ivfpq_topk` with exact
      re-rank — probing ALL cells with no candidate pruning, which
      must reproduce exact cosine top-5 VALUE-exactly (the DuckDB
      oracle recomputes it); this hash-anchors every stage's plumbing
      (ids, dedup, re-rank arithmetic) even though the ADC scores
      themselves are not SQL-expressible.
    - part='ivfpq_recall': the same pipeline at the realistic
      operating point (n_probe=4 of 16 cells, default pruning), gated
      in-Spark at mean recall@5 >= 0.6 vs exact, literal 1.0 oracle —
      same pattern as kmeans_recall.
    """
    from graphula_spark.operators.ann import (
        IvfIndex,
        cosine_topk,
        ivf_topk,
        ivfpq_topk,
        pq_encode,
        pq_train,
        seed_ivf_topk,
    )

    emb = _emb(spark, sf)
    q10 = emb.where(F.col("vec_id") < 10)
    seed = seed_ivf_topk(emb, q10, k=5).select(
        F.lit("seed_topk").alias("part"), "query_id", "neighbor_id", "score"
    )
    exact = cosine_topk(emb, q10, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(emb, q10, k=5, n_cells=16, n_probe=8).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"], "inner").agg(
        F.count(F.lit(1)).alias("hits")
    )
    denom = exact.agg(F.count(F.lit(1)).alias("n"))
    recall_row = hits.crossJoin(denom).select(
        F.lit("kmeans_recall").alias("part"),
        F.lit(-1).cast("long").alias("query_id"),
        F.lit(-1).cast("long").alias("neighbor_id"),
        F.when(F.col("hits") / F.col("n") >= 0.6, 1.0)
        .otherwise(0.0)
        .alias("score"),
    )
    # round-4 fold: the hyperplane-LSH top-k rows live here too (the
    # freed ann_lsh_topk slot went to rel_importance)
    lsh = q_ann_lsh(spark, sf).select(
        F.lit("lsh_topk").alias("part"), "query_id", "neighbor_id", "score"
    )
    # round-13 fold: IVF×PQ (see docstring). One index + one model +
    # one code table serve both parts — train/encode once.
    index = IvfIndex.build(emb, n_cells=16, seed=42)
    model = pq_train(emb, m=8, k_centroids=64, iters=8)
    codes = pq_encode(emb, model)
    ivfpq_exact = ivfpq_topk(
        index, codes, q10, model, k=5, n_probe=16,
        rerank_vectors=emb, candidates_per_batch=10_000_000,
    ).select(
        F.lit("ivfpq_exact").alias("part"), "query_id", "neighbor_id", "score"
    )
    approx_pq = ivfpq_topk(
        index, codes, q10, model, k=5, n_probe=4, rerank_vectors=emb
    ).select("query_id", "neighbor_id")
    pq_hits = exact.join(
        approx_pq, ["query_id", "neighbor_id"], "inner"
    ).agg(F.count(F.lit(1)).alias("hits"))
    pq_recall_row = pq_hits.crossJoin(denom).select(
        F.lit("ivfpq_recall").alias("part"),
        F.lit(-1).cast("long").alias("query_id"),
        F.lit(-1).cast("long").alias("neighbor_id"),
        F.when(F.col("hits") / F.col("n") >= 0.6, 1.0)
        .otherwise(0.0)
        .alias("score"),
    )
    return (
        seed.unionByName(recall_row)
        .unionByName(lsh)
        .unionByName(ivfpq_exact)
        .unionByName(pq_recall_row)
    )


def q_dedup_embedding(spark, sf):
    from graphula_spark.operators.ann import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_emb(spark, sf), threshold=0.3)


def q_dedup_embedding_reps(spark, sf):
    """Representative-output embedding dedup (VERDICT r8 #5): one
    (id, representative) row per vector — representative = the
    connected component's minimum id over the same block-bounded
    cosine-threshold graph as `dedup_embedding`, O(k) output per
    k-clique instead of k(k-1)/2 pairs. Oracle: the pair graph in SQL
    (list_cosine_similarity within blocks) + a recursive-CTE
    reachability closure, representative = min(reachable ∪ self)."""
    from graphula_spark.operators.ann import embedding_near_dup_reps

    return embedding_near_dup_reps(_emb(spark, sf), threshold=0.3)


def q_rel_importance(spark, sf):
    """DSIR importance weights driver row (operators/importance.py):
    per-document log-likelihood-ratio weights of the documents table
    against the German-language slice as the target distribution,
    with the portable md5 bucket hash so DuckDB reproduces the whole
    pipeline — bucket models with add-one smoothing, full-outer ratio
    merge with missing-bucket floors, per-doc sums — in closed form."""
    from graphula_spark.operators.importance import importance_weights_subset

    d = _docs(spark, sf).select("doc_id", "text", "lang")
    w = importance_weights_subset(
        d, F.col("lang") == "de", "doc_id", "text", buckets=256, hash_fn="md5"
    )
    return w.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round("logw", 4).alias("logw"),
    )


def q_events_stateful(spark, sf):
    from graphula_spark.streaming.stateful import run_stateful_over_parquet

    return run_stateful_over_parquet(spark, f"{sf}/events.parquet")


def q_approx_distinct(spark, sf):
    # HLL sketch, driver-verifiable form: emit the exact count (oracle
    # hash-matches it) plus a bounded-relative-error flag for the sketch
    ev = _events(spark, sf)
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_5pct"),
        )
    )


def q_text_profile(spark, sf):
    """Per-document text-analysis profile in one row: whitespace/char/
    BPE-ish token counts, punctuation and stopword ratios, composite
    quality score, n-gram-heuristic language id, and the normalized md5
    fingerprint — one pass over documents computing all profile columns
    (the shape a 100 TB pipeline would use: a single scan, all-column
    select, zero shuffles). Round 3 merges two more per-doc families
    into the row: corpus line-level dedup (banner/footer boilerplate
    built deterministically around each doc; removal + ordered
    reassembly hash-verified via dd_fp) and fixed-token-window chunking
    (64-token windows, 2-token overlap; boundary + overlap semantics
    pinned by the ordered chunk-content fingerprint chunk_fp)."""
    from graphula_spark.operators.text import (
        bpe_ish_token_count,
        char_count,
        fingerprint,
        lang_id,
        punct_ratio,
        quality_score,
        stopword_ratio,
        token_count,
    )

    from graphula_spark.operators.text import chunk_documents, line_dedup

    d = _docs(spark, sf)
    base = d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        char_count(F.col("text")).alias("n_chars_m"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        punct_ratio(F.col("text")).alias("punct_ratio"),
        stopword_ratio(F.col("text"), "en").alias("stopword_ratio_en"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("pred_lang"),
        fingerprint(F.col("text")).alias("fp"),
    )
    # line-level dedup row: the synthetic docs are single-line, so wrap
    # each in a shared banner + a (doc_id % 7) footer — the banner and
    # footers repeat across docs and MUST be removed, the payload line
    # must survive reassembly (hash-verified by the oracle)
    synth = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("== boilerplate banner =="),
            F.col("text"),
            F.concat(F.lit("footer "), (F.col("doc_id") % 7).cast("string")),
        ).alias("text"),
    )
    ld = line_dedup(synth, "doc_id", "text", min_dup_docs=2).select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_removed").cast("int").alias("n_boiler"),
        F.md5(F.col("text")).alias("dd_fp"),
    )
    # chunking row: 64-token windows with 2-token overlap; the ordered
    # chunk-content fingerprint pins window boundaries AND overlap
    ch = (
        chunk_documents(d, "doc_id", "text", chunk_size=64, overlap=2)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_id", "chunk_text"))
                        ),
                        lambda s: s["chunk_text"],
                    ),
                    "\x1e",
                )
            ).alias("chunk_fp"),
        )
    )
    return (
        base.join(ld, "doc_id")
        .join(ch, "doc_id", "left")
        .withColumn("n_chunks", F.coalesce(F.col("n_chunks"), F.lit(0)))
        .withColumn(
            "chunk_fp", F.coalesce(F.col("chunk_fp"), F.md5(F.lit("")))
        )
    )


def q_text_tfidf(spark, sf):
    """Top-3 TF-IDF keywords per document — distributed corpus
    statistics (doc-term agg + vocabulary-sized doc-frequency table +
    broadcast N + per-doc top-k window)."""
    from graphula_spark.operators.text import tfidf_topk

    return tfidf_topk(_docs(spark, sf), "doc_id", "text", k=3)


def q_text_decontam_ngram(spark, sf):
    """Benchmark decontamination: flag documents whose distinct word
    8-gram overlap with a (deterministic, doc_id % 25 == 0) eval subset
    exceeds 10% — eval-set n-gram collision checking, with the bench
    gram set distinct-reduced and broadcast."""
    from graphula_spark.operators.text import decontaminate

    d = _docs(spark, sf)
    bench = d.where(F.col("doc_id") % 25 == 0)
    return decontaminate(d, bench, "doc_id", "text", n=8, threshold=0.1)


def q_text_decontam(spark, sf):
    """Part-keyed decontamination fold (round 10): part='ngram' is the
    8-gram collision check over documents, part='semantic' the
    embedding-cosine check (`ann.semantic_decontaminate`) over the
    embeddings table vs a deterministic vec_id % 50 eval slice —
    paraphrased leakage carries no shared n-grams, so a real pipeline
    runs BOTH. Oracle: the existing closed-form gram SQL UNION ALL a
    cross-join max(list_cosine_similarity) per vector. bench times the
    parts separately (text_decontam keeps the ngram-only history)."""
    from graphula_spark.operators.ann import semantic_decontaminate

    ng = q_text_decontam_ngram(spark, sf).select(
        F.lit("ngram").alias("part"),
        F.col("doc_id").alias("id"),
        "n_grams",
        "n_hits",
        F.col("overlap").alias("score"),
        "contaminated",
    )
    emb = _emb(spark, sf)
    bench = emb.where(F.col("vec_id") % 50 == 0)
    sem = semantic_decontaminate(emb, bench, threshold=0.5).select(
        F.lit("semantic").alias("part"),
        F.col("vec_id").alias("id"),
        F.lit(None).cast("long").alias("n_grams"),
        F.lit(None).cast("long").alias("n_hits"),
        F.round("max_sim", 4).alias("score"),
        "contaminated",
    )
    return ng.unionByName(sem)


def q_text_kgram_fp(spark, sf):
    from graphula_spark.operators.text import sampled_kgram_fingerprints

    return sampled_kgram_fingerprints(_docs(spark, sf), "doc_id", "text")


def q_text_scrub_pii(spark, sf):
    from graphula_spark.operators.text import scrub_pii

    d = _docs(spark, sf)
    # synthesize PII-bearing text deterministically from doc fields so
    # the scrub has something to redact, then scrub it
    synth = F.concat(
        F.col("text"),
        F.lit(" contact doc"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or visit https://ex.org/"),
        F.col("doc_id").cast("string"),
    )
    return d.select("doc_id", scrub_pii(synth).alias("clean"))


def q_text_gopher(spark, sf):
    from graphula_spark.operators.text import gopher_signals

    return gopher_signals(_docs(spark, sf), "doc_id", "text")


def q_text_pack_shards(spark, sf):
    from graphula_spark.operators.relational import pack_by_budget
    from graphula_spark.operators.text import token_count

    d = _docs(spark, sf).select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_by_budget(
        d, "lang", "doc_id", "n_tokens", budget=500.0
    ).select("doc_id", "lang", "n_tokens", "shard")


def q_salted_agg(spark, sf):
    """Salted two-phase aggregation PLUS semi-structured extraction in
    one row: the JSON `props` column is parsed JVM-side
    (get_json_object, no Python) and aggregated alongside `value` under
    the same salted group-by."""
    from graphula_spark.operators.relational import salted_aggregate

    ev = _events(spark, sf).select(
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("props_k"),
    )
    out = salted_aggregate(
        ev, ["event_type"], {"value": "sum", "props_k": "sum"}, salt=16
    )
    return out.select(
        "event_type",
        F.round("value_sum", 4).alias("value_sum"),
        F.col("props_k_sum").cast("long").alias("props_k_sum"),
    )


def q_mm_pipeline(spark, sf):
    """Multimodal pipeline in one row: binary+metadata media schema,
    Arrow-batched feature extraction (mapInPandas), frame sampling, AND
    a REAL encode→decode round-trip — deterministic PNG/WAV/JPEG/VIDEO
    payloads are synthesized per doc (operators/codecs.py stdlib
    codecs, operators/jpeg.py T.81 codec, operators/video.py
    Y4M + MJPEG-AVI), decoded back by magic-byte routing, and every
    decoded feature (dimensions, mean pixel, sample counts, zero
    crossings, video frame counts) is a closed-form function of doc_id
    the oracle reproduces without a codec — including the lossy JPEG
    DC quantization arithmetic for both still JPEGs and MJPEG video
    frames."""
    from graphula_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
        extract_real_features,
        sample_frames,
        synthesize_real_media,
    )

    d = _docs(spark, sf)
    media = documents_as_media(d)
    feats = extract_features(media, fake=True).select("media_id", "n_bytes", "digest")
    frames = (
        sample_frames(media, every_n=10)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    real = extract_real_features(synthesize_real_media(d))
    return feats.join(frames, "media_id").join(real, "media_id")


def q_events_window(spark, sf):
    """Tumbling, sliding AND session windowed aggregations merged into
    one driver row (wkind column) — the batch formulations of the
    streaming window operators; `events_window_stream` runs the real
    micro-batch job. The generic `key` column carries event_type for
    time windows and user_id for session rows; `sum_value` carries the
    value sum for tumbling rows and the session count for session
    rows (round-4 fold of the former events_sessionize entry — the
    freed slot went to text_urls)."""
    from graphula_spark.streaming.windows import (
        session_counts,
        sliding_window_agg,
        tumbling_window_agg,
    )

    ev = _events(spark, sf)
    tumb = tumbling_window_agg(ev, "1 hour").select(
        F.lit("tumbling").alias("wkind"),
        "window_start",
        F.col("event_type").alias("key"),
        "n_events",
        "sum_value",
    )
    slide = sliding_window_agg(ev, "1 hour", "30 minutes").select(
        F.lit("sliding").alias("wkind"),
        "window_start",
        F.col("event_type").alias("key"),
        "n_events",
        F.lit(None).cast("double").alias("sum_value"),
    )
    sess = session_counts(ev, gap_minutes=30).select(
        F.lit("session").alias("wkind"),
        F.lit(None).cast("timestamp").alias("window_start"),
        F.col("user_id").cast("string").alias("key"),
        "n_events",
        F.col("n_sessions").cast("double").alias("sum_value"),
    )
    return tumb.unionByName(slide).unionByName(sess)


def q_text_urls(spark, sf):
    """URL front gate driver row (operators/urls.py): documents get a
    deterministic synthetic URL exercising every canonicalization rule
    (mixed-case host + WWW prefix, default vs explicit port, trailing
    slash, tracking params, unsorted params, fragment) plus a co.uk
    apex for one residue class; the co.uk apex class is then BLOCKED
    via filter_domains, and the oracle predicts the exact normalized
    form + apex + survivor set in closed form."""
    from graphula_spark.operators.urls import (
        filter_domains,
        normalize_url,
        registered_domain,
    )

    d = _docs(spark, sf).select("doc_id", "source")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(did % 7 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        (did % 5).cast("string"),
        F.lit(".Example"),
        F.when(did % 3 == 0, F.lit(".co.uk")).otherwise(F.lit(".org")),
        F.when(did % 11 == 0, F.lit(":8080")).otherwise(F.lit(":443")),
        F.lit("/p/"),
        did.cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=x&b="),
        (did % 4).cast("string"),
        F.lit("&a=1"),
        F.when(did % 13 == 0, F.lit("#f")).otherwise(F.lit("")),
    )
    with_url = d.withColumn("url", url)
    kept = filter_domains(with_url, "url", ["example.co.uk"], mode="block")
    return kept.select(
        "doc_id",
        normalize_url(F.col("url")).alias("url_norm"),
        registered_domain(F.col("url")).alias("apex"),
    )


def q_events_window_stream(spark, sf):
    from graphula_spark.streaming.windows import (
        run_stream_over_parquet,
        tumbling_window_agg,
    )

    return run_stream_over_parquet(
        spark, f"{sf}/events.parquet", tumbling_window_agg, "events_window_stream"
    )


def q_text_mix_sources(spark, sf):
    """Deterministic corpus mixing + splitting in one row. Part 1:
    per-source keep-rates applied via a portable hash — src0 kept at
    25%, src1 at 50%, src2 at 75%, the rest at 100%; the kept
    (doc_id, source) rows hash-verify the exact sampling decision set.
    Part 2 (round-5 fold, operators/splits.py): the 80/10/10
    train/val/test assignment for EVERY document as
    (doc_id, 'split:<name>') rows — the oracle replays the same
    boundary cuts on the same md5 hash, so the split assignment is
    verified document-exactly."""
    from graphula_spark.operators.relational import sample_by_weight
    from graphula_spark.operators.splits import split_by_key

    d = _docs(spark, sf).select("doc_id", "source")
    mixed = sample_by_weight(
        d,
        "source",
        "doc_id",
        {"src0": 0.25, "src1": 0.5, "src2": 0.75},
        default_rate=1.0,
    )
    splits = split_by_key(
        d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select(
        "doc_id", F.concat(F.lit("split:"), F.col("split")).alias("source")
    )
    return mixed.unionByName(splits)


def q_events_temporal_join(spark, sf):
    """Temporal-join operators in one part-keyed row (round 13 folds
    the forward direction and the tolerance bound under the same
    DuckDB oracle — VERDICT r12 #2):

    - part='profile': fused backward as-of (last click at-or-before
      each purchase) + range count (clicks within ±600 s), one window
      pass (round 11's fused operator).
    - part='forward': `asof_join(direction="forward")` — the FIRST
      click at-or-after each purchase.
    - part='fwd_tol' / 'bwd_tol': same with `tolerance_seconds=86400`
      — fills farther than a day come back NULL (pandas merge_asof's
      tolerance contract), exercising the signed-micros distance check
      in both directions (~half the sf0.01 fills land each side).
    """
    from graphula_spark.operators.relational import (
        asof_join,
        asof_range_profile,
    )

    # round 11 (VERDICT r10 #3): the composed asof_join +
    # range_join_count + event_id stitch join paid 4 events scans,
    # each half's shuffles, and a final key shuffle; the fused
    # single-window-pass operator pays one events scan and two
    # exchanges, semantics asserted equal to the composition
    # (test_relational_ops) and to the same DuckDB oracle
    ev = _events(spark, sf)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("ts").alias("ts"), F.col("user_id").alias("user_id"),
        F.col("event_id").alias("click_id"),
    )
    prof = asof_range_profile(
        purchases, clicks, on="ts", by="user_id", right_id="click_id",
        lower_seconds=600, upper_seconds=600,
        asof_name="click_id", count_name="n_clicks_near",
    ).select(
        F.lit("profile").alias("part"),
        "event_id", "user_id", "click_id", "n_clicks_near",
    )
    nullcnt = F.lit(None).cast("long").alias("n_clicks_near")

    def _asof_part(label, **kw):
        return asof_join(
            purchases, clicks, on="ts", by="user_id", **kw
        ).select(
            F.lit(label).alias("part"),
            "event_id", "user_id", "click_id", nullcnt,
        )

    return (
        prof.unionByName(_asof_part("forward", direction="forward"))
        .unionByName(
            _asof_part(
                "fwd_tol", direction="forward", tolerance_seconds=86400
            )
        )
        .unionByName(_asof_part("bwd_tol", tolerance_seconds=86400))
    )


def _belongs_edges(spark, sf):
    cust = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.concat(F.lit("customer:"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    nat = spark.read.parquet(f"{sf}/nation.parquet").select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return cust.unionByName(nat)


def q_graph_reach(spark, sf):
    """Semi-naive iterative graph operators in one row: full transitive
    closure plus seeded reachability (frontier-only joins, per-round
    persist/unpersist), labeled and unioned.

    Round 14: both operators run over the SAME edge set, so the shared
    distinct+checkpoint preparation runs once via `prepare_edges` +
    ``prepared=True`` (each operator re-prepared it before — one
    shuffle + checkpoint job saved; rows identical, pinned by
    test_graph_analytics)."""
    from graphula_spark.operators.paths import (
        prepare_edges,
        reachable_from,
        transitive_closure,
    )

    edges = prepare_edges(_belongs_edges(spark, sf), "src", "dst")
    clo = transitive_closure(edges, "src", "dst", prepared=True).select(
        F.lit("closure").alias("kind"), F.col("src").alias("a"), F.col("dst").alias("b")
    )
    seeds = spark.createDataFrame(
        [("customer:1",), ("customer:2",), ("nation:0",)], ["start"]
    )
    rfr = reachable_from(edges, seeds, prepared=True).select(
        F.lit("reach").alias("kind"),
        F.col("start").alias("a"),
        F.col("node").alias("b"),
    )
    return clo.unionByName(rfr)


def q_window_funcs(spark, sf):
    """Both window-function operators in one row: top-n per group
    (row_number over price-desc) and the running total (sum over
    date-ordered rows) — top-3 orders per customer, each carrying its
    running total at that point in the customer's order history."""
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf}/orders.parquet")
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w_rank).alias("rn"),
            F.round(F.sum("o_totalprice").over(w_run), 2).alias("run_total"),
        )
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "run_total")
    )


def q_rollup(spark, sf):
    """Merged entry (SURVEY §8): SQL ROLLUP over orders + a
    driver-verified merge==rescan probe of the mergeable-sketch rollup
    store (`operators/rollup_sketch.py`). The store is built from an
    even/odd split of events (base build + an incremental
    `append_bucket` batch); `sketch_ok` is true iff querying the MERGED
    bucket rows reproduces the full-rescan count, sum, and HLL
    distinct-user estimate exactly — so a merge deviation flips the
    value hash — AND the merged KLL p50/p95 land within the sketch's
    rank-error band of the true percentiles, AND the merged theta
    distinct-user estimate stays within its error bound of the exact
    count (the theta sketches also power `user_overlap` retention
    queries, which HLL cannot). The oracle predicts sketch_ok=true
    plus the exact count/sum aggregates."""
    from graphula_spark.operators.rollup_sketch import (
        HLL_LGK,
        THETA_LGK,
        append_bucket,
        build_rollup,
        query_rollup,
    )

    orders = spark.read.parquet(f"{sf}/orders.parquet")
    rollup_part = (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .withColumn("sketch_ok", F.lit(True))
    )

    events = spark.read.parquet(f"{sf}/events.parquet")
    tag = sf.strip("/").replace("/", "_")
    path = f"/tmp/graphula_rollup_probe/{tag}"
    build_rollup(events.where(F.col("event_id") % 2 == 0), path)
    append_bucket(
        events.where(F.col("event_id") % 2 == 1), path, batch_id=1
    )
    merged = query_rollup(spark, path).select(
        "key",
        F.col("n_events").alias("m_n"),
        F.round("sum_value", 4).alias("m_sum"),
        F.col("approx_users").alias("m_users"),
        "p50_value",
        "p95_value",
    )
    m_theta = (
        spark.read.parquet(path)
        .groupBy("key")
        .agg(
            F.theta_sketch_estimate(
                F.theta_union_agg(F.col("users_theta"), THETA_LGK)
            ).alias("m_theta")
        )
    )
    rescan = events.groupBy(F.col("event_type").alias("key")).agg(
        F.count(F.lit(1)).alias("r_n"),
        F.round(F.sum("value"), 4).alias("r_sum"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(HLL_LGK))
        ).alias("r_users"),
        F.countDistinct("user_id").alias("r_exact_users"),
        F.expr("percentile(value, 0.46)").alias("p50_lo"),
        F.expr("percentile(value, 0.54)").alias("p50_hi"),
        F.expr("percentile(value, 0.91)").alias("p95_lo"),
        F.expr("percentile(value, 0.99)").alias("p95_hi"),
    )
    sketch_part = merged.join(m_theta, "key").join(rescan, "key").select(
        F.lit("__sketch").alias("o_orderstatus"),
        F.col("key").alias("o_orderpriority"),
        F.col("r_n").alias("n"),
        F.col("r_sum").alias("total"),
        (
            (F.col("m_n") == F.col("r_n"))
            & (F.col("m_sum") == F.col("r_sum"))
            & (F.col("m_users") == F.col("r_users"))
            # merged KLL quantiles inside the rank-error band
            & F.col("p50_value").between(F.col("p50_lo"), F.col("p50_hi"))
            & F.col("p95_value").between(F.col("p95_lo"), F.col("p95_hi"))
            # merged theta estimate within its error bound of exact
            & (
                F.abs(F.col("m_theta") - F.col("r_exact_users"))
                <= F.greatest(F.lit(3.0), 0.05 * F.col("r_exact_users"))
            )
        ).alias("sketch_ok"),
    )
    return rollup_part.unionByName(sketch_part)


def q_rdfs_closure(spark, sf):
    """RDFS ρdf materialization driver row (operators/rdfs.py): string
    triples built from the customer table (rdf:type per market
    segment, an inNation edge per customer) plus a small ontology
    (2-level subClassOf chain, 2-level subPropertyOf chain, a domain
    and a range), materialized to the full closure and decoded back to
    strings. The DuckDB oracle re-derives the SAME closure with
    recursive CTEs over the schema relations + the stratified rule
    passes (rdfs5/11 closure edges, rdfs7 property rewrite, rdfs2/3
    on property-closed data, rdfs9 over all accumulated types) — the
    first driver row exercising the reasoner end-to-end."""
    from graphula_spark.graph import Graph
    from graphula_spark.operators.rdfs import (
        RDF_TYPE,
        RDFS_DOMAIN,
        RDFS_RANGE,
        RDFS_SUBCLASS,
        RDFS_SUBPROP,
    )

    cust = spark.read.parquet(f"{sf}/customer.parquet")
    ck = F.concat(F.lit("customer:"), F.col("c_custkey").cast("string"))
    seg = F.concat(F.lit("seg:"), F.col("c_mktsegment"))
    nat = F.concat(F.lit("nation:"), F.col("c_nationkey").cast("string"))
    data = cust.select(
        ck.alias("s"), F.lit(RDF_TYPE).alias("p"), seg.alias("o")
    ).unionByName(
        cust.select(ck.alias("s"), F.lit("inNation").alias("p"), nat.alias("o"))
    )
    seg_schema = (
        cust.select(seg.alias("s")).distinct()
        .select("s", F.lit(RDFS_SUBCLASS).alias("p"), F.lit("Segment").alias("o"))
    )
    static = spark.createDataFrame(
        [
            ("Segment", RDFS_SUBCLASS, "Thing"),
            ("inNation", RDFS_SUBPROP, "locatedIn"),
            ("locatedIn", RDFS_SUBPROP, "relatedTo"),
            ("inNation", RDFS_DOMAIN, "Customer"),
            ("locatedIn", RDFS_RANGE, "Place"),
        ],
        ["s", "p", "o"],
    )
    key = ("rdfs_base", sf)
    if key not in _GRAPH_CACHE:
        # the base graph (dictionary build) is shared across calls like
        # _graph's store, and its triples/dictionary are MATERIALIZED:
        # materialize() references the base in every rule's union
        # branch, so an unpinned lineage would re-scan + re-encode the
        # customer table once per rule. The timed surface is the
        # REASONER (materialize + decode), not re-encoding.
        base = Graph.from_string_triples(
            spark, data.unionByName(seg_schema).unionByName(static)
        )
        base.dictionary.df.persist().count()
        _GRAPH_CACHE[key] = Graph(
            spark,
            base.triples.localCheckpoint(eager=True),
            base.dictionary,
        )
    mg = _GRAPH_CACHE[key].materialize_rdfs()
    return mg.decode(mg.triples.select("s", "p", "o"), ["s", "p", "o"])


def q_rdfs_derive_events(spark, sf):
    """DATA-PROPORTIONAL inference driver row (VERDICT r8 #7): the
    `rdfs_closure` entry derives over the customer DIM, which the sf1
    replica copies rather than replicates — so the ×10 probe would
    measure identical data and it is excluded there. This entry
    triple-izes the EVENTS fact table (one rdf:type per event under a
    2-level type hierarchy) and returns the DERIVED-ONLY closure:
    derived rows scale 1:1 with events (2 type triples per event),
    giving the reasoner a standing ×10 regression row in the sf1
    probe (the tools/probe_r8/r9 shuffle claims get a wall-clock
    check every round). Oracle: the same closure in plain SQL —
    every event gains type Event and type Thing, every distinct
    event type gains the transitive subClassOf edge."""
    from graphula_spark.graph import Graph
    from graphula_spark.operators.rdfs import (
        RDF_TYPE,
        RDFS_SUBCLASS,
        derive_rdfs,
    )

    ev = spark.read.parquet(f"{sf}/events.parquet")
    subj = F.concat(F.lit("event:"), F.col("event_id").cast("string"))
    ety = F.concat(F.lit("etype:"), F.col("event_type"))
    data = ev.select(
        subj.alias("s"), F.lit(RDF_TYPE).alias("p"), ety.alias("o")
    )
    schema = (
        ev.select(ety.alias("s")).distinct()
        .select(
            "s", F.lit(RDFS_SUBCLASS).alias("p"), F.lit("Event").alias("o")
        )
        .unionByName(
            spark.createDataFrame(
                [("Event", RDFS_SUBCLASS, "Thing")], ["s", "p", "o"]
            )
        )
    )
    key = ("rdfs_events_base", sf)
    if key not in _GRAPH_CACHE:
        base = Graph.from_string_triples(spark, data.unionByName(schema))
        base.dictionary.df.persist().count()
        _GRAPH_CACHE[key] = Graph(
            spark,
            base.triples.localCheckpoint(eager=True),
            base.dictionary,
        )
    g = _GRAPH_CACHE[key]
    return g.decode(derive_rdfs(g), ["s", "p", "o"])


def q_rdfs_delete_maintain(spark, sf):
    """DECREMENTAL maintenance driver row (round 9,
    `Graph.delete_materialized_rdfs`): close the events type graph,
    then delete (a) every 'click' TYPE ASSERTION — not rederivable,
    they leave, while their derived Event/Thing memberships remain set
    members — and (b) every 'view' event's DERIVED Event membership —
    rederivable from the surviving view assertion, so they all come
    back. Result is row-exact materialize of (closure ∖ victims),
    which the oracle states in closed form: the full closure minus the
    click assertions."""
    from graphula_spark.graph import Graph
    from graphula_spark.operators.rdfs import (
        RDF_TYPE,
        RDFS_SUBCLASS,
        derive_rdfs,
    )

    ev = spark.read.parquet(f"{sf}/events.parquet")
    subj = F.concat(F.lit("event:"), F.col("event_id").cast("string"))
    ety = F.concat(F.lit("etype:"), F.col("event_type"))
    data = ev.select(
        subj.alias("s"), F.lit(RDF_TYPE).alias("p"), ety.alias("o")
    )
    schema = (
        ev.select(ety.alias("s")).distinct()
        .select(
            "s", F.lit(RDFS_SUBCLASS).alias("p"), F.lit("Event").alias("o")
        )
        .unionByName(
            spark.createDataFrame(
                [("Event", RDFS_SUBCLASS, "Thing")], ["s", "p", "o"]
            )
        )
    )
    key = ("rdfs_events_closed", sf)
    if key not in _GRAPH_CACHE:
        base = Graph.from_string_triples(spark, data.unionByName(schema))
        base.dictionary.df.persist().count()
        closed = Graph(
            spark,
            base.triples.select("s", "p", "o")
            .unionByName(derive_rdfs(base))
            .localCheckpoint(eager=True),
            base.dictionary,
        )
        _GRAPH_CACHE[key] = closed
    closed = _GRAPH_CACHE[key]
    victims = (
        ev.where(F.col("event_type") == "click").select(
            subj.alias("s"), F.lit(RDF_TYPE).alias("p"), ety.alias("o")
        )
        .unionByName(
            ev.where(F.col("event_type") == "view").select(
                subj.alias("s"),
                F.lit(RDF_TYPE).alias("p"),
                F.lit("Event").alias("o"),
            )
        )
    )
    out = closed.delete_materialized_rdfs(victims)
    return out.decode(
        out.triples.select("s", "p", "o"), ["s", "p", "o"]
    )


def q_pagerank(spark, sf):
    """PageRank driver row (operators/graph_analytics.py): 5 power
    iterations (d=0.85) over a 100-node graph whose edges are a ring
    (i -> i+1 mod 100, so NO node dangles and the recurrence is the
    plain formula) plus data-derived chords from the orders table.
    The DuckDB oracle unrolls the same 5 iterations as chained CTEs —
    an iterative DataFrame program checked value-exactly against
    closed-form SQL."""
    from graphula_spark.operators.graph_analytics import pagerank

    orders = spark.read.parquet(f"{sf}/orders.parquet")
    ring = spark.range(100).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 100).alias("dst")
    )
    chords = (
        orders.select(
            (F.col("o_custkey") % 100).alias("src"),
            (F.col("o_orderkey") % 100).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = ring.unionByName(chords).distinct()
    pr = pagerank(edges, n_iter=5, damping=0.85)
    return pr.select(
        F.col("node").cast("long").alias("node"),
        F.col("rank").cast("double").alias("rank"),
    )


def q_rdfs_suite(spark, sf):
    """The three reasoner driver rows folded into one part-keyed entry
    (round 10, VERDICT r9 #1: the driver records at most 50
    CORRECTNESS rows, and 53 entries had left the newest three with no
    driver-recorded oracle row). Parts: 'closure' = full ρdf
    materialization over the customer graph (was its own entry
    rounds 5-9), 'derive_events' = data-proportional derived-only
    closure over the events fact (still a separate bench key + sf1
    probe row), 'delete_maintain' = decremental maintenance via
    Graph.delete_materialized_rdfs (round 9's DRed analogue of the
    reference's insert-only Index.scala:61-78 path). Each part keeps
    its closed-form DuckDB oracle, UNION ALL'd under the same part
    literals."""
    c = q_rdfs_closure(spark, sf).select(
        F.lit("closure").alias("part"), "s", "p", "o"
    )
    d = q_rdfs_derive_events(spark, sf).select(
        F.lit("derive_events").alias("part"), "s", "p", "o"
    )
    m = q_rdfs_delete_maintain(spark, sf).select(
        F.lit("delete_maintain").alias("part"), "s", "p", "o"
    )
    return c.unionByName(d).unionByName(m)


def q_graph_iter(spark, sf):
    """Iterative graph operators in one kind-keyed row (round 10 fold
    of rel_pagerank into rel_graph_reach — VERDICT r9 #1): transitive
    closure + seeded reachability (string node columns a/b, rank NULL)
    and 5-iteration PageRank (a = node id as string, b NULL, exact
    double rank vs the unrolled-CTE oracle). Bench times the parts
    separately (rel_graph_reach / rel_pagerank keys) for
    round-over-round comparability."""
    reach = q_graph_reach(spark, sf).select(
        "kind", "a", "b", F.lit(None).cast("double").alias("rank")
    )
    pr = q_pagerank(spark, sf).select(
        F.lit("pagerank").alias("kind"),
        F.col("node").cast("string").alias("a"),
        F.lit(None).cast("string").alias("b"),
        F.col("rank"),
    )
    return reach.unionByName(pr)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # core engine (SURVEY §2: O4-O14, O18-O22 + §2.2 surface).
        # NOTE: the driver records at most 50 CORRECTNESS rows in
        # insertion order — keep this dict at <=50 entries; related
        # operators share a merged entry (see each q_* docstring for
        # the operator -> entry mapping, mirrored in SURVEY.md §8).
        "bgp_join": q_bgp_join,
        "bgp_star": q_bgp_star,
        "graph_probes": q_graph_probes,
        "sq_filter": q_filter,
        "sq_optional": q_optional,
        "sq_path_seq": q_sq_path_seq,
        "sq_set_ops": q_set_ops,
        "sq_order_limit": q_order_limit,
        "sq_groupby_agg": q_groupby_agg,
        "sq_having": q_having,
        "sq_agg_minmax": q_agg_minmax,
        "sq_bind": q_bind,
        "sq_values": q_values_undef,
        "sq_select_expr": q_select_expr,
        "sq_term_fns": q_term_fns,
        "sq_datetime_parts": q_datetime_parts,
        "sq_lineitem_agg": q_lineitem_agg,
        "sq_subquery": q_subquery,
        # extensions
        "dedup_exact": q_dedup_exact,
        "dedup_substr": q_dedup_substr,
        "dedup_minhash": q_dedup_minhash,
        "dedup_incremental": q_dedup_incremental,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "ann_cosine_topk": q_ann_cosine,
        "rel_importance": q_rel_importance,
        "ann_ivf_topk": q_ann_ivf,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_reps": q_dedup_embedding_reps,
        "events_stateful": q_events_stateful,
        "approx_distinct": q_approx_distinct,
        "text_profile": q_text_profile,
        "text_tfidf": q_text_tfidf,
        "text_decontam": q_text_decontam,
        "text_kgram_fp": q_text_kgram_fp,
        "text_scrub_pii": q_text_scrub_pii,
        "text_gopher": q_text_gopher,
        "text_pack_shards": q_text_pack_shards,
        "text_mix_sources": q_text_mix_sources,
        "rel_salted_agg": q_salted_agg,
        "mm_pipeline": q_mm_pipeline,
        "events_window": q_events_window,
        "events_window_stream": q_events_window_stream,
        "text_urls": q_text_urls,
        "events_temporal_join": q_events_temporal_join,
        # kind-keyed fold: closure + reach + pagerank (round 10)
        "rel_graph_reach": q_graph_iter,
        "rel_window_funcs": q_window_funcs,
        "rel_rollup": q_rollup,
        "dedup_clusters": q_dedup_clusters,
        # part-keyed fold: closure + derive_events + delete_maintain
        # (round 10 — exactly 50 entries, every one driver-recorded)
        "rdfs_suite": q_rdfs_suite,
    }


_SW_EN = "['the','and','of','to','a','in','is','it','that','was']"

_TOKENS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)"

_SHINGLES = """
CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
     ELSE list_distinct(list_transform(range(1, len(words) - 1),
          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
END
"""

_WORDS_SQL = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> len(t) > 0)"
)
_SHINGLES_SQL = _SHINGLES.replace("words", _WORDS_SQL)


def _simhash_oracle() -> str:
    """DuckDB SQL reproducing simhash_portable_pairs bit-for-bit: the
    60-bit md5-hex token hash is computable in both engines, and the
    4x15-bit pigeonhole blocking guarantees the Spark side returns ALL
    pairs within Hamming 3, so a plain all-pairs filter matches."""
    bit_sums = ",\n                 ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                    t -> len(t) > 0)) AS tok
          FROM documents
        ), h AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
        ), bits AS (
          SELECT doc_id, {bit_sums}
          FROM h GROUP BY doc_id
        ), fp AS (
          SELECT doc_id, CAST({fp_expr} AS BIGINT) AS fp FROM bits
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """


def _lsh_oracle() -> str:
    """DuckDB SQL reproducing lsh_bucket_topk(num_planes=4,
    multi_probe=3, bucket_dims=16): the deterministic hyperplane
    constants are generated by the same closed-form formula the Spark
    operator uses and inlined as literals."""
    import math

    planes = [
        [math.sin(0.7 * (p + 1) * (i + 1) + 0.13 * p) for i in range(16)]
        for p in range(4)
    ]

    def arr(plane):
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(ev[1:16], {arr(planes[p])}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    )
    return f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        b AS (SELECT vec_id, ev, ({bucket}) AS bucket FROM v),
        qp AS (
          SELECT vec_id AS query_id, ev AS qv,
                 unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4)]) AS bucket
          FROM b WHERE vec_id < 10
        ),
        cand AS (
          SELECT DISTINCT qp.query_id, n.vec_id AS neighbor_id
          FROM qp JOIN b n USING (bucket)
          WHERE n.vec_id <> qp.query_id
        ),
        scored AS (
          SELECT c.query_id, c.neighbor_id,
                 list_cosine_similarity(q.ev, n.ev) AS score,
                 row_number() OVER (PARTITION BY c.query_id
                                    ORDER BY list_cosine_similarity(q.ev, n.ev) DESC,
                                             c.neighbor_id ASC) AS rn
          FROM cand c JOIN v q ON q.vec_id = c.query_id
                      JOIN v n ON n.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, round(score, 4) AS score
        FROM scored WHERE rn <= 5
    """


_IVF_ORACLE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    c AS (SELECT vec_id AS cell, ev AS cv FROM v ORDER BY vec_id LIMIT 16),
    ad AS (
      SELECT v.vec_id, v.ev, c.cell,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY list_distance(v.ev, c.cv) ASC,
                                         c.cell ASC) AS rn
      FROM v CROSS JOIN c
    ),
    assigned AS (SELECT vec_id AS neighbor_id, ev AS nv, cell FROM ad WHERE rn = 1),
    probed AS (SELECT vec_id AS query_id, ev AS qv, cell
               FROM ad WHERE vec_id < 10 AND rn <= 4),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             list_cosine_similarity(p.qv, a.nv) AS score,
             row_number() OVER (PARTITION BY p.query_id
                                ORDER BY list_cosine_similarity(p.qv, a.nv) DESC,
                                         a.neighbor_id ASC) AS rn
      FROM probed p JOIN assigned a USING (cell)
      WHERE a.neighbor_id <> p.query_id
    )
    SELECT 'seed_topk' AS part, query_id, neighbor_id, round(score, 4) AS score
    FROM scored WHERE rn <= 5
    UNION ALL
    -- the KMeans production path's recall gate: Spark emits 1.0 only if
    -- measured mean recall@5 vs the exact operator is >= 0.6
    SELECT 'kmeans_recall', -1, -1, 1.0
    UNION ALL
    -- IVF x PQ probing all cells with exact re-rank and no candidate
    -- pruning must reproduce exact cosine top-5 value-exactly
    SELECT 'ivfpq_exact', query_id, neighbor_id, round(score, 4)
    FROM (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(n.embedding AS DOUBLE[])) AS score,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(n.embedding AS DOUBLE[])) DESC,
                        n.vec_id ASC) AS rn
      FROM embeddings q CROSS JOIN embeddings n
      WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id
    ) WHERE rn <= 5
    UNION ALL
    -- the realistic IVFADC operating point's recall gate (n_probe=4/16)
    SELECT 'ivfpq_recall', -1, -1, 1.0
"""


_IMPORTANCE_ORACLE = """
    WITH words AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS w
      FROM documents),
    grams AS (
      SELECT doc_id, lang,
             list_concat(w, CASE WHEN len(w) >= 2
               THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
               ELSE [] END) AS g
      FROM words),
    eb AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('42:' || unnest(g)), 1, 15))::BIGINT % 256 AS bucket
      FROM grams),
    raw_counts AS (SELECT bucket, count(*) AS n FROM eb GROUP BY 1),
    raw_tot AS (SELECT count(*) AS t FROM eb),
    tgt_counts AS (SELECT bucket, count(*) AS n FROM eb WHERE lang = 'de' GROUP BY 1),
    tgt_tot AS (SELECT count(*) AS t FROM eb WHERE lang = 'de'),
    ratio AS (
      SELECT COALESCE(r.bucket, t.bucket) AS bucket,
             ln((COALESCE(t.n, 0) + 1.0) / ((SELECT t FROM tgt_tot) + 256.0))
           - ln((COALESCE(r.n, 0) + 1.0) / ((SELECT t FROM raw_tot) + 256.0)) AS lr
      FROM raw_counts r FULL OUTER JOIN tgt_counts t ON r.bucket = t.bucket),
    per_doc AS (
      SELECT eb.doc_id, count(*) AS n_grams, sum(lr) AS logw
      FROM eb JOIN ratio USING (bucket) GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           round(COALESCE(p.logw, 0.0), 4) AS logw
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


#: the full RDFS vocabulary IRIs, embedded in the oracle SQL literals
_RDFS_CLOSURE_ORACLE = """
    WITH RECURSIVE base AS (
      SELECT 'customer:' || c_custkey AS s,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
             'seg:' || c_mktsegment AS o
      FROM customer
      UNION ALL
      SELECT 'customer:' || c_custkey, 'inNation', 'nation:' || c_nationkey
      FROM customer
      UNION ALL
      SELECT DISTINCT 'seg:' || c_mktsegment,
             'http://www.w3.org/2000/01/rdf-schema#subClassOf', 'Segment'
      FROM customer
      UNION ALL SELECT 'Segment',
             'http://www.w3.org/2000/01/rdf-schema#subClassOf', 'Thing'
      UNION ALL SELECT 'inNation',
             'http://www.w3.org/2000/01/rdf-schema#subPropertyOf', 'locatedIn'
      UNION ALL SELECT 'locatedIn',
             'http://www.w3.org/2000/01/rdf-schema#subPropertyOf', 'relatedTo'
      UNION ALL SELECT 'inNation',
             'http://www.w3.org/2000/01/rdf-schema#domain', 'Customer'
      UNION ALL SELECT 'locatedIn',
             'http://www.w3.org/2000/01/rdf-schema#range', 'Place'
    ), scc AS (
      SELECT s AS sub, o AS sup FROM base
      WHERE p = 'http://www.w3.org/2000/01/rdf-schema#subClassOf'
      UNION
      SELECT a.sub, b.o FROM scc a JOIN base b
        ON b.p = 'http://www.w3.org/2000/01/rdf-schema#subClassOf'
       AND a.sup = b.s
    ), spc AS (
      SELECT s AS sub, o AS sup FROM base
      WHERE p = 'http://www.w3.org/2000/01/rdf-schema#subPropertyOf'
      UNION
      SELECT a.sub, b.o FROM spc a JOIN base b
        ON b.p = 'http://www.w3.org/2000/01/rdf-schema#subPropertyOf'
       AND a.sup = b.s
    ), prop7 AS (
      SELECT t.s, c.sup AS p, t.o FROM base t JOIN spc c ON t.p = c.sub
    ), closed AS (
      SELECT s, p, o FROM base UNION ALL SELECT s, p, o FROM prop7
    ), dom2 AS (
      SELECT c.s AS s,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
             d.o AS o
      FROM closed c JOIN base d
        ON d.p = 'http://www.w3.org/2000/01/rdf-schema#domain' AND c.p = d.s
    ), rng3 AS (
      SELECT c.o AS s,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
             r.o AS o
      FROM closed c JOIN base r
        ON r.p = 'http://www.w3.org/2000/01/rdf-schema#range' AND c.p = r.s
    ), pre AS (
      SELECT s, p, o FROM base
      UNION ALL SELECT sub,
        'http://www.w3.org/2000/01/rdf-schema#subClassOf', sup FROM scc
      UNION ALL SELECT sub,
        'http://www.w3.org/2000/01/rdf-schema#subPropertyOf', sup FROM spc
      UNION ALL SELECT s, p, o FROM prop7
      UNION ALL SELECT s, p, o FROM dom2
      UNION ALL SELECT s, p, o FROM rng3
    ), types9 AS (
      SELECT t.s,
             'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
             c.sup AS o
      FROM pre t JOIN scc c
        ON t.p = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
       AND t.o = c.sub
    )
    SELECT DISTINCT s, p, o FROM (
      SELECT s, p, o FROM pre UNION ALL SELECT s, p, o FROM types9
    )
"""


def _pagerank_oracle() -> str:
    """Unrolled 5-iteration PageRank: DuckDB recursive CTEs cannot
    aggregate over the recursive relation, so each power iteration is
    one chained CTE (join edge list x previous ranks, sum per dst) —
    the exact recurrence pagerank() runs, with zero dangling mass by
    construction (every node carries a ring out-edge)."""
    head = """
    WITH edges AS (
      SELECT CAST(i AS BIGINT) AS src, CAST((i + 1) % 100 AS BIGINT) AS dst
      FROM range(100) t(i)
      UNION
      SELECT DISTINCT o_custkey % 100, o_orderkey % 100 FROM orders
      WHERE o_custkey % 100 <> o_orderkey % 100
    ), deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ),
    r0 AS (SELECT node, 1.0 / (SELECT COUNT(*) FROM nodes) AS rank FROM nodes)
    """
    iters = "".join(
        f""", r{k} AS (
      SELECT nd.node,
             0.15 / (SELECT COUNT(*) FROM nodes)
             + 0.85 * COALESCE(inf.inflow, 0) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, SUM(p.rank / dg.d) AS inflow
        FROM edges e
        JOIN r{k - 1} p ON p.node = e.src
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst
      ) inf ON inf.node = nd.node
    )"""
        for k in range(1, 6)
    )
    return head + iters + "\n    SELECT node, round(rank, 6) AS rank FROM r5"


def oracle_sql() -> dict[str, str]:
    return {
        "bgp_join": """
            SELECT c_name AS cname, n_name AS nname
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "bgp_star": """
            SELECT 'orders:' || o_orderkey AS o,
                   CAST(o_totalprice AS DOUBLE) AS price,
                   CAST(o_custkey AS BIGINT) AS cust
            FROM orders
            WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
        """,
        "graph_probes": """
            SELECT 'bgp_count' AS probe,
                   CAST(count(*) AS VARCHAR) AS v
            FROM orders WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT 'exists_probe',
                   CAST(EXISTS(SELECT 1 FROM customer WHERE c_custkey = 1) AS VARCHAR)
            UNION ALL
            SELECT 'value_count', CAST(count(DISTINCT c_custkey) AS VARCHAR)
            FROM customer
            UNION ALL
            SELECT 'dict_terms', CAST(count(*) AS VARCHAR) FROM (
              SELECT 'nation:' || n_nationkey AS v FROM nation
              UNION SELECT 'n_nationkey' UNION SELECT 'n_name' UNION SELECT 'n_regionkey'
              UNION SELECT CAST(n_nationkey AS VARCHAR) FROM nation
              UNION SELECT n_name FROM nation
              UNION SELECT CAST(n_regionkey AS VARCHAR) FROM nation
            )
            UNION ALL
            SELECT 'decode', c FROM (
              SELECT 'customer:' || c_custkey AS c FROM customer
              WHERE c_mktsegment = 'FURNITURE' ORDER BY 1 LIMIT 5
            )
            UNION ALL
            SELECT 'sparql_ask',
                   CAST(EXISTS(SELECT 1 FROM customer
                               WHERE c_mktsegment = 'FURNITURE') AS VARCHAR)
            UNION ALL
            SELECT 'values_scan', subj FROM (
              SELECT DISTINCT 'customer:' || c_custkey AS subj FROM customer
            )
            UNION ALL
            SELECT 'distinct_seg', seg FROM (
              SELECT DISTINCT c_mktsegment AS seg FROM customer
            )
        """,
        "sq_filter": """
            SELECT c_name AS name, CAST(c_acctbal AS DOUBLE) AS bal
            FROM customer WHERE c_acctbal > 5000
        """,
        "sq_optional": """
            SELECT c_name AS name, CAST(o_orderkey AS BIGINT) AS ok
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        """,
        "sq_path_seq": """
            SELECT c_name AS cn, n_name AS nname
            FROM customer JOIN nation ON n_nationkey = c_nationkey
        """,
        "sq_set_ops": """
            SELECT 'union' AS part, c_name AS name FROM customer
            WHERE c_mktsegment IN ('FURNITURE', 'MACHINERY')
            UNION ALL
            SELECT 'minus', c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            SELECT 'exists', c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "sq_order_limit": """
            SELECT c_name AS name, CAST(c_acctbal AS DOUBLE) AS bal
            FROM customer ORDER BY c_acctbal DESC, c_name LIMIT 10
        """,
        "sq_groupby_agg": """
            SELECT n_name AS nname, CAST(count(*) AS BIGINT) AS n,
                   round(avg(c_acctbal), 4) AS avg_bal
            FROM nation JOIN customer ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "sq_having": """
            SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n
            FROM customer WHERE c_acctbal > 5000
            GROUP BY c_mktsegment HAVING count(*) > 2
        """,
        "sq_agg_minmax": """
            SELECT c_mktsegment AS seg,
                   CAST(min(c_acctbal) AS DOUBLE) AS min_bal,
                   CAST(max(c_acctbal) AS DOUBLE) AS max_bal
            FROM customer GROUP BY c_mktsegment
        """,
        "sq_bind": """
            SELECT c_name AS name, round(c_acctbal * 0.1, 4) AS bonus,
                   CAST(trunc(c_acctbal) AS BIGINT) AS whole_bal
            FROM customer WHERE c_acctbal > 9000
        """,
        "sq_values": """
            SELECT c_name AS cname, c_mktsegment AS seg, n_name AS nname
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_mktsegment = 'FURNITURE'
            UNION ALL
            SELECT c_name AS cname, c_mktsegment AS seg, n_name AS nname
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_2'
        """,
        "sq_select_expr": """
            SELECT c_name AS name, c_mktsegment || '!' AS tagged
            FROM customer WHERE regexp_matches(c_name, 'Customer#00000000[0-4]$')
        """,
        "sq_subquery": """
            WITH top2 AS (
              SELECT c_nationkey AS k, count(*) AS n FROM customer
              GROUP BY 1 ORDER BY n DESC, c_nationkey LIMIT 2
            )
            SELECT c.c_name AS name, CAST(t.n AS BIGINT) AS n
            FROM customer c JOIN top2 t ON c.c_nationkey = t.k
        """,
        "sq_term_fns": """
            SELECT 'orders:' || o_orderkey AS o, c_name AS name,
                   md5(c_name) AS md, sha256(c_name) AS sha
            FROM orders JOIN customer ON c_custkey = o_custkey
        """,
        "sq_datetime_parts": """
            SELECT 'orders:' || o_orderkey AS o,
                   CAST(year(o_orderdate) AS DOUBLE) AS y,
                   CAST(month(o_orderdate) AS DOUBLE) AS m
            FROM orders WHERE o_orderstatus = 'F'
        """,
        "sq_lineitem_agg": """
            SELECT l_returnflag AS rf, l_linestatus AS ls,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(avg(l_extendedprice), 2) AS avg_price
            FROM lineitem GROUP BY 1, 2
        """,
        "dedup_exact": """
            SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
            ) GROUP BY text
        """,
        "dedup_substr": """
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ),
            occ0 AS (
              SELECT doc_id,
                     unnest(range(0, greatest(len(t) - 4, 0))) AS pos, t
              FROM toks
            ),
            occ AS (
              SELECT doc_id, pos,
                     array_to_string(t[pos+1 : pos+5], ' ') AS kg
              FROM occ0
            ),
            marked AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY kg) AS cnt,
                     row_number() OVER (PARTITION BY kg
                                        ORDER BY doc_id, pos) AS rn
              FROM occ
            ),
            dups AS (
              SELECT doc_id, pos AS s, pos + 4 AS e
              FROM marked WHERE cnt > 1 AND rn > 1
            ),
            isl AS (
              SELECT doc_id, s, e,
                     CASE WHEN s > coalesce(
                            max(e) OVER (PARTITION BY doc_id ORDER BY s
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), -2) + 1
                          THEN 1 ELSE 0 END AS brk
              FROM dups
            ),
            isl2 AS (
              SELECT doc_id, s, e,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS island
              FROM isl
            ),
            spans AS (
              SELECT doc_id, island, min(s) AS s, max(e) AS e,
                     count(*) AS npos
              FROM isl2 GROUP BY doc_id, island
            ),
            perdoc AS (
              SELECT doc_id, sum(npos) AS n_dup, count(*) AS n_spans
              FROM spans GROUP BY doc_id
            ),
            tokpos AS (
              SELECT doc_id, unnest(range(0, len(t))) AS i, t FROM toks
            ),
            kept AS (
              SELECT p.doc_id, p.i, p.t[p.i+1] AS tok FROM tokpos p
              WHERE NOT EXISTS (
                SELECT 1 FROM spans sp
                WHERE sp.doc_id = p.doc_id AND p.i BETWEEN sp.s AND sp.e)
            ),
            clean AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS ct,
                     count(*) AS nk
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(c.ct, '') AS clean_text,
                   CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_positions,
                   CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(c.nk, 0) AS BIGINT) AS n_tokens_kept
            FROM documents d
            LEFT JOIN perdoc pd USING (doc_id)
            LEFT JOIN clean c USING (doc_id)
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id,
                     substr(lower(trim(text)), 1, 16) AS blk,
                     {_SHINGLES_SQL} AS shingles
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / (len(a.shingles) + len(b.shingles)
                            - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
            FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / (len(a.shingles) + len(b.shingles)
                     - len(list_intersect(a.shingles, b.shingles))) >= 0.1
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE sh AS (
              SELECT doc_id,
                     substr(lower(trim(text)), 1, 16) AS blk,
                     {_SHINGLES_SQL} AS shingles
              FROM documents
            ),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                    / (len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles))) >= 0.1
            ),
            e AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach(node, lab) AS (
              SELECT a, a FROM e
              UNION
              SELECT e.a, r.lab FROM e JOIN reach r ON e.b = r.node
            ),
            comp AS (SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node),
            assigned AS (
              SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
            )
            SELECT doc_id, cluster_id,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
                   doc_id = cluster_id AS keep
            FROM assigned
        """,
        "dedup_minhash": f"""
            -- all-pairs exact truth: the LSH+verify pipeline finds
            -- exactly the pairs with true Jaccard >= 0.3 on this corpus
            -- (min true-pair Jaccard is 0.9; banded-miss probability at
            -- that similarity is ~2e-4 and the hashes are deterministic)
            WITH sh AS (
              SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / (len(a.shingles) + len(b.shingles)
                            - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / (len(a.shingles) + len(b.shingles)
                     - len(list_intersect(a.shingles, b.shingles))) >= 0.3
        """,
        "dedup_incremental": f"""
            -- exact cross-pairs truth (batch = doc_id%5==0 vs corpus):
            -- recall argument identical to dedup_minhash above
            WITH sh AS (
              SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents
            )
            SELECT a.doc_id AS id_new, b.doc_id AS id_corpus,
                   round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / (len(a.shingles) + len(b.shingles)
                            - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
            FROM sh a JOIN sh b
              ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
            WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / (len(a.shingles) + len(b.shingles)
                     - len(list_intersect(a.shingles, b.shingles))) >= 0.3
        """,
        "dedup_simhash": _simhash_oracle(),
        "ann_ivf_topk": _IVF_ORACLE
        + " UNION ALL SELECT 'lsh_topk' AS part, * FROM ("
        + _lsh_oracle()
        + ")",
        "rel_importance": _IMPORTANCE_ORACLE,
        "approx_distinct": """
            SELECT event_type,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                   true AS within_5pct
            FROM events GROUP BY event_type
        """,
        "ann_cosine_topk": """
            SELECT query_id, neighbor_id, round(score, 4) AS score FROM (
              SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(v.embedding AS DOUBLE[])) AS score,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(v.embedding AS DOUBLE[])) DESC,
                                v.vec_id ASC) AS rn
              FROM embeddings q, embeddings v
              WHERE q.vec_id < 10 AND v.vec_id <> q.vec_id
            ) WHERE rn <= 5
        """,
        "dedup_embedding": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 4) AS score
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.3
        """,
        "dedup_embedding_reps": """
            WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS u, b.vec_id AS v
                FROM embeddings a JOIN embeddings b
                  ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.3
            ), edges AS (
                SELECT u, v FROM pairs
                UNION ALL
                SELECT v AS u, u AS v FROM pairs
            ), reach(node, r) AS (
                SELECT u AS node, v AS r FROM edges
                UNION
                SELECT reach.node, edges.v
                FROM reach JOIN edges ON reach.r = edges.u
            )
            SELECT e.vec_id AS vec_id,
                   CAST(LEAST(e.vec_id, COALESCE(MIN(reach.r), e.vec_id))
                        AS BIGINT) AS representative
            FROM embeddings e LEFT JOIN reach ON reach.node = e.vec_id
            GROUP BY e.vec_id
        """,
        "events_stateful": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY user_id
        """,
        "text_profile": f"""
            WITH t AS (
              SELECT doc_id, text, {_TOKENS} AS toks,
                     CAST(len({_TOKENS}) AS INT) AS n_tokens,
                     CAST(length(text) AS INT) AS n_chars_m,
                     CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)
                       AS n_bpe_tokens,
                     round(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                           / greatest(length(text), 1), 4) AS punct_ratio,
                     round(CAST(len(list_filter({_TOKENS}, x -> list_contains({_SW_EN}, x))) AS DOUBLE)
                           / greatest(len({_TOKENS}), 1), 4) AS stopword_ratio_en
              FROM documents
            ), m AS (
              SELECT doc_id, text, n_tokens, n_chars_m, n_bpe_tokens,
                     punct_ratio, stopword_ratio_en,
                     len(toks) AS n,
                     CAST(list_aggregate(list_transform(toks, x -> strlen(x)), 'sum') AS DOUBLE)
                       / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_len,
                     len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein','nicht','mit','von','zu'], t))) AS de,
                     len(list_filter(toks, t -> list_contains({_SW_EN}, t))) AS en,
                     len(list_filter(toks, t -> list_contains(['el','la','los','las','y','es','un','una','en','que'], t))) AS es,
                     len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','dans','que','pour'], t))) AS fr
              FROM t
            ), ls AS (
              SELECT doc_id,
                     string_split(concat('== boilerplate banner ==', chr(10),
                                         text, chr(10),
                                         'footer ', CAST(doc_id % 7 AS VARCHAR)),
                                  chr(10)) AS arr
              FROM documents
            ), ln AS (
              SELECT doc_id, u.pos, u.line, lower(trim(u.line)) AS norm
              FROM ls,
                   UNNEST(list_transform(arr, (x, i) -> struct_pack(line := x, pos := i))) AS tt(u)
            ), heavy AS (
              SELECT norm FROM ln WHERE norm <> ''
              GROUP BY norm HAVING count(DISTINCT doc_id) >= 2
            ), tagged AS (
              SELECT ln.doc_id, ln.pos, ln.line, (h.norm IS NOT NULL) AS dup
              FROM ln LEFT JOIN heavy h ON ln.norm = h.norm
            ), dd AS (
              SELECT doc_id,
                     CAST(count(*) AS INT) AS n_lines,
                     CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS INT) AS n_boiler,
                     md5(coalesce(string_agg(CASE WHEN NOT dup THEN line END,
                                             chr(10) ORDER BY pos), '')) AS dd_fp
              FROM tagged GROUP BY doc_id
            ), ck AS (
              SELECT doc_id,
                     CASE WHEN len(toks) <= 0 THEN 0
                          ELSE greatest(1, CAST(ceil((len(toks) - 64) / 62.0) AS INT) + 1)
                     END AS n_chunks,
                     toks
              FROM t
            ), ch AS (
              SELECT doc_id, n_chunks,
                     md5(array_to_string(
                         list_transform(generate_series(0, n_chunks - 1),
                                        i -> array_to_string(list_slice(toks, i*62 + 1, i*62 + 64), ' ')),
                         chr(30))) AS chunk_fp
              FROM ck
            )
            SELECT m.doc_id, n_tokens, n_chars_m, n_bpe_tokens,
                   punct_ratio, stopword_ratio_en,
                   floor((
                       (CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 1.0 ELSE 0.0 END)
                     + (CASE WHEN n >= 10 THEN 1.0 ELSE CAST(n AS DOUBLE) / 10.0 END)
                     + (CASE WHEN punct_ratio <= 0.1 THEN 1.0
                             ELSE greatest(0.0, 1.0 - (punct_ratio - 0.1) * 5) END)
                     + least(stopword_ratio_en * 5.0, 1.0)
                     ) / 4.0 * 10000) / 10000 AS quality,
                   CASE
                     WHEN fr > de AND fr > en AND fr > es THEN 'fr'
                     WHEN es > de AND es > en THEN 'es'
                     WHEN en > de THEN 'en'
                     WHEN de > 0 THEN 'de'
                     ELSE 'und' END AS pred_lang,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
                   dd.n_lines, dd.n_boiler, dd.dd_fp,
                   ch.n_chunks, ch.chunk_fp
            FROM m JOIN dd ON m.doc_id = dd.doc_id
                   JOIN ch ON m.doc_id = ch.doc_id
        """,
        "text_tfidf": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
            terms AS (SELECT doc_id, unnest(tk) AS term FROM toks),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM terms GROUP BY doc_id, term),
            dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     floor(CAST(tf.tf AS DOUBLE)
                           * ln(CAST(n.n_docs AS DOUBLE) / dft.df_t)
                           * 10000) / 10000 AS tfidf
              FROM tf JOIN dft USING (term), n
            ), ranked AS (
              SELECT doc_id, term, tfidf,
                     CAST(row_number() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, term ASC) AS INT) AS rank
              FROM scored
            )
            SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
        """,
        "text_decontam": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
            g AS (
              SELECT DISTINCT doc_id, array_to_string(tk[i:i+7], ' ') AS gram
              FROM (SELECT doc_id, tk,
                           unnest(range(1, greatest(len(tk)-7, 0)+1)) AS i
                    FROM toks)
            ),
            bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0),
            tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
            hit AS (SELECT g.doc_id, count(*) AS n_hits
                    FROM g JOIN bench USING (gram) GROUP BY g.doc_id)
            SELECT 'ngram' AS part,
                   d.doc_id AS id,
                   CAST(coalesce(tot.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(hit.n_hits, 0) AS BIGINT) AS n_hits,
                   floor(CAST(coalesce(hit.n_hits, 0) AS DOUBLE)
                         / greatest(coalesce(tot.n_grams, 0), 1)
                         * 10000) / 10000 AS score,
                   floor(CAST(coalesce(hit.n_hits, 0) AS DOUBLE)
                         / greatest(coalesce(tot.n_grams, 0), 1)
                         * 10000) / 10000 >= 0.1 AS contaminated
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN tot ON d.doc_id = tot.doc_id
            LEFT JOIN hit ON d.doc_id = hit.doc_id
            UNION ALL
            SELECT 'semantic' AS part,
                   mx.vec_id AS id,
                   CAST(NULL AS BIGINT) AS n_grams,
                   CAST(NULL AS BIGINT) AS n_hits,
                   round(mx.m, 4) AS score,
                   mx.m >= 0.5 AS contaminated
            FROM (
              SELECT e.vec_id,
                     max(list_cosine_similarity(
                         CAST(e.embedding AS DOUBLE[]),
                         CAST(b.embedding AS DOUBLE[]))) AS m
              FROM embeddings e
              CROSS JOIN (SELECT embedding FROM embeddings
                          WHERE vec_id % 50 = 0) b
              GROUP BY e.vec_id
            ) mx
        """,
        "text_kgram_fp": """
            WITH g AS (
              SELECT doc_id,
                     regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
              FROM documents
            )
            SELECT DISTINCT doc_id AS id, md5(substr(norm, i, 8)) AS gram_hash
            FROM (
              SELECT doc_id, norm,
                     unnest(range(1, greatest(length(norm) - 7, 0) + 1)) AS i
              FROM g
            )
            WHERE md5(substr(norm, i, 8)) LIKE '0%'
        """,
        "text_scrub_pii": """
            SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      text || ' contact doc' || CAST(doc_id AS VARCHAR)
                           || '@example.com or visit https://ex.org/'
                           || CAST(doc_id AS VARCHAR),
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\\+?[0-9][0-9()\\-\\. ]{7,}[0-9]', '<PHONE>', 'g'),
                  'https?://[^\\s]+', '<URL>', 'g'),
                '\\b[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}\\b', '<CARD>', 'g')
              AS clean
            FROM documents
        """,
        "text_gopher": f"""
            WITH t AS (
              SELECT doc_id, {_TOKENS} AS tk FROM documents
            ), s AS (
              SELECT doc_id, tk, len(tk) AS n,
                     CASE WHEN len(tk) >= 2
                          THEN list_transform(range(1, len(tk)),
                                              i -> tk[i] || ' ' || tk[i+1])
                          ELSE [] END AS g
              FROM t
            ), sig AS (
              SELECT doc_id, n AS n_words,
                     floor(CAST(list_aggregate(list_transform(tk, x -> strlen(x)), 'sum') AS DOUBLE)
                           / greatest(n, 1) * 10000) / 10000 AS mean_word_len,
                     floor(CAST(len(list_distinct(tk)) AS DOUBLE)
                           / greatest(n, 1) * 10000) / 10000 AS distinct_word_frac,
                     floor(CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                           / greatest(n, 1) * 10000) / 10000 AS alpha_word_frac,
                     CASE WHEN len(g) > 0
                          THEN floor((1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)) * 10000) / 10000
                          ELSE 0.0 END AS dup_2gram_frac
              FROM s
            ), wc AS (
              SELECT doc_id, w, count(*) AS c
              FROM (SELECT doc_id, unnest(tk) AS w FROM t) GROUP BY doc_id, w
            ), top AS (
              SELECT doc_id, floor(CAST(max(c) AS DOUBLE) / sum(c) * 10000) / 10000 AS top_word_frac
              FROM wc GROUP BY doc_id
            )
            SELECT sig.doc_id, n_words, mean_word_len, distinct_word_frac,
                   alpha_word_frac, dup_2gram_frac,
                   coalesce(top_word_frac, 0.0) AS top_word_frac,
                   (n_words >= 5 AND n_words <= 100000
                    AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                    AND alpha_word_frac > 0.7 AND top_word_frac < 0.2
                    AND dup_2gram_frac < 0.4) AS gopher_pass
            FROM sig LEFT JOIN top USING (doc_id)
        """,
        "text_pack_shards": f"""
            WITH d AS (
              SELECT doc_id, lang, len({_TOKENS}) AS n_tokens FROM documents
            )
            SELECT doc_id, lang, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                                   ROWS UNBOUNDED PRECEDING)
                               - n_tokens) / 500.0) AS BIGINT) AS shard
            FROM d
        """,
        "rel_salted_agg": """
            SELECT event_type, round(sum(value), 4) AS value_sum,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS props_k_sum
            FROM events GROUP BY event_type
        """,
        "mm_pipeline": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   md5(text) AS digest,
                   CAST(((greatest(strlen(text) // 64, 1) - 1) // 10) + 1 AS BIGINT) AS n_frames,
                   CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                        WHEN 2 THEN 'jpeg'
                        ELSE (CASE WHEN doc_id % 8 = 3 THEN 'y4m'
                                   ELSE 'mjpeg' END) END AS detected,
                   CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 64 + 1 AS INT)
                        WHEN doc_id % 4 = 2 THEN CAST(doc_id % 40 + 1 AS INT)
                        WHEN doc_id % 4 = 3 THEN CAST(doc_id % 24 + 2 AS INT)
                   END AS width,
                   CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 48 + 1 AS INT)
                        WHEN doc_id % 4 = 2 THEN CAST(doc_id % 32 + 1 AS INT)
                        WHEN doc_id % 4 = 3 THEN CAST(doc_id % 16 + 2 AS INT)
                   END AS height,
                   CASE WHEN doc_id % 4 = 0 OR doc_id % 8 = 3
                          THEN CAST(doc_id % 256 AS DOUBLE)
                        WHEN doc_id % 4 = 2 OR doc_id % 8 = 7 THEN
                          -- flat 8x8 JPEG blocks carry only the DC term:
                          -- quality-90 luma DC quantizer is 3, and the
                          -- codec rounds half-up, so the decoded value is
                          -- clip(floor(floor(8(v-128)/3 + .5)*3/8 + 128.5))
                          -- (MJPEG-AVI frames are the same codec, so flat
                          -- video frames follow the same closed form)
                          least(255.0, greatest(0.0, floor(
                            floor(8 * (doc_id % 256 - 128) / 3.0 + 0.5)
                              * 3.0 / 8.0 + 128.5)))
                   END AS mean_pixel,
                   CASE WHEN doc_id % 4 = 1 THEN CAST(8000 AS INT) END AS sample_rate,
                   CASE WHEN doc_id % 4 = 1 THEN CAST(doc_id % 500 + 100 AS INT) END AS n_samples,
                   CASE WHEN doc_id % 4 = 1 THEN CAST(1000 AS INT) END AS max_amp,
                   CASE WHEN doc_id % 4 = 1 THEN CAST((doc_id % 500 + 99) // 4 AS INT) END AS n_zero_cross,
                   CASE WHEN doc_id % 4 = 3 THEN CAST(doc_id % 5 + 2 AS INT) END AS vid_frames
            FROM documents
        """,
        "events_window": """
            SELECT 'tumbling' AS wkind,
                   date_trunc('hour', ts) AS window_start,
                   event_type AS key,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'sliding', window_start, key, n_events,
                   CAST(NULL AS DOUBLE)
            FROM (
              -- naive-TIMESTAMP arithmetic only (see former
              -- events_window_sliding entry note)
              WITH starts AS (
                SELECT event_type,
                       date_trunc('hour', ts)
                         + CASE WHEN extract(minute FROM ts) >= 30
                                THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS w0
                FROM events
              ), cand AS (
                SELECT event_type, w0 AS window_start FROM starts
                UNION ALL
                SELECT event_type, w0 - INTERVAL 30 MINUTE FROM starts
              )
              SELECT window_start, event_type AS key,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM cand GROUP BY 1, 2
            )
            UNION ALL
            SELECT 'session', CAST(NULL AS TIMESTAMP),
                   CAST(user_id AS VARCHAR), n_events,
                   CAST(n_sessions AS DOUBLE)
            FROM (
              WITH g AS (
                SELECT user_id,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                            THEN 1 ELSE 0 END AS st
                FROM events
              )
              SELECT user_id, CAST(sum(st) AS BIGINT) AS n_sessions,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM g GROUP BY user_id
            )
        """,
        "events_window_stream": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "text_mix_sources": """
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 1000000
                  < CAST((CASE source WHEN 'src0' THEN 0.25
                                      WHEN 'src1' THEN 0.5
                                      WHEN 'src2' THEN 0.75
                                      ELSE 1.0 END) * 1000000 AS BIGINT)
            UNION ALL
            SELECT doc_id, 'split:' || (
              CASE WHEN u < 100000 THEN 'test'
                   WHEN u < 900000 THEN 'train'
                   ELSE 'val' END)
            FROM (SELECT doc_id,
                         ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                         % 1000000 AS u
                  FROM documents)
        """,
        "text_urls": """
            SELECT doc_id,
                   'https://' || source || CAST(doc_id % 5 AS VARCHAR)
                     || '.example.org'
                     || CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END
                     || '/p/' || CAST(doc_id AS VARCHAR)
                     || '?a=1&b=' || CAST(doc_id % 4 AS VARCHAR) AS url_norm,
                   'example.org' AS apex
            FROM documents
            WHERE doc_id % 3 <> 0
        """,
        "events_temporal_join": """
            WITH p AS (SELECT event_id, ts, user_id FROM events
                       WHERE event_type = 'purchase'),
            c AS (SELECT event_id AS click_id, ts, user_id FROM events
                  WHERE event_type = 'click'),
            bwd AS (
              SELECT p.event_id, p.user_id, p.ts AS pts, c.click_id, c.ts AS cts
              FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            ),
            fwd AS (
              SELECT p.event_id, p.user_id, p.ts AS pts, c.click_id, c.ts AS cts
              FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts <= c.ts
            ),
            r AS (
              SELECT p.event_id,
                     CAST((SELECT count(*) FROM events c
                           WHERE c.event_type = 'click' AND c.user_id = p.user_id
                             AND epoch(c.ts) >= epoch(p.ts) - 600
                             AND epoch(c.ts) <= epoch(p.ts) + 600) AS BIGINT) AS n_clicks_near
              FROM events p WHERE p.event_type = 'purchase'
            )
            SELECT 'profile' AS part, bwd.event_id, bwd.user_id, bwd.click_id,
                   r.n_clicks_near
            FROM bwd JOIN r USING (event_id)
            UNION ALL
            SELECT 'forward', event_id, user_id, click_id,
                   CAST(NULL AS BIGINT) FROM fwd
            UNION ALL
            SELECT 'fwd_tol', event_id, user_id,
                   CASE WHEN epoch_us(cts) - epoch_us(pts)
                             <= 86400000000 THEN click_id END,
                   CAST(NULL AS BIGINT) FROM fwd
            UNION ALL
            SELECT 'bwd_tol', event_id, user_id,
                   CASE WHEN epoch_us(pts) - epoch_us(cts)
                             <= 86400000000 THEN click_id END,
                   CAST(NULL AS BIGINT) FROM bwd
        """,
        "rel_graph_reach": f"""
            SELECT kind, a, b, CAST(NULL AS DOUBLE) AS rank FROM (
              WITH RECURSIVE edges AS (
                SELECT 'customer:' || c_custkey AS src, 'nation:' || c_nationkey AS dst
                FROM customer
                UNION ALL
                SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
              ), closure AS (
                SELECT src, dst FROM edges
                UNION
                SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src
              ), seeds(start) AS (VALUES ('customer:1'), ('customer:2'), ('nation:0')),
              reach AS (
                SELECT s.start, e.dst AS node FROM seeds s JOIN edges e ON e.src = s.start
                UNION
                SELECT r.start, e.dst FROM reach r JOIN edges e ON e.src = r.node
              )
              SELECT 'closure' AS kind, src AS a, dst AS b FROM (SELECT DISTINCT src, dst FROM closure)
              UNION ALL
              SELECT 'reach', start, node FROM (SELECT DISTINCT start, node FROM reach)
            )
            UNION ALL
            SELECT 'pagerank' AS kind, CAST(node AS VARCHAR) AS a,
                   CAST(NULL AS VARCHAR) AS b, rank
            FROM ( {_pagerank_oracle()} )
        """,
        "rel_window_funcs": """
            SELECT o_custkey, o_orderkey, o_totalprice, run_total FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
                     round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total
              FROM orders
            ) WHERE rn <= 3
        """,
        "rel_rollup": """
            SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                   round(sum(o_totalprice), 2) AS total, true AS sketch_ok
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            UNION ALL
            SELECT '__sketch', event_type, CAST(count(*) AS BIGINT),
                   round(sum(value), 4), true
            FROM events GROUP BY event_type
        """,
        "rdfs_suite": f"""
            SELECT 'closure' AS part, s, p, o FROM ( {_RDFS_CLOSURE_ORACLE} )
            UNION ALL
            SELECT 'derive_events' AS part, s, p, o FROM ( {_RDFS_DERIVE_EVENTS_ORACLE} )
            UNION ALL
            SELECT 'delete_maintain' AS part, s, p, o FROM ( {_RDFS_DELETE_MAINTAIN_ORACLE} )
        """,
    }


_RDFS_DERIVE_EVENTS_ORACLE = """
            WITH ev AS (
                SELECT DISTINCT
                    'event:' || CAST(event_id AS VARCHAR) AS s
                FROM events
            ), ty AS (
                SELECT DISTINCT 'etype:' || event_type AS t FROM events
            )
            SELECT s,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
                   'Event' AS o
            FROM ev
            UNION ALL
            SELECT s,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
                   'Thing' AS o
            FROM ev
            UNION ALL
            SELECT t AS s,
                   'http://www.w3.org/2000/01/rdf-schema#subClassOf' AS p,
                   'Thing' AS o
            FROM ty
        """

_RDFS_DELETE_MAINTAIN_ORACLE = """
            WITH ev AS (
                SELECT DISTINCT
                    'event:' || CAST(event_id AS VARCHAR) AS s,
                    'etype:' || event_type AS t,
                    event_type AS raw_t
                FROM events
            ), ty AS (
                SELECT DISTINCT 'etype:' || event_type AS t FROM events
            )
            -- surviving assertions: every (event, type, etype) EXCEPT
            -- the deleted click ones (not rederivable)
            SELECT s,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
                   t AS o
            FROM ev WHERE raw_t <> 'click'
            UNION ALL
            -- derived memberships stay set members (Event deletions on
            -- view events REDERIVE from the surviving view assertion)
            SELECT s,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
                   'Event' AS o
            FROM ev
            UNION ALL
            SELECT s,
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
                   'Thing' AS o
            FROM ev
            UNION ALL
            SELECT t AS s,
                   'http://www.w3.org/2000/01/rdf-schema#subClassOf' AS p,
                   'Event' AS o
            FROM ty
            UNION ALL
            SELECT t AS s,
                   'http://www.w3.org/2000/01/rdf-schema#subClassOf' AS p,
                   'Thing' AS o
            FROM ty
            UNION ALL
            SELECT 'Event' AS s,
                   'http://www.w3.org/2000/01/rdf-schema#subClassOf' AS p,
                   'Thing' AS o
        """
