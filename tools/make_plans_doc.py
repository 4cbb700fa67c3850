import io, re, sys
from graphula_spark.session import get_spark
import __spark_entry__ as E
from pyspark.sql import functions as F

spark = get_spark("plans"); spark.sparkContext.setLogLevel("ERROR")
sf = "/root/testdata/sf0.1"
g = E._graph(spark, sf)

def plan_of(df):
    return df._jdf.queryExecution().executedPlan().toString()

out = []
out.append("""# PLANS — physical-plan audit (sf0.1, captured by tooling)

Evidence that the engine produces the plans the 100 TB design intends:
pushed filters, partition pruning, broadcast joins, no stray shuffles.
Regenerate with: `PYTHONPATH=. python tools/make_plans_doc.py` (writes
this file).
""")

# 1. bound-predicate pattern scan
from graphula_spark.plans.bgp import TriplePattern, Var
X, Y = Var("X"), Var("Y")
scan = g.execute_bgp([TriplePattern(X, "c_acctbal", Y)])
p = plan_of(scan)
fs = [l.strip() for l in p.splitlines() if "FileScan" in l][0]
out.append("## 1. Bound-predicate pattern scan\n")
out.append("`?x <c_acctbal> ?y` — predicate filter pushed into the parquet scan; `p_bucket` partition filter prunes 63/64 of the store before IO:\n")
keep = re.search(r"(DataFilters: \[[^\]]*\])", fs)
part = re.search(r"(PartitionFilters: \[[^\]]*\])", fs)
out.append("```")
out.append(keep.group(1) if keep else "(DataFilters not found)")
out.append(part.group(1) if part else "(PartitionFilters not found)")
out.append("```\n")

# 2. 4-pattern BGP join
df = E.q_bgp_star(spark, sf); df.count()
p = plan_of(df)
n_bhj = p.count("BroadcastHashJoin")
n_smj = p.count("SortMergeJoin")
n_ex = p.count("Exchange hashpartitioning")
out.append("## 2. Multi-pattern BGP (bgp_star, 4 patterns + 2 decodes)\n")
out.append(f"```\nBroadcastHashJoin: {n_bhj}   SortMergeJoin: {n_smj}   shuffle Exchanges: {n_ex}\n```\n")
out.append("Every join broadcasts (pattern scans are small after pushdown); zero shuffles end-to-end.\n")

# 3. lineitem-scale aggregation
df = E.q_lineitem_agg(spark, sf); df.count()
p = plan_of(df)
out.append("## 3. Lineitem-scale BGP aggregation (6.6M triples)\n")
partial = "partial" in p.lower() or "HashAggregate" in p
out.append(f"```\nHashAggregate stages: {p.count('HashAggregate')} (partial + final — map-side combine before the shuffle)\nBroadcastHashJoin: {p.count('BroadcastHashJoin')}   SortMergeJoin: {p.count('SortMergeJoin')}\n```\n")

# 4. dedup minhash — no shuffle in signatures
from graphula_spark.operators.dedup import minhash_signatures
docs = spark.read.parquet(f"{sf}/documents.parquet")
sig = minhash_signatures(docs, "doc_id", "text")
p = plan_of(sig)
out.append("## 4. MinHash signatures\n")
out.append(f"```\nExchanges: {p.count('Exchange')} (single repartition of the 5k-doc scan; zero aggregation shuffles — signatures are per-row array folds)\n```\n")

# 5. bucketed-dictionary decode join (round 2): force the bucketed
# branch and show the id_bucket partition column riding the join
import graphula_spark.dictionary as D

saved_thresh = D.Dictionary.BUCKETED_DECODE_MIN_ROWS
D.Dictionary.BUCKETED_DECODE_MIN_ROWS = 0
try:
    dec = g.execute_bgp_decoded([TriplePattern(X, "c_name", Y)])
    dec.count()
    p = plan_of(dec)
    has_bucket = "id_bucket" in p
    dyn = "dynamicpruning" in p.lower()
    out.append("## 5. Decode join past the bucketed-decode gate (id-bucketed dict layout)\n")
    out.append(
        f"```\njoin key includes id_bucket partition column: {has_bucket}\n"
        f"dynamic partition pruning expression present: {dyn}\n```\n"
    )
    out.append(
        "Past the bucketed-decode gate, the decode join carries "
        "`pmod(id, 64)` so the dict scan prunes to the buckets the result "
        "ids hit — the whole dictionary is never shuffled.\n"
    )
finally:
    D.Dictionary.BUCKETED_DECODE_MIN_ROWS = saved_thresh

# 6. lineitem triple-izer — no global sort (round-2 fix)
from graphula_spark.sources.relational import lineitem_to_triples

li = spark.read.parquet(f"{sf}/lineitem.parquet")
p = plan_of(lineitem_to_triples(li))
n_single = p.count("SinglePartition")
out.append("## 6. Lineitem triple-izer subject assignment\n")
out.append(
    f"```\nExchange SinglePartition stages: {n_single}\n"
    f"Window partitioned by full row (hash-distributed): {'Window' in p}\n```\n"
)
out.append(
    "Round 1 used an unpartitioned row_number (global sort through one "
    "task); subjects are now a 128-bit full-row hash + per-duplicate-group "
    "sequence — the only shuffle is hash-partitioned by the full row.\n"
)

# 7. gopher signals — two-stage keyed aggregation for top-word share
gp = E.q_text_gopher(spark, sf)
gp.count()
p = plan_of(gp)
out.append("## 7. Gopher signals (top-word share)\n")
out.append(
    f"```\nHashAggregate stages: {p.count('HashAggregate')} "
    f"(partial+final on (doc,word), then (doc))\n"
    f"SortMergeJoin: {p.count('SortMergeJoin')}   "
    f"BroadcastHashJoin: {p.count('BroadcastHashJoin')}\n```\n"
)
out.append(
    "Per-doc array signals are JVM higher-order functions (no shuffle); "
    "only the top-word share explodes to (doc, word) and aggregates on "
    "bounded keys.\n"
)

# 8. hash-encode load path — no join against the dictionary
from graphula_spark.graph import Graph

enc_src = spark.createDataFrame(
    [("s1", "p1", "o1"), ("s2", "p1", "o2")], ["s", "p", "o"]
)
g8 = Graph.from_string_triples(spark, enc_src, cache=False)
p = plan_of(g8.triples)
out.append("## 8. Dictionary encode is a pure map (round 3)\n")
out.append(
    "Triple load encodes ids as `xxhash64(term)` directly (the "
    "reference's hash-is-the-id contract, Dictionary.scala:34-37) with "
    "a broadcast patch only when collisions exist — the encoded-triples "
    "plan contains NO join against the dictionary:\n"
)
out.append(
    f"```\nxxhash64 present: {'xxhash64' in p}\n"
    f"joins in encode plan: SortMergeJoin={p.count('SortMergeJoin')} "
    f"BroadcastHashJoin={p.count('BroadcastHashJoin')} "
    f"ShuffledHashJoin={p.count('ShuffledHashJoin')}\n```\n"
)
out.append(
    "At 100 TB this removes three full-data shuffle joins from every "
    "load; the dictionary is consulted only for decode and for the "
    "(collected-once, ~always empty) collision exception set.\n"
)

# 9. stats-driven skew join (synthetic skewed graph, thresholds lowered)
import graphula_spark.plans.bgp as B

_t, _m = B.SKEW_HOT_THRESHOLD, B.SKEW_MIN_RESULT_EST
B.SKEW_HOT_THRESHOLD, B.SKEW_MIN_RESULT_EST = 50, 1
try:
    rows = [
        (f"e{i}", "memberOf", "BigGroup" if i < 90 else f"g{i % 5}")
        for i in range(100)
    ]
    g9 = Graph.from_string_triples(
        spark, spark.createDataFrame(rows, ["s", "p", "o"]), cache=False
    )
    df9 = g9.execute_bgp(
        [TriplePattern(X, "memberOf", Var("Z")), TriplePattern(Y, "memberOf", Var("Z"))]
    )
    df9.count()
    p = plan_of(df9)
finally:
    B.SKEW_HOT_THRESHOLD, B.SKEW_MIN_RESULT_EST = _t, _m
out.append("## 9. Stats-driven skew join (round 3; thresholds lowered to force it)\n")
out.append(
    "Self-join on a variable whose top value holds 90% of the rows: the "
    "planner splits hot keys (salted across partitions) from cold keys "
    "(plain join) using the (p,o) heavy-hitter stats:\n"
)
out.append(
    f"```\nsalt column in plan: {'__salt' in p}\n"
    f"hot+cold Union present: {'Union' in p}\n```\n"
)
out.append(
    "Production thresholds target multi-million-row hot keys; AQE "
    "skew-join stays enabled as the runtime safety net.\n"
)

# 10. tf-idf — bounded-key aggs + single-row broadcast for N
df10 = E.q_text_tfidf(spark, sf)
df10.count()
p = plan_of(df10)
out.append("## 10. TF-IDF top-k (round 3)\n")
out.append(
    f"```\nHashAggregate stages: {p.count('HashAggregate')} "
    f"((doc,term) tf, term df — both map-side combinable)\n"
    f"corpus size N joined via broadcast: "
    f"{'BroadcastNestedLoopJoin' in p or 'BroadcastExchange' in p}\n"
    f"Exchange SinglePartition stages: {p.count('SinglePartition')} "
    f"(the one-row N aggregate only)\n```\n"
)
out.append(
    "Per-doc top-k is a window over doc_id (hash-distributed); the df_t "
    "side is vocabulary-sized, so no stage scales with corpus size "
    "except the linear scans.\n"
)

# 11. decontamination — broadcast bench-gram probe
df11 = E.q_text_decontam(spark, sf)
df11.count()
p = plan_of(df11)
out.append("## 11. Benchmark decontamination (round 3)\n")
out.append(
    f"```\nBroadcastHashJoin: {p.count('BroadcastHashJoin')} "
    f"(bench gram set broadcast to the doc-gram stream)\n"
    f"SortMergeJoin: {p.count('SortMergeJoin')}\n```\n"
)
out.append(
    "The eval set is distinct-reduced then broadcast; the corpus side "
    "streams through a map-side hash probe + per-doc agg — nothing "
    "all-pairs, corpus scanned once.\n"
)

# 12b. named-graph view — the g filter rides into the quad scan
from graphula_spark.dataset import Dataset

quad_rows = [
    ("http://ex/a", "http://ex/p", "http://ex/b", "http://ex/g1"),
    ("http://ex/c", "http://ex/p", "http://ex/d", "http://ex/g2"),
    ("http://ex/x", "http://ex/p", "http://ex/y", None),
]
from pyspark.sql.types import StringType, StructField, StructType

sch = StructType([StructField(c, StringType(), True) for c in ("s", "p", "o", "g")])
ds = Dataset.from_string_quads(spark, spark.createDataFrame(quad_rows, sch), cache=False)
import tempfile

dsp = tempfile.mkdtemp(prefix="plans_ds_")
ds.save(dsp)
ds_loaded = Dataset.load(spark, dsp)
view = ds_loaded.graph("http://ex/g1")
pv = plan_of(view.triples)
out.append("## 12b. Named-graph view (round 3)\n")
out.append(
    "A `GRAPH <iri>` view over a persisted quad dataset is a filter on "
    "the encoded g id — pushed into the parquet scan, never a copy:\n"
)
gfilter = "PushedFilters" in pv and "g" in pv
out.append(
    f"```\ng filter present in scan stage: {gfilter}\n"
    f"joins to build the view: {pv.count('Join')}\n```\n"
)

# 12. corpus mixing — pure map-side filter
df12 = E.q_text_mix_sources(spark, sf)
df12.count()
p = plan_of(df12)
out.append("## 12. Corpus mixing / weighted sampling (round 3)\n")
out.append(
    f"```\nExchanges: {p.count('Exchange')}   joins: "
    f"{p.count('Join')}   (hash-threshold filter evaluated per-row "
    f"in the scan stage)\n```\n"
)

# 13. line-level dedup — heavy-line set broadcast, no self-join
from graphula_spark.operators.text import chunk_documents, line_dedup
from graphula_spark.operators.relational import shuffle_deterministic

docs = spark.read.parquet(f"{sf}/documents.parquet")
df13 = line_dedup(docs, "doc_id", "text")
df13.count()
p = plan_of(df13)
out.append("## 13. Corpus line-level dedup (round 3)\n")
out.append(
    f"```\nBroadcastHashJoin: {p.count('BroadcastHashJoin')} "
    f"(heavy-line set broadcast as an anti-join probe)\n"
    f"SortMergeJoin: {p.count('SortMergeJoin')}   "
    f"CartesianProduct: {p.count('Cartesian')}\n```\n"
)
out.append(
    "The boilerplate-line set is power-law tiny, so dropping heavy "
    "lines is a map-side broadcast anti-join over the exploded line "
    "stream; reassembly is one per-doc hash-agg. No self-join, no "
    "global sort.\n"
)

# 14. chunking — zero shuffles, scan-speed
df14 = chunk_documents(docs, "doc_id", "text", chunk_size=64, overlap=2)
df14.count()
p = plan_of(df14)
out.append("## 14. Token-window chunking (round 3)\n")
out.append(
    f"```\nExchanges: {p.count('Exchange')}   joins: {p.count('Join')} "
    f"(per-row array ops + posexplode only)\n```\n"
)

# 15. deterministic epoch shuffle — range exchange, no single partition
df15 = shuffle_deterministic(docs, "doc_id", seed=3)
df15.count()
p = plan_of(df15)
has_range = "rangepartitioning" in p.lower()
has_single = "SinglePartition" in p
out.append("## 15. Deterministic epoch shuffle (round 3)\n")
out.append(
    f"```\nrange partitioning: {has_range}   "
    f"SinglePartition stages: {has_single}\n```\n"
)
out.append(
    "orderBy(xxhash64(seed, id)) compiles to sampled range boundaries "
    "+ per-partition sort — a distributed total order, reseedable per "
    "epoch, no serialization point.\n"
)

# 16. bucketed-layout star join — planner-routed, zero exchanges
import graphula_spark.plans.bgp as bgp_mod
from graphula_spark.graph import Graph as _G
from graphula_spark.plans.bgp import TriplePattern as _TP, Var as _V

_rows = [
    (f"http://ex/s{i}", p, f"http://ex/o{i}_{p[-1]}")
    for i in range(500)
    for p in ("http://ex/p1", "http://ex/p2")
]
_g16 = _G.from_string_triples(
    spark, spark.createDataFrame(_rows, ["s", "p", "o"]), cache=False
)
_loc16 = tempfile.mkdtemp(prefix="plans_bkt_")
_g16.save_bucketed_table("plans_bucketed_t", _loc16, s_buckets=8)
_gb16 = _G.from_bucketed_table(spark, "plans_bucketed_t")
_old_thresh = bgp_mod.BUCKETED_SCAN_MIN_EST
_old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
try:
    bgp_mod.BUCKETED_SCAN_MIN_EST = 0  # force the big-big regime locally
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    _df16 = _gb16.execute_bgp(
        [_TP(_V("x"), "http://ex/p1", _V("a")), _TP(_V("x"), "http://ex/p2", _V("b"))]
    )
    _df16.count()
    p = plan_of(_df16)
    out.append("## 16. Subject-bucketed star join (round 3)\n")
    out.append(
        "Both pattern scans forced past the broadcast threshold; the "
        "planner reads the s-bucketed table copy, so the s = s join "
        "co-partitions:\n"
    )
    out.append(
        f"```\nSortMergeJoin: {p.count('SortMergeJoin')}   "
        f"shuffle Exchanges: {p.count('Exchange')}\n```\n"
    )
    out.append(
        "At 100 TB this is the regime where broadcast is impossible and "
        "a plain join would shuffle both multi-TB sides; bucketing "
        "moves that cost to write time, once.\n"
    )
finally:
    bgp_mod.BUCKETED_SCAN_MIN_EST = _old_thresh
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _old_bcast)
    spark.sql("DROP TABLE IF EXISTS plans_bucketed_t")
    spark.sql("DROP TABLE IF EXISTS plans_bucketed_t_dict")

# 17. substring span dedup — bounded-key shuffles only
from graphula_spark.operators.dedup import substring_dedup

docs17 = spark.read.parquet(f"{sf}/documents.parquet")
df17 = substring_dedup(docs17.select("doc_id", "text"), "doc_id", "text", 5)
df17.count()
p = plan_of(df17)
out.append("## 17. Cross-document substring span dedup (continuation)\n")
out.append(
    f"```\nExchanges: {p.count('Exchange')}   Window stages: {p.count('Window')}\n"
    f"SinglePartition stages: {p.count('SinglePartition')}\n```\n"
)
out.append(
    "Every shuffle keys on (kgram hash, kgram) or doc_id — bounded, "
    "skew-resistant keys; span merge is windows per doc; the text "
    "rebuild is array HOFs. No global stage anywhere.\n"
)

# 18. incremental MinHash index probe — corpus is scanned, never shuffled
from graphula_spark.operators.dedup import MinHashIndex
import os as _os, shutil as _shutil

_idxp = "/tmp/plans_mh_idx"
_shutil.rmtree(_idxp, ignore_errors=True)
corpus18 = docs17.where(F.col("doc_id") % 5 != 0)
batch18 = docs17.where(F.col("doc_id") % 5 == 0)
idx18 = MinHashIndex.build(corpus18.select("doc_id", "text"), "doc_id", "text", _idxp)
q18 = idx18.query(batch18.select("doc_id", "text"), "doc_id", "text", 0.3)
q18.count()
p = plan_of(q18)
out.append("## 18. Incremental MinHash index probe (continuation)\n")
out.append(
    f"```\nBroadcastHashJoin: {p.count('BroadcastHashJoin')}   "
    f"SortMergeJoin: {p.count('SortMergeJoin')}\n"
    f"index bands scan partition-pruned by band: "
    f"{'band' in p and 'PartitionFilters' in p}\n```\n"
)
out.append(
    "The ingest batch is the broadcast side everywhere it meets index "
    "data: the corpus index is only scanned (band-partitioned parquet), "
    "never shuffled — dedup-on-ingest stays O(batch) at any corpus size.\n"
)

# 19. TPC-H q3 — fact side never broadcast
from graphula_spark import tpch as _tpch

df19 = _tpch.q3_shipping_priority(spark, sf)
df19.count()
p = plan_of(df19)
_li_scan_prefix = p.split("lineitem.parquet")[0].rsplit("FileScan", 1)[-1]
out.append("## 19. TPC-H Q3: fact-side broadcast protection (continuation)\n")
out.append(
    f"```\nShuffledHashJoin on o_orderkey: {'ShuffledHashJoin [o_orderkey' in p}\n"
    f"lineitem scan under a BroadcastExchange: "
    f"{'BroadcastExchange' in _li_scan_prefix}\n```\n"
)
out.append(
    "Catalyst's filter-selectivity estimate can put the FACT table under "
    "the broadcast threshold (observed live at the x10 probe: an 11s "
    "multi-million-row hashed-relation build, an OOM at cluster scale); "
    "the accumulated dim side is hinted shuffle_hash so lineitem always "
    "streams. AQE may still upgrade the small side from ACTUAL sizes.\n"
)

# 20. TPC-H co-bucketed facts — orderkey joins without shuffles
import shutil as _sh

_bloc = "/tmp/plans_tpch_bucketed"
_sh.rmtree(_bloc, ignore_errors=True)
_tpch.save_bucketed(spark, sf, _bloc, prefix="plans_tpch", buckets=32)
try:
    df20 = _tpch.q12_shipping_priority_mix(spark, sf)
    df20.count()
    p = plan_of(df20)
    out.append("## 20. TPC-H q12 over co-bucketed facts (round 4)\n")
    out.append(
        f"```\nBucketed scans: {p.count('Bucketed: true')}   "
        f"Exchanges: {p.count('Exchange')}\n```\n"
    )
    out.append(
        "save_bucketed writes lineitem+orders bucketed on the orderkey "
        "(one file per bucket, in-bucket sort); the orderkey join then "
        "co-partitions with ZERO shuffle — the only Exchange left is the "
        "final 3-group combine. The orders x lineitem shuffle is the "
        "suite's largest exchange at 100 TB; this layout pays it once at "
        "load, like the reference's insert-time permutation index "
        "(Index.scala:61-78).\n"
    )
finally:
    del _tpch.BUCKETED[sf]
    for _t_ in ("plans_tpch_lineitem", "plans_tpch_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {_t_}")

# 21. DSIR importance weights — broadcast model, one doc-keyed shuffle
from graphula_spark.operators.importance import importance_weights as _iw

_docs21 = spark.read.parquet(f"{sf}/documents.parquet")
_tgt21 = _docs21.where(F.col("lang") == "de").limit(200)
df21 = _iw(_docs21, _tgt21, "doc_id", "text", 1024, 11)
df21.count()
p = plan_of(df21)
out.append("## 21. DSIR importance weights (round 4)\n")
out.append(
    f"```\nBroadcastHashJoin: {p.count('BroadcastHashJoin')}   "
    f"SortMergeJoin: {p.count('SortMergeJoin')}\n```\n"
)
out.append(
    "The log-ratio model is built DRIVER-side from the two collected "
    "<=B-row bucket-count models (one corpus pass each) and broadcast "
    "onto the exploded n-gram stream; the only shuffle keyed by data "
    "volume is the final groupBy(doc_id) partial+final sum. Corpus "
    "size scales the map side only.\n"
)

# 22. RDFS materialization — broadcast rules, no data shuffle
import glob as _glob

_lubm = sorted(_glob.glob("/root/reference/benchmarks/data/university0_*.nt"))[:3]
if _lubm:
    from graphula_spark.graph import Graph as _G

    _g22 = _G.from_ntriples(spark, _lubm)
    _mg22 = _g22.materialize_rdfs()
    _mg22.triples.count()
    p = plan_of(_mg22.triples)
    out.append("## 22. RDFS ρdf materialization (round 4)\n")
    out.append(
        f"```\nBroadcastHashJoin: {p.count('BroadcastHashJoin')}   "
        f"SortMergeJoin: {p.count('SortMergeJoin')}   "
        f"cached base reused per rule branch (InMemoryTableScan): "
        f"{p.count('InMemoryTableScan')}\n```\n"
    )
    out.append(
        "Every inference rule is a broadcast join against a "
        "driver-closed schema relation (ontologies are KBs forever) over "
        "the CACHED base-triples scan, which every rule branch reuses; "
        "the only data-sized shuffle is the final set-semantics dedup. "
        "The stratified pass (properties -> domain/range -> classes) "
        "reaches the ρdf fixpoint in ONE sweep — no iterate-until-stable "
        "loop over 100 TB.\n"
    )

# 23. url_dedup — null keys routed around the window; hot keys bounded
from graphula_spark.operators.urls import url_dedup as _ud

_d23 = spark.createDataFrame(
    [(1, "https://a.com/x", "d"), (2, "junk", "d")],
    ["doc_id", "url", "fetch_date"],
)
df23 = _ud(_d23, "url", prefer_col="fetch_date")
p = plan_of(df23)
op = df23._jdf.queryExecution().optimizedPlan().toString()
out.append("## 23. url_dedup null-split + hot-key bound (round 5)\n")
out.append(
    f"```\nwindows in plan: {op.count('windowspecdefinition')} "
    f"(null-canonical branch has NONE — filter+union routes nulls "
    f"around the exchange)\nWindowGroupLimit nodes: "
    f"{p.count('WindowGroupLimit')} (partial below the Exchange + "
    f"final above)\n```\n"
)
out.append(
    "Unparseable URLs (null canonical) would all hash to ONE shuffle "
    "partition; the split keeps them out of the window entirely. For "
    "hot canonical keys (a viral URL with millions of aliases) the "
    "partial WindowGroupLimit below the exchange ships at most one row "
    "per key per map task — probed at x100 with one URL = 20% of rows: "
    "3.3 s warm, no straggler.\n"
)

# 24. MinHashIndex.query — two BHJs against one shingles scan
from graphula_spark.operators.dedup import MinHashIndex as _MHI

_docs24 = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
_idx_path = "/tmp/graphula_plans_minhash_idx"
import os as _os

if not _os.path.exists(f"{_idx_path}/_meta.json"):
    _MHI.build(
        _docs24.where(F.col("doc_id") % 5 != 0), "doc_id", "text", _idx_path
    )
_idx24 = _MHI.load(spark, _idx_path)
df24 = _idx24.query(
    _docs24.where(F.col("doc_id") % 5 == 0), "doc_id", "text", 0.3
)
df24.count()
p = plan_of(df24)
out.append("## 24. Incremental MinHash probe, fused verify (round 5)\n")
out.append(
    f"```\nBroadcastHashJoin: {p.count('BroadcastHashJoin')}   "
    f"SortMergeJoin: {p.count('SortMergeJoin')}\n```\n"
)
out.append(
    "The round-5 restructure: candidate pairs AND batch shingles both "
    "broadcast into ONE pass over the corpus shingles scan (two BHJs, "
    "one stage) — the former persist + semi-join + two-join chain was "
    "~7 sequential jobs of pure orchestration. The corpus index is "
    "still only scanned, never shuffled; warm probe 2.2 s -> ~1.3 s at "
    "sf0.1.\n"
)

# 25. PSL apex grouping — constant-folded rule map
from graphula_spark.operators.urls import PublicSuffixList as _PSL

_psl = _PSL.from_text("com\nco.uk\ngithub.io\n*.ck\n!www.ck\n")
df25 = spark.range(3).select(
    _psl.registered_domain(F.lit("a.b.example.co.uk")).alias("apex")
)
op25 = df25._jdf.queryExecution().optimizedPlan().toString()
out.append("## 25. Public Suffix List apex grouping (round 5)\n")
out.append(
    f"```\nstr_to_map in optimized plan: "
    f"{'yes' if 'str_to_map' in op25 else 'NO — folded to a literal map at plan time'}\n```\n"
)
out.append(
    "The full PSL (~15k rules) compiles into ONE str_to_map literal; "
    "ConstantFolding evaluates it once at plan time, so per-row apex "
    "extraction is K constant-time map probes — no broadcast join, no "
    "shuffle, no Python, scan-speed like every other URL column op.\n"
)

# 26. PageRank iteration — one join + one agg per round
from graphula_spark.operators.graph_analytics import pagerank as _pr

_e26 = spark.range(100).select(
    F.col("id").alias("src"), ((F.col("id") + 1) % 100).alias("dst")
)
df26 = _pr(_e26, n_iter=2)
p = plan_of(df26)
out.append("## 26. PageRank power iteration (round 5 driver row)\n")
out.append(
    f"```\nfinal-iteration plan reads the PREVIOUS round from a "
    f"checkpoint (no lineage growth): "
    f"{'yes' if 'Scan ExistingRDD' in p else 'no'}\n```\n"
)
out.append(
    "Each iteration is one edge-list join + one dst-keyed aggregation; "
    "per-round localCheckpoint cuts lineage so round N's plan is "
    "O(1), not O(N) (the cluster.py lesson). Driver row rel_pagerank "
    "checks 5 rounds value-exactly against unrolled-CTE SQL.\n"
)

open("/root/repo/PLANS.md", "w").write("\n".join(out))
print("written")
