#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "sf": ..., "errors": [...],
   "skipped": [...], "queries": {...}}

"errors" names each section that raised and each LUBM query whose row
count differs from its golden cardinality; "skipped" names each
section whose data is absent ("lubm" without the reference data).

Graph construction is reported as TWO always-comparable metrics:
"graph_build_s" (triple-ization + dictionary build + store write,
forced cold into a scratch dir every run) and "graph_load" (pure open
of the persisted store + planner stats). Both stay out of the headline
total, which times queries over warmed stores — matching how the
reference's JMH suite loads LUBM once per trial
(benchmarks/.../LubmGraphula.scala:23-34).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from graphula_spark.session import get_spark  # noqa: E402

# headline subset: engine joins/aggs + every extension family
HEADLINE = [
    "bgp_join",
    "bgp_star",
    "graph_probes",
    "sq_filter",
    "sq_optional",
    # round 13: the BIND-join-back shape sat at 279 s (all-nullable
    # compat join -> BNLJ) for rounds with no bench key to expose it;
    # tracked from now on (3.5 s after the pivot decomposition)
    "sq_term_fns",
    "sq_groupby_agg",
    "sq_lineitem_agg",
    "sq_order_limit",
    "sq_set_ops",
    "dedup_exact",
    "dedup_substr",
    "dedup_minhash",
    "dedup_incremental",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "rel_importance",
    "dedup_embedding",
    # dedup_embedding_reps is sf1-probed only: its connected-components
    # collapse pays ~6 iterative job floors (~2.5s fixed at ANY toy
    # scale) — the mode exists for high duplicate-multiplicity corpora
    # where pair emission is the bottleneck, which is exactly what the
    # x10 section measures (pairs grow 23x there; reps stay output-flat)
    "events_stateful",
    "rel_graph_reach",
    "text_tfidf",
    "text_decontam",
    "text_mix_sources",
    "text_profile",
    "mm_pipeline",
    "events_window",
    "text_urls",
    "events_temporal_join",
    "rel_window_funcs",
    "rdfs_closure",
    "rdfs_derive_events",
    "rel_pagerank",
]


#: timed passes per query, median reported (min/max to stderr). Four
#: rounds of single-sample ±30% noise produced watch-list churn every
#: round (VERDICT r4-r7); the median of 3 warm passes removes the
#: scheduler/GC tail that caused it. SPARK_GRAFT_RUNS=1 restores the
#: old single-sample behavior for quick iteration.
TIMED_RUNS = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))


def timed_median(run, warmup: int, name: str) -> tuple[float, int]:
    """(median wall-time, row count) of TIMED_RUNS calls of `run()`
    (a thunk that executes the query and returns its row count), after
    `warmup` untimed calls. Prints per-query median + spread to
    stderr."""
    n = 0
    for _ in range(warmup):
        n = run()
    samples = []
    for _ in range(TIMED_RUNS):
        t0 = time.perf_counter()
        n = run()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    med = samples[len(samples) // 2]
    spread = (
        f" (min {samples[0]:.2f} max {samples[-1]:.2f}, n={TIMED_RUNS})"
        if TIMED_RUNS > 1
        else ""
    )
    print(f"# {name}: {n} rows in {med:.2f}s{spread}", file=sys.stderr)
    return med, n


def _ds_reduce_thunk(spark, sf_dir: str):
    """Data-proportional `Dataset.reduce_rdfs` probe (VERDICT r9 #6):
    the events fact triple-ized into two CLOSED data graphs (each event
    asserts type etype/Event/Thing) against a pre-closed shared
    ontology graph — reduction must strip the two derivable rows per
    event from each graph. The Dataset BUILD (dictionary encode) runs
    once outside the timed thunk; the thunk times reduce + count, the
    recurring cost a nightly compaction would pay."""
    from pyspark.sql import functions as F

    from graphula_spark.dataset import Dataset
    from graphula_spark.operators.rdfs import RDF_TYPE, RDFS_SUBCLASS

    ONTO, G1, G2 = "g:onto", "g:a", "g:b"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    subj = F.concat(F.lit("event:"), F.col("event_id").cast("string"))
    ety = F.concat(F.lit("etype:"), F.col("event_type"))
    gcol = F.when(F.col("event_id") % 2 == 0, F.lit(G1)).otherwise(F.lit(G2))
    t = F.lit(RDF_TYPE).alias("p")
    data = (
        ev.select(subj.alias("s"), t, ety.alias("o"), gcol.alias("g"))
        .unionByName(
            ev.select(subj.alias("s"), t, F.lit("Event").alias("o"),
                      gcol.alias("g"))
        )
        .unionByName(
            ev.select(subj.alias("s"), t, F.lit("Thing").alias("o"),
                      gcol.alias("g"))
        )
    )
    sc = F.lit(RDFS_SUBCLASS).alias("p")
    types = ev.select(ety.alias("t")).distinct()
    onto = (
        types.select(F.col("t").alias("s"), sc, F.lit("Event").alias("o"),
                     F.lit(ONTO).alias("g"))
        .unionByName(
            types.select(F.col("t").alias("s"), sc,
                         F.lit("Thing").alias("o"), F.lit(ONTO).alias("g"))
        )
        .unionByName(
            spark.range(0, 1, 1, 1).select(
                F.lit("Event").alias("s"), sc, F.lit("Thing").alias("o"),
                F.lit(ONTO).alias("g")
            )
        )
    )
    ds = Dataset.from_string_quads(spark, data.unionByName(onto))
    ds.quads.persist().count()
    ds.dictionary.df.persist().count()

    def run():
        return ds.reduce_rdfs(ontology=ONTO).quads.count()

    return run


def _timed_cold_build(spark, sf_dir: str) -> float:
    """Build both shared stores (triple-ized TPC-H star + lineitem)
    from raw parquet into a throwaway scratch dir and time it — the
    always-cold counterpart of the warm-open `graph_load` metric."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from graphula_spark.graph import Graph
    from graphula_spark.sources.relational import (
        lineitem_to_triples,
        load_tpch_graph,
    )

    scratch = tempfile.mkdtemp(prefix="graphula_bench_build_")

    def build_tpch():
        load_tpch_graph(spark, sf_dir, cache=False).save(f"{scratch}/tpch")

    def build_lineitem():
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        Graph.from_string_triples(
            spark, lineitem_to_triples(df), cache=False,
            assume_distinct=True,
        ).save(f"{scratch}/lineitem")

    t0 = time.perf_counter()
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(build_tpch), pool.submit(build_lineitem)]:
                f.result()
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = get_spark("graphula-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = dict(entry_mod.queries())
    # bench-only keys (round 10): the driver correctness surface folds
    # these into part-keyed entries (rdfs_suite, rel_graph_reach) to
    # fit the 50-row CORRECTNESS cap, but the bench times each part
    # separately so per-key history stays comparable round-over-round
    queries["rel_graph_reach"] = entry_mod.q_graph_reach
    queries["rdfs_closure"] = entry_mod.q_rdfs_closure
    queries["rdfs_derive_events"] = entry_mod.q_rdfs_derive_events
    queries["rel_pagerank"] = entry_mod.q_pagerank
    queries["text_decontam"] = entry_mod.q_text_decontam_ngram
    from concurrent.futures import ThreadPoolExecutor

    # store BUILD, forced cold into a scratch dir every run: the old
    # single "graph_load" number included the build only when the /tmp
    # store marker was absent, so round-over-round values compared a
    # warm open against a cold build (VERDICT r5 #4). Build and open
    # are now separate, always-comparable metrics.
    graph_build_s = _timed_cold_build(spark, sf_dir)

    # ensure the canonical stores exist (untimed — may be warm), then
    # time the pure OPEN path: Graph.load + planner stats
    with ThreadPoolExecutor(max_workers=2) as pool:
        # the two shared graphs build CONCURRENTLY (thread-safe session;
        # their shuffle stages interleave on idle cores) — same trick a
        # multi-tenant cluster uses to hide independent ETL latencies
        futs = [
            pool.submit(entry_mod._graph, spark, sf_dir),
            pool.submit(entry_mod._lineitem_graph, spark, sf_dir),
        ]
        for f in futs:
            f.result()
    entry_mod._GRAPH_CACHE.pop(("tpch", sf_dir), None)
    entry_mod._GRAPH_CACHE.pop(("lineitem", sf_dir), None)
    t0 = time.perf_counter()
    entry_mod._graph(spark, sf_dir)
    entry_mod._lineitem_graph(spark, sf_dir)
    graph_load = time.perf_counter() - t0

    # JMH-style warmup (the reference's suite uses JMH @Warmup
    # iterations, benchmarks/.../LubmGraphula.scala): one untimed pass
    # warms codegen caches, broadcast builds and AQE stats before the
    # timed pass. Set SPARK_GRAFT_WARMUP=0 for cold numbers.
    warmup = int(os.environ.get("SPARK_GRAFT_WARMUP", "1"))
    # EVERY entry gets the warm pass (round 4): profiling showed the
    # cold-vs-warm delta on the compute-bound entries is JVM JIT
    # compilation of interpreted HOF lambdas (dedup_minhash: 7.6s cold
    # vs 2.1s warm with identical plans), which is exactly the one-off
    # JMH @Warmup exists to exclude. dedup_incremental's warm pass
    # additionally builds its persisted index (one-time cost, like
    # graph_load), so its timed pass measures the recurring O(batch)
    # probe.

    # local per-query job floor: scheduling + result fetch for a no-op
    # job on a cached 1-row DF — the irreducible latency every
    # sub-second query pays on local[32]; recorded so residuals like
    # lubm_q8/q9 are attributable (VERDICT r3 #3)
    floor_df = spark.range(1).persist()
    floor_df.count()
    samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        floor_df.count()
        samples.append(time.perf_counter() - t0)
    floor_s = sorted(samples)[len(samples) // 2]
    floor_df.unpersist()
    print(f"# floor: {floor_s*1000:.0f}ms per no-op job", file=sys.stderr)

    per_query: dict[str, float] = {}
    # what failed (a section's exception, a golden-cardinality
    # mismatch) and what could not run (absent data) — both ride in
    # the compact line, so a failure never shows only on stderr
    errors: list[str] = []
    skipped: list[str] = []
    total = 0.0
    for name in HEADLINE:
        fn = queries[name]
        dt, _ = timed_median(
            lambda fn=fn: fn(spark, sf_dir).count(), warmup, name
        )
        per_query[name] = round(dt, 3)
        total += dt

    # PQ ADC top-k (round 12): train + encode run ONCE outside the
    # timed thunk (the fit-once / query-many contract, same pattern as
    # _ds_reduce_thunk's untimed build); the timed pass measures the
    # recurring cost — ADC scoring over the code table + exact re-rank
    # of the surviving candidates
    try:
        from graphula_spark.operators.ann import pq_encode, pq_topk, pq_train

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        emb_id, emb_vec = "vec_id", "embedding"
        dim = len(emb.select(emb_vec).first()[0])
        pq_m = 8 if dim % 8 == 0 else 4
        pq_model = pq_train(
            emb, id_col=emb_id, vec_col=emb_vec, m=pq_m, k_centroids=64
        )
        pq_codes = pq_encode(emb, pq_model, id_col=emb_id, vec_col=emb_vec)
        pq_codes.persist().count()
        pq_queries = emb.limit(8)

        def run_pq():
            return pq_topk(
                pq_codes, pq_queries, pq_model, id_col=emb_id,
                vec_col=emb_vec, k=10, rerank_vectors=emb,
            ).count()

        dt, _ = timed_median(run_pq, warmup, "ann_pq_topk")
        per_query["ann_pq_topk"] = round(dt, 3)
        total += dt
        pq_codes.unpersist()
    except Exception as e:  # pragma: no cover - defensive
        print(f"# ann_pq_topk failed: {e}", file=sys.stderr)
        errors.append("ann_pq_topk")

    # Dataset.reduce_rdfs probe (VERDICT r9 #6): multi-graph
    # inference-aware compression over the events fact — the ×10
    # regression row lives in the sf1 section below
    run_reduce = _ds_reduce_thunk(spark, sf_dir)
    dt, _ = timed_median(run_reduce, warmup, "ds_reduce_rdfs")
    per_query["ds_reduce_rdfs"] = round(dt, 3)
    total += dt

    per_query["graph_build_s"] = round(graph_build_s, 3)
    per_query["graph_load"] = round(graph_load, 3)

    # relational-analytics counterpart: the TPC-H-style join suite over
    # the native parquet tables (DuckDB-parity-tested in tests/test_tpch.py)
    from graphula_spark import tpch

    for name, fn in sorted(tpch.QUERIES.items()):
        dt, _ = timed_median(
            lambda fn=fn: fn(spark, sf_dir).count(), warmup, name
        )
        per_query[name] = round(dt, 3)
        total += dt

    # bucketed-catalog A/B (round 12, VERDICT r11 #7): the co-bucketed
    # lineitem/orders copies existed and were plan-tested but the bench
    # only ever timed the plain-parquet path. Register them and re-time
    # the three orderkey-join queries (q3/q18/q21) so the record carries
    # the bucketed-vs-plain delta every round. The one-time bucketed
    # write is cached in /tmp across runs (re-attached via the meta
    # file, like the graph stores) and reported as bucketed_build_s,
    # excluded from sections/total like the other build keys.
    try:
        bkt_loc = "/tmp/graphula_tpch_bucketed/" + sf_dir.strip("/").replace("/", "_")
        t0 = time.perf_counter()
        if os.path.exists(f"{bkt_loc}/_bucket_meta.json"):
            tpch.register_bucketed(spark, bkt_loc)
        else:
            tpch.save_bucketed(spark, sf_dir, bkt_loc, prefix="benchbkt")
        per_query["bucketed_build_s"] = round(time.perf_counter() - t0, 3)
        for qname in ("tpch_q3", "tpch_q18", "tpch_q21"):
            fn = tpch.QUERIES[qname]
            dt, _ = timed_median(
                lambda fn=fn: fn(spark, sf_dir).count(),
                warmup,
                qname.replace("tpch_", "bucketed_"),
            )
            per_query[qname.replace("tpch_", "bucketed_")] = round(dt, 3)
            total += dt
    except Exception as e:  # pragma: no cover - defensive
        print(f"# bucketed tpch A/B failed: {e}", file=sys.stderr)
        errors.append("bucketed")
    finally:
        tpch.BUCKETED.pop(sf_dir, None)

    # LUBM — the reference's own benchmark: its FULL 14-query suite
    # (benchmarks/.../lubm/LubmGraphula.scala:48-131) over the committed
    # LUBM(1) dataset, with golden-cardinality verification per query.
    import glob

    from graphula_spark.graph import Graph
    from graphula_spark.lubm import EXPECTED_ROWS, PREFIXES, QUERIES

    lubm_paths = sorted(glob.glob("/root/reference/benchmarks/data/university0_*.nt"))
    if lubm_paths:
        # interactive small-graph mode: sub-second queries over a fully
        # cached 285k-triple graph gain nothing from AQE's runtime
        # re-planning (each adaptive round is an extra scheduling hop,
        # ~0.15s/query here); a 100 TB store session keeps AQE on
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        t0 = time.perf_counter()
        g = Graph.from_ntriples(spark, lubm_paths)
        n_triples = g.triples.count()
        g.stats  # planner stats, computed once like the reference's
        load_s = time.perf_counter() - t0
        per_query["lubm_load"] = round(load_s, 3)
        print(
            f"# lubm_load: {n_triples} triples, {n_triples/load_s:,.0f} triples/s",
            file=sys.stderr,
        )
        for n in sorted(QUERIES):
            qtext = PREFIXES + QUERIES[n]
            name = f"lubm_q{n}"
            dt, rows = timed_median(
                lambda q=qtext: g.sparql(q).count(), warmup, name
            )
            per_query[name] = round(dt, 3)
            total += dt
            if rows != EXPECTED_ROWS[n]:
                print(
                    f"# {name}: ** EXPECTED {EXPECTED_ROWS[n]}, "
                    f"got {rows} **",
                    file=sys.stderr,
                )
                errors.append(name)
        g.triples.unpersist()
        g.dictionary.df.unpersist()
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    else:
        skipped.append("lubm")
    # ~sf1 scale probe (×10 replication of sf0.1, facts key-shifted,
    # dims fixed): tracks wall-clock ratios round-over-round instead of
    # in ROADMAP prose. Cached in /tmp across runs; SPARK_GRAFT_SF1=0
    # skips it, and any failure degrades to sf1=null rather than
    # killing the main JSON line.
    sf1_section = None
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and sf == 0.1:
        try:
            sf1_section = run_sf1_probe(spark, sf_dir, queries, warmup)
        except Exception as e:  # pragma: no cover - defensive
            print(f"# sf1 probe failed: {e}", file=sys.stderr)
            errors.append("sf1")

    full = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sections": section_sums(per_query),
        "sf": sf,
        "warmup_iters": warmup,
        "timed_runs": TIMED_RUNS,
        "floor_s": round(floor_s, 3),
        "store_bytes": store_sizes(sf_dir),
        "sf1": sf1_section,
        "errors": errors,
        "skipped": skipped,
    }
    # The driver archives only the LAST 2000 stdout chars; rounds 4-12
    # lost every alphabetically-early query key to that window because
    # this line carried sections/store_bytes/sf1 inline (VERDICT r12
    # "What's missing" #1). Full record -> BENCH_local.json + stderr;
    # stdout gets one compact line (metric/value/unit/sf/floor/errors/
    # skipped/queries) with a hard length guard so the archive parses
    # again.
    side = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    try:
        with open(side, "w") as f:
            json.dump(full, f, indent=1)
    except OSError as e:  # pragma: no cover - read-only checkout
        print(f"# BENCH_local.json not written: {e}", file=sys.stderr)
    print("# full record (sections/store_bytes/sf1): "
          + json.dumps(full), file=sys.stderr)
    compact = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "floor_s": round(floor_s, 3),
        "errors": errors,
        "skipped": skipped,
        "queries": per_query,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:  # ms precision is enough for the archive
        compact["queries"] = {k: round(v, 2) for k, v in per_query.items()}
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1990:  # last resort: never exceed the tail window
        kept = {k: round(v, 2) for k, v in per_query.items() if v >= 0.05}
        compact["queries"] = kept
        # make the truncation visible in the archive: a fast query
        # regressing past 0.05s would otherwise appear as a "new" key
        # rather than a delta (ADVICE r13)
        compact["dropped_fast_keys"] = len(per_query) - len(kept)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


#: per-family prefixes for the sections rollup — regressions then
#: localize to a family without spreadsheet work (VERDICT r4 #10).
#: Load times (graph_build_s / graph_load / lubm_load) are store
#: builds/opens and stay out of every section, like the headline total.
_SECTIONS = {
    "graph_sparql": ("bgp_", "sq_", "graph_probes", "rdfs_"),
    "lubm": ("lubm_q",),
    "tpch": ("tpch_",),
    "bucketed": ("bucketed_q",),
    "dedup_ann": ("dedup_", "ann_"),
    "text_mm": ("text_", "mm_"),
    "events_rel": ("events_", "rel_"),
}


def section_sums(per_query: dict) -> dict:
    out = {}
    seen = set()
    for section, prefixes in _SECTIONS.items():
        names = [
            q
            for q in per_query
            if any(q.startswith(p) for p in prefixes)
            and q not in ("graph_load", "graph_build_s", "lubm_load", "bucketed_build_s")
        ]
        out[section] = round(sum(per_query[q] for q in names), 3)
        seen.update(names)
    leftovers = set(per_query) - seen - {
        "graph_load",
        "graph_build_s",
        "lubm_load",
        "bucketed_build_s",
    }
    if leftovers:
        out["other"] = round(sum(per_query[q] for q in leftovers), 3)
    return out


def store_sizes(sf_dir: str) -> dict:
    """On-disk bytes per persisted store component for THIS run's
    scale factor (the storage side of the 100 TB story: triples vs
    dictionary). Missing paths are skipped."""
    sizes: dict[str, int] = {}
    want = sf_dir.strip("/").replace("/", "_")

    def du(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    base = "/tmp/graphula_store"
    if os.path.isdir(base):
        for tag in os.listdir(base):
            if not tag.startswith(want):
                continue
            for comp in ("triples", "dict"):
                p = os.path.join(base, tag, comp)
                if os.path.isdir(p):
                    sizes[f"{tag}/{comp}"] = du(p)
    return sizes


#: queries probed at ~sf1 — the shuffle/join-heavy families where a
#: scale pathology would show first (the round-3 ad-hoc probe list)
SF1_QUERIES = [
    "sq_lineitem_agg",
    "sq_groupby_agg",
    "bgp_join",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "rel_importance",
    "dedup_embedding",
    # the output-bounded twin: pair emission is quadratic in duplicate
    # multiplicity (23x at x10 replication) while reps output stays one
    # row per input — wall-clock here is LINEAR in data (one shuffle of
    # the vector payloads for the exact collapse), the honest scale
    # claim the x10 section checks (VERDICT r8 #5's motivation)
    "dedup_embedding_reps",
    "rel_graph_reach",
    "events_temporal_join",
    # relational fact-join shapes (x10 facts, fixed dims): the orderkey
    # shuffle join, the HAVING-agg-then-join, and the double-correlated
    # semi/anti pair — where a broadcast mistake or shuffle blowup
    # would show first
    "tpch_q3",
    "tpch_q18",
    "tpch_q21",
    # round 8: the partsupp-bearing shapes — q9 is the join-heaviest
    # query in the suite (two facts on a composite key + an orderkey
    # join), q2 the correlated-min; both must hold at x10 facts
    "tpch_q2",
    "tpch_q9",
    # rdfs_closure deliberately NOT probed here: its driver entry
    # derives over the customer DIM, which the sf1 replica copies
    # rather than replicates, so the x10 run would measure identical
    # data. The DATA-PROPORTIONAL inference row is rdfs_derive_events
    # (events fact, key-shifted x10 -> x10 derived rows); the byte-level
    # scale evidence is 10 MB vs 359 MB shuffled at 20M triples
    # (`git show efe3c4f:tools/probe_r8.py`) and, for the OWL delta,
    # 3 MB vs 2.5 GB (`git show efe3c4f:tools/probe_r9.py`).
    "rdfs_derive_events",
]

SF1_COPIES = 10
SF1_KEY_OFFSET = 10_000_000


def ensure_sf1(spark, base_dir: str, out_dir: str = "/tmp/graphula_sf1") -> str:
    """Replicate the sf0.1 tables ×10 into /tmp (TPC-H style: dims
    copied, facts key-shifted so join fan-outs stay realistic). Cached
    across runs via a _DONE marker."""
    import shutil

    from pyspark.sql import functions as F

    done = f"{out_dir}/_DONE"
    if os.path.exists(done):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    dims = ["region", "nation", "customer", "supplier", "part"]
    shifts = {
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey"],
        "events": ["event_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for t in dims:
        src = f"{base_dir}/{t}.parquet"
        if os.path.exists(src):
            spark.read.parquet(src).write.mode("overwrite").parquet(
                f"{out_dir}/{t}.parquet"
            )
    for t, keys in shifts.items():
        src = f"{base_dir}/{t}.parquet"
        if not os.path.exists(src):
            continue
        df = spark.read.parquet(src)
        copies = []
        for i in range(SF1_COPIES):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * SF1_KEY_OFFSET))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
    with open(done, "w") as fh:
        fh.write("ok")
    return out_dir


def run_sf1_probe(spark, base_dir, queries, warmup) -> dict:
    from graphula_spark import tpch

    t0 = time.perf_counter()
    sf1_dir = ensure_sf1(spark, base_dir)
    prep_s = time.perf_counter() - t0
    out: dict[str, float] = {}
    for name in SF1_QUERIES:
        fn = queries.get(name) or tpch.QUERIES[name]
        dt, _ = timed_median(
            lambda fn=fn: fn(spark, sf1_dir).count(), warmup, f"sf1 {name}"
        )
        out[name] = round(dt, 3)
    # Dataset.reduce_rdfs at ×10 events (VERDICT r9 #6): the standing
    # multi-graph compression regression row
    run_reduce = _ds_reduce_thunk(spark, sf1_dir)
    dt, _ = timed_median(run_reduce, warmup, "sf1 ds_reduce_rdfs")
    out["ds_reduce_rdfs"] = round(dt, 3)
    return {"queries": out, "prep_s": round(prep_s, 3), "copies": SF1_COPIES}


if __name__ == "__main__":
    main()
