#!/usr/bin/env python
"""Standing plan-signature sweep (VERDICT r13 #1, institutionalizing the
round-13 find: `sq_term_fns` hid a 281 s single-task
BroadcastNestedLoopJoin for ~9 rounds because no bench key ever timed
it).

For EVERY `queries()` entry (plus the bench-only keys) AND the public
API surfaces with no bench coverage (`Dataset.sparql` with `GRAPH ?g`,
`run_pipeline` full-chain, `Graph.smush_sameas`, `warc_to_documents`,
`substring_dedup` at corpus scale), this records:

- wall seconds and result rows,
- MAX-TASK seconds across every new stage (UI REST taskSummary — the
  single-task-quadratic signature: wall can look fine on local[32]
  while one task holds 99% of the work),
- ONE-TASK stages whose duration exceeds a threshold (a 1-task stage
  is a serialization point on any cluster size),
- a PLAN SIGNATURE: BroadcastNestedLoopJoin / CartesianProduct nodes in
  the executed (post-AQE) plan.

An entry is FLAGGED when it carries a BNLJ/cartesian or a slow one-task
stage and is not in the INTENTIONAL whitelist (each whitelist row says
why the shape is bounded). The report lands in tools/SWEEP_r{N}.json;
a summary line per flag goes to stdout. Exit code 1 iff any non-
whitelisted flag fires — so the sweep can gate a round.

Run:  PYTHONPATH=/root/repo python tools/sweep_plans.py [--sf-dir DIR]
          [--out tools/SWEEP_r14.json] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_probe_spark():
    """The engine session's settings (graphula_spark.session.get_spark)
    with the UI enabled: the REST status API is the only place per-stage
    task summaries are exposed."""
    return (
        SparkSession.builder.appName("sweep-plans")
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def _rest(spark, route: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{route}") as r:
        return json.load(r)


def _stages(spark) -> dict[tuple[int, int], dict]:
    """Every completed stage, keyed by (stage id, attempt)."""
    return {
        (s["stageId"], s["attemptId"]): s
        for s in _rest(spark, "stages?status=complete")
    }


def _task_summary(spark, stage_id: int, attempt: int) -> dict | None:
    try:
        return _rest(
            spark,
            f"stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0",
        )
    except Exception:
        return None

#: one-task stages slower than this are a serialization point worth a
#: look even on local[32]; at sf0.1 every healthy stage is far below it
ONE_TASK_FLAG_S = 2.0
#: BNLJ/cartesian stages faster than this are broadcast-tiny probes
#: (1-row existence checks, plane tables); slower means real data rode
#: a nested loop
NESTED_LOOP_FLAG_S = 2.0

#: shapes that legitimately contain a nested-loop/cartesian or a
#: one-task stage, each with the boundedness argument. A whitelisted
#: entry still records its numbers every round — the whitelist only
#: downgrades the flag, it never hides the measurement.
INTENTIONAL: dict[str, str] = {
    "graph_probes": (
        "1-row existence probe crossJoin (plans/bgp.py:721) — "
        "broadcast of a literal single row, O(|probe|) = O(1)"
    ),
    "dedup_embedding": (
        "planes_df 1-row broadcast product (operators/ann.py "
        "_subdivide_hot_cells) — 12 array columns appended to hot-cell "
        "means only"
    ),
    "dedup_embedding_reps": "same planes_df 1-row broadcast as dedup_embedding",
    "dedup_clusters": "same planes_df 1-row broadcast as dedup_embedding",
    "events_stateful": (
        "applyInPandasWithState keeps per-key state partitions; the "
        "toy feed fits one partition — key-partitioned at scale"
    ),
    "api_run_pipeline": (
        "pipeline report rows collapse to 1-task count stages on toy "
        "input; every data stage is key-partitioned"
    ),
    "rel_importance": (
        "the flagged 1-task stage is the B-bounded (8192-bucket) model "
        "aggregation's final reduce + capped collect "
        "(importance.py:249): map-side partials carry the data-sized "
        "work, AQE coalesced the tiny reduce to one partition at toy "
        "scale and keeps more reducers when partial outputs grow — "
        "self-scaling, output bounded by B"
    ),
}


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def sweep_one(spark, name: str, build, results: list) -> None:
    """Build the entry's DataFrame, execute it once, and record the
    measurements. `build` is a thunk returning the DataFrame (or an
    integer row count for surfaces that execute internally — then plan
    signatures come only from stage names)."""
    before = _stages(spark)
    t0 = time.time()
    plan = ""
    err = None
    rows = None
    try:
        out = build()
        if hasattr(out, "count"):
            rows = out.count()
            plan = executed_plan(out)
        else:
            rows = int(out)
    except Exception as e:  # record, keep sweeping
        err = f"{type(e).__name__}: {e}"[:300]
    wall = time.time() - t0
    after = _stages(spark)
    new = {k: v for k, v in after.items() if k not in before}
    max_task = 0.0
    one_task = []
    nested_stage = []
    for (sid, att), s in new.items():
        ts = _task_summary(spark, sid, att)
        dur = ts["duration"][-1] / 1e3 if ts and "duration" in ts else 0.0
        max_task = max(max_task, dur)
        sname = s.get("name", "?").split("\n")[0]
        if s.get("numTasks") == 1 and dur >= ONE_TASK_FLAG_S:
            one_task.append({"stage": sid, "max_task_s": round(dur, 2),
                             "name": sname[:80]})
        if ("BroadcastNestedLoopJoin" in s.get("details", "")
                or "CartesianProduct" in s.get("details", "")):
            nested_stage.append({"stage": sid, "max_task_s": round(dur, 2)})
    bnlj = "BroadcastNestedLoopJoin" in plan
    cart = "CartesianProduct" in plan
    slow_nested = (bnlj or cart or nested_stage) and (
        max_task >= NESTED_LOOP_FLAG_S
        or any(n["max_task_s"] >= NESTED_LOOP_FLAG_S for n in nested_stage)
    )
    flagged = bool(err) or bool(one_task) or bool(slow_nested)
    whitelisted = INTENTIONAL.get(name)
    rec = {
        "name": name,
        "wall_s": round(wall, 2),
        "rows": rows,
        "max_task_s": round(max_task, 2),
        "bnlj_in_plan": bnlj,
        "cartesian_in_plan": cart,
        "one_task_stages": one_task,
        "flagged": flagged and not whitelisted,
        "whitelisted": whitelisted,
        "err": err,
    }
    results.append(rec)
    mark = ("ERR " if err else
            "FLAG" if rec["flagged"] else
            "ok* " if (flagged and whitelisted) else "ok  ")
    print(f"{mark} {name:28s} {wall:6.1f}s wall  {max_task:6.1f}s max-task"
          f"{'  BNLJ' if bnlj else ''}{'  CART' if cart else ''}"
          f"{'  1-task!' if one_task else ''}"
          f"{'  ' + err if err else ''}")


# ---------------------------------------------------------------- extra
# public API surfaces with no queries()/bench key (VERDICT r13 #1 list)

def build_api_dataset_graph_var(spark, sf_dir):
    """`Dataset.sparql` with a GRAPH ?g variable — unions every named
    graph's solution; the surface the round-13 verdict called out as
    never benched."""
    from pyspark.sql import functions as F

    from graphula_spark.dataset import Dataset

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    subj = F.concat(F.lit("event:"), F.col("event_id").cast("string"))
    gcol = F.concat(
        F.lit("g:"), (F.col("event_id") % 8).cast("string")
    )
    quads = ev.select(
        subj.alias("s"), F.lit("etype").alias("p"),
        F.col("event_type").alias("o"), gcol.alias("g"),
    ).unionByName(ev.select(
        subj.alias("s"), F.lit("val").alias("p"),
        F.col("value").cast("string").alias("o"), gcol.alias("g"),
    ))
    ds = Dataset.from_string_quads(spark, quads)

    def build():
        return ds.sparql(
            "SELECT ?g (COUNT(*) AS ?n) WHERE "
            "{ GRAPH ?g { ?s <etype> ?t } } GROUP BY ?g"
        )

    return build


def build_api_run_pipeline(spark, sf_dir):
    """`run_pipeline` full chain (normalize → exact → near → substr →
    quality → scrub → pack) over the documents table."""
    from graphula_spark.pipeline import PipelineConfig, run_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def build():
        res = run_pipeline(docs, PipelineConfig())
        return res.shards.count() + res.documents.count()

    return build


def build_api_smush_sameas(spark, sf_dir):
    """`Graph.smush_sameas` over a customer graph where every customer
    carries one alias IRI linked by owl:sameAs (the co-reference CC
    collapse; iterative — plan signature per round)."""
    from pyspark.sql import functions as F

    from graphula_spark.graph import Graph
    from graphula_spark.operators.rdfs import OWL_SAMEAS

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ck = F.col("c_custkey").cast("string")
    base = cust.select(
        F.concat(F.lit("cust:"), ck).alias("s"),
        F.lit("name").alias("p"), F.col("c_name").alias("o"),
    ).unionByName(cust.select(
        F.concat(F.lit("cust:"), ck).alias("s"),
        F.lit("nation").alias("p"),
        F.col("c_nationkey").cast("string").alias("o"),
    ))
    alias_links = cust.select(
        F.concat(F.lit("alias:"), ck).alias("s"),
        F.lit(OWL_SAMEAS).alias("p"),
        F.concat(F.lit("cust:"), ck).alias("o"),
    )
    g = Graph.from_string_triples(
        spark, base.unionByName(alias_links), cache=False
    )

    def build():
        return g.smush_sameas().triples

    return build


def build_api_warc_to_documents(spark, sf_dir):
    """`read_warc` → `warc_to_documents` over a synthetic multi-file
    crawl (per-file tasks; Arrow-batched extraction)."""
    import shutil
    import tempfile

    from graphula_spark.sources.warc import read_warc, warc_to_documents, write_warc

    tmp = tempfile.mkdtemp(prefix="sweep_warc_")

    def resp(uri, body, date="2026-01-01T00:00:00Z"):
        return {
            "warc_type": "response", "target_uri": uri, "warc_date": date,
            "content_type": "text/html; charset=utf-8",
            "http_status": 200,
            "payload": (
                f"<html><body><p>{body}</p></body></html>".encode()
            ),
        }

    for f in range(16):
        recs = [
            resp(f"http://ex.org/{f}/{i}",
                 f"document {f}-{i} " + ("lorem ipsum " * 40))
            for i in range(64)
        ]
        with open(f"{tmp}/crawl-{f}.warc.gz", "wb") as fh:
            fh.write(write_warc(recs, gzip_members=True))

    def build():
        return warc_to_documents(read_warc(spark, tmp))

    # cleanup must outlive build(): sweep_one counts the LAZY plan, so
    # the files are read after build() returns
    import atexit

    atexit.register(shutil.rmtree, tmp, True)
    return build


def build_api_substring_dedup(spark, sf_dir):
    """`substring_dedup` at corpus scale — the documents table whole."""
    from graphula_spark.operators.dedup import substring_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def build():
        return substring_dedup(docs, "doc_id", "text", min_len=12)

    return build


def build_api_stream_near_dedup(spark, sf_dir):
    """`stream_near_dedup_ingest` (streaming foreachBatch surface,
    VERDICT r14 #9): half the documents table builds the persisted
    MinHash index, the other half streams in as availableNow
    micro-batches. The query executes inside build(), so max-task /
    plan signatures come from the REST stage diff."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from graphula_spark.operators.dedup import MinHashIndex
    from graphula_spark.streaming.windows import stream_near_dedup_ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp(prefix="sweep_stream_dedup_")
    idx_path = f"{tmp}/idx"
    MinHashIndex.build(
        docs.where(F.col("doc_id") % 2 == 0), "doc_id", "text", idx_path
    )
    in_dir = f"{tmp}/incoming"
    incoming = docs.where(F.col("doc_id") % 2 == 1)
    incoming.write.mode("overwrite").parquet(in_dir)
    schema = incoming.schema

    def build():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = stream_near_dedup_ingest(
            spark, stream, idx_path,
            jaccard_threshold=0.5, checkpoint=f"{tmp}/ckpt",
        )
        q.awaitTermination()
        return spark.read.parquet(f"{idx_path}/accepted").count()

    import atexit

    atexit.register(shutil.rmtree, tmp, True)
    return build


EXTRA_SURFACES = {
    "api_dataset_graph_var": build_api_dataset_graph_var,
    "api_run_pipeline": build_api_run_pipeline,
    "api_smush_sameas": build_api_smush_sameas,
    "api_warc_to_documents": build_api_warc_to_documents,
    "api_substring_dedup": build_api_substring_dedup,
    "api_stream_near_dedup": build_api_stream_near_dedup,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None,
                    help="comma-separated entry names")
    args = ap.parse_args()

    spark = get_probe_spark()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = dict(entry_mod.queries())
    queries["rel_graph_reach"] = entry_mod.q_graph_reach
    queries["rdfs_closure"] = entry_mod.q_rdfs_closure
    queries["rdfs_derive_events"] = entry_mod.q_rdfs_derive_events
    queries["rel_pagerank"] = entry_mod.q_pagerank
    queries["text_decontam"] = entry_mod.q_text_decontam_ngram

    only = set(args.only.split(",")) if args.only else None
    results: list[dict] = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sweep_one(spark, name,
                  lambda fn=fn: fn(spark, args.sf_dir), results)
    for name, mk in EXTRA_SURFACES.items():
        if only and name not in only:
            continue
        try:
            build = mk(spark, args.sf_dir)
        except Exception as e:
            results.append({"name": name, "err": f"setup: {e}"[:300],
                            "flagged": True})
            print(f"ERR  {name}: setup failed: {e}")
            continue
        sweep_one(spark, name, build, results)

    flags = [r for r in results if r.get("flagged")]
    report = {
        "sf_dir": args.sf_dir,
        "one_task_flag_s": ONE_TASK_FLAG_S,
        "nested_loop_flag_s": NESTED_LOOP_FLAG_S,
        "entries": results,
        "flagged": [r["name"] for r in flags],
    }
    out = args.out or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SWEEP_latest.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\n{len(results)} entries swept, {len(flags)} flagged -> {out}")
    for r in flags:
        print(f"  FLAG {r['name']}: max_task {r.get('max_task_s')}s "
              f"one_task={bool(r.get('one_task_stages'))} "
              f"bnlj={r.get('bnlj_in_plan')} err={r.get('err')}")
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
