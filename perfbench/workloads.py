"""The two workloads and what they share: the pinned Spark session, the
store build, the measured loop of whole rounds and the run's counts.

Every workload is a closed loop with one client in one process.  After
its set-up, a run does whole rounds of its operations: as many as fit in
``seconds`` at the round's nominal length on the reference machine (at
least one), so that every run of the same length does the same
operations.  The benchmark's own work (making inputs, asking DuckDB,
comparing answers) is not timed.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import tempfile
import time
import traceback

import ingest_data
import queries
import tpchgen
from oracle import Oracle, same_rows
from spans import Tracer, census_per_op

#: TPC-H scale of the ``lookup`` tables (1,500 customers, 15,000 orders)
#: and of the ``ingest`` tables
LOOKUP_SCALE = 0.01
INGEST_SCALE = 0.005
#: Spark settings every run pins, through the variables ``get_spark`` reads
SPARK_ENV = {
    "SPARK_GRAFT_CPUS": str(min(4, os.cpu_count() or 1)),
    "SPARK_GRAFT_SHUFFLE": "4",
    "SPARK_GRAFT_DRIVER_MEM": "3g",
}
#: traced lookup runs sample the heap after this many lookups (all
#: within the first round, which every run completes)
HEAP_AFTER = (0, 4, 7)
UPDATE_BATCHES = 3
UPDATE_BATCH_SIZE = 200
#: nominal round lengths on the reference machine (4 cores): a lookup
#: round is 7 queries, an ingest round 3 update batches and a closure
LOOKUP_ROUND_S = 6.0
INGEST_ROUND_S = 12.0
COUNT_ALL = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
PER_PREDICATE = "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p"

PER_LAYER = (
    ["session.start_s", "sources.parse_s", "dictionary.build_s", "dictionary.lookup_s",
     "dictionary.decode_s", "graph.build_s", "graph.save_s", "graph.load_s", "graph.stats_s",
     "graph.store_bytes.triples", "graph.store_bytes.triples_ops", "graph.store_bytes.dict"]
    + [f"graph.update_s.{b}" for b in range(UPDATE_BATCHES)]
    + ["bgp.plan_s", "bgp.exec_s", "sparql.build_s", "sparql.exec_s", "rdfs.build_s",
       "rdfs.exec_s", "rdfs.jobs", "spark.jobs_per_op", "spark.stages_per_op",
       "spark.tasks_per_op", "spark.job_floor_s"]
    + [f"jvm.heap_mb.{n}" for n in HEAP_AFTER]
)


class Run:
    """One measured run: the session, its counts and its latencies."""

    def __init__(self, work_dir: str, seed: int, seconds: float, tracer: Tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.correct = True
        #: (kind, seconds) of every timed operation that completed and passed
        self.latencies: list[tuple[str, float]] = []
        #: CPU seconds of the JVM and this process for each timed operation
        self.cpu: list[float] = []
        self.spark = None
        self.metrics: dict[str, float] = {}
        #: True during the timed rounds; operations of the set-up are
        #: checked but not timed
        self.measuring = False

    # -- session -------------------------------------------------------------
    def start_spark(self) -> float:
        """Start the pinned session; return its start time in seconds."""
        os.environ.update(SPARK_ENV)
        os.environ.pop("SPARK_MASTER", None)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # every file the session writes stays in the run's work directory;
        # -XX:-UsePerfData keeps the JVMs out of /tmp/hsperfdata_<user>
        local = os.path.join(self.work_dir, "spark")
        os.makedirs(local)
        tempfile.tempdir = local
        os.environ.update(
            TMPDIR=local,
            SPARK_LOCAL_DIRS=local,
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            PYSPARK_SUBMIT_ARGS=(
                f"--conf spark.local.dir={local} "
                f"--conf spark.sql.warehouse.dir={local}/warehouse "
                f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={local} -XX:-UsePerfData' "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
        )
        from graphula_spark import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start_s"):
            self.spark = get_spark(app_name="perfbench")
            self.spark.range(1).count()
        return time.perf_counter() - t0

    def cpu_s(self) -> float:
        """CPU time used so far by this process and the Spark JVM (its
        compiler and collector threads included)."""
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm_ticks = int(fields[11]) + int(fields[12])
        return time.process_time() + jvm_ticks / os.sysconf("SC_CLK_TCK")

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        # the JVM exits when its standard input closes; wait until it has
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def heap_mb(self) -> float:
        """JVM heap in use after full garbage collections, in MB.

        Python's collector runs first, so py4j releases the JVM objects
        of dropped proxies.  Spark's context cleaner frees the blocks of
        collected RDDs and broadcasts only after a collection, so collect
        again until the reading settles."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        last = None
        for _ in range(8):
            jvm.java.lang.System.gc()
            time.sleep(0.5)
            used = (rt.totalMemory() - rt.freeMemory()) / 2**20
            if last is not None and abs(used - last) < 1.0:
                break
            last = used
        return used

    def job_floor_s(self, n: int = 20) -> float:
        """Median time of a no-op job over a cached one-row DataFrame."""
        df = self.spark.range(1).cache()
        df.count()
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            df.count()
            times.append(time.perf_counter() - t0)
        df.unpersist()
        return statistics.median(times)

    # -- operations ----------------------------------------------------------
    def attempt(self, kind: str, call, check=None):
        """Run one operation in its job group; time it; count it.

        ``call`` returns the operation's output; ``check(output)`` says if
        it is right.  An exception or a wrong answer counts as a failed
        operation, and a wrong answer also makes the run incorrect."""
        self.attempted += 1
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        c0 = self.cpu_s()
        try:
            with self.tracer.job_group(sc, kind):
                out = call()
        except Exception:
            self.failed += 1
            print(f"perfbench: {kind} failed", file=sys.stderr)
            traceback.print_exc()
            return None, time.perf_counter() - t0
        elapsed = time.perf_counter() - t0
        cpu = self.cpu_s() - c0
        if check is not None and not check(out):
            self.failed += 1
            self.correct = False
            print(f"perfbench: {kind} gave a wrong answer", file=sys.stderr)
        elif self.measuring:
            self.latencies.append((kind, elapsed))
            self.cpu.append(cpu)
        return out, elapsed

    def rounds(self, do_round, nominal_s: float) -> None:
        """As many timed whole rounds as ``seconds`` holds at ``nominal_s``
        each, at least one.  ``do_round(n)`` returns the time its program
        calls took."""
        self.measuring = True
        n_rounds = max(1, int(self.seconds // nominal_s))
        self.metrics["busy_s"] = sum(do_round(n) for n in range(n_rounds))
        self.measuring = False

    def finish(self, setup_s: float, bytes_per_triple: float, p50_kinds: set[str]) -> None:
        """Set the metrics.  The median wall latency is over the timed
        operations of ``p50_kinds``; the rate and the CPU time over all
        timed operations."""
        t = self.tracer
        self.metrics.update(
            setup_s=setup_s,
            cpu_s_per_op=sum(self.cpu) / len(self.cpu),
            heap_mb=self.heap_mb(),
            store_bytes_per_triple=bytes_per_triple,
            op_p50_s=statistics.median(s for k, s in self.latencies if k in p50_kinds),
            ops_per_s=len(self.latencies) / self.metrics["busy_s"],
        )
        if t.enabled:
            t.set("spark.job_floor_s", self.job_floor_s())
            t.values.update(census_per_op(t.census))
            for name in ("session.start_s", "sources.parse_s", "dictionary.build_s",
                         "dictionary.lookup_s", "graph.build_s", "graph.save_s",
                         "graph.load_s", "graph.stats_s", "bgp.plan_s", "bgp.exec_s",
                         "sparql.build_s", "sparql.exec_s", "rdfs.build_s", "rdfs.exec_s"):
                t.values.setdefault(name, t.median(name))


# -- stores --------------------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def save_and_load(run: Run, graph, store: str):
    """Save ``graph`` to ``store``, load it back and read its stats."""
    from graphula_spark import Graph

    t = run.tracer
    with t.span("graph.save_s"):
        graph.save(store)
    with t.span("graph.load_s"):
        loaded = Graph.load(run.spark, store)
    with t.span("graph.stats_s"):
        loaded.stats
    for part in ("triples", "triples_ops", "dict"):
        t.set(f"graph.store_bytes.{part}", dir_bytes(os.path.join(store, part)))
    return loaded


def collect_rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


# -- lookup ----------------------------------------------------------------------


def build_table_store(run: Run, data_dir: str, tables: list[str], store: str):
    """Triple-ize the tables into a new store; return the loaded graph."""
    from graphula_spark import Graph
    from graphula_spark.sources.relational import TPCH_KEYS, table_to_triples

    spark = run.spark
    with run.tracer.span("graph.build_s"):
        triples = None
        for t in tables:
            tr = table_to_triples(spark.read.parquet(f"{data_dir}/{t}.parquet"), t, TPCH_KEYS[t])
            triples = tr if triples is None else triples.unionByName(tr)
        graph = Graph.from_string_triples(spark, triples, cache=False, assume_distinct=True)
    return save_and_load(run, graph, store)


def _query_op(run: Run, graph, q: queries.Query, oracle: Oracle, decode_s: list[float]) -> float:
    t = run.tracer

    def call():
        with t.span("sparql.build_s"):
            df = graph.sparql(q.text)
        with t.span("sparql.exec_s"):
            return collect_rows(df)

    want = oracle.rows(q.sql)
    _, elapsed = run.attempt(q.kind, call, lambda got: same_rows(got, want, q.ordered))
    if t.enabled:
        _probe_layers(run, graph, q, decode_s)
    return elapsed


def _probe_layers(run: Run, graph, q: queries.Query, decode_s: list[float]) -> None:
    """Traced runs only: the query's constants looked up in a dictionary
    with a cold term cache, and its core pattern planned, executed and
    decoded on its own."""
    from graphula_spark.dictionary import Dictionary

    t = run.tracer
    with t.span("dictionary.lookup_s"):
        Dictionary(run.spark, graph.dictionary.df).lookup_terms(q.consts)
    with t.span("bgp.plan_s"):
        core = graph.execute_bgp(q.core)
    t0 = time.perf_counter()
    with t.span("bgp.exec_s"):
        core.collect()
    t1 = time.perf_counter()
    graph.decode(core, core.columns).collect()
    decode_s.append((time.perf_counter() - t1) - (t1 - t0))


def lookup_workload(run: Run) -> None:
    t_session = run.start_spark()
    data_dir = os.path.join(run.work_dir, "data")
    counts = tpchgen.write_tables(data_dir, run.seed, LOOKUP_SCALE)
    oracle = Oracle(data_dir, list(counts))
    try:
        store = os.path.join(run.work_dir, "store")
        t0 = time.perf_counter()
        graph = build_table_store(run, data_dir, list(counts), store)
        t_store = time.perf_counter() - t0
        stream = queries.LookupStream(run.seed, counts["customer"])
        decode_s: list[float] = []
        issued = 0

        def sample_heap():
            if run.tracer.enabled and issued in HEAP_AFTER:
                run.tracer.set(f"jvm.heap_mb.{issued}", run.heap_mb())

        def do_round(n: int) -> float:
            nonlocal issued
            spent = 0.0
            for q in stream.round():
                spent += _query_op(run, graph, q, oracle, decode_s)
                issued += 1
                sample_heap()
            return spent

        sample_heap()
        run.rounds(do_round, LOOKUP_ROUND_S)
        if decode_s:
            run.tracer.set("dictionary.decode_s", statistics.median(decode_s))
        run.finish(
            setup_s=t_session + t_store,
            bytes_per_triple=dir_bytes(store) / tpchgen.triple_count(counts),
            p50_kinds=set(queries.LOOKUP_KINDS),
        )
    finally:
        oracle.close()


# -- ingest --------------------------------------------------------------------------


def ingest_workload(run: Run) -> None:
    """Set-up loads the N-Triples into a store; each round then applies a
    chain of update batches to the loaded snapshot, each followed by a
    COUNT, and runs the RDFS closure over it."""
    from graphula_spark import Graph
    from graphula_spark.dictionary import Dictionary
    from graphula_spark.sources.ntriples import read_ntriples

    t = run.tracer
    t_session = run.start_spark()
    spark = run.spark
    tables = tpchgen.make_tables(run.seed, INGEST_SCALE)
    nt_path = os.path.join(run.work_dir, "tpch.nt")
    written = ingest_data.write_ntriples(nt_path, tables, run.seed)
    closure = ingest_data.rdfs_closure_size(len(written), ingest_data.typed_subjects(tables))
    store = os.path.join(run.work_dir, "store")

    def count(g) -> int:
        return g.sparql(COUNT_ALL).collect()[0][0]

    def load():
        with t.span("graph.build_s"):
            g = Graph.from_ntriples(spark, nt_path)
        return save_and_load(run, g, store)

    graph, t_load = run.attempt("load", load)
    if graph is None:
        raise RuntimeError("the N-Triples load failed; nothing to measure")
    per_pred = dict(ingest_data.predicate_counts(written))
    run.attempt(
        "census",
        lambda: (count(graph), {r[0]: r[1] for r in collect_rows(graph.sparql(PER_PREDICATE))}),
        lambda got: got == (len(written), per_pred),
    )

    def do_round(n: int) -> float:
        spent = 0.0
        g = graph
        batches = ingest_data.update_batches(written, run.seed * 1000 + n, UPDATE_BATCHES, UPDATE_BATCH_SIZE)
        for b, (text, expected) in enumerate(batches):

            def update(g=g, b=b, text=text):
                with t.span(f"graph.update_s.{b}"):
                    nxt = g.sparql_update(text)
                    return nxt, count(nxt)

            out, s = run.attempt("update", update, lambda got, e=expected: got[1] == e)
            spent += s
            if out is None:
                break
            g = out[0]

        def reason():
            with t.span("rdfs.build_s"):
                m = graph.materialize_rdfs()
            with t.span("rdfs.exec_s"):
                return m.triples.count()

        _, s = run.attempt("rdfs", reason, lambda got: got == closure)
        if t.enabled and n == 0 and t.census:
            t.set("rdfs.jobs", t.census[-1][0])
        return spent + s

    run.rounds(do_round, INGEST_ROUND_S)
    if t.enabled:
        for b in range(UPDATE_BATCHES):
            t.set(f"graph.update_s.{b}", t.median(f"graph.update_s.{b}"))
        with t.span("sources.parse_s"):
            read_ntriples(spark, nt_path).count()
        terms = read_ntriples(spark, nt_path).selectExpr("explode(array(s, p, o)) AS value")
        with t.span("dictionary.build_s"):
            Dictionary.build(spark, terms).df.count()
    run.finish(
        setup_s=t_session + t_load,
        bytes_per_triple=dir_bytes(store) / len(written),
        # the closure is far faster than a batch: with it the median would
        # fall between two batch positions of the chain
        p50_kinds={"update"},
    )


WORKLOADS = {"lookup": lookup_workload, "ingest": ingest_workload}


def run_workload(name: str, work_dir: str, seed: int, seconds: float, tracer: Tracer) -> Run:
    run = Run(work_dir, seed, seconds, tracer)
    try:
        WORKLOADS[name](run)
    finally:
        run.stop_spark()
    return run
