"""Graph: the user-facing triple store (triples DF + dictionary + stats).

Reference parity: the ``Graphula`` class (core/.../Graphula.scala) owns
the LMDB env, index, dictionary and exposes execute/count; here the
state is a pair of DataFrames plus driver-cached stats. Storage layout
for persisted graphs is Parquet partitioned by a hash-bucket of ``p``
(predicate-first, matching the reference index's p → s → o priority,
Index.scala:61-78) so bound-predicate scans prune partitions.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from graphula_spark.dictionary import Dictionary
from graphula_spark.plans.bgp import BgpStats, TriplePattern, Var, execute_bgp
from graphula_spark.sources.ntriples import read_ntriples

TRIPLES_SCHEMA = StructType(
    [
        StructField("s", LongType(), False),
        StructField("p", LongType(), False),
        StructField("o", LongType(), False),
    ]
)


class Graph:
    def __init__(
        self,
        spark: SparkSession,
        triples: DataFrame,
        dictionary: Dictionary,
        stats: BgpStats | None = None,
        triples_ops: DataFrame | None = None,
        p_buckets: int | None = None,
        triples_s: DataFrame | None = None,
    ):
        self.spark = spark
        self.triples = triples
        self.dictionary = dictionary
        self._stats = stats
        #: optional o-clustered copy (OPS permutation analogue) used for
        #: bound-object pattern scans
        self.triples_ops = triples_ops
        #: optional subject-BUCKETED table copy (save_bucketed_table):
        #: the planner reroutes big scans joining on their subject here
        #: so star joins co-partition instead of shuffling
        self.triples_s = triples_s
        #: optional object-bucketed twin (include_o=True): big scans
        #: joining on their OBJECT variable read this copy, so chain
        #: joins (one side's o = the other's s) co-partition too
        self.triples_o: DataFrame | None = None
        #: bucket count of the persisted predicate-partitioned layout
        #: (None for in-memory graphs; read back from _meta on load)
        self.p_buckets = p_buckets
        #: compiled-plan cache for `sparql()` (prepared-statement
        #: style): a Graph is an immutable snapshot, so the compiled
        #: DataFrame for a query text stays valid for its lifetime
        self._plan_cache: dict[tuple, DataFrame] = {}

    #: zero-length property-path domain: False (default) = nodes
    #: incident to the sub-path's edges (pragmatic at scale); True =
    #: all graph nodes, the strict SPARQL 1.1 domain. Set per instance:
    #: ``g.strict_zero_length_paths = True``.
    strict_zero_length_paths = False

    # ------------------------------------------------------------------
    # construction / load (reference: Sparql.loadNtriples, O1-O3)
    # ------------------------------------------------------------------
    @classmethod
    def from_string_triples(
        cls,
        spark: SparkSession,
        striples: DataFrame,
        cache: bool = True,
        assume_distinct: bool = False,
    ) -> "Graph":
        """Build from a DataFrame of (s, p, o) term *strings*.

        Two passes, both distributed: (1) build the dictionary over all
        distinct terms, (2) encode the triples via three joins. Set
        semantics (dropDuplicates) mirror the reference's idempotent
        MDB_NODUPDATA inserts (Index.scala:101-107).

        ``assume_distinct=True`` asserts the INPUT already carries set
        semantics (e.g. a triple-izer whose subjects are unique per
        source row emitting one triple per column — both relational
        bridges qualify) and skips the (s, p, o) dedup exchange — at
        build scale that is a full shuffle of every encoded triple
        (round 14, guide §2.4: remove shuffles whose work is already
        done). The graph invariant is unchanged: the input is distinct
        by construction, the output identical."""
        # single-scan term extraction: explode beats a 3-way self-union,
        # which would recompute the (possibly expensive) striples
        # lineage once per position
        terms = striples.select(
            F.explode(F.array("s", "p", "o")).alias("value")
        )
        dictionary = Dictionary.build(spark, terms)
        enc = striples
        for c in ("s", "p", "o"):
            enc = dictionary.encode_col(enc, c, f"{c}_id")
        triples = enc.select(
            F.col("s_id").alias("s"),
            F.col("p_id").alias("p"),
            F.col("o_id").alias("o"),
        )
        if not assume_distinct:
            triples = triples.dropDuplicates(["s", "p", "o"])
        if cache:
            dictionary.df.cache()
            triples = triples.cache()
        return cls(spark, triples, dictionary)

    @classmethod
    def from_ntriples(
        cls, spark: SparkSession, paths: str | list[str], cache: bool = True
    ) -> "Graph":
        return cls.from_string_triples(spark, read_ntriples(spark, paths), cache=cache)

    #: counted-broadcast gate for insert batches, same sizing story as
    #: rdfs.BROADCAST_DERIVED_MAX_ROWS (3-long rows ≈ 48 MB hashed at
    #: 1M — inside the session's 64 MB broadcast budget)
    INSERT_BROADCAST_MAX_ROWS = 1_000_000

    def add_string_triples(self, striples: DataFrame) -> "Graph":
        """Incremental insert (reference: performAdd, Sparql.scala:115-127).

        Extends the dictionary with unseen terms, appends the
        never-asserted remainder. Returns a new immutable Graph
        (snapshot semantics replace LMDB transactions, SURVEY §1.6/§1.7).

        100 TB shape (round 8): set semantics used to come from a
        GLOBAL dropDuplicates over corpus ∪ batch — a full corpus
        shuffle to insert a handful of triples. The batch is now
        deduped at batch size, counted (the persist makes the count
        the materialization the joins reuse), and a known-small batch
        removes its already-asserted overlap with the corpus
        STREAMING: semi-join the overlap out of the corpus past a
        broadcast of the batch, anti-join the batch against that
        batch-bounded overlap, append with a narrow union — the same
        gated two-step as rdfs._derive_only / Dictionary.union
        (tools/probe_r8.py). Large batches fall back to the shuffle
        anti-join, the correct plan when batch ≈ corpus.

        A graph with complete planner stats (a loaded store, or an
        earlier update of one) hands the snapshot its stats plus the
        batch's per-predicate effect (`BgpStats.with_delta`), so the
        next query plans without a full-store stats pass; the batch's
        novelty is checkpointed once for that. Other graphs leave the
        snapshot's stats to be computed on first use."""
        from pyspark import StorageLevel

        terms = striples.select(
            F.explode(F.array("s", "p", "o")).alias("value")
        )
        d2 = self.dictionary.union(terms)
        enc = striples
        for c in ("s", "p", "o"):
            enc = d2.encode_col(enc, c, f"{c}_id")
        from graphula_spark.scratch import track

        new_triples = track(
            enc.select(
                F.col("s_id").alias("s"),
                F.col("p_id").alias("p"),
                F.col("o_id").alias("o"),
            )
            .dropDuplicates(["s", "p", "o"])
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_new = new_triples.count()
        spo = self.triples.select("s", "p", "o")
        if n_new <= Graph.INSERT_BROADCAST_MAX_ROWS:
            present = spo.join(
                F.broadcast(new_triples), ["s", "p", "o"], "left_semi"
            )
            fresh = new_triples.join(
                F.broadcast(present), ["s", "p", "o"], "left_anti"
            )
        else:
            fresh = new_triples.join(spo, ["s", "p", "o"], "left_anti")
        if not self._carries_stats():
            return Graph(self.spark, spo.unionByName(fresh), d2)
        # carry the planner stats: materialize the batch-sized novelty
        # once (a checkpoint, not a persist — a cached plan would pin
        # the broadcasts above for the session) and add its
        # per-predicate figures to the parent's
        fresh = fresh.localCheckpoint(eager=True)
        added = {
            r["p"]: (r["cnt"], r["ns"], r["no"])
            for r in BgpStats.per_pred(fresh).collect()
        }
        return Graph(
            self.spark,
            spo.unionByName(fresh),
            d2,
            stats=self._stats.with_delta(added=added),
        )

    def _carries_stats(self) -> bool:
        """Whether an update's snapshot derives its stats from this
        graph's (complete stats only). Otherwise the snapshot computes
        them over the whole store on first use."""
        return self._stats is not None and self._stats.complete

    def add_materialized_rdfs(
        self,
        striples: DataFrame,
        on_schema_change: str = "full",
        owl: bool = False,
    ) -> "Graph":
        """Insert with INCREMENTAL ρdf closure maintenance: the batch
        lands (O(batch), see `add_string_triples`) and only the
        closure additions it causes are derived — every ρdf rule has
        exactly one data atom, so running the stratified rule program
        with the batch as rule input (schema from the whole graph) is
        complete (`operators/rdfs.py::derive_rdfs_delta`). At 100 TB
        this replaces a full re-derivation per ingest with O(batch)
        rule work.

        With ``owl=True`` the delta also maintains the
        `materialize_owl` constructs (inverseOf / SymmetricProperty /
        TransitiveProperty — what LUBM's univ-bench ontology declares):
        inverse/symmetric are single-data-atom like ρdf, and the
        transitive closure is maintained incrementally via
        ``(I ∪ G_p) ∘ Δ ∘ (I ∪ G_p)`` chains — O(batch ∪ affected)
        shuffle, never O(corpus). See
        `operators/rdfs.py::derive_owl_delta` (VERDICT r8 #1).

        Precondition: this graph is already CLOSED at the matching
        level (`materialize_rdfs(owl=...)` or this method) — the delta
        extends a fixpoint. A batch asserting schema-predicate triples
        (ρdf schema, or with owl=True also inverseOf/Symmetric/
        Transitive declarations) makes delta reasoning unsound (new
        rules can fire over corpus data); `on_schema_change` picks the
        response: "full" (default) re-materializes the whole extended
        graph, "error" raises."""
        from graphula_spark.operators import rdfs as R

        g2 = self.add_string_triples(striples)
        enc = striples
        for c in ("s", "p", "o"):
            enc = g2.dictionary.encode_col(enc, c, f"{c}_id")
        batch = enc.select(
            F.col("s_id").alias("s"),
            F.col("p_id").alias("p"),
            F.col("o_id").alias("o"),
        )
        ids = g2.dictionary.lookup_terms(
            [R.RDFS_SUBCLASS, R.RDFS_SUBPROP, R.RDFS_DOMAIN, R.RDFS_RANGE]
        )
        schema_pids = list(ids.values())
        schema_cond = (
            F.col("p").isin(schema_pids) if schema_pids else F.lit(False)
        )
        if owl:
            owl_cond = R.owl_schema_predicate_cond(g2)
            if owl_cond is not None:
                schema_cond = schema_cond | owl_cond
        if not batch.where(schema_cond).isEmpty():
            if on_schema_change == "error":
                raise ValueError(
                    "batch asserts schema-predicate triples — delta "
                    "reasoning is unsound for schema changes; pass "
                    'on_schema_change="full" to re-materialize'
                )
            return (
                R.materialize_owl(g2) if owl else R.materialize(g2)
            )
        if owl:
            fresh, d = R.derive_owl_delta(g2, batch)
        else:
            fresh, d, _n = R._derive_only(
                g2, data=batch, corpus=g2.triples
            )
            if fresh is None:
                return g2  # no schema loaded — nothing derivable
        return Graph(
            self.spark,
            g2.triples.select("s", "p", "o").unionByName(fresh),
            d,
        )

    def delete_materialized_rdfs(
        self, striples: DataFrame, owl: bool = False
    ) -> "Graph":
        """Delete with INCREMENTAL closure maintenance — the
        decremental twin of `add_materialized_rdfs`: the result is
        row-exact `materialize_rdfs(owl=...)` of the graph minus the
        victims, computed with victim-keyed work only.

        Set semantics make this simpler than textbook DRed: derived
        triples are first-class set members, so removing rows never
        creates new facts — the only maintenance is that a victim
        REDERIVABLE from the remainder survives the delete (removing
        it for real means deleting its remaining derivation sources).
        `operators/rdfs.py::derive_rdfs_delete` does the check over
        the remainder slice touching the victims' subjects/objects
        (broadcast keys, corpus streams), iterated to the keep-set
        fixpoint; owl:TransitiveProperty victims check their 2-step
        decompositions against the still-closed remainder. Schema
        victims need no fallback (the remainder keeps its derived
        members; the rule program is read from the remaining schema).

        Precondition: this graph is CLOSED at the matching level."""
        from graphula_spark.operators import rdfs as R

        enc = striples
        for c in ("s", "p", "o"):
            enc = self.dictionary.encode_col(enc, c, f"{c}_id")
        victims = enc.select(
            F.col("s_id").alias("s"),
            F.col("p_id").alias("p"),
            F.col("o_id").alias("o"),
        )
        kept = R.derive_rdfs_delete(self, victims, owl=owl)
        g2 = self.delete_string_triples(striples)
        if kept.isEmpty():
            return g2
        return Graph(
            self.spark,
            g2.triples.select("s", "p", "o").unionByName(kept),
            self.dictionary,
        )

    def delete_string_triples(self, striples: DataFrame) -> "Graph":
        """Delete matching triples (extension: the reference is
        insert-only — Index.scala has no delete path, SURVEY §2.3).
        Returns a new snapshot; dictionary entries are retained (ids are
        content-hashes, so orphaned entries are harmless and keep
        decode stable for concurrent readers).

        100 TB shape (round 9, mirroring the r8 quad-level fix): the
        delete set is the RIGHT side of the LEFT ANTI — broadcastable —
        but Catalyst cannot SIZE a user-provided batch statically, so
        the un-hinted join planned as SortMergeJoin and shuffled the
        whole corpus to delete a handful of rows. The batch is deduped,
        persisted and counted once; below the insert gate it carries an
        explicit broadcast hint (corpus streams, zero corpus shuffle).
        Above the gate the shuffle join stands — the correct plan when
        deleting a corpus-sized slice.

        Planner stats carry over as in `add_string_triples`: one
        corpus-streaming pass counts the stored victims per predicate."""
        from pyspark import StorageLevel

        from graphula_spark.scratch import track

        enc = striples
        for c in ("s", "p", "o"):
            enc = self.dictionary.encode_col(enc, c, f"{c}_id")
        victims = track(
            enc.select(
                F.col("s_id").alias("s"),
                F.col("p_id").alias("p"),
                F.col("o_id").alias("o"),
            )
            .dropDuplicates(["s", "p", "o"])
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_victims = victims.count()
        right = (
            F.broadcast(victims)
            if n_victims <= Graph.INSERT_BROADCAST_MAX_ROWS
            else victims
        )
        spo = self.triples.select("s", "p", "o")
        remaining = spo.join(right, ["s", "p", "o"], "left_anti")
        if not self._carries_stats():
            return Graph(self.spark, remaining, self.dictionary)
        # carry the planner stats: one corpus-streaming pass counts the
        # victims actually stored, per predicate
        removed = {
            r["p"]: r["cnt"]
            for r in spo.join(right, ["s", "p", "o"], "left_semi")
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        return Graph(
            self.spark,
            remaining,
            self.dictionary,
            stats=self._stats.with_delta(removed=removed),
        )

    # -- persistence -----------------------------------------------------
    #: fixed bucket count for the predicate-partitioned layout
    P_BUCKETS = 64
    #: id-hash bucket count for the persisted dictionary layout
    DICT_BUCKETS = 64

    def save(
        self,
        path: str,
        p_buckets: int | None = None,
        include_ops: bool = True,
        ops_layout: str = "sorted",
        ops_row_group_bytes: int | None = None,
    ) -> None:
        """Persist predicate-first: partition dir = hash bucket of p.

        At 100 TB a bound-predicate pattern scan then prunes to 1/64 of
        the data before any IO — the Parquet analogue of the reference's
        (0,p,0) index key (Index.scala:61-78). Rows are sorted by
        (p, s, o) within each partition file so parquet min/max
        row-group stats prune bound-subject scans too. Both sorts lead
        with the partition column: the partitioned write sorts by it,
        and a sort that does not start with it is replaced, losing the
        row order.

        ``ops_layout`` picks the OPS twin's physical layout:
        ``"sorted"`` (default) keeps the p_bucket partitioning with
        rows sorted (p, o, s) — best when o-bound scans also bind p;
        ``"zorder"`` clusters the twin on the Z-order curve of (p, o)
        instead (operators/layout.py), so row groups carry tight
        min/max envelopes on BOTH columns: one copy then serves
        p-bound, o-bound, and (p,o)-bound scans via row-group pruning
        without any partition-count explosion — the multi-predicate
        scan regime. ``ops_row_group_bytes`` shrinks the twin's parquet
        row groups for finer pruning (tests; at scale the default
        128MB is right).

        The store build is ONE pass over the encode lineage: the
        dictionary and the bucket-shuffled encoded triples are persisted
        (memory-and-disk — at 100 TB the cache spills rather than
        recomputing a multi-PB lineage), materialized once, then the
        SPO copy, the OPS copy and the dictionary are written as
        CONCURRENT jobs from the cached partitions. The OPS copy
        (reference 8-way permutation analogue, Index.scala:61-78 rows
        (0,p,o)/(0,0,o)) needs no second shuffle — it shares the
        p_bucket partitioning and only re-sorts within partitions.
        Workloads that never bind o skip it via include_ops=False.
        """
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import StorageLevel

        if ops_layout not in ("sorted", "zorder"):
            raise ValueError(f"unknown ops_layout {ops_layout!r}")
        p_buckets = p_buckets or Graph.P_BUCKETS
        dict_df = self.dictionary.df
        dict_was_cached = dict_df.storageLevel != StorageLevel.NONE
        if not dict_was_cached:
            dict_df.persist(StorageLevel.MEMORY_AND_DISK)
        bucketed = (
            self.triples.withColumn(
                "p_bucket", F.pmod(F.col("p"), F.lit(p_buckets))
            )
            .repartition("p_bucket")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            # force the single lineage computation (encode joins consume
            # the now-persisted dictionary) before fanning out writers
            bucketed.count()

            def write_spo() -> None:
                (
                    bucketed.sortWithinPartitions("p_bucket", "p", "s", "o")
                    .write.mode("overwrite")
                    .partitionBy("p_bucket")
                    .parquet(f"{path}/triples")
                )

            def write_ops() -> None:
                if ops_layout == "zorder":
                    from graphula_spark.operators.layout import zorder_write

                    zorder_write(
                        bucketed.select("s", "p", "o"),
                        f"{path}/triples_ops",
                        by=["p", "o"],
                        row_group_bytes=ops_row_group_bytes,
                    )
                    return
                (
                    bucketed.sortWithinPartitions("p_bucket", "p", "o", "s")
                    .write.mode("overwrite")
                    .partitionBy("p_bucket")
                    .parquet(f"{path}/triples_ops")
                )

            def write_dict() -> None:
                # dictionary partitioned by an id-hash bucket: decode
                # joins on a loaded store include the partition column,
                # so dynamic partition pruning reads only the buckets a
                # result's ids hit — the decode path for dictionaries
                # too big to broadcast (100 TB design)
                (
                    dict_df.withColumn(
                        "id_bucket",
                        F.pmod(F.col("id"), F.lit(Graph.DICT_BUCKETS)),
                    )
                    .repartition("id_bucket")
                    .write.mode("overwrite")
                    .partitionBy("id_bucket")
                    .parquet(f"{path}/dict")
                )

            # planner stats + collision exceptions ride in _meta.json
            # so a loaded graph plans and encodes with ZERO store
            # scans. They read the same cached triples/dict the
            # writers read, and depend on nothing the writers produce
            # — so they run IN the writer pool instead of as a serial
            # tail after it (round 14, guide §2.6: overlap independent
            # jobs; the stats pair was ~1 s of quiet-cluster time
            # appended after the last write finished).
            exc_box: list = []

            def compute_stats() -> None:
                if self._stats is None:
                    self._stats = BgpStats.compute(bucketed)

            def compute_exc() -> None:
                exc_box.append(self.dictionary._get_exceptions())

            jobs = [write_spo, write_dict, compute_stats, compute_exc] + (
                [write_ops] if include_ops else []
            )
            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                for fut in [pool.submit(j) for j in jobs]:
                    fut.result()
            exc = exc_box[0]
        finally:
            bucketed.unpersist()
            if not dict_was_cached:
                dict_df.unpersist()
        # the bucket count is part of the layout contract: the pruning
        # filter must use the SAME modulus or bound-predicate scans
        # silently miss their partition
        import json
        import os

        meta = {
            "p_buckets": p_buckets,
            "layout": "pmod(p)",
            "ops_layout": ops_layout if include_ops else None,
            "dict_buckets": Graph.DICT_BUCKETS,
        }
        stats_obj = self._stats.to_obj()
        if stats_obj is not None:
            meta["stats"] = stats_obj
        if exc is not None and len(exc) <= 10_000:
            meta["dict_exceptions"] = [[v, i] for (v, i) in exc]
        os.makedirs(path, exist_ok=True)
        with open(f"{path}/_meta.json", "w") as fh:
            json.dump(meta, fh)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Graph":
        """Load a persisted graph; keeps the p_bucket partition column so
        pattern scans with a bound predicate prune partitions. The bucket
        count comes from the store's _meta.json (falls back to the class
        default for stores written before the meta file existed)."""
        import json
        import os

        # versioned ingest stores publish a manifest behind a CURRENT
        # pointer (streaming/ingest.py); load the full base ∪ deltas view
        if os.path.exists(f"{path}/CURRENT"):
            from graphula_spark.streaming.ingest import (
                load_versioned_graph,
                read_manifest,
            )

            m = read_manifest(path)
            if m is not None and m.get("log"):
                # any pending log entry (add OR del delta) needs the
                # ordered fold
                return load_versioned_graph(spark, path)
            if m is not None:
                path = f"{path}/{m['base']}"
        p_buckets = Graph.P_BUCKETS
        dict_buckets = None
        exceptions = None
        stats = None
        if os.path.exists(f"{path}/_meta.json"):
            with open(f"{path}/_meta.json") as fh:
                meta = json.load(fh)
            p_buckets = meta.get("p_buckets", Graph.P_BUCKETS)
            dict_buckets = meta.get("dict_buckets")
            raw_exc = meta.get("dict_exceptions")
            if raw_exc is not None:
                exceptions = [(v, i) for v, i in raw_exc]
            if "stats" in meta:
                stats = BgpStats.from_obj(meta["stats"])
        triples = spark.read.parquet(f"{path}/triples").select(
            "s", "p", "o", "p_bucket"
        )
        ops = None
        if os.path.isdir(f"{path}/triples_ops"):
            ops = spark.read.parquet(f"{path}/triples_ops")
            # sorted twin carries the p_bucket partition column; the
            # z-ordered twin prunes via row-group stats instead
            cols = ["s", "p", "o"] + (
                ["p_bucket"] if "p_bucket" in ops.columns else []
            )
            ops = ops.select(*cols)
        try:
            dict_raw = spark.read.parquet(f"{path}/dict")
        except Exception:
            # an EMPTY dictionary parquet (a streaming delta whose
            # batch carried no fresh terms) writes only _SUCCESS — no
            # part files to infer a schema from; supply it explicitly
            schema = "id long, value string" + (
                ", id_bucket int" if dict_buckets else ""
            )
            dict_raw = spark.read.schema(schema).parquet(f"{path}/dict")
        if dict_buckets:
            d = Dictionary(
                spark,
                dict_raw.select("id", "value"),
                bucketed_df=dict_raw.select("id", "value", "id_bucket"),
                id_buckets=dict_buckets,
                exceptions=exceptions,
            )
        else:
            d = Dictionary(
                spark, dict_raw.select("id", "value"), exceptions=exceptions
            )
        return cls(
            spark, triples, d, stats=stats, triples_ops=ops, p_buckets=p_buckets
        )

    # ------------------------------------------------------------------
    # bucketed-table layout (big-big subject joins without shuffles)
    # ------------------------------------------------------------------
    def save_bucketed_table(
        self,
        table: str,
        location: str,
        s_buckets: int = 64,
        include_o: bool = False,
    ) -> None:
        """Persist the triples as a Spark BUCKETED table clustered by
        subject (`bucketBy(s)` + in-bucket sort), alongside a plain
        `<table>_dict` table.

        The predicate-partitioned parquet store (save/load) serves
        bound-predicate scans; this layout serves the other 100 TB
        regime: star joins where BOTH pattern scans are too large to
        broadcast (unselective predicates). Bucketing makes every
        s = s self-join co-partitioned — SortMergeJoin with ZERO
        shuffle exchanges, because each bucket pair joins in place.
        The reference's analogue is the (s,0,0)/(s,p,0) LMDB key family
        (Index.scala:61-78): subject-clustered physical order.

        Bucket metadata lives in the session catalog; production
        deployments back it with a shared metastore so every session
        sees the bucketing (plain parquet files at `location` remain
        readable either way).
        """
        import json
        import os

        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        self.spark.sql(f"DROP TABLE IF EXISTS {table}_dict")
        # unconditionally: a stale o-twin from an earlier save would
        # otherwise be silently attached by from_bucketed_table and
        # serve another graph's triples under this graph's dictionary
        self.spark.sql(f"DROP TABLE IF EXISTS {table}_o")
        (
            self.triples.select("s", "p", "o")
            .write.mode("overwrite")
            .bucketBy(s_buckets, "s")
            .sortBy("s", "p")
            .option("path", f"{location}/triples_s")
            .saveAsTable(table)
        )
        (
            self.dictionary.df.select("id", "value")
            .write.mode("overwrite")
            .option("path", f"{location}/dict")
            .saveAsTable(f"{table}_dict")
        )
        if include_o:
            # o-clustered twin with the SAME bucket count: chains
            # (?x p ?y . ?y q ?z) join one side's o against the other's
            # s — with both sides bucketed on their join column Spark
            # co-partitions the join without shuffling either
            (
                self.triples.select("s", "p", "o")
                .write.mode("overwrite")
                .bucketBy(s_buckets, "o")
                .sortBy("o", "p")
                .option("path", f"{location}/triples_o")
                .saveAsTable(f"{table}_o")
            )
        # the bucketing spec lives in the catalog, which (without a
        # shared metastore) dies with the session — record it beside
        # the files so from_bucketed_path can re-register anywhere
        os.makedirs(location, exist_ok=True)
        with open(f"{location}/_bucket_meta.json", "w") as fh:
            json.dump({"s_buckets": s_buckets, "include_o": include_o}, fh)

    @classmethod
    def from_bucketed_table(cls, spark: SparkSession, table: str) -> "Graph":
        """Open a graph over a subject-bucketed table written by
        `save_bucketed_table` (the catalog supplies the bucketing spec,
        so s = s joins plan shuffle-free)."""
        triples = spark.table(table)
        d = Dictionary(spark, spark.table(f"{table}_dict"))
        g = cls(spark, triples, d, triples_s=triples)
        if spark.catalog.tableExists(f"{table}_o"):
            g.triples_o = spark.table(f"{table}_o")
        return g

    @classmethod
    def from_bucketed_path(
        cls, spark: SparkSession, location: str, table: str
    ) -> "Graph":
        """Reopen a bucketed store from its FILES in a fresh session:
        re-registers the catalog entry (`CREATE TABLE ... CLUSTERED BY
        (s) ... LOCATION`) from the `_bucket_meta.json` written at save
        time, so the bucketing spec — and the shuffle-free join plans —
        survive without a shared metastore."""
        import json

        with open(f"{location}/_bucket_meta.json") as fh:
            meta = json.load(fh)
        s_buckets = meta["s_buckets"]
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_dict")
        spark.sql(
            f"CREATE TABLE {table} (s BIGINT, p BIGINT, o BIGINT) "
            f"USING parquet CLUSTERED BY (s) SORTED BY (s, p) "
            f"INTO {s_buckets} BUCKETS LOCATION '{location}/triples_s'"
        )
        spark.sql(
            f"CREATE TABLE {table}_dict (id BIGINT, value STRING) "
            f"USING parquet LOCATION '{location}/dict'"
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}_o")
        if meta.get("include_o"):
            spark.sql(
                f"CREATE TABLE {table}_o (s BIGINT, p BIGINT, o BIGINT) "
                f"USING parquet CLUSTERED BY (o) SORTED BY (o, p) "
                f"INTO {s_buckets} BUCKETS LOCATION '{location}/triples_o'"
            )
        return cls.from_bucketed_table(spark, table)

    # ------------------------------------------------------------------
    # stats (reference: Index.valueCount O6, cached cardinalities O11)
    # ------------------------------------------------------------------
    @property
    def stats(self) -> BgpStats:
        if self._stats is None:
            self._stats = BgpStats.compute(self.triples)
        return self._stats

    # ------------------------------------------------------------------
    # core query API (reference: Graphula.execute / count, O10-O15)
    # ------------------------------------------------------------------
    def _const_ids(self, patterns: list[TriplePattern]) -> dict[str, int]:
        consts = [c for pat in patterns for _, c in pat.consts()]
        ids = self.dictionary.lookup_terms(consts)
        # probe the bare lexical form for typed numeric/boolean constants:
        # .nt-loaded graphs store '"5"^^<xsd:integer>' but triple-ized
        # relational tables store the bare '5'
        import re

        typed = re.compile(
            r'^"([^"]*)"\^\^<http://www\.w3\.org/2001/XMLSchema#'
            r"(integer|decimal|double|boolean)>$"
        )
        missing = {
            m.group(1): c
            for c in consts
            if c not in ids and (m := typed.match(c))
        }
        if missing:
            alt = self.dictionary.lookup_terms(list(missing))
            for bare, c in missing.items():
                if bare in alt:
                    ids[c] = alt[bare]
        return ids

    def execute_bgp(self, patterns: list[TriplePattern]) -> DataFrame:
        """BGP → DataFrame of long-id columns, one per variable."""
        return execute_bgp(
            self.triples,
            patterns,
            self._const_ids(patterns),
            self.stats,
            triples_ops=self.triples_ops,
            p_buckets=self.p_buckets,
            triples_s=self.triples_s,
            triples_o=self.triples_o,
        )

    def execute_bgp_decoded(self, patterns: list[TriplePattern]) -> DataFrame:
        """BGP with the final late-materialization decode join (O22)."""
        df = self.execute_bgp(patterns)
        return self.decode(df, df.columns)

    def count_bgp(self, patterns: list[TriplePattern]) -> int:
        """COUNT-only execution (reference: Graphula.count O14).

        Single-pattern, predicate-only fast path answers from the stats
        table without any scan (reference shortcut Graphula.scala:388-390).
        """
        if len(patterns) == 1:
            pat = patterns[0]
            if (
                isinstance(pat.s, Var)
                and isinstance(pat.o, Var)
                and not isinstance(pat.p, Var)
                and pat.s.name != pat.o.name
            ):
                ids = self._const_ids(patterns)
                if pat.p not in ids:
                    return 0
                info = self.stats.by_pred.get(ids[pat.p])
                if info is not None:
                    return info[0]
        return self.execute_bgp(patterns).count()

    # -- point lookups (reference: Index.exists O4 / values O5) ----------
    def exists(self, s: str | None, p: str | None, o: str | None) -> bool:
        pat = TriplePattern(
            s if s is not None else Var("s"),
            p if p is not None else Var("p"),
            o if o is not None else Var("o"),
        )
        return self.execute_bgp([pat]).limit(1).count() > 0

    def values(self, s: str | None, p: str | None, o: str | None) -> DataFrame:
        """Candidate values of the highest-priority unbound position
        (p → s → o, reference Graphula.scala:255-261 / Index.values)."""
        positions = {"s": s, "p": p, "o": o}
        target = next((q for q in ("p", "s", "o") if positions[q] is None), None)
        if target is None:
            raise ValueError("fully bound pattern has no value position")
        terms = {
            q: (
                Var("v")
                if q == target
                else (positions[q] if positions[q] is not None else Var(f"any_{q}"))
            )
            for q in ("s", "p", "o")
        }
        df = self.execute_bgp([TriplePattern(terms["s"], terms["p"], terms["o"])])
        return self.decode(df.select("v").distinct(), ["v"])

    def value_count(self, s: str | None, p: str | None, o: str | None) -> int:
        """Exact dup-count for a pattern key (reference O6)."""
        return self.values(s, p, o).count()

    # ------------------------------------------------------------------
    # decode boundary (reference: LazyBinding O22 / Dictionary O8)
    # ------------------------------------------------------------------
    def decode(self, df: DataFrame, cols: Iterable[str]) -> DataFrame:
        out = df
        for c in cols:
            out = self.dictionary.decode_col(out, c)
        return out

    # ------------------------------------------------------------------
    # SPARQL front-end (reference: Sparql.execute O18)
    # ------------------------------------------------------------------
    def sparql(self, query: str) -> DataFrame:
        """Compile + return the query's result DataFrame.

        Compiled plans are memoized per query text (the repeated-query
        discipline every engine's prepared statements / plan cache
        serve): parse + algebra + DataFrame construction is pure
        driver-side work (~0.5s on a 6-pattern BGP, dominated by py4j
        round-trips), and a Graph is an immutable snapshot so reuse is
        always sound. Updates return a NEW Graph with an empty cache.
        """
        # strict_zero_length_paths changes path compilation — key on it
        key = (query, self.strict_zero_length_paths)
        df = self._plan_cache.get(key)
        if df is None:
            from graphula_spark.sparql.engine import execute_sparql
            from graphula_spark.sparql.parser import parse_sparql

            # parse once; the parser stamps a structural has_service
            # flag on the query. SERVICE resolves through a MUTABLE
            # registry (re-registration, injectable transports whose
            # results vary per call), so those plans are never
            # memoized — but a query merely containing the word
            # "service" in a literal stays cacheable (the old regex
            # word-match skipped the cache for those too).
            parsed = parse_sparql(query)
            df = execute_sparql(self, query, parsed=parsed)
            if not getattr(parsed, "has_service", False):
                if len(self._plan_cache) >= 256:  # bound driver memory
                    self._plan_cache.pop(next(iter(self._plan_cache)))
                self._plan_cache[key] = df
        return df

    def explain_sparql(self, query: str, mode: str = "formatted") -> str:
        """Compile a SPARQL query and return Spark's physical-plan
        explanation (`mode` as in DataFrame.explain: 'simple',
        'extended', 'codegen', 'cost', 'formatted') — the audit hook
        behind PLANS.md: check pushed filters, partition pruning, and
        join strategies without running the query."""
        df = self.sparql(query)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    def create_views(self, prefix: str = "graphula") -> None:
        """Register temp views for raw ``spark.sql`` interop:
        ``<prefix>_triples(s,p,o)``, ``<prefix>_dict(id,value)`` and a
        decoded ``<prefix>_spo(s,p,o)`` string view."""
        self.triples.select("s", "p", "o").createOrReplaceTempView(
            f"{prefix}_triples"
        )
        self.dictionary.df.createOrReplaceTempView(f"{prefix}_dict")
        decoded = self.decode(self.triples.select("s", "p", "o"), ["s", "p", "o"])
        decoded.createOrReplaceTempView(f"{prefix}_spo")

    def materialize_rdfs(self, owl: bool = False) -> "Graph":
        """Forward-chain the ρdf RDFS fragment (subClassOf /
        subPropertyOf / domain / range) over this graph's own schema
        triples and return the extended snapshot — the inference
        closure the reference's LUBM data ships pre-baked (SURVEY §5;
        the reference has no reasoner). With ``owl=True`` the pass
        also applies owl:inverseOf / owl:SymmetricProperty /
        owl:TransitiveProperty (the constructs LUBM's univ-bench
        ontology declares). See operators/rdfs.py for the stratified
        design.

        Precondition: this graph's triples are DISTINCT (the O3
        set-semantics invariant every load/update path maintains).
        The non-OWL closure appends only never-asserted derivations
        and does not re-dedup the input, so a Graph constructed
        directly from a user DataFrame with duplicate rows returns
        those duplicates unchanged — dropDuplicates the input first
        (ADVICE r7)."""
        from graphula_spark.operators.rdfs import materialize, materialize_owl

        return materialize_owl(self) if owl else materialize(self)

    def reduce_rdfs(self, owl: bool = True) -> "Graph":
        """Inference-aware storage compression: strip every triple the
        ρdf(+OWL) rules re-derive from the remainder, keeping a
        minimal generating base — `materialize_rdfs(owl=True)` is the
        exact inverse. On the reference's pre-materialized LUBM data
        45.9% of the triples are derivable; at 100 TB that is the
        storage (and load-shuffle) you do not pay."""
        from graphula_spark.operators.rdfs import reduce_graph

        return reduce_graph(self, owl=owl)

    def smush_sameas(self, keep_links: bool = True) -> "Graph":
        """Merge owl:sameAs-co-referent individuals onto canonical
        (minimum-id) representatives via distributed connected
        components; see operators/rdfs.py:smush_sameas."""
        from graphula_spark.operators.rdfs import smush_sameas

        return smush_sameas(self, keep_links=keep_links)

    def sparql_update(self, update: str) -> "Graph":
        """SPARQL Update subset: ``INSERT DATA { ... }`` / ``DELETE DATA
        { ... }`` with ground triples. Returns the new snapshot (the
        reference is insert-only and has no update language at all;
        this maps onto add/delete_string_triples).
        """
        from graphula_spark.sparql.engine import execute_update

        return execute_update(self, update)
