"""SPARQL entry point: parse → compile → DataFrame.

Reference parity: Sparql.execute (sparql/.../Sparql.scala:57-65) +
CustomQueryExecution (SELECT only; the reference *throws* on ASK —
CustomQueryExecution.scala:218-239 — we support it, as SURVEY §2.2
flags). Output columns are the projected variable names; plain
variables are decoded term strings (late materialization — the single
decode join replaces the reference's LazyBinding memoization, O22);
computed/aggregate columns keep their computed Spark types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphula_spark.sparql import algebra as A
from graphula_spark.sparql.compiler import CE, Compiler, Solution, has_aggregates
from graphula_spark.sparql.parser import parse_sparql


def execute_sparql(graph, query: str, dataset=None, parsed=None) -> DataFrame:
    q = parsed if parsed is not None else parse_sparql(query)
    fg = getattr(q, "from_graphs", None)
    fn = getattr(q, "from_named", None)
    if fg is not None or fn is not None:
        # FROM / FROM NAMED replace the store's dataset (SPARQL §13.2)
        if dataset is None:
            raise NotImplementedError(
                "FROM/FROM NAMED require a quad dataset "
                "(Dataset.from_nquads / from_string_quads)"
            )
        graph, dataset = dataset.scoped(fg, fn)
    c = Compiler(graph, dataset=dataset)
    if isinstance(q, A.AskQuery):
        sol = c.compile_group(q.where)
        exists = sol.df.limit(1).count() > 0
        # one-row JVM literal (no Python parallelize task per ASK)
        return graph.spark.range(0, 1, 1, 1).select(
            F.lit(exists).alias("ask")
        )
    if isinstance(q, A.ConstructQuery):
        return _execute_construct(graph, c, q)
    if isinstance(q, A.DescribeQuery):
        return _execute_describe(graph, c, q)
    return _execute_select(graph, c, q)


def execute_update(graph, update: str):
    """SPARQL 1.1 Update: INSERT DATA / DELETE DATA (ground triples),
    DELETE WHERE, and the pattern forms DELETE {t} [INSERT {t}] WHERE
    {g} / INSERT {t} WHERE {g}. The reference is insert-only via the
    load path (Index.scala has no delete; SURVEY §2.3) — extension.

    Returns a NEW Graph (immutable snapshots); both templates are
    instantiated against the pre-update state, per spec."""
    from graphula_spark.sparql.parser import Parser

    p = Parser(update)
    p.parse_prologue()
    word = p.kw()
    if word == "INSERT":
        p.next()
        if p.kw() == "DATA":
            p.next()
            return _ground_update(graph, p, "insert")
        ins_t = _parse_quad_template(p)
        p.expect_kw("WHERE")
        return _pattern_update(graph, p.parse_group(), None, ins_t)
    if word == "DELETE":
        p.next()
        if p.kw() == "DATA":
            p.next()
            return _ground_update(graph, p, "delete")
        if p.kw() == "WHERE":
            # DELETE WHERE {g}: the pattern doubles as the template
            p.next()
            grp = p.parse_group()
            tmpl = [
                pat
                for el in grp.elements
                if isinstance(el, A.Bgp)
                for pat in el.patterns
            ]
            return _pattern_update(graph, grp, tmpl, None)
        del_t = _parse_quad_template(p)
        ins_t = None
        if p.kw() == "INSERT":
            p.next()
            ins_t = _parse_quad_template(p)
        p.expect_kw("WHERE")
        return _pattern_update(graph, p.parse_group(), del_t, ins_t)
    if word == "CLEAR":
        # single-graph store: CLEAR DEFAULT / CLEAR ALL empty it
        p.next()
        if p.kw() in ("DEFAULT", "ALL"):
            p.next()
        elif p.kw() == "SILENT":
            p.next()
            if p.kw() in ("DEFAULT", "ALL"):
                p.next()
        from graphula_spark.graph import Graph

        from graphula_spark.literal import empty_df

        return Graph.from_string_triples(
            graph.spark,
            empty_df(graph.spark, "s string, p string, o string"),
            cache=False,
        )
    if word == "LOAD":
        # LOAD <path-or-file-iri>: bulk-add an N-Triples file
        p.next()
        if p.kw() == "SILENT":
            p.next()
        t = p.next()
        if t.kind != "IRI":
            raise SyntaxError(f"LOAD expects an IRI, got {t}")
        src = t.text[1:-1]
        if src.startswith("file://"):
            src = src[len("file://"):]
        from graphula_spark.sources.ntriples import read_ntriples

        return graph.add_string_triples(read_ntriples(graph.spark, src))
    raise SyntaxError(f"unsupported update form at {p.peek()}")


def _ground_update(graph, p, mode: str):
    from graphula_spark.plans.bgp import Var

    p.expect_op("{")
    patterns, paths = p.parse_triples_block()
    if paths:
        raise SyntaxError("property paths not allowed in ground data")
    p.eat_op(".")
    p.expect_op("}")
    for pat in patterns:
        for t in pat:
            if isinstance(t, Var):
                raise SyntaxError("INSERT/DELETE DATA requires ground triples")
    from graphula_spark.literal import literal_df

    df = literal_df(
        graph.spark,
        [(pat.s, pat.p, pat.o) for pat in patterns],
        "s string, p string, o string",
    )
    if mode == "insert":
        return graph.add_string_triples(df)
    return graph.delete_string_triples(df)


def _parse_quad_template(p):
    p.expect_op("{")
    patterns, paths = p.parse_triples_block()
    if paths:
        raise SyntaxError("property paths not allowed in update templates")
    p.eat_op(".")
    p.expect_op("}")
    return patterns


def execute_dataset_update(ds, update: str):
    """Pattern-form SPARQL 1.1 Update over a quad Dataset (round 10 —
    the Graph-level surface covers the default-graph-only cases):

      [WITH <g>] DELETE {quads} [INSERT {quads}] WHERE {...}
      [WITH <g>] INSERT {quads} WHERE {...}
      [WITH <g>] DELETE WHERE {...}

    Templates and DELETE WHERE groups may carry ``GRAPH <g> { ... }``
    blocks; bare triples land in (or leave) the WITH graph, or the
    default graph without WITH. The WHERE clause evaluates against the
    WITH graph (default graph otherwise) with GRAPH patterns resolved
    through the dataset (§3.1.3).

    ``USING <g>`` / ``USING NAMED <g>`` clauses (round 11, VERDICT r10
    #5 — the last §3.1.3 surface) re-scope the WHERE evaluation the
    way FROM/FROM NAMED re-scope a query: default graph = merge of the
    USING graphs, named graphs = exactly the USING NAMED set. They
    override WITH for the WHERE clause only — templates still land in
    (or leave) the WITH/default graph."""
    from graphula_spark.sparql.parser import Parser

    p = Parser(update)
    p.parse_prologue()
    with_g = None
    if p.kw() == "WITH":
        p.next()
        t = p.parse_term()
        if not isinstance(t, str) or t.startswith('"'):
            raise SyntaxError("WITH expects an IRI")
        with_g = t
    word = p.kw()
    if word == "DELETE":
        p.next()
        if p.kw() == "WHERE":
            # DeleteWhere takes no USING clauses (§19.8 grammar)
            p.next()
            grp = p.parse_group()
            tmpl = _quads_from_group(grp, with_g)
            return _dataset_pattern_update(ds, grp, tmpl, None, with_g)
        del_t = _parse_ds_quad_template(p, with_g)
        ins_t = None
        if p.kw() == "INSERT":
            p.next()
            ins_t = _parse_ds_quad_template(p, with_g)
        using, using_named = _parse_using_clauses(p)
        p.expect_kw("WHERE")
        return _dataset_pattern_update(
            ds, p.parse_group(), del_t, ins_t, with_g, using, using_named
        )
    if word == "INSERT":
        p.next()
        ins_t = _parse_ds_quad_template(p, with_g)
        using, using_named = _parse_using_clauses(p)
        p.expect_kw("WHERE")
        return _dataset_pattern_update(
            ds, p.parse_group(), None, ins_t, with_g, using, using_named
        )
    raise SyntaxError(f"unsupported dataset update form at {p.peek()}")


def _parse_using_clauses(p):
    """( USING ( IRIref | NAMED IRIref ) )* — returns (using,
    using_named), both None when no clause appears (so the caller can
    tell "no USING" from "USING of an empty set")."""
    using = using_named = None
    while p.kw() == "USING":
        p.next()
        named = False
        if p.kw() == "NAMED":
            p.next()
            named = True
        t = p.parse_term()
        if not isinstance(t, str) or t.startswith('"'):
            raise SyntaxError("USING expects an IRI")
        if named:
            using_named = [*(using_named or []), t]
        else:
            using = [*(using or []), t]
    return using, using_named


def _parse_ds_quad_template(p, with_g):
    """{ triples (GRAPH <g> { triples })* ... } → [(pattern, gname)]."""
    out = []
    p.expect_op("{")
    while True:
        if p.kw() == "GRAPH":
            p.next()
            t = p.parse_term()
            if not isinstance(t, str) or t.startswith('"'):
                raise SyntaxError("GRAPH in an update template needs an IRI")
            p.expect_op("{")
            patterns, paths = p.parse_triples_block()
            if paths:
                raise SyntaxError(
                    "property paths not allowed in update templates"
                )
            p.eat_op(".")
            p.expect_op("}")
            out += [(pat, t) for pat in patterns]
            p.eat_op(".")
            continue
        if p.peek().kind == "OP" and p.peek().text == "}":
            p.next()
            return out
        patterns, paths = p.parse_triples_block()
        if paths:
            raise SyntaxError("property paths not allowed in update templates")
        p.eat_op(".")
        out += [(pat, with_g) for pat in patterns]


def _quads_from_group(grp: A.GroupGraphPattern, with_g):
    """DELETE WHERE: the group doubles as the template — Bgp patterns
    under the WITH/default graph, GRAPH <iri> blocks under theirs."""
    from graphula_spark.plans.bgp import Var

    tmpl = []
    for el in grp.elements:
        if isinstance(el, A.Bgp):
            tmpl += [(pat, with_g) for pat in el.patterns]
        elif isinstance(el, A.GraphGraphPattern):
            if isinstance(el.term, Var):
                raise NotImplementedError(
                    "DELETE WHERE with GRAPH ?var template"
                )
            for inner in el.group.elements:
                if isinstance(inner, A.Bgp):
                    tmpl += [(pat, el.term) for pat in inner.patterns]
                else:
                    raise SyntaxError(
                        "DELETE WHERE GRAPH blocks must be plain triples"
                    )
        else:
            raise SyntaxError("DELETE WHERE groups must be plain triples")
    return tmpl


def _dataset_pattern_update(
    ds, where, delete_t, insert_t, with_g, using=None, using_named=None
):
    """Evaluate WHERE once against the pre-state, instantiate both quad
    templates, delete then insert (SPARQL 1.1 Update §3.1.3). USING
    [NAMED] re-scopes the WHERE dataset only (overriding WITH there);
    the templates and the mutation always apply to the full store."""
    if using is not None or using_named is not None:
        where_graph, where_ds = ds.scoped(using or [], using_named or [])
    else:
        where_graph = (
            ds.graph(with_g) if with_g is not None else ds.default_graph
        )
        where_ds = ds
    base_graph = where_graph
    c = Compiler(base_graph, dataset=where_ds)
    sol = c.compile_group(where)
    out = ds
    if delete_t:
        out = out.delete_string_quads(
            _instantiate_quads(base_graph, c, sol, delete_t)
        )
    if insert_t:
        out = out.add_string_quads(
            _instantiate_quads(base_graph, c, sol, insert_t)
        )
    return out


def _instantiate_quads(graph, c: Compiler, sol: Solution, template) -> DataFrame:
    """[(pattern, gname)] × solutions → distinct (s,p,o,g) string quads
    (g NULL = default graph)."""
    by_g: dict = {}
    for pat, gname in template:
        by_g.setdefault(gname, []).append(pat)
    parts = []
    for gname, pats in by_g.items():
        triples = _instantiate_template(graph, c, sol, pats)
        parts.append(
            triples.withColumn(
                "g",
                F.lit(gname).cast("string")
                if gname is not None
                else F.lit(None).cast("string"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.distinct()


def _pattern_update(graph, where: A.GroupGraphPattern, delete_t, insert_t):
    """Evaluate WHERE once, instantiate both templates against the
    pre-state, delete then insert (SPARQL 1.1 Update §3.1.3)."""
    c = Compiler(graph)
    sol = c.compile_group(where)
    g2 = graph
    if delete_t:
        g2 = g2.delete_string_triples(
            _instantiate_template(graph, c, sol, delete_t)
        )
    if insert_t:
        g2 = g2.add_string_triples(
            _instantiate_template(graph, c, sol, insert_t)
        )
    return g2


def _instantiate_template(graph, c: Compiler, sol: Solution, template) -> DataFrame:
    """Template patterns × solution rows → distinct (s,p,o) term-string
    triples; rows with any unbound slot are skipped (SPARQL semantics).
    Shared with CONSTRUCT."""
    from graphula_spark.plans.bgp import Var

    used_vars = sorted(
        {
            t.name
            for pat in template
            for t in pat
            if isinstance(t, Var) and t.name in sol.vars
        }
    )
    sol = c.materialize(sol, [v for v in used_vars if v in sol.id_vars])
    parts = []
    for pat in template:
        cols = []
        ok = True
        for pos, t in zip(("s", "p", "o"), pat):
            if isinstance(t, Var):
                if t.name not in sol.vars:
                    ok = False
                    break
                cols.append(F.col(t.name).cast("string").alias(pos))
            else:
                cols.append(F.lit(t).alias(pos))
        if not ok:
            continue
        row = sol.df.select(*cols)
        parts.append(row.where(
            F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull()
        ))
    if not parts:
        from graphula_spark.literal import empty_df

        return empty_df(graph.spark, "s string, p string, o string")
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.distinct()


def _execute_construct(graph, c: Compiler, q: A.ConstructQuery) -> DataFrame:
    """CONSTRUCT → DataFrame of (s, p, o) term strings, distinct.

    The reference throws on CONSTRUCT (CustomQueryExecution.scala:
    218-239) — extension. Template rows with any unbound slot are
    skipped (SPARQL semantics).
    """
    sol = c.compile_group(q.where)
    return _slice(_instantiate_template(graph, c, sol, q.template), q)


def _slice(df: DataFrame, q) -> DataFrame:
    """LIMIT/OFFSET on CONSTRUCT/DESCRIBE results (over the distinct
    triple set; SPARQL imposes no inherent order, same as any engine's
    unordered slice)."""
    offset = getattr(q, "offset", None)
    limit = getattr(q, "limit", None)
    if offset:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)
    return df


def _execute_describe(graph, c: Compiler, q: A.DescribeQuery) -> DataFrame:
    """DESCRIBE → all triples whose subject is a described resource
    (simple symmetric-concise-bounded description: outgoing edges)."""
    from graphula_spark.plans.bgp import TriplePattern, Var

    spark = graph.spark
    iris = [t for t in q.terms if isinstance(t, str)]
    var_terms = [t for t in q.terms if isinstance(t, Var)]
    subjects = None
    if iris:
        ids = graph.dictionary.lookup_terms(iris)
        found = [ids[i] for i in iris if i in ids]
        from graphula_spark.literal import literal_df

        subjects = literal_df(spark, [(i,) for i in found], "s bigint")
    if var_terms and q.where is not None:
        sol = c.compile_group(q.where)
        for v in var_terms:
            if v.name in sol.id_vars:
                part = sol.df.select(F.col(v.name).alias("s")).distinct()
                subjects = part if subjects is None else subjects.unionByName(part)
    if subjects is None:
        from graphula_spark.literal import empty_df

        return empty_df(spark, "s string, p string, o string")
    subjects = subjects.distinct()
    triples = graph.triples.join(subjects, "s", "left_semi").select(
        "s", "p", "o"
    )
    # concise-bounded-description closure (SPARQL 1.1 §16.4 leaves the
    # description form open; CBD is the conventional one): follow
    # BLANK-NODE objects so anonymous structure attached to a described
    # resource rides along. Blank labels are ordinary dictionary terms
    # starting with "_:", so the blank id set is one filtered dict
    # scan; frontier-only joins keep each round O(frontier), and real
    # blank chains are shallow (bounded rounds)
    blank_ids = (
        graph.dictionary.df.where(F.col("value").startswith("_:"))
        .select(F.col("id").alias("s"))
    )
    seen = subjects
    frontier = subjects
    for _ in range(8):
        nxt = (
            graph.triples.join(frontier, "s", "left_semi")
            .select(F.col("o").alias("s"))
            .distinct()
            .join(blank_ids, "s", "left_semi")
            .join(seen, "s", "left_anti")
        )
        if nxt.isEmpty():
            break
        triples = triples.unionByName(
            graph.triples.join(nxt, "s", "left_semi").select("s", "p", "o")
        ).distinct()
        seen = seen.unionByName(nxt).distinct()
        frontier = nxt
    return _slice(graph.decode(triples, ["s", "p", "o"]), q)


def _execute_select(graph, c: Compiler, q: A.SelectQuery) -> DataFrame:
    sol = c.compile_group(q.where)
    values_clause = getattr(q, "values_clause", None)

    if q.select_star:
        proj_vars = sorted(sol.vars)
        variables = [(v, A.EVar(v)) for v in proj_vars]
    else:
        variables = q.variables

    if has_aggregates(q):
        if not q.group_by:
            # implicit single group
            q = A.SelectQuery(
                q.variables, q.where, q.distinct, [], q.having,
                q.order_by, q.limit, q.offset, q.select_star,
            )
        # projection expressions may COMBINE aggregates
        # (SELECT (SUM(?v) + COUNT(?v) AS ?t)): hoist each nested
        # aggregate into a hidden agg column, compute the combining
        # expression after grouping over those columns
        from graphula_spark.sparql.compiler import contains_aggregate

        proj_specs: list[tuple[str, A.EAggregate]] = []

        def hoist_proj(e):
            if isinstance(e, A.EAggregate):
                nm = c.fresh("projagg")
                proj_specs.append((nm, e))
                return A.EVar(nm)
            if isinstance(e, A.ECall):
                return A.ECall(e.func, [hoist_proj(a) for a in e.args])
            return e

        variables = [
            (name, hoist_proj(e))
            if isinstance(e, A.ECall) and contains_aggregate(e)
            else (name, e)
            for name, e in variables
        ]
        if proj_specs:
            q = A.SelectQuery(
                list(q.variables) + proj_specs, q.where, q.distinct,
                q.group_by, q.having, q.order_by, q.limit, q.offset,
                q.select_star,
            )

        # ORDER BY may contain aggregates (ORDER BY DESC(COUNT(?o))):
        # hoist each into a hidden aggregate column — same rewrite
        # compile_aggregate_query applies to HAVING — and sort on the
        # hidden variable instead (hidden columns are never projected;
        # `variables` was captured above)
        if q.order_by:
            extra_specs: list[tuple[str, A.EAggregate]] = []

            def hoist(e):
                if isinstance(e, A.EAggregate):
                    nm = c.fresh("ordagg")
                    extra_specs.append((nm, e))
                    return A.EVar(nm)
                if isinstance(e, A.ECall):
                    return A.ECall(e.func, [hoist(a) for a in e.args])
                return e

            new_order = [(hoist(e), asc) for e, asc in q.order_by]
            if extra_specs:
                q = A.SelectQuery(
                    list(q.variables) + extra_specs, q.where, q.distinct,
                    q.group_by, q.having, new_order, q.limit, q.offset,
                    q.select_star,
                )
        sol = c.compile_aggregate_query(q, sol)
        variables = [
            (name, A.EVar(name) if isinstance(e, A.EAggregate) else e)
            for name, e in variables
        ]

    if values_clause is not None:
        # trailing VALUES joins after grouping/HAVING, before projection
        # (SPARQL 1.1 §18.2.4.2)
        sol = c.join(sol, c.compile_values(values_clause))

    # compute any non-trivial projection expressions as extra columns
    out_cols: list[str] = []
    order_tmp: list[str] = []
    for name, e in variables:
        if isinstance(e, A.EVar) and e.name == name and name in sol.vars:
            out_cols.append(name)
            continue
        sol2, ce = c.compile_expr(sol, e)
        col = ce.num if (ce.num is not None and not ce.is_bool) else ce.val
        sol = Solution(
            sol2.df.withColumn(name, col),
            sol2.id_vars,
            sol2.val_vars | {name},
            sol2.maybe_unbound,
            sol2.computed_vars,
        )
        out_cols.append(name)

    # ORDER BY keys may reference arbitrary expressions: compute before decode
    sort_cols = []
    if q.order_by:
        for i, (expr, asc) in enumerate(q.order_by):
            sol2, ce = c.compile_expr(sol, expr)
            n = ce.numeric()
            k_num_null = f"__ord{i}_a"
            k_num = f"__ord{i}_b"
            k_str = f"__ord{i}_c"
            df = (
                sol2.df.withColumn(k_num_null, n.isNull().cast("int"))
                .withColumn(k_num, F.coalesce(n, F.lit(0.0)))
                .withColumn(k_str, ce.val)
            )
            sol = Solution(
                df,
                sol2.id_vars,
                sol2.val_vars,
                sol2.maybe_unbound,
                sol2.computed_vars,
            )
            for k in (k_num_null, k_num, k_str):
                sort_cols.append(F.col(k).asc() if asc else F.col(k).desc())
                order_tmp.append(k)

    # decode projected id vars (the one final dict join per column)
    sol = c.materialize(sol, [v for v in out_cols if v in sol.id_vars])

    df = sol.df.select(*(out_cols + order_tmp))
    if q.distinct:
        # order keys are expressions over projected vars in supported
        # queries, so dedup over (projection + keys) == dedup over
        # projection; DISTINCT runs before ORDER per SPARQL semantics
        df = df.dropDuplicates()
    if sort_cols:
        df = df.orderBy(*sort_cols)
    df = df.select(*out_cols)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df
