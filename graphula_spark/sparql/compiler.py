"""Compile SPARQL algebra to DataFrame operations.

This layer owns what the reference delegates to Jena ARQ
(SURVEY.md §2.2): FILTER → df.filter, OPTIONAL → left_outer join,
UNION → unionByName, MINUS → left_anti, EXISTS → left_semi,
DISTINCT → dropDuplicates, ORDER/LIMIT/OFFSET, GROUP BY + aggregates,
BIND/VALUES, ASK.

Representation invariants:
- a *solution* is a DataFrame with one column per in-scope variable;
  BGP-produced variables hold dictionary ids (long, "id vars"), while
  BIND/aggregate-produced variables hold computed values ("val vars").
- joins between solutions happen on shared id vars (cheap long equi
  joins, the late-materialization discipline of reference O22); if a
  shared var is a val var on either side, both sides are materialized
  to term strings first.
- expressions evaluate under SPARQL *value* semantics: literal lexical
  forms are extracted (``"5"^^<...int>`` → ``5``), numeric comparison
  is used when both sides are numeric, string comparison otherwise.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphula_spark.plans.bgp import TriplePattern, Var, execute_bgp
from graphula_spark.sparql import algebra as A

# ---------------------------------------------------------------------
# solution container
# ---------------------------------------------------------------------


@dataclass
class Solution:
    df: DataFrame
    id_vars: set[str] = field(default_factory=set)
    val_vars: set[str] = field(default_factory=set)
    #: vars that can be NULL (unbound) in some rows: produced by
    #: OPTIONAL's right side, UNION branches lacking the var, or VALUES
    #: UNDEF. Joins touching these use SPARQL compatibility semantics
    #: (unbound matches anything) instead of plain equi-joins.
    maybe_unbound: set[str] = field(default_factory=set)
    #: val vars holding COMPUTED VALUES (BIND / SELECT expressions —
    #: a double, or a lexical string from STR() etc.) rather than
    #: storage-form term strings. Joining one against a pattern/VALUES
    #: var needs value-domain alignment (round 10, SPARQL §10.1: the
    #: BIND var joins what follows in the group).
    computed_vars: set[str] = field(default_factory=set)

    @property
    def vars(self) -> set[str]:
        return self.id_vars | self.val_vars


_LEX_RE = r'^"((?:[^"\\]|\\.)*)"'


#: XSD namespace for constructor casts (SPARQL §17.5)
_XSD = "http://www.w3.org/2001/XMLSchema#"
#: XSD types treated as the integer cast family
_XSD_INTEGER_TYPES = {
    "integer", "int", "long", "short", "byte",
    "nonNegativeInteger", "nonPositiveInteger",
    "negativeInteger", "positiveInteger",
    "unsignedLong", "unsignedInt", "unsignedShort", "unsignedByte",
}

#: custom SPARQL function registry: IRI -> callable(args: list[CE]) -> CE.
#: The ARQ FunctionRegistry analogue (the reference inherits ARQ's via
#: Jena, build.sbt:25-26); register with `register_function`.
FUNCTION_REGISTRY: dict = {}


def register_function(iri: str, fn) -> None:
    """Register a custom function IRI usable in any SPARQL expression.

    ``fn`` receives the compiled argument expressions (list[CE]) and
    returns a CE — the Spark analogue of implementing ARQ's
    ``Function`` interface.
    """
    FUNCTION_REGISTRY[iri] = fn


def unregister_function(iri: str) -> None:
    FUNCTION_REGISTRY.pop(iri, None)


#: combined analyzed-plan leaf budget above which an all-nullable
#: compatibility-join decomposition swaps its inputs for lazy
#: localCheckpoints — each decomposition references a side up to three
#: times, so unchecked nesting grows the logical tree as 3^depth and
#: stalls Catalyst's single-threaded analyzer (round 13)
_DECOMP_LEAF_BUDGET = 16


def _let(value: Column, body) -> Column:
    """Single-evaluation let-binding: bind ``value`` to a lambda
    variable so ``body`` can reference it any number of times without
    Catalyst duplicating (and, in interpreted HOF evaluation,
    re-computing) the whole subtree per reference.

    Implemented as ``transform(array(value), body)[0]`` — the lambda
    variable is evaluated once per row. NULL propagates identically to
    inlining (``array(NULL)[0]`` is NULL fed through ``body``), and
    ``when()`` short-circuiting *inside* ``body`` is preserved, so
    guarded branches still skip their machinery per row.

    Round 14: ``rdf_value``'s unescape pipeline referenced its input
    ~5× per decode stage, nesting to ~25 copies of the 9-regex chain —
    a 628 KB physical-plan FILTER condition on `sq_lineitem_agg` that
    Catalyst re-analyzed per query and evaluated interpreted per row.
    Let-binding collapses the tree to one copy per stage (plan text
    21× smaller, identical results on every escape form)."""
    return F.get(F.transform(F.array(value), body), 0)


def _u16be_char(h4: Column) -> Column:
    """Single BMP character from 4 hex digits, JVM-side: the UTF-16BE
    byte encoding of a BMP code point IS its two big-endian bytes, so
    `decode(unhex(h4), 'UTF-16BE')` is a pure-Catalyst chr(). Lone
    surrogates come back verbatim (sentinel-masked backslash, matching
    `results.nt_unescape`'s malformed-escape contract), and so does
    \\u0000: a decoded NUL would collide with the backslash sentinel
    (this pass runs on sentinel-masked text) and silently turn into a
    literal backslash — both this path and `nt_unescape` leave it
    undecoded so variable- and constant-side values agree (ADVICE
    r13)."""
    return F.when(
        h4.rlike("^[dD][89a-fA-F]") | (h4 == "0000"),
        F.concat(F.lit("\x00u"), h4),
    ).otherwise(F.decode(F.unhex(h4), "UTF-16BE"))


def _u32_char(h8: Column) -> Column:
    """Character from 8 hex digits (\\U escapes): BMP points reuse the
    UTF-16BE trick on the low 4 digits; astral points are converted to
    a surrogate pair arithmetically and decoded as 4 UTF-16BE bytes.
    Out-of-range / surrogate code points come back verbatim, as does
    code point 0 (NUL collides with the backslash sentinel; see
    `_u16be_char`)."""
    def build(cp: Column) -> Column:
        v = cp - 0x10000
        hi = F.lit(0xD800) + F.shiftright(v, 10)
        lo = F.lit(0xDC00) + v.bitwiseAND(F.lit(0x3FF))
        pair = F.decode(
            F.unhex(
                F.concat(F.lpad(F.hex(hi), 4, "0"), F.lpad(F.hex(lo), 4, "0"))
            ),
            "UTF-16BE",
        )
        bmp = F.decode(F.unhex(F.substring(h8, 5, 4)), "UTF-16BE")
        verbatim = F.concat(F.lit("\x00U"), h8)
        return (
            F.when(cp > 0x10FFFF, verbatim)
            .when((cp >= 0xD800) & (cp <= 0xDFFF), verbatim)
            .when(cp == 0, verbatim)
            .when(cp <= 0xFFFF, bmp)
            .otherwise(pair)
        )

    # cp referenced by 4 branch conditions — bind it once (round 14)
    return _let(F.conv(h8, 16, 10).cast("long"), build)


def _decode_u_form(s: Column, marker: str, width: int, char_fn) -> Column:
    """Decode every ``\\<marker><width hex digits>`` escape in `s`
    (which is sentinel-masked: no ``\\\\`` pairs remain, so every match
    is a genuine escape): split on the escape pattern, map the captured
    hex payloads through `char_fn`, and interleave. A decoded backslash
    (\\u005C) is emitted as the sentinel so later passes cannot misread
    it as starting a new escape — the left-to-right contract."""
    pat = rf"\\{marker}([0-9a-fA-F]{{{width}}})"
    split_pat = rf"\\{marker}[0-9a-fA-F]{{{width}}}"

    def build(sv: Column) -> Column:
        # parts itself is referenced 3× — bind it too so the split runs
        # once per escape-bearing row
        def assemble(parts: Column) -> Column:
            # regexp_replace, NOT translate: translate's internal
            # delete-marker is U+0000, so mapping a char to the NUL
            # sentinel would delete it
            chars = F.transform(
                F.regexp_extract_all(sv, F.lit(pat), F.lit(1)),
                lambda h: F.regexp_replace(char_fn(h), r"\\", "\x00"),
            )
            return F.concat(
                F.element_at(parts, 1),
                F.coalesce(
                    F.array_join(
                        F.zip_with(
                            chars,
                            F.slice(
                                parts,
                                2,
                                F.greatest(F.size(parts) - 1, F.lit(1)),
                            ),
                            lambda d, p: F.concat(d, p),
                        ),
                        "",
                    ),
                    F.lit(""),
                ),
            )

        rebuilt = _let(F.split(sv, split_pat, -1), assemble)
        # the guard keeps the split/extract/zip machinery off rows with
        # no such escape (the overwhelmingly common case); a literal
        # substring contains() — not a regex — since it runs on every
        # FILTER row
        return F.when(sv.contains("\\" + marker), rebuilt).otherwise(sv)

    # `s` arrives as the (possibly deep) prior decode stage: bind it
    # once — it is evaluated exactly once either way (the contains()
    # guard needs it), but unbound it was COPIED ~5× into this stage's
    # tree, nesting to ~25 copies across the two stages (round 14)
    return _let(s, build)


def rdf_value(term: Column) -> Column:
    """Lexical form of a term string (reference keeps terms verbatim,
    Transformations.scala:21-23; value extraction happens only inside
    FILTER-style evaluation).

    Escape decoding (round 12): sequential regexp passes cannot decode
    overlapping escapes correctly (after `\\\\` -> `\\`, a following `n`
    would wrongly read as `\\n`), so `\\\\` is first swapped to a \\x00
    sentinel, the single-char ECHARs decoded, then the sentinel
    restored — a correct left-to-right simulation in pure Catalyst
    expressions. \\uXXXX / \\UXXXXXXXX decode JVM-side too (round 13,
    ADVICE r12: the constant side decoded them via `nt_unescape` but
    the variable side didn't, so CONTAINS(?v, "\\u00E9") disagreed with
    stored "Caf\\u00E9") — see `_decode_u_form`: UTF-16BE byte decoding
    stands in for the chr() Catalyst lacks. NUL (\\u0000) stays as the
    verbatim six-char escape on BOTH paths — here AND in
    `results.nt_unescape` — because a decoded NUL collides with the
    sentinel; the two views agree by construction (ADVICE r13)."""
    def build(lex: Column) -> Column:
        u = F.regexp_replace(lex, r"\\\\", "\x00")
        for pat, rep in (
            (r'\\"', '"'), (r"\\t", "\t"), (r"\\n", "\n"),
            (r"\\r", "\r"), (r"\\b", "\b"), (r"\\f", "\f"), (r"\\'", "'"),
        ):
            u = F.regexp_replace(u, pat, rep)
        u = _decode_u_form(u, "U", 8, _u32_char)
        u = _decode_u_form(u, "u", 4, _u16be_char)
        unescaped = F.regexp_replace(u, "\x00", r"\\")
        # one literal contains() gates the whole 9-regex + split decode
        # chain: a lexical form with no backslash (virtually every row
        # of a real store) is already its own value (round 13 —
        # sq_filter spent ~2x its r03 cost inside always-on escape
        # machinery). The guard lives INSIDE the let body, so the
        # short-circuit survives the binding.
        return F.when(lex.contains("\\"), unescaped).otherwise(lex)

    # lex (a regexp_extract) is referenced by the chain start, the
    # guard and the fallback — bind it once (round 14, see _let)
    return F.when(
        term.startswith('"'),
        _let(F.regexp_extract(term, _LEX_RE, 1), build),
    ).otherwise(term)


#: datatype suffix of a *numeric* typed literal (§17.3 operand typing)
_NUM_DT_RE = (
    r'\^\^<http://www\.w3\.org/2001/XMLSchema#'
    r"(integer|decimal|double|float|long|int|short|byte|"
    r"nonNegativeInteger|nonPositiveInteger|negativeInteger|"
    r"positiveInteger|unsignedLong|unsignedInt|unsignedShort|"
    r"unsignedByte)>$"
)


def term_numeric(term: Column, lex: Column) -> Column:
    """Numeric view of a term, derived from its *datatype* (§17.3), not
    from whether the lexical form happens to parse: a quoted literal is
    numeric only when it carries a numeric XSD datatype — a plain or
    xsd:string literal like ``"5"`` is NOT a number (fn:compare orders
    it as a string, and number-vs-string ordering is a type error).
    Unquoted tokens (this engine's relaxed relational-ingest storage,
    which writes raw column values as bare terms) keep the try_cast
    behavior; IRIs/bnodes cast to NULL there anyway."""
    return F.when(
        term.startswith('"'),
        F.when(term.rlike(_NUM_DT_RE), lex.try_cast("double")),
    ).otherwise(lex.try_cast("double"))




@dataclass
class CE:
    """Compiled expression: value column + optional numeric view + the
    full term-string column when one exists."""

    val: Column
    num: Column | None = None
    term: Column | None = None
    is_bool: bool = False
    #: known non-numeric (string/IRI constants): numeric() yields NULL
    #: so §17.3 ordering treats number-vs-string as a type error, while
    #: BIND still stores the string value (num stays None there)
    non_numeric: bool = False

    def numeric(self) -> Column:
        if self.non_numeric:
            return F.lit(None).cast("double")
        return self.num if self.num is not None else self.val.try_cast("double")


class Compiler:
    def __init__(self, graph, dataset=None):
        self.graph = graph
        self.spark = graph.spark
        #: optional Dataset for GRAPH clauses (named graphs); None for
        #: plain triple stores — GRAPH then raises a helpful error
        self.dataset = dataset
        self._tmp = 0

    # ------------------------------------------------------------------
    def fresh(self, base: str) -> str:
        self._tmp += 1
        return f"__{base}{self._tmp}"

    def term_col(self, sol: Solution, var: str) -> tuple[Solution, Column]:
        """Column holding the term *string* for a variable, decoding an
        id var on the fly (late materialization boundary)."""
        if var in sol.val_vars:
            return sol, F.col(var).cast("string")
        tmp = self.fresh(f"t_{var}")
        df = self.graph.dictionary.with_values(sol.df, var, tmp)
        return Solution(
            df, sol.id_vars, sol.val_vars, sol.maybe_unbound,
            sol.computed_vars,
        ), F.col(tmp)

    def materialize(self, sol: Solution, vars_: list[str]) -> Solution:
        """Replace id columns with decoded term strings for `vars_`."""
        df = sol.df
        for v in vars_:
            if v in sol.id_vars:
                df = self.graph.dictionary.decode_col(df, v)
        return Solution(
            df,
            sol.id_vars - set(vars_),
            sol.val_vars | (set(vars_) & sol.id_vars) | (sol.val_vars & set(vars_)),
            sol.maybe_unbound,
            sol.computed_vars,
        )

    # ------------------------------------------------------------------
    # group graph pattern
    # ------------------------------------------------------------------
    def compile_group(self, group: A.GroupGraphPattern) -> Solution:
        sol: Solution | None = None
        deferred_filters: list = []
        for el in group.elements:
            if isinstance(el, A.Bgp):
                bgp_sol = self.compile_bgp(el.patterns)
                sol = self.join(sol, bgp_sol) if sol is not None else bgp_sol
            elif isinstance(el, A.SubGroup):
                sub = self.compile_group(el.group)
                sol = self.join(sol, sub) if sol is not None else sub
            elif isinstance(el, A.Union):
                branches = [self.compile_group(g) for g in el.groups]
                u = self.union_all(branches)
                sol = self.join(sol, u) if sol is not None else u
            elif isinstance(el, A.Optional_):
                sol = self.compile_optional(sol, el.group)
            elif isinstance(el, A.Minus):
                right = self.compile_group(el.group)
                sol = self.minus(sol, right)
            elif isinstance(el, A.GraphGraphPattern):
                g_sol = self.compile_graph_pattern(el)
                sol = self.join(sol, g_sol) if sol is not None else g_sol
            elif isinstance(el, A.ServicePattern):
                s_sol = self.compile_service(el)
                if s_sol is not None:
                    sol = self.join(sol, s_sol) if sol is not None else s_sol
            elif isinstance(el, A.Filter):
                deferred_filters.append(el.expr)
            elif isinstance(el, A.Bind):
                sol = self.bind(sol, el)
            elif isinstance(el, A.InlineValues):
                v = self.compile_values(el)
                sol = self.join(sol, v) if sol is not None else v
            elif isinstance(el, A.PathPattern):
                p = self.compile_path(el)
                sol = self.join(sol, p) if sol is not None else p
            elif isinstance(el, A.SubSelect):
                s = self.compile_subselect(el.query)
                sol = self.join(sol, s) if sol is not None else s
            else:
                raise NotImplementedError(f"group element {type(el).__name__}")
        if sol is None:
            sol = Solution(self.spark.range(1).select(F.lit(1).alias("__unit")))
        # SPARQL scopes filters to the whole group
        for f in deferred_filters:
            sol = self.apply_filter(sol, f)
        return sol

    def compile_bgp(self, patterns: list[TriplePattern]) -> Solution:
        df = self.graph.execute_bgp(patterns)
        return Solution(df, id_vars=set(df.columns))

    def compile_graph_pattern(self, el: A.GraphGraphPattern) -> Solution:
        """GRAPH <iri> / GRAPH ?g (SPARQL 1.1 §13.3) — extension; the
        reference's store is triples-only. The named-graph view shares
        the dataset's single hash-id dictionary, so the inner group
        compiles unchanged against a g-filtered quad scan. GRAPH ?g
        unions one lazy branch per named graph (the graph list is
        catalog-sized) with ?g bound to the graph's id — decoded only
        at the late-materialization boundary like every other var."""
        if self.dataset is None:
            raise NotImplementedError(
                "GRAPH requires a quad dataset (Dataset.from_nquads / "
                "from_string_quads); this store is triples-only"
            )
        saved = self.graph
        try:
            if isinstance(el.term, Var):
                gvar = el.term.name
                branches = []
                for _name, gid in self.dataset.graph_names():
                    self.graph = self.dataset.graph_by_id(gid)
                    sub = self.compile_group(el.group)
                    branches.append(
                        Solution(
                            sub.df.withColumn(gvar, F.lit(gid)),
                            sub.id_vars | {gvar},
                            sub.val_vars,
                            sub.maybe_unbound,
                        )
                    )
                if not branches:
                    empty = self.spark.range(0).select(
                        F.col("id").cast("long").alias(gvar)
                    )
                    return Solution(empty, id_vars={gvar})
                return self.union_all(branches)
            self.graph = self.dataset.graph(el.term)
            return self.compile_group(el.group)
        finally:
            self.graph = saved

    def compile_service(self, el: A.ServicePattern) -> Solution | None:
        """SERVICE [SILENT] <iri> { ... } — in-process federation
        (see `sparql.service`). The group compiles against the
        registered Graph/Dataset, then every id var is materialized
        with THAT graph's dictionary before rejoining: independently
        loaded graphs need not agree on collision-exception ids, and
        service-only vars would otherwise decode through the wrong
        dictionary at the output boundary. The reference gets remote
        SERVICE from ARQ (Sparql.scala:41-52); remote HTTP endpoints
        here raise — register the data as a loaded Graph instead.

        Returns None for SILENT with an unregistered IRI (the spec's
        unit solution — a join identity)."""
        from graphula_spark.dataset import Dataset
        from graphula_spark.sparql.service import resolve_service

        target = resolve_service(el.iri)
        if target is None:
            if el.silent:
                return None
            raise NotImplementedError(
                f"SERVICE <{el.iri}>: no in-process dataset registered "
                "under this IRI (remote SPARQL endpoints are not "
                "supported without a transport); load the data and call "
                "graphula_spark.sparql.service.register_service, or "
                "install a transport via set_default_transport"
            )
        if callable(target) and not isinstance(target, Dataset) and not hasattr(
            target, "triples"
        ):
            return self._service_via_transport(el, target)
        if isinstance(target, Dataset):
            t_graph, t_dataset = target.default_graph, target
        else:
            t_graph, t_dataset = target, None
        saved_graph, saved_dataset = self.graph, self.dataset
        try:
            self.graph = t_graph
            self.dataset = t_dataset
            sub = self.compile_group(el.group)
            if t_graph is not saved_graph:
                # materialize while self.graph is still the target so
                # decode_col uses the service dictionary
                sub = self.materialize(sub, sorted(sub.id_vars))
            return sub
        finally:
            self.graph = saved_graph
            self.dataset = saved_dataset

    def _service_via_transport(self, el: "A.ServicePattern", fetch) -> Solution | None:
        """Execute SERVICE through a caller-supplied transport: hand it
        the endpoint IRI and the group's verbatim SPARQL text, join the
        returned solutions (list of {var: term-string} dicts) as a
        value-materialized solution. One driver-side call per SERVICE
        clause — never per row — so the 1000-executor DoS shape the
        module docstring forbids cannot arise. SILENT swallows
        transport failures into the unit solution, per spec."""
        from pyspark.sql.types import StringType, StructField, StructType

        try:
            rows = fetch(el.iri, el.remote_query or "")
        except Exception:
            if el.silent:
                return None
            raise
        cols = sorted({v for r in rows for v in r})
        if not cols:
            # var-less unit solutions (e.g. a fully-bound remote group)
            df = self.graph.spark.createDataFrame(
                [tuple() for _ in rows], StructType([])
            )
        else:
            from graphula_spark.literal import literal_df

            # JVM literal for the common small-result case; literal_df
            # falls back to parallelize above its row cap
            df = literal_df(
                self.graph.spark,
                [tuple(r.get(c) for c in cols) for r in rows],
                [(c, "string") for c in cols],
            )
        unbound = {c for c in cols if any(r.get(c) is None for r in rows)}
        return Solution(df, val_vars=set(cols), maybe_unbound=unbound)

    # -- solution combinators ------------------------------------------
    def _align_for_join(
        self, left: Solution, right: Solution
    ) -> tuple[Solution, Solution, list[str]]:
        shared = sorted(left.vars & right.vars)
        mixed = [
            v
            for v in shared
            if (v in left.id_vars) != (v in right.id_vars)
        ]
        if mixed:
            left = self.materialize(left, [v for v in mixed if v in left.id_vars])
            right = self.materialize(right, [v for v in mixed if v in right.id_vars])
        # value-domain alignment (round 10, SPARQL §10.1): a computed
        # var (BIND/SELECT expression) holds a VALUE — a double, or a
        # lexical string — while pattern/VALUES vars hold STORAGE TERM
        # strings ('"4"^^<…integer>'). Raw equality between the two
        # either never matches or trips an ANSI cast; normalize the
        # term side into the computed side's value domain.
        for v in shared:
            l_comp = v in left.computed_vars
            r_comp = v in right.computed_vars
            if l_comp == r_comp:
                continue
            comp, term_side = (left, right) if l_comp else (right, left)
            dtype = dict(comp.df.dtypes).get(v, "string")
            tcol = F.col(v).cast("string")
            if dtype in ("double", "float", "bigint", "int", "decimal"):
                conv = term_numeric(tcol, rdf_value(tcol))
            else:
                conv = rdf_value(tcol)
            aligned = Solution(
                term_side.df.withColumn(v, conv),
                term_side.id_vars,
                term_side.val_vars,
                term_side.maybe_unbound,
                term_side.computed_vars | {v},
            )
            if l_comp:
                right = aligned
            else:
                left = aligned
        return left, right, shared

    @staticmethod
    def _decomp_leaf_count(df) -> int:
        try:
            return df._jdf.queryExecution().analyzed().collectLeaves().size()
        except Exception:  # pragma: no cover - defensive
            return 1 << 20  # unknown: assume big, take the barrier

    def _compat_join(
        self, left: Solution, right: Solution, shared: list[str],
        nullable: list[str], how: str,
    ) -> DataFrame:
        """Join under SPARQL compatibility: for vars that can be unbound
        on either side, NULL matches anything and the merged row takes
        the bound value (coalesce). Vars certainly bound on both sides
        stay plain equality clauses, so Catalyst still extracts them as
        hash-join keys; the null-tolerant clauses ride along as a
        residual condition.

        When EVERY shared var is null-tolerant there is no plain
        equality conjunct to extract and the join planned as a
        BroadcastNestedLoopJoin — O(|L|·|R|) comparisons in ONE task
        (round 13: the BIND-join-back shape spent 279 s / 2.25e9
        comparisons in exactly this plan at sf0.1, zero shuffle, one
        278 s task). That case now decomposes on a pivot var p into
        three disjoint branches by the (l.p IS NULL, r.p IS NULL)
        pattern: bound-on-both-sides rows HASH-join on p (the mass),
        and the null-on-either-side slivers ride residual joins, all
        unioned — identical multiset semantics, each pair of rows
        matched by exactly one branch."""
        rdf = right.df.select(
            *[F.col(c).alias(f"__rj_{c}") for c in right.df.columns]
        )

        def clause(v):
            r = F.col(f"__rj_{v}")
            if v in nullable:
                return F.col(v).isNull() | r.isNull() | (F.col(v) == r)
            return F.col(v) == r

        def conj(vs):
            cond = F.lit(True)
            for v in vs:
                cond = cond & clause(v)
            return cond

        if shared and len(nullable) == len(shared):
            # The decomposition's non-inner handling (uid + null-extend
            # union) IS left_outer; a semi/anti caller would silently
            # get wrong multisets, so fail loudly if one ever appears
            # (today's callers only pass inner / left_outer — ADVICE
            # r13). Such a caller should fall through to the plain
            # join below instead.
            if how not in ("inner", "left_outer"):
                raise AssertionError(
                    f"_compat_join all-nullable decomposition supports "
                    f"inner/left_outer only, got {how!r}"
                )
            piv, rest = shared[0], shared[1:]
            lp, rp = F.col(piv), F.col(f"__rj_{piv}")
            # Plan-size control: the branches reference each side up to
            # three times, so NESTED decompositions grow the logical
            # tree as 3^depth — Catalyst's single-threaded analyzer
            # burned 13+ CPU-minutes on one such tree (round 13, caught
            # by the full suite). Once the combined leaf count crosses
            # the budget, LAZY localCheckpoints swap the subtrees for
            # leaf nodes (materialized once at first execution; no
            # compile-time job, unlike eager). Small plans skip the
            # barrier and keep full pushdown across the join.
            ldf = left.df
            uid = None
            if how != "inner":
                uid = self.fresh("cj")
                # the uid side always checkpoints: a re-derived
                # monotonically_increasing_id is only stable per
                # evaluation, and post-shuffle row order can differ
                # between the branch evaluations
                ldf = ldf.withColumn(
                    uid, F.monotonically_increasing_id()
                ).localCheckpoint(eager=False)
            if (
                self._decomp_leaf_count(ldf) + self._decomp_leaf_count(rdf)
                > _DECOMP_LEAF_BUDGET
            ):
                ldf = ldf.localCheckpoint(eager=False)
                rdf = rdf.localCheckpoint(eager=False)
            a = ldf.where(lp.isNotNull()).join(
                rdf.where(rp.isNotNull()), (lp == rp) & conj(rest), "inner"
            )
            b = ldf.where(lp.isNull()).join(rdf, conj(rest), "inner")
            c = ldf.where(lp.isNotNull()).join(
                rdf.where(rp.isNull()), conj(rest), "inner"
            )
            df = a.unionByName(b).unionByName(c)
            if uid is not None:
                # left_outer: null-extend the left rows no branch hit
                rtypes = dict(rdf.dtypes)
                unmatched = ldf.join(
                    df.select(uid).distinct(), uid, "left_anti"
                )
                for rc, rt in rtypes.items():
                    unmatched = unmatched.withColumn(
                        rc, F.lit(None).cast(rt)
                    )
                df = df.unionByName(unmatched).drop(uid)
        else:
            df = left.df.join(rdf, conj(shared), how)
        for v in shared:
            if v in nullable:
                df = df.withColumn(v, F.coalesce(F.col(v), F.col(f"__rj_{v}")))
            df = df.drop(f"__rj_{v}")
        for c in right.df.columns:
            if c not in shared:
                df = df.withColumnRenamed(f"__rj_{c}", c)
        return df

    def join(self, left: Solution | None, right: Solution) -> Solution:
        if left is None:
            return right
        left, right, shared = self._align_for_join(left, right)
        nullable = [
            v for v in shared
            if v in left.maybe_unbound or v in right.maybe_unbound
        ]
        ldf = left.df
        rdf = right.df
        if shared and not nullable:
            df = ldf.join(rdf, on=shared, how="inner")
        elif shared:
            df = self._compat_join(left, right, shared, nullable, "inner")
        else:
            df = ldf.crossJoin(rdf)
        # a shared nullable var stays nullable only if BOTH sides can
        # leave it unbound (coalesce of two NULLs); a var certain on one
        # side is certain after the join
        mu = (
            (left.maybe_unbound - right.vars)
            | (right.maybe_unbound - left.vars)
            | (left.maybe_unbound & right.maybe_unbound)
        )
        return Solution(
            df.drop("__unit") if "__unit" in df.columns else df,
            (left.id_vars | right.id_vars) - (left.val_vars | right.val_vars),
            left.val_vars | right.val_vars,
            mu,
            left.computed_vars | right.computed_vars,
        )

    def compile_optional(
        self, left: Solution | None, group: A.GroupGraphPattern
    ) -> Solution:
        """OPTIONAL = SPARQL LeftJoin(left, right, F).

        Filters inside the group that only mention the group's own
        variables stay inside (equivalent and cheaper). A filter that
        references *outer* variables is the LeftJoin condition: it is
        evaluated on the merged row, and rows failing it fall back to
        the left side — computed as Filter(F, Join) ∪ (left ∖ matched).
        """
        if left is None:
            return self.compile_group(group)

        def group_own_vars(g: A.GroupGraphPattern) -> set[str]:
            out: set[str] = set()
            for el in g.elements:
                if isinstance(el, A.Bgp):
                    for pat in el.patterns:
                        out |= {v for _, v in pat.vars()}
                elif isinstance(el, (A.SubGroup, A.Optional_, A.Minus)):
                    out |= group_own_vars(el.group)
                elif isinstance(el, A.Union):
                    for b in el.groups:
                        out |= group_own_vars(b)
                elif isinstance(el, A.Bind):
                    out.add(el.var)
                elif isinstance(el, A.InlineValues):
                    out |= set(el.vars)
                elif isinstance(el, A.PathPattern):
                    for t in (el.s, el.o):
                        if isinstance(t, Var):
                            out.add(t.name)
            return out

        def expr_vars(e) -> set[str]:
            if isinstance(e, A.EVar):
                return {e.name}
            if isinstance(e, A.ECall):
                return set().union(*(expr_vars(a) for a in e.args)) if e.args else set()
            return set()

        own = group_own_vars(group)
        inner_elements, correlated = [], []
        for el in group.elements:
            if (
                isinstance(el, A.Filter)
                and not isinstance(el.expr, A.EExists)
                and not (expr_vars(el.expr) <= own)
            ):
                correlated.append(el.expr)
            else:
                inner_elements.append(el)
        right = self.compile_group(A.GroupGraphPattern(inner_elements))
        if not correlated:
            return self.left_join(left, right)

        # Filter(F, Join) ∪ (left rows with no surviving partner).
        # Multiset-exact (ARQ semantics): each left row gets a
        # deterministic tag — a row_number within its duplicate group,
        # windowed over the FULL left row (hash-partitioned shuffle, no
        # global sort) — so identical duplicate left rows are tracked
        # independently through the join and the difference.
        from pyspark.sql.window import Window

        left_cols = sorted(left.vars)
        dup_w = Window.partitionBy(*left_cols).orderBy(F.lit(1))
        tagged = Solution(
            left.df.withColumn("__lrow", F.row_number().over(dup_w)),
            left.id_vars,
            left.val_vars,
            left.maybe_unbound,
            left.computed_vars,
        )
        joined = self.join(tagged, right)
        for f in correlated:
            joined = self.apply_filter(joined, f)
        matched_df = joined.df.select("__lrow", *sorted(joined.vars))
        unmatched = tagged.df.select("__lrow", *left_cols).join(
            matched_df.select("__lrow", *left_cols).dropDuplicates(),
            on=["__lrow", *left_cols],
            how="left_anti",
        )
        for v in sorted(joined.vars - left.vars):
            unmatched = unmatched.withColumn(
                v, F.lit(None).cast(matched_df.schema[v].dataType)
            )
        result_df = (
            matched_df.unionByName(unmatched.select("__lrow", *sorted(joined.vars)))
            .drop("__lrow")
        )
        return Solution(
            result_df,
            joined.id_vars,
            joined.val_vars,
            joined.maybe_unbound | (joined.vars - left.vars),
            joined.computed_vars,
        )

    def left_join(self, left: Solution | None, right: Solution) -> Solution:
        if left is None:
            return right
        left, right, shared = self._align_for_join(left, right)
        nullable = [
            v for v in shared
            if v in left.maybe_unbound or v in right.maybe_unbound
        ]
        # drop helper columns from the right side that collide
        keep = [c for c in right.df.columns if c in right.vars]
        rsol = Solution(
            right.df.select(*keep), right.id_vars, right.val_vars,
            right.maybe_unbound, right.computed_vars,
        )
        if shared and not nullable:
            df = left.df.join(rsol.df, on=shared, how="left_outer")
        elif shared:
            df = self._compat_join(left, rsol, shared, nullable, "left_outer")
        else:
            df = left.df.crossJoin(rsol.df)
        mu = (
            left.maybe_unbound
            | (right.vars - left.vars)  # unmatched left rows leave these NULL
            | (right.maybe_unbound & left.maybe_unbound)
        )
        return Solution(
            df,
            (left.id_vars | right.id_vars) - (left.val_vars | right.val_vars),
            left.val_vars | right.val_vars,
            mu,
            left.computed_vars | right.computed_vars,
        )

    def minus(self, left: Solution | None, right: Solution) -> Solution:
        if left is None:
            raise ValueError("MINUS with empty left side")
        left2, right2, shared = self._align_for_join(left, right)
        if not shared:
            # SPARQL MINUS with disjoint domains removes nothing
            return left
        nullable = [
            v for v in shared
            if v in left2.maybe_unbound or v in right2.maybe_unbound
        ]
        rdf = right2.df.select(*shared).dropDuplicates(shared)
        if not nullable:
            df = left2.df.join(rdf, on=shared, how="left_anti")
        else:
            # spec MINUS: remove the left row if a compatible right row
            # exists AND their bound domains actually intersect
            rdf = rdf.select(*[F.col(v).alias(f"__rj_{v}") for v in shared])
            compat = None
            overlap = None
            for v in shared:
                r = F.col(f"__rj_{v}")
                cl = F.col(v).isNull() | r.isNull() | (F.col(v) == r)
                compat = cl if compat is None else compat & cl
                ov = F.col(v).isNotNull() & r.isNotNull()
                overlap = ov if overlap is None else overlap | ov
            df = left2.df.join(rdf, compat & overlap, "left_anti")
        return Solution(
            df,
            left2.id_vars,
            left2.val_vars,
            left2.maybe_unbound,
            left2.computed_vars,
        )

    def union_all(self, branches: list[Solution]) -> Solution:
        all_id = set().union(*(b.id_vars for b in branches))
        all_val = set().union(*(b.val_vars for b in branches))
        overlap = all_id & all_val
        if overlap:
            branches = [self.materialize(b, sorted(overlap & b.id_vars)) for b in branches]
            all_id -= overlap
            all_val |= overlap
        dfs = []
        for b in branches:
            cols = [c for c in b.df.columns if c in b.vars]
            dfs.append(b.df.select(*cols))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        all_vars = all_id | all_val
        mu = set().union(*(b.maybe_unbound for b in branches))
        for b in branches:
            mu |= all_vars - b.vars  # missing in this branch → NULL rows
        cv = set().union(*(b.computed_vars for b in branches))
        return Solution(out, all_id, all_val, mu, cv)

    # -- subqueries ------------------------------------------------------
    def compile_subselect(self, q) -> Solution:
        """SPARQL 1.1 subquery → Solution. Projected plain variables stay
        as dictionary-id columns so the outer query joins on longs; only
        computed/aggregate columns become value vars."""
        sol = self.compile_group(q.where)
        has_agg = q.group_by or any(
            isinstance(e, A.EAggregate) for _, e in q.variables
        )
        if q.select_star:
            variables = [(v, A.EVar(v)) for v in sorted(sol.vars)]
        else:
            variables = q.variables
        if has_agg:
            sub_q = A.SelectQuery(
                variables, q.where, q.distinct, q.group_by or [], q.having,
                q.order_by, q.limit, q.offset, q.select_star,
            )
            sol = self.compile_aggregate_query(sub_q, sol)
            variables = [
                (name, A.EVar(name)) for name, _ in variables
            ]
        out_cols: list[str] = []
        for name, e in variables:
            if isinstance(e, A.EVar) and e.name == name and name in sol.vars:
                out_cols.append(name)
                continue
            sol2, ce = self.compile_expr(sol, e)
            col = ce.num if (ce.num is not None and not ce.is_bool) else ce.val
            sol = Solution(
                sol2.df.withColumn(name, col), sol2.id_vars, sol2.val_vars | {name}
            )
            out_cols.append(name)
        sort_cols = []
        if q.order_by:
            df_sol = sol
            for i, (expr, asc) in enumerate(q.order_by):
                df_sol, ce = self.compile_expr(df_sol, expr)
                n = ce.numeric()
                for suffix, c in (("a", n.isNull().cast("int")), ("b", F.coalesce(n, F.lit(0.0))), ("c", ce.val)):
                    k = f"__sord{i}{suffix}"
                    df_sol = Solution(
                        df_sol.df.withColumn(k, c), df_sol.id_vars, df_sol.val_vars
                    )
                    sort_cols.append(F.col(k).asc() if asc else F.col(k).desc())
            sol = df_sol
            df = sol.df
        else:
            df = sol.df
        keep = out_cols + [c for c in df.columns if c.startswith("__sord")]
        df = df.select(*keep)
        if q.distinct:
            df = df.dropDuplicates(out_cols)
        if sort_cols:
            df = df.orderBy(*sort_cols)
        df = df.select(*out_cols)
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return Solution(
            df,
            id_vars={c for c in out_cols if c in sol.id_vars},
            val_vars={c for c in out_cols if c not in sol.id_vars},
            maybe_unbound={c for c in out_cols if c in sol.maybe_unbound},
        )

    # -- property paths --------------------------------------------------
    def _path_pairs(self, p) -> DataFrame:
        """Evaluate a path expression tree to a (src, dst) id-pair DF.

        Sequence = equi-join on the middle node, alternation = union,
        +/* = semi-naive transitive closure (operators/paths.py), ^ =
        column swap. Zero-length semantics for * and ? bind s=o over the
        nodes incident to the sub-path's edge set (ARQ restricts to graph
        terms; incident nodes are the pragmatic distributed equivalent).

        Cardinality (§18.4, round 13 — the agg18 manifest case caught
        seq/alt dedup): sequence, alternation, inverse, and negated
        sets translate to Join/Union/triple matches, which are
        MULTISET-preserving — two routes to the same (src, dst) yield
        two rows. Only the ALP-defined closures (*, +, ?) are
        set-semantics and keep their distincts."""
        from graphula_spark.operators.paths import transitive_closure

        if isinstance(p, A.PIri):
            return self.graph.execute_bgp(
                [TriplePattern(Var("src"), p.iri, Var("dst"))]
            )
        if isinstance(p, A.PInv):
            inner = self._path_pairs(p.path)
            return inner.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        if isinstance(p, A.PSeq):
            a = self._path_pairs(p.a).select(
                "src", F.col("dst").alias("__mid")
            )
            b = self._path_pairs(p.b).select(
                F.col("src").alias("__mid"), "dst"
            )
            return a.join(b, "__mid").select("src", "dst")
        if isinstance(p, A.PAlt):
            return self._path_pairs(p.a).unionByName(self._path_pairs(p.b))
        if isinstance(p, A.PMod):
            base = self._path_pairs(p.path)
            if p.mod == "+":
                return transitive_closure(base, "src", "dst")
            zero = self._zero_length_identity(base)
            if p.mod == "?":
                return base.unionByName(zero).distinct()
            return (
                transitive_closure(base, "src", "dst")
                .unionByName(zero)
                .distinct()
            )
        if isinstance(p, A.PNeg):
            # SPARQL 1.1 §9.1 NegatedPropertySet: forward branch over
            # triples whose predicate is outside the forward set, plus
            # the reversed branch for `^`-members. A NOT IN over a tiny
            # literal id list rides the predicate-partitioned scan.
            ids = self.graph.dictionary.lookup_terms(
                list({*p.fwd, *p.inv})
            )
            trip = self.graph.triples.select(
                F.col("s").alias("src"), "p", F.col("o").alias("dst")
            )
            parts = []
            if p.fwd:
                fwd_ids = [ids[t] for t in p.fwd if ids.get(t) is not None]
                cond = ~F.col("p").isin(fwd_ids) if fwd_ids else F.lit(True)
                parts.append(trip.where(cond).select("src", "dst"))
            if p.inv:
                inv_ids = [ids[t] for t in p.inv if ids.get(t) is not None]
                cond = ~F.col("p").isin(inv_ids) if inv_ids else F.lit(True)
                parts.append(
                    trip.where(cond).select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                )
            out = parts[0]
            for part in parts[1:]:
                out = out.unionByName(part)
            # multiset: each matching TRIPLE contributes a row (§18.4);
            # two distinct predicates outside the set linking the same
            # endpoints yield two rows, like the Union translation
            return out
        if isinstance(p, A.PRange):
            base = self._path_pairs(p.path).distinct()
            lo, hi = p.lo, p.hi
            if hi is None:
                # {lo,}: closure gives length>=1; pre-compose lo-1 hops
                reach = transitive_closure(base, "src", "dst")
                for _ in range(max(lo - 1, 0)):
                    reach = self._compose_pairs(base, reach)
                out = reach
            else:
                powers = []
                cur = base
                for k in range(1, hi + 1):
                    if k >= max(lo, 1):
                        powers.append(cur)
                    if k < hi:
                        cur = self._compose_pairs(cur, base)
                out = powers[0] if powers else None
                for pw in powers[1:]:
                    out = out.unionByName(pw)
            if lo == 0:
                zero = self._zero_length_identity(base)
                out = zero if out is None else out.unionByName(zero)
            return out.distinct()
        raise NotImplementedError(f"path node {type(p).__name__}")

    @staticmethod
    def _compose_pairs(a: DataFrame, b: DataFrame) -> DataFrame:
        """Relational composition a;b on (src, dst) pair sets."""
        return (
            a.select("src", F.col("dst").alias("__m"))
            .join(b.select(F.col("src").alias("__m"), "dst"), "__m")
            .select("src", "dst")
            .distinct()
        )

    def _zero_length_identity(self, base: DataFrame) -> DataFrame:
        """Zero-length pairs (s=o) for `*`/`?`/`{0,n}` paths.

        Default domain: nodes incident to the sub-path's edge set — the
        pragmatic distributed interpretation (documented deviation,
        ROADMAP.md). Strict mode (`graph.strict_zero_length_paths =
        True`) ranges over ALL graph nodes (every subject and object),
        matching the SPARQL 1.1 / ARQ domain at the cost of a full
        node scan."""
        if getattr(self.graph, "strict_zero_length_paths", False):
            nodes = (
                self.graph.triples.select(F.col("s").alias("n"))
                .unionByName(self.graph.triples.select(F.col("o").alias("n")))
                .distinct()
            )
        else:
            nodes = (
                base.select(F.col("src").alias("n"))
                .unionByName(base.select(F.col("dst").alias("n")))
                .distinct()
            )
        return nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))

    @staticmethod
    def _zero_including(p) -> bool:
        """Does this path admit the zero-length match at the top level?"""
        if isinstance(p, A.PMod):
            if p.mod in ("?", "*"):
                return True
            # (zero-including)+ still admits zero: one iteration that
            # matches the empty path (round 11, advisor-reported)
            return Compiler._zero_including(p.path)
        if isinstance(p, A.PRange):
            if p.lo == 0:
                return True
            return Compiler._zero_including(p.path)
        if isinstance(p, A.PAlt):
            return Compiler._zero_including(p.a) or Compiler._zero_including(
                p.b
            )
        if isinstance(p, A.PSeq):
            # a sequence admits zero iff BOTH parts do, e.g. (p?/q?)
            # (round 11, advisor-reported)
            return Compiler._zero_including(p.a) and Compiler._zero_including(
                p.b
            )
        if isinstance(p, A.PInv):
            return Compiler._zero_including(p.path)
        return False

    def compile_path(self, el: A.PathPattern) -> Solution:
        """`s <path> o` over the evaluated pair set."""
        df = self._path_pairs(el.path)
        out_vars: set[str] = set()
        consts = self.graph.dictionary.lookup_terms(
            [t for t in (el.s, el.o) if not isinstance(t, Var)]
        )
        if self._zero_including(el.path):
            # zero-length with a BOUND endpoint needs no node domain at
            # all (§9.3 ZeroOrOnePath/ZeroOrMorePath with a bound term:
            # the term pairs with itself) — the identity-domain pairs
            # only cover nodes incident to the sub-path's edges
            # (round 10; the documented pragmatic domain deviation is
            # about the both-var case, not this one)
            extra = [
                (consts[t], consts[t])
                for t in (el.s, el.o)
                if not isinstance(t, Var) and consts.get(t) is not None
            ]
            if extra:
                from graphula_spark.literal import literal_df

                df = df.unionByName(
                    literal_df(
                        self.spark,
                        sorted(set(extra)),
                        [("src", "long"), ("dst", "long")],
                    )
                ).distinct()
        if isinstance(el.s, Var):
            df = df.withColumnRenamed("src", el.s.name)
            out_vars.add(el.s.name)
        else:
            if el.s not in consts:
                df = df.where(F.lit(False))
            else:
                df = df.where(F.col("src") == F.lit(consts[el.s]))
            df = df.drop("src")
        if isinstance(el.o, Var):
            if isinstance(el.s, Var) and el.o.name == el.s.name:
                df = df.where(F.col(el.s.name) == F.col("dst")).drop("dst")
            else:
                df = df.withColumnRenamed("dst", el.o.name)
                out_vars.add(el.o.name)
        else:
            if el.o not in consts:
                df = df.where(F.lit(False))
            else:
                df = df.where(F.col("dst") == F.lit(consts[el.o]))
            df = df.drop("dst")
        if not out_vars:
            # fully bound path: existence gate
            df = df.select(F.lit(1).alias("__unit")).limit(1)
            return Solution(df)
        return Solution(df.select(*sorted(out_vars)), id_vars=out_vars)

    # -- VALUES ---------------------------------------------------------
    def compile_values(self, v: A.InlineValues) -> Solution:
        terms = [t for row in v.rows for t in row if t is not None]
        ids = self.graph.dictionary.lookup_terms(terms)
        from graphula_spark.literal import literal_df

        undef_vars = {
            name
            for i, name in enumerate(v.vars)
            if any(row[i] is None for row in v.rows)
        }
        # per-var domain choice: a var whose terms ALL resolve stays an
        # ID column (fast path — pattern joins compare longs, unknown
        # constants short-circuit, O19); a var carrying any term the
        # store has never seen keeps TERM STRINGS instead, so it can
        # still join a computed (BIND) var by value (round 10, bs06) —
        # an id sentinel would decode to a blank node and match nothing
        id_ok = {
            name
            for i, name in enumerate(v.vars)
            if all(row[i] is None or row[i] in ids for row in v.rows)
        }
        data = []
        for row in v.rows:
            out_row = []
            for name, t in zip(v.vars, row):
                if t is None:
                    out_row.append(None)  # UNDEF → unbound (compat join)
                elif name in id_ok:
                    out_row.append(ids[t])
                else:
                    out_row.append(t)  # verbatim storage term string
            data.append(tuple(out_row))
        # JVM-side literal plan: a VALUES block is part of every
        # execution of the query — a parallelized DataFrame here would
        # add a Python-worker task per run (see literal.py)
        df = literal_df(
            self.spark,
            data,
            [
                (name, "long" if name in id_ok else "string")
                for name in v.vars
            ],
        )
        return Solution(
            df,
            id_vars=set(v.vars) & id_ok,
            val_vars=set(v.vars) - id_ok,
            maybe_unbound=undef_vars,
        )

    # -- BIND -----------------------------------------------------------
    def bind(self, sol: Solution | None, b: A.Bind) -> Solution:
        if sol is None:
            sol = Solution(self.spark.range(1).select(F.lit(1).alias("__unit")))
        sol2, ce = self.compile_expr(sol, b.expr)
        df = sol2.df.withColumn(b.var, ce.num if ce.num is not None and not ce.is_bool else ce.val)
        # an erroring/NULL expression leaves the var unbound (ARQ parity)
        return Solution(
            df, sol2.id_vars, sol2.val_vars | {b.var},
            sol2.maybe_unbound | {b.var},
            sol2.computed_vars | {b.var},
        )

    # -- FILTER ---------------------------------------------------------
    def apply_filter(self, sol: Solution, expr) -> Solution:
        if isinstance(expr, A.EExists):
            right = self.compile_group(expr.group)
            left2, right2, shared = self._align_for_join(sol, right)
            if not shared:
                # EXISTS {} with no shared vars: keep all iff group non-empty
                nonempty = right2.df.limit(1).count() > 0
                keep = nonempty if not expr.negated else not nonempty
                return left2 if keep else Solution(
                    left2.df.where(F.lit(False)), left2.id_vars, left2.val_vars
                )
            how = "left_anti" if expr.negated else "left_semi"
            nullable = [
                v for v in shared
                if v in left2.maybe_unbound or v in right2.maybe_unbound
            ]
            rdf = right2.df.select(*shared).dropDuplicates(shared)
            if not nullable:
                df = left2.df.join(rdf, on=shared, how=how)
            else:
                rdf = rdf.select(*[F.col(v).alias(f"__rj_{v}") for v in shared])
                cond = None
                for v in shared:
                    r = F.col(f"__rj_{v}")
                    cl = F.col(v).isNull() | r.isNull() | (F.col(v) == r)
                    cond = cl if cond is None else cond & cl
                df = left2.df.join(rdf, cond, how)
            return Solution(
                df, left2.id_vars, left2.val_vars, left2.maybe_unbound
            )
        sol2, ce = self.compile_expr(sol, expr)
        return Solution(
            sol2.df.where(ce.val), sol2.id_vars, sol2.val_vars,
            sol2.maybe_unbound,
        )

    # ------------------------------------------------------------------
    # expressions
    # ------------------------------------------------------------------
    def compile_expr(self, sol: Solution, expr) -> tuple[Solution, CE]:
        if isinstance(expr, A.EVar):
            v = expr.name
            if v in sol.val_vars:
                col = F.col(v)
                s = col.cast("string")
                # a val var may hold a storage-form TERM string (an
                # aggregate over term columns, a VALUES/SERVICE var) or
                # a computed lexical value (BIND/STR). Term-shaped
                # strings go through the same lexical/datatype views a
                # decoded id var gets — try_cast on '"5"^^<…integer>'
                # was NULL, so HAVING (MAX(?v) > 3) over typed literals
                # silently dropped every group (round 10)
                is_term = s.startswith('"')
                val = F.when(is_term, rdf_value(s)).otherwise(s)
                num = F.when(
                    is_term, term_numeric(s, rdf_value(s))
                ).otherwise(col.try_cast("double"))
                return sol, CE(val, num, s)
            if v not in sol.id_vars:
                return sol, CE(F.lit(None).cast("string"), None, F.lit(None).cast("string"))
            sol2, term = self.term_col(sol, v)
            val = rdf_value(term)
            return sol2, CE(val, term_numeric(term, val), term)
        if isinstance(expr, A.ELit):
            if isinstance(expr.value, bool):
                return sol, CE(F.lit(expr.value), None, None, is_bool=True)
            if isinstance(expr.value, (int, float)):
                return sol, CE(
                    F.lit(expr.value).cast("string"),
                    F.lit(float(expr.value)),
                    F.lit(str(expr.value)),
                )
            # string constants are typed xsd:string — never numeric,
            # even when the text parses as a number (§17.3). The parser
            # keeps the query text's escapes verbatim (the storage/term
            # convention, right for term equality); the VALUE view must
            # decode them so CONTAINS(?v, "\\n") matches a real newline
            # the same way the variable side's rdf_value does (round 12,
            # manifest case fn09)
            from graphula_spark.sparql.results import nt_unescape

            return sol, CE(
                F.lit(nt_unescape(expr.value)), None,
                F.lit(f'"{expr.value}"'),
                non_numeric=True,
            )
        if isinstance(expr, A.EIri):
            return sol, CE(
                F.lit(expr.iri), None, F.lit(expr.iri), non_numeric=True
            )
        if isinstance(expr, A.ECall):
            return self.compile_call(sol, expr)
        if isinstance(expr, A.EExists):
            # EXISTS/NOT EXISTS as an EXPRESSION (BIND/IF/SELECT expr —
            # SPARQL 1.1 §17.4.1.4; the FILTER position has its own
            # semi/anti path in apply_filter). Round 10.
            sol2, flag = self._exists_flag(sol, expr)
            if expr.negated:
                flag = ~flag
            return sol2, CE(flag, None, None, is_bool=True)
        if isinstance(expr, A.EAggregate):
            raise NotImplementedError("aggregate outside GROUP BY projection")
        raise NotImplementedError(f"expression {type(expr).__name__}")

    def _exists_flag(self, sol: Solution, ex) -> tuple[Solution, Column]:
        """Per-row boolean column: does the EXISTS group have a
        compatible solution for this row? Multiset-exact via the
        compile_optional row-tag discipline — a left row's flag is
        computed against the DISTINCT shared projection of the group,
        so duplicate group solutions never duplicate left rows."""
        from pyspark.sql.window import Window

        right = self.compile_group(ex.group)
        left2, right2, shared = self._align_for_join(sol, right)
        if not shared:
            # constant: the group either has solutions or it doesn't
            nonempty = right2.df.limit(1).count() > 0
            return left2, F.lit(nonempty)
        flag_col = self.fresh("exflag")
        left_cols = sorted(left2.vars)
        rdf = right2.df.select(*shared).dropDuplicates(shared)
        nullable = [
            v for v in shared
            if v in left2.maybe_unbound or v in right2.maybe_unbound
        ]
        tag = self.fresh("exrow")
        part = left_cols if left_cols else [F.lit(1)]
        dup_w = Window.partitionBy(*part).orderBy(F.lit(1))
        tagged = left2.df.withColumn(tag, F.row_number().over(dup_w))
        keys = tagged.select(tag, *left_cols)
        if not nullable:
            matched = keys.join(rdf, on=shared, how="left_semi")
        else:
            rdf2 = rdf.select(
                *[F.col(v).alias(f"__rj_{v}") for v in shared]
            )
            cond = None
            for v in shared:
                r = F.col(f"__rj_{v}")
                cl = F.col(v).isNull() | r.isNull() | (F.col(v) == r)
                cond = cl if cond is None else cond & cl
            matched = keys.join(rdf2, cond, "left_semi")
        # fan back with NULL-SAFE equality: left rows may carry unbound
        # (NULL) vars (e.g. after OPTIONAL), and a plain `on=` list join
        # would never match them — EXISTS came back false for every row
        # with an unbound var even when the group matched (round 11,
        # advisor-reported)
        m = matched.select(
            F.col(tag).alias("__ex_tag"),
            *[F.col(v).alias(f"__ex_{v}") for v in left_cols],
        ).withColumn(flag_col, F.lit(True))
        cond = F.col(tag) == F.col("__ex_tag")
        for v in left_cols:
            cond = cond & F.col(v).eqNullSafe(F.col(f"__ex_{v}"))
        out = tagged.join(m, cond, "left").drop(
            tag, "__ex_tag", *[f"__ex_{v}" for v in left_cols]
        )
        return (
            Solution(
                out,
                left2.id_vars,
                left2.val_vars,
                left2.maybe_unbound,
                left2.computed_vars,
            ),
            F.coalesce(F.col(flag_col), F.lit(False)),
        )

    def compile_call(self, sol: Solution, call: A.ECall) -> tuple[Solution, CE]:
        f = call.func
        args: list[CE] = []
        for a in call.args:
            sol, ce = self.compile_expr(sol, a)
            args.append(ce)

        def cmp(op, ordering: bool = False) -> Column:
            l, r = args
            ln, rn = l.numeric(), r.numeric()
            both_num = ln.isNotNull() & rn.isNotNull()
            if ordering:
                # SPARQL 1.1 §17.3: </<=/>/>= between a numeric and a
                # non-numeric operand is a TYPE ERROR, not a string
                # comparison — NULL here so FILTER drops the row
                # (found by the manifest-runner filter05 case). Both
                # non-numeric still compare lexically (strings, and
                # dateTime lexical forms order temporally).
                one_num = ln.isNotNull() != rn.isNotNull()
                return (
                    F.when(both_num, op(ln, rn))
                    .when(one_num, F.lit(None).cast("boolean"))
                    .otherwise(op(l.val, r.val))
                )
            return F.when(both_num, op(ln, rn)).otherwise(op(l.val, r.val))

        if f == "&&":
            return sol, CE(args[0].val & args[1].val, is_bool=True)
        if f == "||":
            return sol, CE(args[0].val | args[1].val, is_bool=True)
        if f == "!":
            return sol, CE(~args[0].val, is_bool=True)
        if f == "=":
            return sol, CE(cmp(lambda a, b: a == b), is_bool=True)
        if f == "!=":
            return sol, CE(cmp(lambda a, b: a != b), is_bool=True)
        if f == "<":
            return sol, CE(cmp(lambda a, b: a < b, ordering=True), is_bool=True)
        if f == "<=":
            return sol, CE(cmp(lambda a, b: a <= b, ordering=True), is_bool=True)
        if f == ">":
            return sol, CE(cmp(lambda a, b: a > b, ordering=True), is_bool=True)
        if f == ">=":
            return sol, CE(cmp(lambda a, b: a >= b, ordering=True), is_bool=True)
        if f == "IN":
            head, *items = args
            cond = F.lit(False)
            for it in items:
                both = head.numeric().isNotNull() & it.numeric().isNotNull()
                cond = cond | F.when(
                    both, head.numeric() == it.numeric()
                ).otherwise(head.val == it.val)
            return sol, CE(cond, is_bool=True)
        if f in ("+", "-", "*", "/"):
            l, r = args[0].numeric(), args[1].numeric()
            col = {"+": l + r, "-": l - r, "*": l * r, "/": l / r}[f]
            return sol, CE(col.cast("string"), col, col.cast("string"))
        if f == "neg":
            n = -args[0].numeric()
            return sol, CE(n.cast("string"), n, n.cast("string"))
        if f == "REGEX":
            pat = call.args[1]
            flags = call.args[2].value if len(call.args) > 2 else ""
            pattern = pat.value if isinstance(pat, A.ELit) else None
            if pattern is None:
                raise NotImplementedError("non-literal REGEX pattern")
            if "i" in flags:
                pattern = f"(?i){pattern}"
            return sol, CE(args[0].val.rlike(pattern), is_bool=True)
        if f == "BOUND":
            src = args[0].term if args[0].term is not None else args[0].val
            return sol, CE(src.isNotNull(), is_bool=True)
        if f == "STR":
            return sol, CE(args[0].val, None, args[0].val)
        if f == "LANG":
            t = args[0].term
            return sol, CE(F.regexp_extract(t, r'"@([A-Za-z0-9-]+)$', 1), None, None)
        if f == "DATATYPE":
            t = args[0].term
            return sol, CE(F.regexp_extract(t, r"\^\^<([^>]*)>$", 1), None, None)
        if f == "CONTAINS":
            return sol, CE(args[0].val.contains(args[1].val), is_bool=True)
        if f == "STRSTARTS":
            return sol, CE(args[0].val.startswith(args[1].val), is_bool=True)
        if f == "STRENDS":
            return sol, CE(args[0].val.endswith(args[1].val), is_bool=True)
        if f == "STRLEN":
            n = F.length(args[0].val).cast("double")
            return sol, CE(n.cast("string"), n)
        if f == "UCASE":
            return sol, CE(F.upper(args[0].val))
        if f == "LCASE":
            return sol, CE(F.lower(args[0].val))
        if f in ("ABS", "CEIL", "FLOOR", "ROUND"):
            fn = {"ABS": F.abs, "CEIL": F.ceil, "FLOOR": F.floor, "ROUND": F.round}[f]
            n = fn(args[0].numeric()).cast("double")
            return sol, CE(n.cast("string"), n)
        if f == "COALESCE":
            val = F.coalesce(*[a.val for a in args])
            nums = [a.num for a in args]
            num = F.coalesce(*[a.numeric() for a in args]) if all(
                n is not None for n in nums
            ) else None
            return sol, CE(val, num)
        if f == "IF":
            c, t, e = args
            val = F.when(c.val, t.val).otherwise(e.val)
            num = (
                F.when(c.val, t.numeric()).otherwise(e.numeric())
                if (t.num is not None or e.num is not None)
                else None
            )
            return sol, CE(val, num)
        if f in ("ISIRI", "ISURI"):
            t = args[0].term
            is_iri = (
                t.isNotNull()
                & ~t.startswith('"')
                & ~t.startswith("_:")
            )
            return sol, CE(is_iri, is_bool=True)
        if f == "ISLITERAL":
            return sol, CE(args[0].term.startswith('"'), is_bool=True)
        if f == "ISBLANK":
            return sol, CE(args[0].term.startswith("_:"), is_bool=True)
        if f == "ISNUMERIC":
            return sol, CE(args[0].numeric().isNotNull(), is_bool=True)
        if f == "CONCAT":
            return sol, CE(F.concat(*[a.val for a in args]))
        if f == "SUBSTR":
            s = args[0].val
            start = args[1].numeric().cast("int")
            if len(args) > 2:
                return sol, CE(s.substr(start, args[2].numeric().cast("int")))
            return sol, CE(s.substr(start, F.length(s)))
        if f == "REPLACE":
            pat = call.args[1]
            rep = call.args[2]
            if not (isinstance(pat, A.ELit) and isinstance(rep, A.ELit)):
                raise NotImplementedError("non-literal REPLACE args")
            return sol, CE(F.regexp_replace(args[0].val, pat.value, rep.value))
        if f == "STRBEFORE":
            pos = F.instr(args[0].val, args[1].val)
            return sol, CE(
                F.when(pos > 0, args[0].val.substr(F.lit(1), pos - 1)).otherwise(
                    F.lit("")
                )
            )
        if f == "STRAFTER":
            pos = F.instr(args[0].val, args[1].val)
            return sol, CE(
                F.when(
                    pos > 0,
                    args[0].val.substr(
                        pos + F.length(args[1].val), F.length(args[0].val)
                    ),
                ).otherwise(F.lit(""))
            )
        if f == "MD5":
            return sol, CE(F.md5(args[0].val))
        if f == "SHA1":
            return sol, CE(F.sha1(args[0].val))
        if f == "SHA256":
            return sol, CE(F.sha2(args[0].val, 256))
        if f == "ENCODE_FOR_URI":
            # XPath fn:encode-for-uri percent-encodes with unreserved
            # set A-Za-z0-9-_.~; Spark's url_encode is Java FORM
            # encoding, which differs in exactly three places: space
            # -> '+' (spec %20), '*' left bare (spec %2A), '~' ->
            # %7E (spec bare). A literal '+' in the input is already
            # %2B by then, so the replacements are unambiguous.
            enc = F.url_encode(args[0].val)
            enc = F.replace(enc, F.lit("+"), F.lit("%20"))
            enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
            enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
            return sol, CE(enc)
        if f in ("YEAR", "MONTH", "DAY"):
            # XSD component semantics: read the lexical form directly
            # (to_timestamp would shift zone-offset literals into the
            # session timezone; spec HOURS("..T14:45:13-05:00") = 14)
            idx = {"YEAR": 1, "MONTH": 2, "DAY": 3}[f]
            n = F.regexp_extract(
                args[0].val, r"^(-?\d{4,})-(\d{2})-(\d{2})", idx
            ).try_cast("double")
            return sol, CE(n.cast("string"), n)
        if f in ("HOURS", "MINUTES", "SECONDS"):
            idx = {"HOURS": 1, "MINUTES": 2, "SECONDS": 3}[f]
            n = F.regexp_extract(
                args[0].val, r"[T ](\d{2}):(\d{2}):(\d{2}(?:\.\d+)?)", idx
            ).try_cast("double")
            return sol, CE(n.cast("string"), n)
        if f in ("TZ", "TIMEZONE"):
            tz = F.regexp_extract(args[0].val, r"(Z|[+-]\d{2}:\d{2})$", 1)
            if f == "TZ":
                return sol, CE(tz)
            # TIMEZONE → xsd:dayTimeDuration lexical form
            hh = F.regexp_extract(tz, r"[+-](\d{2}):", 1).cast("int")
            mm = F.regexp_extract(tz, r":(\d{2})$", 1).cast("int")
            sign = F.when(tz.startswith("-"), F.lit("-")).otherwise(F.lit(""))
            dur = (
                F.when(tz == "Z", F.lit("PT0S"))
                .when(tz == "", F.lit(None).cast("string"))
                .otherwise(
                    F.concat(
                        sign,
                        F.lit("PT"),
                        hh.cast("string"),
                        F.lit("H"),
                        F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M"))).otherwise(F.lit("")),
                    )
                )
            )
            return sol, CE(dur)
        if f == "LANGMATCHES":
            lang = F.lower(args[0].val)
            rng = F.lower(args[1].val)
            # RFC 4647 basic filtering: exact tag or prefix + "-"
            return sol, CE(
                F.when(rng == "*", lang != "").otherwise(
                    (lang == rng) | lang.startswith(F.concat(rng, F.lit("-")))
                ),
                is_bool=True,
            )
        if f == "SAMETERM":
            ta = args[0].term if args[0].term is not None else args[0].val
            tb = args[1].term if args[1].term is not None else args[1].val
            return sol, CE(ta.eqNullSafe(tb), is_bool=True)
        if f in ("IRI", "URI"):
            # IRIs are bare strings in the term convention (§1.4)
            return sol, CE(args[0].val, None, args[0].val)
        if f == "BNODE":
            if args:
                b = F.concat(F.lit("_:"), args[0].val)
            else:
                b = F.concat(
                    F.lit("_:b"), F.monotonically_increasing_id().cast("string")
                )
            return sol, CE(b, None, b)
        if f == "NOW":
            ts = F.date_format(
                F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSS"
            )
            term = F.concat(
                F.lit('"'), ts,
                F.lit('"^^<http://www.w3.org/2001/XMLSchema#dateTime>'),
            )
            return sol, CE(ts, None, term)
        if f == "UUID":
            u = F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))
            return sol, CE(u, None, u)
        if f == "STRUUID":
            return sol, CE(F.expr("uuid()"))
        if f == "RAND":
            n = F.rand()
            return sol, CE(n.cast("string"), n)
        if f in ("SHA384", "SHA512"):
            return sol, CE(F.sha2(args[0].val, int(f[3:])))
        if f == "STRDT":
            t = F.concat(
                F.lit('"'), args[0].val, F.lit('"^^<'), args[1].val, F.lit(">")
            )
            return sol, CE(args[0].val, None, t)
        if f == "STRLANG":
            t = F.concat(F.lit('"'), args[0].val, F.lit('"@'), args[1].val)
            return sol, CE(args[0].val, None, t)
        if f.startswith(_XSD):
            return sol, self._xsd_cast(f[len(_XSD):], args)
        if f in FUNCTION_REGISTRY:
            return sol, FUNCTION_REGISTRY[f](args)
        raise NotImplementedError(f"function {f}")

    def _xsd_cast(self, name: str, args: list[CE]) -> CE:
        """XSD constructor casts (SPARQL §17.5 / XPath casting): the
        constructor surface ARQ provides the reference through Jena
        (sparql/.../Sparql.scala:41-52, build.sbt:25-26). Invalid
        lexical forms yield NULL, which propagates as an expression
        error (unbound BIND / filtered-out row) per spec."""
        a = args[0]

        def typed(lex: Column, dt: str) -> Column:
            return F.concat(F.lit('"'), lex, F.lit(f'"^^<{_XSD}{dt}>'))

        # XPath casting parses the LEXICAL form — xsd:integer("5") is a
        # valid string→integer cast even though "5" is not a §17.3
        # numeric operand (CE.numeric() gates on datatype; casts don't)
        def parse_num() -> Column:
            return a.val.try_cast("double")

        if name == "string":
            return CE(a.val, None, typed(a.val, "string"))
        if name in _XSD_INTEGER_TYPES:
            if a.is_bool:
                n = F.when(a.val, F.lit(1)).otherwise(F.lit(0)).cast("long")
            else:
                # double-first parse truncates decimals toward zero
                # (xsd:integer("4.7") = 4), matching XPath casting
                n = parse_num().cast("long")
            lex = n.cast("string")
            # numeric view stays integral so a BIND displays 15, not 15.0
            return CE(lex, n, typed(lex, name))
        if name in ("decimal", "double", "float"):
            if a.is_bool:
                n = F.when(a.val, F.lit(1.0)).otherwise(F.lit(0.0))
            else:
                n = parse_num()
            lex = n.cast("string")
            return CE(lex, n, typed(lex, name))
        if name == "boolean":
            if a.is_bool:
                b = a.val
            else:
                num = parse_num()
                b = (
                    F.when(a.val.isin("true", "1"), F.lit(True))
                    .when(a.val.isin("false", "0"), F.lit(False))
                    .when(num.isNotNull(), num != 0.0)
                    .otherwise(F.lit(None).cast("boolean"))
                )
            return CE(b, is_bool=True)
        if name == "dateTime":
            ts = F.try_to_timestamp(F.replace(a.val, F.lit("T"), F.lit(" ")))
            lex = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
            return CE(lex, None, typed(lex, "dateTime"))
        if name == "date":
            d = F.try_to_timestamp(
                F.substring(F.replace(a.val, F.lit("T"), F.lit(" ")), 1, 10),
                F.lit("yyyy-MM-dd"),
            )
            lex = F.date_format(d, "yyyy-MM-dd")
            return CE(lex, None, typed(lex, "date"))
        raise NotImplementedError(f"xsd cast {name}")

    # ------------------------------------------------------------------
    # aggregation + projection
    # ------------------------------------------------------------------
    def compile_aggregate_query(self, q: A.SelectQuery, sol: Solution) -> Solution:
        group_exprs = q.group_by or []
        key_cols: list[str] = []
        df_sol = sol
        for ge in group_exprs:
            if isinstance(ge, A.EVar):
                key_cols.append(ge.name)
            elif isinstance(ge, tuple) and ge[0] == "as":
                df_sol, ce = self.compile_expr(df_sol, ge[1])
                df_sol = Solution(
                    df_sol.df.withColumn(ge[2], ce.num if ce.num is not None else ce.val),
                    df_sol.id_vars,
                    df_sol.val_vars | {ge[2]},
                )
                key_cols.append(ge[2])
            else:
                raise NotImplementedError("complex GROUP BY expression")

        # SPARQL 1.1 §18.2.4.1: in a grouped query (explicit GROUP BY
        # or implicit via aggregates) the projection may only use group
        # keys and aggregates — projecting a plain non-grouped variable
        # is a query error (ARQ raises at parse time; round 14: we
        # previously returned silent NULL columns for it)
        for name, expr in q.variables:
            if (
                isinstance(expr, A.EVar)
                and expr.name not in key_cols
                and expr.name in sol.vars
            ):
                raise SyntaxError(
                    f"variable ?{expr.name} is projected but neither "
                    "grouped nor aggregated (SPARQL 1.1 §18.2.4.1)"
                )

        aggs = []
        out_val_vars = set(key_cols)
        # collect aggregates from projection + HAVING
        agg_specs: list[tuple[str, A.EAggregate]] = []
        for name, expr in q.variables:
            if isinstance(expr, A.EAggregate):
                agg_specs.append((name, expr))
        having_aggs: list[tuple[str, A.EAggregate]] = []
        if q.having is not None:
            def walk(e):
                if isinstance(e, A.EAggregate):
                    nm = self.fresh("hav")
                    having_aggs.append((nm, e))
                    return A.EVar(nm)
                if isinstance(e, A.ECall):
                    return A.ECall(e.func, [walk(a) for a in e.args])
                return e
            q = A.SelectQuery(
                q.variables, q.where, q.distinct, q.group_by,
                walk(q.having), q.order_by, q.limit, q.offset, q.select_star,
            )
        for name, agg in agg_specs + having_aggs:
            df_sol, col = self.compile_one_aggregate(df_sol, agg, name)
            aggs.append(col)
            out_val_vars.add(name)

        gdf = df_sol.df.groupBy(*[F.col(k) for k in key_cols]) if key_cols else df_sol.df.groupBy()
        out = gdf.agg(*aggs) if aggs else gdf.agg(F.count(F.lit(1)).alias("__cnt")).drop("__cnt")
        new_sol = Solution(
            out,
            id_vars={k for k in key_cols if k in sol.id_vars},
            val_vars=(set(k for k in key_cols if k not in sol.id_vars) | {n for n, _ in agg_specs + having_aggs}),
            maybe_unbound={k for k in key_cols if k in sol.maybe_unbound},
        )
        if q.having is not None:
            new_sol = self.apply_filter(new_sol, q.having)
            new_sol = Solution(
                new_sol.df.drop(*[n for n, _ in having_aggs]),
                new_sol.id_vars,
                new_sol.val_vars - {n for n, _ in having_aggs},
                new_sol.maybe_unbound,
            )
        return new_sol

    def compile_one_aggregate(
        self, sol: Solution, agg: A.EAggregate, name: str
    ) -> tuple[Solution, Column]:
        if agg.func == "COUNT" and agg.expr is None:
            return sol, F.count(F.lit(1)).alias(name)
        sol, ce = self.compile_expr(sol, agg.expr)
        src_term = ce.term if ce.term is not None else ce.val
        if agg.func == "COUNT":
            col = (
                F.countDistinct(src_term) if agg.distinct else F.count(src_term)
            )
            return sol, col.alias(name)
        # SPARQL 1.1 §18.5.1 error propagation (round 12): Sum/Avg use
        # op:numeric-add, so a group containing a BOUND non-numeric
        # element makes the whole aggregate an error — the group row
        # survives with the variable UNBOUND (the official agg error
        # tests' shape), never a silent sum of the numeric subset.
        # Min/Max error when the group mixes numeric and non-numeric
        # bound elements (the §17.3 comparison between them is a type
        # error); an all-string or all-numeric group still aggregates.
        # UNBOUND elements stay skipped (ARQ's lenient treatment; our
        # OPTIONAL-heavy join machinery relies on it) — documented
        # deviation from the strictest reading.
        bound = src_term.isNotNull()
        bad_numeric = F.max(
            (bound & ce.numeric().isNull()).cast("int")
        ) == F.lit(1)
        if agg.func == "SUM":
            col = F.sum_distinct(ce.numeric()) if agg.distinct else F.sum(ce.numeric())
            return sol, F.when(bad_numeric, F.lit(None).cast("double")).otherwise(
                col
            ).alias(name)
        if agg.func == "AVG":
            if agg.distinct:
                col = F.sum_distinct(ce.numeric()) / F.count_distinct(ce.numeric())
            else:
                col = F.avg(ce.numeric())
            return sol, F.when(bad_numeric, F.lit(None).cast("double")).otherwise(
                col
            ).alias(name)
        if agg.func in ("MIN", "MAX"):
            mixed = (
                F.max((bound & ce.numeric().isNotNull()).cast("int"))
                == F.lit(1)
            ) & bad_numeric
            fn = F.min if agg.func == "MIN" else F.max
            # numeric-first composite ordering: numeric rows order
            # numerically, non-numeric lexically (SPARQL ORDER
            # semantics) — but the RESULT is the RDF term, not its
            # value (spec §18.5.1.5/6: Min/Max return an element of the
            # multiset; W3C conformance joins aggregated subquery
            # projections back onto term variables, which only unifies
            # if the term survives). For bare triple-ized terms the
            # term IS the lexical value, so those outputs are unchanged.
            n = ce.numeric()
            packed = F.struct(
                n.isNull().cast("int").alias("k0"),
                F.coalesce(n, F.lit(0.0)).alias("k1"),
                ce.val.alias("k2"),
                (ce.term if ce.term is not None else ce.val).alias("k3"),
            )
            return sol, F.when(
                mixed, F.lit(None).cast("string")
            ).otherwise(fn(packed).getField("k3")).alias(name)
        if agg.func == "SAMPLE":
            # any element of the group (spec §18.5.1.8); term form, like
            # MIN/MAX — min over term strings keeps it deterministic
            src = ce.term if ce.term is not None else ce.val
            return sol, F.min(src).alias(name)
        if agg.func == "GROUP_CONCAT":
            # §18.5.1.7 error propagation (round 13, the r12 SUM/AVG/
            # MIN/MAX work's untested sibling): GroupConcat concatenates
            # STR(v), and STR of a BLANK NODE is a type error — so a
            # group containing a bound blank node makes the whole
            # aggregate an error and the variable comes back UNBOUND
            # (ARQ's AggGroupConcat behaves the same way). IRIs and
            # literals of any datatype remain stringable; unbound
            # elements stay skipped like the other aggregates.
            has_bnode = F.max(
                (bound & src_term.startswith("_:")).cast("int")
            ) == F.lit(1)
            if agg.order is not None:
                # ARQ-style GROUP_CONCAT(e; ORDER BY k [ASC|DESC]):
                # collect (key, value) structs, sort by the key (struct
                # ordering is field-by-field; value breaks key ties
                # deterministically), project values, then dedup AFTER
                # ordering for DISTINCT (keeps the first occurrence in
                # key order — round 11)
                key_expr, asc = agg.order
                sol, kce = self.compile_expr(sol, key_expr)
                kn = kce.numeric()
                packed = F.struct(
                    kn.isNull().cast("int").alias("k0"),
                    F.coalesce(kn, F.lit(0.0)).alias("k1"),
                    kce.val.alias("k2"),
                    ce.val.alias("v"),
                )
                arr = F.transform(
                    F.sort_array(F.collect_list(packed), asc=asc),
                    lambda s: s.getField("v"),
                )
                if agg.distinct:
                    arr = F.array_distinct(arr)
                return sol, F.when(
                    has_bnode, F.lit(None).cast("string")
                ).otherwise(F.array_join(arr, agg.separator)).alias(name)
            lst = F.collect_set(ce.val) if agg.distinct else F.collect_list(ce.val)
            return sol, F.when(
                has_bnode, F.lit(None).cast("string")
            ).otherwise(
                F.array_join(F.sort_array(lst), agg.separator)
            ).alias(name)
        raise NotImplementedError(f"aggregate {agg.func}")


def contains_aggregate(e) -> bool:
    if isinstance(e, A.EAggregate):
        return True
    if isinstance(e, A.ECall):
        return any(contains_aggregate(a) for a in e.args)
    return False


def has_aggregates(q: A.SelectQuery) -> bool:
    if q.group_by:
        return True
    # aggregates may sit NESTED in a combining expression
    # (SELECT (SUM(?v) + COUNT(?v) AS ?t) ...)
    return any(contains_aggregate(e) for _, e in q.variables)
