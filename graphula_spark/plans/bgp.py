"""BGP (basic graph pattern) planning & execution as DataFrame self-joins.

Reference parity — this module re-expresses the reference's recursive
binding-at-a-time matcher and its greedy optimizer
(core/.../Graphula.scala:120-190 optimize, :195-338 execute) as:

  1. a *static* greedy pattern ordering using precomputed stats
     (score ≈ the reference's ``coOccurrences +
     numberOfLeadingZeros(cardinality)``, Graphula.scala:177 — i.e.
     prefer well-connected, low-cardinality patterns), then
  2. one aliased scan of the triples DataFrame per pattern, chained
     with equi-joins on shared variables. Catalyst + AQE then pick the
     physical join strategy (broadcast / SMJ / shuffled hash) and
     re-optimize at runtime — replacing the reference's per-step
     re-planning and Fork/Join fan-out (Graphula.scala:115,277-331),
     which Spark gives us for free as partition parallelism.

Scale notes (100 TB design point):
- each pattern scan pushes its constant filters into the Parquet scan
  (predicate pushdown + partition pruning on `p`), the Spark analogue
  of the reference's LMDB prefix seeks (Index.scala:137-166);
- fully-bound patterns become existence probes joined as broadcast
  single-row cross joins (reference fast path Graphula.scala:238-253);
- a pattern with estimated cardinality 0 (or an unknown constant)
  short-circuits the whole BGP to an empty relation *before* any job
  runs (reference fail-fast Graphula.scala:160-162; unknown-constant
  short circuit GraphulaStageGenerator.scala:61-68).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Var:
    """A query variable (reference encodes these as negative longs,
    Graphula.scala:138-142; we use named columns instead)."""

    name: str

    def __repr__(self) -> str:  # pragma: no cover
        return f"?{self.name}"


class TriplePattern(NamedTuple):
    """One (s, p, o) pattern; str = constant term, Var = variable.

    Reference: core/.../TriplePattern.scala:3 (constants are encoded
    longs, 0 = wildcard, negative = variable).
    """

    s: object
    p: object
    o: object

    def vars(self) -> list[tuple[str, str]]:
        """[(position, var name)] in s,p,o order."""
        out = []
        for pos, t in zip(("s", "p", "o"), self):
            if isinstance(t, Var):
                out.append((pos, t.name))
        return out

    def consts(self) -> list[tuple[str, str]]:
        return [
            (pos, t)
            for pos, t in zip(("s", "p", "o"), self)
            if not isinstance(t, Var)
        ]


class BgpStats:
    """Per-predicate statistics for greedy ordering.

    Replaces the reference's exact LMDB dup-counts
    (Index.valueCount, core/.../index/Index.scala:120-131) with
    driver-cached per-predicate (count, ~distinct s, ~distinct o).
    Point lookups at plan time are O(1) dict hits — no Spark job.
    """

    #: heavy-hitter objects tracked per predicate (exact counts for the
    #: most frequent (p, o) pairs — rdf:type-like skew)
    TOP_OBJECTS = 32
    #: driver-memory guard: collect per-predicate rows for at most this
    #: many predicates (heaviest first). RDF-shaped graphs have
    #: hundreds; a pathological million-predicate graph falls back to a
    #: uniform residual estimate instead of bloating the driver.
    MAX_PREDICATES = 100_000
    #: (p, o) heavy hitters only tracked for this many heaviest
    #: predicates (skew lives in heavy predicates by definition)
    PO_PRED_CAP = 4_096

    def __init__(
        self,
        by_pred: dict[int, tuple[int, int, int]],
        total: int,
        po_top: dict[tuple[int, int], int] | None = None,
        complete: bool = True,
        residual_avg: float = 0.0,
    ):
        self.by_pred = by_pred  # p_id -> (count, n_distinct_s, n_distinct_o)
        self.total = total
        self.po_top = po_top or {}
        #: False when by_pred was truncated at MAX_PREDICATES — a
        #: missing predicate then means 'uncollected', NOT 'absent'
        self.complete = complete
        #: average triples per uncollected predicate (estimate fallback)
        self.residual_avg = residual_avg

    @staticmethod
    def per_pred(triples: DataFrame) -> DataFrame:
        """Per-predicate ``(p, cnt, ns, no)``: exact count, approximate
        distinct subjects and objects."""
        return triples.groupBy("p").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.approx_count_distinct("s").alias("ns"),
            F.approx_count_distinct("o").alias("no"),
        )

    @classmethod
    def compute(cls, triples: DataFrame) -> "BgpStats":
        from concurrent.futures import ThreadPoolExecutor

        agg = cls.per_pred(triples)
        # the (p, o) heavy-hitter pass below is independent of the
        # per-predicate pass for every non-pathological graph (the
        # PO_PRED_CAP pruning only engages past 4096 predicates), so
        # both stats jobs run CONCURRENTLY (guide §2.6 — overlap
        # independent jobs); the optimistic pass is row-bounded so a
        # pathological graph falls back to the pruned serial path
        # with identical output.
        # the `with` block guarantees shutdown even when the main-thread
        # collect raises (ADVICE r14); note the acknowledged trade: in
        # the >PO_PRED_CAP regime the optimistic full pass is always
        # paid and then discarded before the pruned rerun.
        with ThreadPoolExecutor(max_workers=1) as pool:
            po_fut = pool.submit(cls._po_top_optimistic, triples)
            rows = (
                agg.orderBy(F.col("cnt").desc(), F.col("p").asc())
                .limit(cls.MAX_PREDICATES + 1)
                .collect()
            )
            complete = len(rows) <= cls.MAX_PREDICATES
            if not complete:
                rows = rows[: cls.MAX_PREDICATES]
            by_pred = {
                r["p"]: (r["cnt"], max(r["ns"], 1), max(r["no"], 1))
                for r in rows
            }
            collected_total = sum(v[0] for v in by_pred.values())
            if complete:
                total = collected_total
                residual_avg = 0.0
            else:
                g = agg.agg(
                    F.sum("cnt").alias("t"), F.count(F.lit(1)).alias("n_preds")
                ).collect()[0]
                total = g["t"]
                residual_avg = max(
                    (total - collected_total)
                    / max(g["n_preds"] - len(by_pred), 1),
                    1.0,
                )
            # exact counts for each heavy predicate's heaviest objects
            # (reference reads exact per-key counts from LMDB instead,
            # Index.valueCount, Index.scala:120-131). Bounded to
            # PO_PRED_CAP × TOP_OBJECTS collected rows: the optimistic
            # concurrent pass (launched above) covers every graph under
            # the predicate cap; past it, fall back to the heavy-pred
            # pruned serial pass — identical rows either way.
            po_rows = po_fut.result()
        if len(by_pred) > cls.PO_PRED_CAP:
            # contract: po_top only tracks the PO_PRED_CAP heaviest
            # predicates — discard the optimistic pass and rerun
            # pruned (this is the pathological many-predicate regime)
            po_rows = None
        if po_rows is None:
            heavy = sorted(by_pred, key=lambda p: -by_pred[p][0])[: cls.PO_PRED_CAP]
            from graphula_spark.literal import literal_df

            heavy_df = literal_df(
                triples.sparkSession, [(p,) for p in heavy], "p long"
            )
            po_src = triples.join(F.broadcast(heavy_df), "p", "left_semi")
            po_rows = cls._po_top_rows(po_src).collect()
        po_top = {(r["p"], r["o"]): r["cnt"] for r in po_rows}
        return cls(by_pred, total, po_top, complete, residual_avg)

    @classmethod
    def _po_top_rows(cls, po_src: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.partitionBy("p").orderBy(F.col("cnt").desc(), F.col("o").asc())
        return (
            po_src.groupBy("p", "o")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= cls.TOP_OBJECTS)
        )

    @classmethod
    def _po_top_optimistic(cls, triples: DataFrame):
        """Un-pruned (p, o) heavy-hitter rows, row-bounded: returns the
        collected rows, or None when the graph exceeds the
        PO_PRED_CAP × TOP_OBJECTS driver bound (the caller then reruns
        the pruned variant)."""
        bound = cls.PO_PRED_CAP * cls.TOP_OBJECTS
        rows = cls._po_top_rows(triples).limit(bound + 1).collect()
        return None if len(rows) > bound else rows

    def with_delta(
        self,
        added: dict[int, tuple[int, int, int]] | None = None,
        removed: dict[int, int] | None = None,
    ) -> "BgpStats":
        """Stats of this graph after an update, without a store scan.

        ``added`` maps a predicate to the ``(count, ~distinct s,
        ~distinct o)`` of the triples the update inserted (none of them
        already stored); ``removed`` maps a predicate to the number of
        stored triples the update deleted. Counts and ``total`` stay
        exact, and a predicate whose count reaches 0 leaves ``by_pred``,
        so the zero-cardinality fail-fast and `Graph.count_bgp` still
        answer from them. The distinct counts only steer join order, so
        they are summed and clipped to ``[1, count]``; ``po_top`` counts
        are clipped to their predicate's count, or dropped with it.

        Requires ``complete`` stats: in truncated stats an absent
        predicate means 'uncollected', so its new count is unknown."""
        if not self.complete:
            raise ValueError("with_delta needs complete stats")
        by_pred = dict(self.by_pred)
        for p, (c, ns, no) in (added or {}).items():
            c0, ns0, no0 = by_pred.get(p, (0, 0, 0))
            by_pred[p] = (c0 + c, ns0 + ns, no0 + no)
        for p, c in (removed or {}).items():
            c0, ns0, no0 = by_pred[p]
            by_pred[p] = (c0 - c, ns0, no0)
        by_pred = {
            p: (c, min(max(ns, 1), c), min(max(no, 1), c))
            for p, (c, ns, no) in by_pred.items()
            if c > 0
        }
        po_top = {
            (p, o): min(c, by_pred[p][0])
            for (p, o), c in self.po_top.items()
            if p in by_pred
        }
        total = sum(v[0] for v in by_pred.values())
        return BgpStats(by_pred, total, po_top)

    # -- (de)serialization: stats ride in the store's _meta.json so a
    # loaded graph plans immediately instead of re-scanning a (possibly
    # 100 TB) store for cardinalities on every session start
    #: skip persisting pathologically wide stat tables (graphs with
    #: this many distinct predicates recompute stats on load instead)
    META_MAX_PREDICATES = 10_000

    def to_obj(self) -> dict | None:
        if len(self.by_pred) > BgpStats.META_MAX_PREDICATES:
            return None
        return {
            "by_pred": [[p, *v] for p, v in self.by_pred.items()],
            "total": self.total,
            "po_top": [[p, o, c] for (p, o), c in self.po_top.items()],
            "complete": self.complete,
            "residual_avg": self.residual_avg,
        }

    @classmethod
    def from_obj(cls, obj: dict) -> "BgpStats":
        return cls(
            {p: (c, ns, no) for p, c, ns, no in obj["by_pred"]},
            obj["total"],
            {(p, o): c for p, o, c in obj["po_top"]},
            obj.get("complete", True),
            obj.get("residual_avg", 0.0),
        )

    def estimate(
        self,
        s_bound: bool,
        p_id: int | None,
        o_bound: bool,
        o_id: int | None = None,
    ) -> float:
        """Estimated result cardinality of a single pattern.

        p unknown-constant → 0 exactly (fail fast). Mirrors the
        cardinality the reference reads per pattern key
        (Graphula.scala:144-167).
        """
        if p_id is not None and p_id not in self.by_pred:
            if self.complete:
                return 0.0
            # truncated stats: an uncollected predicate is NOT absent —
            # fall back to the residual average instead of fail-fasting
            est = self.residual_avg
            if s_bound or o_bound:
                est = 1.0
            return max(est, 0.001)
        if p_id is None:
            cnt, ns, no = self.total, None, None
            if s_bound or o_bound:
                # bound s (or o) with unbound p: average triples per subject
                n_subj = sum(v[1] for v in self.by_pred.values()) or 1
                n_obj = sum(v[2] for v in self.by_pred.values()) or 1
                est = float(cnt)
                if s_bound:
                    est /= n_subj
                if o_bound:
                    est /= n_obj
                return max(est, 0.001)
            return float(cnt)
        cnt, ns, no = self.by_pred[p_id]
        est = float(cnt)
        if o_bound and o_id is not None and (p_id, o_id) in self.po_top:
            # exact cardinality for a heavy-hitter object
            est = float(self.po_top[(p_id, o_id)])
            if s_bound:
                est /= ns
            return max(est, 0.001)
        if s_bound:
            est /= ns
        if o_bound:
            est /= no
        return max(est, 0.001)


#: patterns beyond this count fall back to the greedy ordering (the DP
#: explores 2^n subsets; 2^10 x 10 transitions is sub-millisecond,
#: larger BGPs are rare and greedy-ordered like the reference)
DP_MAX_PATTERNS = 10


class BgpPlanner:
    """Join-order planning for triple patterns.

    Two strategies share one cost model (`BgpStats.estimate`):

    - **Selinger-style left-deep DP** (default for 3..DP_MAX_PATTERNS
      patterns when stats exist): minimizes the SUM of estimated
      intermediate result sizes over all connected left-deep orders.
      Greedy's failure mode is picking the locally smallest pattern
      even when a slightly larger one binds the variable that
      collapses every later join — the DP sees the whole chain.
    - **Greedy selectivity + connectivity** (fallback): the
      reference's loop — ``optimize`` moves the pattern with the max
      score ``coOccurrences + numberOfLeadingZeros(cardinality)`` to
      the head at every step (Graphula.scala:120-190; co-occurrence
      BgpArray.scala:84-108) — run once, statically.

    Both insist on join-graph connectivity to avoid Cartesian products
    (the DP prices a forced cross join as a multiplication, so it only
    appears when the pattern graph is genuinely disconnected); AQE
    re-optimizes the physical side at runtime.
    """

    def __init__(self, stats: BgpStats | None):
        self.stats = stats

    def _est(
        self, pat: TriplePattern, bound: set[str], const_ids: dict[str, int]
    ) -> float:
        if self.stats is None:
            # no stats: prefer more-constant patterns
            n_const = len(pat.consts())
            return float(10 ** (3 - n_const))
        s_b = not isinstance(pat.s, Var) or pat.s.name in bound
        o_b = not isinstance(pat.o, Var) or pat.o.name in bound
        p_id = None
        if not isinstance(pat.p, Var):
            p_id = const_ids.get(pat.p, -1)
            if p_id == -1:
                return 0.0
        o_id = None
        if not isinstance(pat.o, Var):
            o_id = const_ids.get(pat.o, -1)
            if o_id == -1:
                return 0.0
        return self.stats.estimate(s_b, p_id, o_b, o_id)

    def order(
        self, patterns: list[TriplePattern], const_ids: dict[str, int]
    ) -> list[tuple[TriplePattern, float]]:
        if self.stats is not None and 3 <= len(patterns) <= DP_MAX_PATTERNS:
            return self._order_dp(patterns, const_ids)
        return self._order_greedy(patterns, const_ids)

    def _order_greedy(
        self, patterns: list[TriplePattern], const_ids: dict[str, int]
    ) -> list[tuple[TriplePattern, float]]:
        remaining = list(patterns)
        ordered: list[tuple[TriplePattern, float]] = []
        bound_vars: set[str] = set()
        while remaining:
            connected = [
                pat
                for pat in remaining
                if not ordered
                or any(v in bound_vars for _, v in pat.vars())
                or not pat.vars()
            ]
            pool = connected or remaining  # fall back to cartesian if disconnected
            best = min(pool, key=lambda pat: self._est(pat, bound_vars, const_ids))
            card = self._est(best, bound_vars, const_ids)
            ordered.append((best, card))
            remaining.remove(best)
            bound_vars.update(v for _, v in best.vars())
        return ordered

    def _order_dp(
        self, patterns: list[TriplePattern], const_ids: dict[str, int]
    ) -> list[tuple[TriplePattern, float]]:
        """Left-deep DP over pattern subsets.

        State per subset: (cost = sum of intermediate sizes, rows =
        estimated size after joining the subset, order). Transition
        multiplies rows by the candidate's matches-per-binding estimate
        (`estimate` with shared vars marked bound) — the standard
        independence approximation. Connected expansions are preferred;
        a cross join is only priced when the subset has no connected
        candidate (disconnected pattern graph).
        """
        n = len(patterns)
        pat_vars = [frozenset(v for _, v in p.vars()) for p in patterns]
        # per-subset best: mask -> (cost, rows, order_tuple)
        best: dict[int, tuple[float, float, tuple[tuple[int, float], ...]]] = {}
        for i, p in enumerate(patterns):
            rows = self._est(p, set(), const_ids)
            best[1 << i] = (rows, rows, ((i, rows),))
        # a strict subset is always numerically smaller than its
        # superset mask, so ascending order visits states before use
        for mask in range(1, 1 << n):
            if mask not in best:
                continue
            cost, rows, order = best[mask]
            bound = set().union(*(pat_vars[i] for i, _ in order))
            candidates = [
                j
                for j in range(n)
                if not (mask >> j) & 1
                and (pat_vars[j] & bound or not pat_vars[j])
            ]
            if not candidates:
                candidates = [j for j in range(n) if not (mask >> j) & 1]
            for j in candidates:
                per = self._est(patterns[j], bound, const_ids)
                new_rows = min(rows * max(per, 0.001), 1e30)
                new_cost = cost + new_rows
                new_mask = mask | (1 << j)
                prev = best.get(new_mask)
                if prev is None or new_cost < prev[0]:
                    best[new_mask] = (new_cost, new_rows, order + ((j, per),))
        full = best[(1 << n) - 1]
        return [(patterns[i], card) for i, card in full[2]]

    # -- bushy DP (DPsub) ----------------------------------------------

    def _nd(self, pat: TriplePattern, pos: str, const_ids: dict[str, int]) -> float:
        """Distinct-count estimate of the variable at ``pos`` in the
        pattern's scan — the join-selectivity denominator of the
        subset cardinality model."""
        if self.stats is None:
            return 1000.0
        bp = self.stats.by_pred
        if not isinstance(pat.p, Var):
            pid = const_ids.get(pat.p)
            if pid in bp:
                cnt, ns, no = bp[pid]
                base = {"s": ns, "o": no, "p": 1}[pos]
            else:
                base = max(self.stats.residual_avg, 1.0)
        else:
            base = {
                "s": sum(v[1] for v in bp.values()) or 1,
                "o": sum(v[2] for v in bp.values()) or 1,
                "p": len(bp) or 1,
            }[pos]
        # nd can never exceed the scan's own cardinality
        card = self._est(pat, set(), const_ids)
        return max(min(float(base), card if card > 0 else float(base)), 1.0)

    def _rows_subset(
        self,
        idxs: tuple[int, ...],
        cards: list[float],
        var_nd: list[dict[str, float]],
    ) -> float:
        """Order-independent System-R-style cardinality of joining the
        patterns in ``idxs``: product of scan cards divided, for every
        shared variable, by all of its per-scan distinct counts except
        the smallest (the chained max(nd_l, nd_r) convention)."""
        rows = 1.0
        occ: dict[str, list[float]] = {}
        for i in idxs:
            rows *= max(cards[i], 0.001)
            for v, nd in var_nd[i].items():
                occ.setdefault(v, []).append(nd)
        for nds in occ.values():
            if len(nds) > 1:
                nds = sorted(nds)
                for nd in nds[1:]:
                    rows /= nd
        return min(max(rows, 0.001), 1e30)

    def bushy_tree(
        self, patterns: list[TriplePattern], const_ids: dict[str, int]
    ):
        """Bushy join tree via DP over connected subsets (DPsub), or
        None when the left-deep order is as good (the common star/chain
        case) or the shape is unsupported.

        Left-deep trees are optimal for stars and chains, but a
        diamond with two selective ends wants BOTH ends joined first
        and the small intermediates merged in the middle — a shape no
        left-deep order can express. The gate compares the bushy
        optimum against the left-deep DP's order COSTED UNDER THE SAME
        subset model, and only returns a tree on a >=10% predicted win,
        so the proven left-deep path keeps serving everything else.

        Tree nodes: int = pattern index; (left, right) = join.
        """
        n = len(patterns)
        if (
            self.stats is None
            or not (4 <= n <= DP_MAX_PATTERNS)
            or any(not p.vars() for p in patterns)
        ):
            return None
        cards = [self._est(p, set(), const_ids) for p in patterns]
        if any(c == 0.0 for c in cards):
            return None
        var_nd = [
            {v: self._nd(p, pos, const_ids) for pos, v in p.vars()}
            for p in patterns
        ]
        pat_vars = [frozenset(var_nd[i]) for i in range(n)]

        def idxs_of(mask: int) -> tuple[int, ...]:
            return tuple(i for i in range(n) if (mask >> i) & 1)

        def vars_of(mask: int) -> frozenset:
            out: frozenset = frozenset()
            for i in idxs_of(mask):
                out |= pat_vars[i]
            return out

        # best[mask] = (cost, tree); cost = sum of estimated rows of
        # every scan and every join node (same objective family as the
        # left-deep DP)
        best: dict[int, tuple[float, object]] = {
            1 << i: (cards[i], i) for i in range(n)
        }
        full_mask = (1 << n) - 1
        for mask in range(3, full_mask + 1):
            if bin(mask).count("1") < 2:
                continue
            rows = self._rows_subset(idxs_of(mask), cards, var_nd)
            found = None
            # enumerate proper submask splits (each pair once)
            sub = (mask - 1) & mask
            while sub:
                other = mask ^ sub
                if sub < other:  # visit each unordered pair once
                    sub = (sub - 1) & mask
                    continue
                l, r = best.get(sub), best.get(other)
                if (
                    l is not None
                    and r is not None
                    and vars_of(sub) & vars_of(other)  # no cross joins
                ):
                    cost = l[0] + r[0] + rows
                    if found is None or cost < found[0]:
                        found = (cost, (l[1], r[1]))
                sub = (sub - 1) & mask
            if found is not None:
                best[mask] = found
        top = best.get(full_mask)
        if top is None:
            return None  # disconnected pattern graph
        # cost the left-deep DP's order under the SAME subset model
        ld_order = self._order_dp(patterns, const_ids)
        ld_idx = [patterns.index(p) for p, _ in ld_order]
        ld_cost = cards[ld_idx[0]]
        for k in range(2, n + 1):
            ld_cost += self._rows_subset(tuple(ld_idx[:k]), cards, var_nd)
        for i in ld_idx[1:]:
            ld_cost += cards[i]  # each scan is read once, like bushy
        if top[0] >= 0.9 * ld_cost:
            return None
        tree = top[1]
        return None if isinstance(tree, int) else tree


#: a join key value estimated to occur at least this often on the scan
#: side of a BGP join triggers hot/cold skew splitting. Sized for the
#: 100 TB design point (rdf:type-style classes with multi-million
#: memberships); small graphs never trip it. Tests lower it.
SKEW_HOT_THRESHOLD = 2_000_000
#: salt fan-out for the hot-key partition split
SKEW_SALT = 16
#: estimated accumulated-result row count below which skew handling is
#: skipped (Catalyst will broadcast the small side; no shuffle → no skew)
SKEW_MIN_RESULT_EST = 2_000_000

#: a pattern scan estimated at least this large, joining on its subject
#: variable, reads the s-bucketed table copy when the graph has one —
#: big-big star joins then co-partition (SMJ, zero exchanges) instead
#: of shuffling both sides. Sized so only scans past any plausible
#: broadcast threshold reroute; tests lower it.
BUCKETED_SCAN_MIN_EST = 4_000_000


def _hot_join_values(
    pat: TriplePattern,
    join_vars: list[str],
    const_ids: dict[str, int],
    stats: BgpStats | None,
) -> tuple[str, list[int]] | None:
    """Heavy-hitter values of a join variable on a pattern scan.

    Only object-position variables under a bound predicate are
    considered — that is where RDF skew lives (rdf:type-shaped data),
    and it is exactly what the stats' (p, o) heavy-hitter table tracks
    (the reference reads the same per-key dup-counts from LMDB,
    Index.valueCount, Index.scala:120-131).
    """
    if stats is None or isinstance(pat.p, Var) or not isinstance(pat.o, Var):
        return None
    v = pat.o.name
    if v not in join_vars:
        return None
    pid = const_ids.get(pat.p)
    if pid is None:
        return None
    hot = [
        o
        for (p, o), c in stats.po_top.items()
        if p == pid and c >= SKEW_HOT_THRESHOLD
    ]
    return (v, hot) if hot else None


def _skew_join(
    left: DataFrame, right: DataFrame, keys: list[str], v: str, hot: list[int]
) -> DataFrame:
    """Hot/cold differential join for a skewed key column ``v``.

    Cold keys join normally. Hot-key rows on the (stats-identified
    skewed) scan side are SALTED by a deterministic row hash, spreading
    each hot key over SKEW_SALT partitions; the accumulated-result side
    replicates its (filtered, usually far smaller) hot subset across
    the salt space. This is classic heavy-hitter salting driven by
    planner stats — AQE's runtime skew-join remains on as the safety
    net for skew the stats missed.
    """
    l_hot = left.where(F.col(v).isin(hot))
    l_cold = left.where(~F.col(v).isin(hot))
    r_hot = right.where(F.col(v).isin(hot))
    r_cold = right.where(~F.col(v).isin(hot))
    cold = l_cold.join(r_cold, on=keys, how="inner")
    salted = r_hot.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in right.columns]), F.lit(SKEW_SALT)
        ),
    )
    replicated = l_hot.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(SKEW_SALT)]))
    )
    hot_join = replicated.join(
        salted, on=keys + ["__salt"], how="inner"
    ).drop("__salt")
    return cold.unionByName(hot_join)


def execute_bgp(
    triples: DataFrame,
    patterns: list[TriplePattern],
    const_ids: dict[str, int],
    stats: BgpStats | None = None,
    triples_ops: DataFrame | None = None,
    p_buckets: int | None = None,
    triples_s: DataFrame | None = None,
    triples_o: DataFrame | None = None,
) -> DataFrame:
    """Execute a BGP; returns a DataFrame with one long id column per var.

    ``const_ids`` maps constant term strings to dictionary ids; a
    constant absent from the map means 'unknown term' ⇒ empty result
    (reference: GraphulaStageGenerator.scala:61-68,107-110).
    """
    spark = triples.sparkSession
    all_vars = sorted({v for pat in patterns for _, v in pat.vars()})
    from graphula_spark.literal import empty_df

    empty = empty_df(spark, [(v, "long") for v in all_vars])
    if not patterns:
        return empty

    # unknown constant anywhere → empty result, no job
    for pat in patterns:
        for _, c in pat.consts():
            if c not in const_ids:
                return empty

    planner = BgpPlanner(stats)
    ordered = planner.order(patterns, const_ids)
    # static fail-fast: any zero-cardinality pattern kills the BGP
    if stats is not None and any(card == 0.0 for _, card in ordered):
        return empty

    # variables shared by >= 2 patterns: candidates for routing a big
    # scan to a bucketed layout (a join keyed on the scan's bucketed
    # column arrives pre-partitioned — no exchange). Subject joins use
    # the s-bucketed copy; object joins the o-bucketed twin, so chains
    # (?x p ?y . ?y q ?z) co-partition on BOTH sides.
    join_vars: set[str] = set()
    if triples_s is not None or triples_o is not None:
        var_use: dict[str, int] = {}
        for pat in patterns:
            for _, v in pat.vars():
                var_use[v] = var_use.get(v, 0) + 1
        join_vars = {v for v, n in var_use.items() if n >= 2}

    def _routed_scan(i: int, card: float) -> DataFrame:
        pat = patterns[i]
        src, routed = triples, False
        if card >= BUCKETED_SCAN_MIN_EST:
            if (
                triples_s is not None
                and isinstance(pat.s, Var)
                and pat.s.name in join_vars
            ):
                src, routed = triples_s, True
            elif (
                triples_o is not None
                and isinstance(pat.o, Var)
                and pat.o.name in join_vars
            ):
                src, routed = triples_o, True
        return _pattern_scan(
            src, pat, const_ids, i, None if routed else triples_ops, p_buckets
        )

    # bushy join tree, only when the DP predicts a clear win over the
    # left-deep order (diamond-shaped BGPs with selective ends); the
    # linear path below keeps skew salting and stays the default
    tree = planner.bushy_tree(patterns, const_ids)
    if tree is not None:

        def _build(node):
            if isinstance(node, int):
                card = planner._est(patterns[node], set(), const_ids)
                return (
                    _routed_scan(node, card),
                    {v for _, v in patterns[node].vars()},
                )
            ldf, lv = _build(node[0])
            rdf, rv = _build(node[1])
            shared = sorted(lv & rv)  # non-empty by planner construction
            return ldf.join(rdf, on=shared, how="inner"), lv | rv

        bdf, _bv = _build(tree)
        return bdf.select(*all_vars)

    result: DataFrame | None = None
    result_est = 0.0
    bound: set[str] = set()
    for i, (pat, card) in enumerate(ordered):
        src = triples
        routed = False
        if card >= BUCKETED_SCAN_MIN_EST:
            if (
                triples_s is not None
                and isinstance(pat.s, Var)
                and pat.s.name in join_vars
            ):
                src, routed = triples_s, True
            elif (
                triples_o is not None
                and isinstance(pat.o, Var)
                and pat.o.name in join_vars
            ):
                src, routed = triples_o, True
        # a routing decision must not be overridden by the bound-object
        # OPS rewrite inside _pattern_scan (a graph can carry both)
        scan = _pattern_scan(
            src, pat, const_ids, i, None if routed else triples_ops, p_buckets
        )
        pat_vars = {v for _, v in pat.vars()}
        if result is None:
            result = scan
            result_est = card
        elif not pat_vars:
            # fully-bound pattern: existence probe (reference fast path
            # Graphula.scala:238-253) — broadcast 1-row cross join keeps
            # the plan lazy and cheap.
            probe = F.broadcast(scan.select(F.lit(1).alias(f"__ex{i}")).limit(1))
            result = result.crossJoin(probe).drop(f"__ex{i}")
        else:
            shared = sorted(pat_vars & bound)
            if shared:
                hot = (
                    _hot_join_values(pat, shared, const_ids, stats)
                    if result_est >= SKEW_MIN_RESULT_EST
                    else None
                )
                if hot is not None:
                    result = _skew_join(result, scan, shared, *hot)
                else:
                    result = result.join(scan, on=shared, how="inner")
            else:
                result = result.crossJoin(scan)
            # coarse running upper bound, only used as the skew trigger
            result_est = min(result_est * max(card, 1.0), 1e18)
        bound.update(pat_vars)
    return result.select(*all_vars) if all_vars else result


def _pattern_scan(
    triples: DataFrame,
    pat: TriplePattern,
    const_ids: dict[str, int],
    idx: int,
    triples_ops: DataFrame | None = None,
    p_buckets: int | None = None,
) -> DataFrame:
    """One filtered+projected scan of the triples table for one pattern.

    Constant positions become pushed-down filters (the Catalyst analogue
    of the reference's LMDB prefix seek, Index.scala:137-166); variable
    positions are projected & renamed to the variable name. A variable
    repeated within the pattern adds an intra-scan equality filter.
    """
    # bound-object patterns read the o-clustered copy when one exists
    # (the OPS permutation analogue — reference Index.scala:61-78 row 2/7):
    # row-group (p,o) min/max stats then prune instead of full-p scans
    const_pos = {pos for pos, _ in pat.consts()}
    if (
        triples_ops is not None
        and "o" in const_pos
        and "s" not in const_pos
    ):
        df = triples_ops
    else:
        df = triples
    cond: Column | None = None
    for pos, c in pat.consts():
        clause = F.col(pos) == F.lit(const_ids[c])
        # gate on the CHOSEN scan's columns: a z-ordered OPS twin has
        # no p_bucket partition column (it prunes via row-group stats)
        if pos == "p" and "p_bucket" in df.columns:
            # persisted graphs are partitioned by pmod(p, n_buckets):
            # a bound predicate prunes partitions before any IO. The
            # bucket count comes from the store's _meta (Graph.load) —
            # a store saved with a custom count would silently return
            # wrong results under a hardcoded default.
            from graphula_spark.graph import Graph

            n_buckets = p_buckets or Graph.P_BUCKETS
            clause = clause & (
                F.col("p_bucket") == F.lit(const_ids[c] % n_buckets)
            )
        cond = clause if cond is None else (cond & clause)
    if cond is not None:
        df = df.where(cond)

    # intra-pattern repeated variables (?x p ?x)
    seen: dict[str, str] = {}
    for pos, v in pat.vars():
        if v in seen:
            df = df.where(F.col(seen[v]) == F.col(pos))
        else:
            seen[v] = pos

    # fully bound: keep a marker-only scan
    if not seen:
        return df.select(F.lit(1).alias(f"__probe{idx}"))
    select_cols = []
    emitted = set()
    for pos, v in pat.vars():
        if v not in emitted:
            select_cols.append(F.col(pos).alias(v))
            emitted.add(v)
    return df.select(*select_cols)
