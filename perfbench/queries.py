"""Seeded SPARQL operations for the ``lookup`` workload.

Each ``Query`` carries its SPARQL text, the DuckDB SQL that answers it
apart from the program, the constants it names and the core basic graph
pattern, which the traced run plans, executes and decodes on its own.

``lookup`` works in rounds of seven: each of the four kinds once with
fresh constants, then three texts already issued in the run, so three
texts in seven repeat.  Repeats cost a small share of a fresh text (the
plan cache in ``Graph.sparql`` hands back the compiled DataFrame and
Spark reuses its shuffle output), so with fewer repeats than fresh texts
the median latency is that of a fresh text.  Fresh customer keys are
drawn from a skewed (power-law) distribution over a seeded permutation
of the keys.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from graphula_spark.plans.bgp import TriplePattern, Var

#: order priorities without a space, so they can be written as IRIs
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]

LOOKUP_KINDS = ("ask", "describe", "orders", "top10")


@dataclass
class Query:
    kind: str
    text: str
    sql: str
    #: compare rows in order (ORDER BY queries) instead of as a multiset
    ordered: bool = False
    #: the query's constant terms, as the dictionary stores them
    consts: list[str] = field(default_factory=list)
    #: core basic graph pattern, planned and decoded apart in traced runs
    core: list[TriplePattern] = field(default_factory=list)


def _tp(s, p, o) -> TriplePattern:
    def term(t):
        return Var(t[1:]) if isinstance(t, str) and t.startswith("?") else str(t)

    return TriplePattern(term(s), term(p), term(o))


def _consts(core: list[TriplePattern]) -> list[str]:
    return [c for pat in core for _, c in pat.consts()]


def _query(kind, text, sql, core, ordered=False) -> Query:
    return Query(kind, text, sql, ordered, _consts(core), core)


# -- lookup ------------------------------------------------------------------


def ask(key: int) -> Query:
    core = [_tp(f"customer:{key}", "c_mktsegment", "?s")]
    return _query(
        "ask",
        f"ASK {{ <customer:{key}> <c_mktsegment> ?s . }}",
        f"SELECT count(*) > 0 FROM customer WHERE c_custkey = {key}",
        core,
    )


def describe(key: int) -> Query:
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    sql = " UNION ALL ".join(
        f"SELECT '{c}', CAST({c} AS VARCHAR) FROM customer WHERE c_custkey = {key}"
        for c in cols
    )
    return _query(
        "describe",
        f"SELECT ?p ?o WHERE {{ <customer:{key}> ?p ?o . }}",
        sql,
        [_tp(f"customer:{key}", "?p", "?o")],
    )


def customer_orders(key: int) -> Query:
    return _query(
        "orders",
        f"SELECT ?o ?price WHERE {{ ?o <o_custkey> <{key}> . ?o <o_totalprice> ?price . }}",
        f"SELECT 'orders:' || o_orderkey, o_totalprice FROM orders WHERE o_custkey = {key}",
        [_tp("?o", "o_custkey", key), _tp("?o", "o_totalprice", "?price")],
    )


def top10(priority: str, floor: int) -> Query:
    return _query(
        "top10",
        f"SELECT ?o ?price WHERE {{ ?o <o_orderpriority> <{priority}> . "
        f"?o <o_totalprice> ?price . FILTER(?price > {floor}) }} "
        "ORDER BY DESC(?price) ?o LIMIT 10",
        "SELECT 'orders:' || o_orderkey AS o, o_totalprice FROM orders "
        f"WHERE o_orderpriority = '{priority}' AND o_totalprice > {floor} "
        "ORDER BY o_totalprice DESC, o LIMIT 10",
        [_tp("?o", "o_orderpriority", priority), _tp("?o", "o_totalprice", "?price")],
        ordered=True,
    )


class LookupStream:
    """Rounds of 4 fresh texts, one of each kind, then 3 repeated texts."""

    REPEATS = 3

    def __init__(self, seed: int, n_customers: int):
        self.rng = random.Random(seed)
        self.n = n_customers
        self.perm = list(range(n_customers))
        self.rng.shuffle(self.perm)
        self.issued: list[Query] = []
        self.used: set[tuple] = set()

    def _fresh_key(self, kind: str) -> int:
        while True:
            # u**3 puts about half of all draws on the first eighth of keys
            key = self.perm[int(self.n * self.rng.random() ** 3)]
            if (kind, key) not in self.used:
                self.used.add((kind, key))
                return key

    def _fresh(self, kind: str) -> Query:
        if kind == "top10":
            while True:
                priority = self.rng.choice(PRIORITIES)
                floor = self.rng.randrange(0, 480_000)
                if (kind, priority, floor) not in self.used:
                    self.used.add((kind, priority, floor))
                    return top10(priority, floor)
        make = {"ask": ask, "describe": describe, "orders": customer_orders}[kind]
        return make(self._fresh_key(kind))

    def round(self) -> list[Query]:
        fresh = [self._fresh(k) for k in LOOKUP_KINDS]
        self.issued += fresh
        return fresh + [self.rng.choice(self.issued) for _ in range(self.REPEATS)]
