"""Inputs of the ``ingest`` workload, with the record each is checked against.

``write_ntriples`` turns the generated tables into N-Triples with its own
writer: one triple per non-null column (subject ``<table>:<key>``, the
column as predicate, the value as a plain literal), an ``rdf:type`` triple
for every customer, order, supplier and nation, the class hierarchy
``Customer, Order, Supplier, Nation ⊑ Record ⊑ Thing`` and a few duplicate
lines.  It returns the set of distinct triples it wrote.

``update_batches`` draws ``INSERT DATA`` / ``DELETE DATA`` batches from the
seed: inserts mix new triples, triples already stored and duplicates within
the batch; deletes mix stored triples with absent ones.  Each batch comes
with the triple count set semantics give after it.
"""

from __future__ import annotations

import datetime
import random
from collections import Counter

import pyarrow as pa

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
#: table -> (key column, class of its rows)
TYPED = {
    "customer": ("c_custkey", "Customer"),
    "orders": ("o_orderkey", "Order"),
    "supplier": ("s_suppkey", "Supplier"),
    "nation": ("n_nationkey", "Nation"),
}
KEYS = {"region": "r_regionkey", **{t: k for t, (k, _) in TYPED.items()}}
SCHEMA = [(c, SUBCLASS, "Record") for _, c in TYPED.values()] + [
    ("Record", SUBCLASS, "Thing")
]


def _render(v) -> str:
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def _literal(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def table_triples(tables: dict[str, pa.Table]) -> list[tuple[str, str, str]]:
    """Data, type and schema triples; objects of data triples are
    literals (kept with their quotes, as the N-Triples reader stores them)."""
    out = []
    for name, key in KEYS.items():
        cols = tables[name].to_pydict()
        for i, k in enumerate(cols[key]):
            s = f"{name}:{k}"
            for c, values in cols.items():
                if values[i] is not None:
                    out.append((s, c, _literal(_render(values[i]))))
            if name in TYPED:
                out.append((s, RDF_TYPE, TYPED[name][1]))
    return out + SCHEMA


def _nt(t: tuple[str, str, str]) -> str:
    s, p, o = t
    obj = o if o.startswith('"') else f"<{o}>"
    return f"<{s}> <{p}> {obj} ."


def write_ntriples(path: str, tables: dict[str, pa.Table], seed: int) -> set:
    """Write the tables as N-Triples; return the distinct triples written."""
    triples = table_triples(tables)
    rng = random.Random(seed)
    duplicates = rng.sample(triples, min(500, len(triples)))
    with open(path, "w") as fh:
        for t in triples + duplicates:
            fh.write(_nt(t) + "\n")
    return set(triples)


def typed_subjects(tables: dict[str, pa.Table]) -> int:
    return sum(tables[t].num_rows for t in TYPED)


def rdfs_closure_size(asserted: int, typed: int) -> int:
    """Closed form of the closure: every typed subject gains ``Record``
    and ``Thing``; each of the four classes gains ``⊑ Thing``."""
    return asserted + 2 * typed + len(TYPED)


def predicate_counts(triples: set) -> Counter:
    return Counter(p for _, p, _ in triples)


def update_batches(triples: set, seed: int, n_batches: int, size: int):
    """Yield ``(update text, expected triple count after it)``.

    Batches alternate INSERT and DELETE.  Only data triples of customers
    and orders are touched, so types and schema stay as written."""
    rng = random.Random(seed)
    current = set(triples)
    pool = {t for t in triples if t[0].startswith(("customer:", "orders:")) and t[1] != RDF_TYPE}
    for b in range(n_batches):
        if b % 2 == 0:
            new = [
                (f"customer:{10_000_000 + b * size + i}", "c_name", _literal(f"Extra#{b}-{i}"))
                for i in range(size * 3 // 5)
            ]
            present = rng.sample(sorted(current & pool), size // 5)
            batch = new + present + rng.sample(new, size - len(new) - len(present))
            current |= set(batch)
            verb = "INSERT"
        else:
            present = rng.sample(sorted((current - triples) | (pool & current)), size * 3 // 4)
            absent = [
                (f"orders:{20_000_000 + b * size + i}", "o_totalprice", _literal("1.0"))
                for i in range(size - len(present))
            ]
            batch = present + absent
            current -= set(batch)
            verb = "DELETE"
        rng.shuffle(batch)
        body = " ".join(_nt(t) for t in batch)
        yield f"{verb} DATA {{ {body} }}", len(current)
