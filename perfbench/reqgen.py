"""Seeded request schedules for the benchmark workloads.

The generator reads only the parquet tables under ``data_dir`` (with
pyarrow) and never the library: it knows the graph's node-id
convention (lineitems are ``okey-line-part-supp-qty-cents``) the way
any client of the TPC-H graph does.

The mix is stratified. Request *shapes* (operation, direction, hop
count, start layer, layer view) repeat in fixed rounds, so every run
of a workload sees the same proportions whatever its seed; the seed
draws the nodes, targets, thresholds and the lineitem arrival order.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

LAYERS = ["lineitem", "orders", "customer", "part", "supplier", "nation", "region"]


@dataclass(frozen=True)
class Request:
    """One library call. ``args`` holds plain values only (tuples of
    strings and numbers), so a request list compares and hashes."""

    idx: int
    op: str
    args: tuple
    write: bool = False


@dataclass
class Tables:
    """Node ids per layer, the lineitem edge events and, per lineitem,
    the ids of the nodes downstream of it, read from parquet."""

    ids: dict[str, np.ndarray]
    li_edges: dict[str, np.ndarray] = field(default_factory=dict)
    li_up: dict[str, np.ndarray] = field(default_factory=dict)


def lineitem_ids(t) -> np.ndarray:
    cols = [
        t.column(c).to_numpy().astype(np.int64)
        for c in ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    ]
    qty = t.column("l_quantity").to_numpy().astype(np.int64)
    cents = np.round(t.column("l_extendedprice").to_numpy() * 100).astype(np.int64)
    return np.array(
        ["-".join(map(str, r)) for r in zip(*cols, qty, cents)], dtype=object
    )


def _lookup(keys: np.ndarray, values: np.ndarray, probe: np.ndarray) -> np.ndarray:
    """values[i] where keys[i] == probe, for every probe (keys unique)."""
    order = np.argsort(keys)
    return values[order[np.searchsorted(keys, probe, sorter=order)]]


def read_tables(data_dir: str) -> Tables:
    def col(table: str, name: str) -> np.ndarray:
        path = os.path.join(data_dir, f"{table}.parquet")
        return pq.read_table(path, columns=[name]).column(name).to_numpy()

    keys = {
        "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
        "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    }
    ids = {layer: col(layer, k).astype(str).astype(object) for layer, k in keys.items()}
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    ids["lineitem"] = lineitem_ids(li)
    li_edges = {
        "li": ids["lineitem"],
        "orders": pc.cast(li.column("l_orderkey"), "string").to_numpy(zero_copy_only=False),
        "part": pc.cast(li.column("l_partkey"), "string").to_numpy(zero_copy_only=False),
        "supplier": pc.cast(li.column("l_suppkey"), "string").to_numpy(zero_copy_only=False),
        "price": li.column("l_extendedprice").to_numpy(),
        "qty": li.column("l_quantity").to_numpy(),
    }
    okey, supp = li.column("l_orderkey").to_numpy(), li.column("l_suppkey").to_numpy()
    cust = _lookup(col("orders", "o_orderkey"), col("orders", "o_custkey"), okey)
    nation = _lookup(col("supplier", "s_suppkey"), col("supplier", "s_nationkey"), supp)
    region = _lookup(col("nation", "n_nationkey"), col("nation", "n_regionkey"), nation)
    li_up = {
        "orders": li_edges["orders"], "part": li_edges["part"],
        "supplier": li_edges["supplier"], "customer": cust.astype(str),
        "nation": nation.astype(str), "region": region.astype(str),
    }
    return Tables(ids, li_edges, li_up)


def _node(rng: np.random.Generator, tables: Tables, layer: str) -> tuple[str, str]:
    ids = tables.ids[layer]
    return (layer, str(ids[rng.integers(len(ids))]))


# (start layer, direction, include_upstream_children, hops) per k-hop
# slot: one start per layer, every direction and every hop count from
# 1 to 3; region upstream is the widest frontier
_EGO_KHOP = [
    ("lineitem", "downstream", False, 3), ("orders", "upstream", False, 1),
    ("customer", "bi", False, 2), ("part", "bi", True, 1),
    ("supplier", "downstream", False, 2), ("nation", "bi", True, 2),
    ("region", "upstream", False, 3),
]


def ego_round() -> list[tuple]:
    """The fixed shapes of one ``ego`` round: seven k-hop searches,
    two property lookups, one reachability fixpoint and one
    on-shortest-path query."""
    shapes = []
    for i, (layer, direction, children, k) in enumerate(_EGO_KHOP):
        shapes.append(("k_hop", layer, direction, children, k))
        if i in (1, 4):
            shapes.append(("get_node_properties", LAYERS[i + 2]))
        if i == 3:
            shapes.append(("reachable", "nation", "upstream"))
    shapes.append(("on_shortest_path", "lineitem"))
    return shapes


EGO_ROUND = len(ego_round())


def ego_requests(tables: Tables, seed: int):
    """Endless ``ego`` schedule: rounds of ``ego_round`` shapes with
    seeded nodes. on_shortest_path runs from a lineitem to 1-5 of the
    nodes downstream of it: always its supplier's region, three hops
    away, plus some of its order, part, supplier, customer and
    supplier's nation, so every query has paths of the same depth."""
    rng = np.random.default_rng([seed, 1])
    idx = itertools.count()
    while True:
        for shape in ego_round():
            op = shape[0]
            if op == "k_hop":
                _, layer, direction, children, k = shape
                args = (_node(rng, tables, layer), k, direction, children)
            elif op == "get_node_properties":
                args = _node(rng, tables, shape[1])
            elif op == "reachable":
                args = (_node(rng, tables, shape[1]), shape[2])
            else:
                row = int(rng.integers(len(tables.ids["lineitem"])))
                others = ["orders", "part", "supplier", "customer", "nation"]
                picked = ["region"] + list(rng.choice(others, int(rng.integers(0, 5)), replace=False))
                targets = tuple((str(layer), str(tables.li_up[layer][row])) for layer in picked)
                args = (("lineitem", str(tables.ids["lineitem"][row])), targets)
            yield Request(next(idx), op, args)


# after each merge: the k-hop around a touched order and a filtered
# edge export, then one fixpoint read in rotation (none after the
# round's first merge, which also compiles the merge's plans); a round
# is one merge per entry. Layer views are fixed per slot: a fixpoint's
# cost follows the view's shape, so a seeded view would swing a
# round's time with the seed. The seed draws the weak components' size
# threshold; strong components keep every node (the graph is acyclic,
# so all are singletons).
_GROW_READS = [
    None,
    ("view_components", ("lineitem", "orders", "customer"), "weak"),
    ("pagerank", ("lineitem", "orders", "customer", "nation")),
    ("view_components", ("lineitem", "orders", "customer"), "strong"),
]
GROW_ROUND = 3 * len(_GROW_READS) + sum(r is not None for r in _GROW_READS)


def grow_batches(tables: Tables, seed: int, batch_lineitems: int):
    """Lineitem edge-event batches in seeded arrival order, as lists
    of lineitem row indices with their batch_id. The second batch
    redelivers batch_id 0 with the same rows (the replay guard must
    skip it); the third carries batch 0's rows again under a new id
    (the merge must add nothing). Yields (batch_id, rows, kind)."""
    rng = np.random.default_rng([seed, 2])
    order = rng.permutation(len(tables.ids["lineitem"]))
    first = order[:batch_lineitems]
    yield 0, first, "new"
    yield 0, first, "replay"
    yield 1, first, "duplicate"
    for batch_id, i in enumerate(range(batch_lineitems, len(order), batch_lineitems), start=2):
        yield batch_id, order[i:i + batch_lineitems], "new"


def grow_requests(tables: Tables, seed: int, batch_lineitems: int):
    """Endless ``grow`` schedule: each merge request is followed by a
    k-hop around an order the batch touched, a filtered edge export
    and, in three of four slots, a fixpoint read. Merge requests carry
    the lineitem rows; reads carry only plain parameters drawn from
    the seed."""
    rng = np.random.default_rng([seed, 3])
    idx = itertools.count()
    orders_of = tables.li_edges["orders"]
    batches = grow_batches(tables, seed, batch_lineitems)
    for n, (batch_id, rows, kind) in enumerate(batches):
        yield Request(next(idx), "merge_edge_batch", (batch_id, tuple(int(r) for r in rows), kind), write=True)
        order = ("orders", str(orders_of[rows[int(rng.integers(len(rows)))]]))
        yield Request(next(idx), "k_hop", (order, 1, "bi", False))
        # edge weights are quantities (1-50), lineitem prices (up to
        # ~55k) and order totals: keep the priciest lineitems and most orders
        threshold = float(np.round(rng.uniform(40_000, 52_000), 2))
        yield Request(next(idx), "filter_export", ("weight", threshold, ">="))
        read = _GROW_READS[n % len(_GROW_READS)]
        if read is None:
            continue
        op, layers, *connectivity = read
        if op == "view_components":
            weak = connectivity[0] == "weak"
            args = (layers, int(rng.integers(1, 4)) if weak else 1, connectivity[0])
        else:
            args = (layers,)
        yield Request(next(idx), op, args)
