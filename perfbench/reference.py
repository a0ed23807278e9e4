"""Reference answers computed outside Spark.

The graph comes from DuckDB running the oracle CTEs of
``onionnet_spark.sources.tpch_graph.graph_ctes()`` over the same
parquet files; the algorithms (BFS, components, PageRank) are plain
NumPy and Python over integer node indices. Results are compared by
row count and by an order-insensitive hash of the rows.
"""

from __future__ import annotations

import hashlib
import operator
import os

import duckdb
import numpy as np

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
_MASK64 = (1 << 64) - 1
_COMPARE = {"==": operator.eq, "!=": operator.ne, "<": operator.lt,
            ">": operator.gt, "<=": operator.le, ">=": operator.ge}


def row_digest(rows) -> tuple[int, int]:
    """(row count, order-insensitive hash): the sum of per-row
    blake2b digests modulo 2**64. Rows must already be tuples of
    plain Python values."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(r).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & _MASK64
        n += 1
    return n, total


class RefGraph:
    """The full TPC-H graph with integer node ids.

    ``edge_arrival`` / ``node_arrival`` hold, per edge and node, the
    index of the stream batch that brings it in (0 for the base
    graph), so a prefix of the stream is a mask, not a rebuild.
    """

    def __init__(self, data_dir: str, graph_ctes: str):
        con = duckdb.connect()
        try:
            for t in _TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            nodes = con.execute(
                f"WITH {graph_ctes} SELECT layer, node_id, name, val FROM nodes_g"
            ).fetchall()
            edges = con.execute(
                f"WITH {graph_ctes} SELECT src_layer, src_id, dst_layer, dst_id, etype, weight FROM edges_g"
            ).fetchall()
        finally:
            con.close()
        self.keys = [(r[0], r[1]) for r in nodes]
        self.props = {(r[0], r[1]): {"layer": r[0], "node_id": r[1], "name": r[2], "val": r[3]} for r in nodes}
        self.index = {k: i for i, k in enumerate(self.keys)}
        self.layer = np.array([k[0] for k in self.keys], dtype=object)
        self.edge_rows = edges
        self.src = np.array([self.index[(e[0], e[1])] for e in edges], dtype=np.int64)
        self.dst = np.array([self.index[(e[2], e[3])] for e in edges], dtype=np.int64)
        self.node_arrival = np.zeros(len(self.keys), dtype=np.int64)
        self.edge_arrival = np.zeros(len(edges), dtype=np.int64)

    @property
    def n(self) -> int:
        return len(self.keys)

    def set_arrivals(self, li_batches: dict[str, int]) -> None:
        """Mark each lineitem (and its three edges) as arriving with
        the given 1-based batch number; lineitems absent from the map
        never arrive."""
        never = np.iinfo(np.int64).max
        for i, (layer, nid) in enumerate(self.keys):
            if layer == "lineitem":
                self.node_arrival[i] = li_batches.get(nid, never)
        self.edge_arrival = self.node_arrival[self.src]

    def view(self, upto: int | None = None, layers=None) -> "View":
        node_ok = np.ones(self.n, dtype=bool)
        edge_ok = np.ones(len(self.src), dtype=bool)
        if upto is not None:
            node_ok &= self.node_arrival <= upto
            edge_ok &= self.edge_arrival <= upto
        if layers is not None:
            node_ok &= np.isin(self.layer, list(layers))
            edge_ok &= node_ok[self.src] & node_ok[self.dst]
        return View(self, node_ok, edge_ok)


def _csr(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    order = np.argsort(src, kind="stable")
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, src + 1, 1)
    return np.cumsum(indptr), dst[order]


def _bfs(csr, sources, max_dist=None) -> np.ndarray:
    """Hop distance from the source set (-1 where unreached)."""
    indptr, indices = csr
    dist = np.full(len(indptr) - 1, -1, dtype=np.int64)
    frontier = np.unique(np.asarray(sources, dtype=np.int64))
    dist[frontier] = 0
    d = 0
    while len(frontier) and (max_dist is None or d < max_dist):
        starts, ends = indptr[frontier], indptr[frontier + 1]
        lengths = ends - starts
        if lengths.sum() == 0:
            break
        offs = np.repeat(starts - np.cumsum(lengths) + lengths, lengths)
        nbrs = indices[offs + np.arange(lengths.sum())]
        nbrs = np.unique(nbrs)
        frontier = nbrs[dist[nbrs] < 0]
        d += 1
        dist[frontier] = d
    return dist


class View:
    """A node/edge mask over a RefGraph with the reference algorithms."""

    def __init__(self, g: RefGraph, node_ok: np.ndarray, edge_ok: np.ndarray):
        self.g = g
        self.node_ok = node_ok
        self.edge_ok = edge_ok
        src, dst = g.src[edge_ok], g.dst[edge_ok]
        self.out = _csr(g.n, src, dst)
        self.inc = _csr(g.n, dst, src)

    def counts(self) -> tuple[int, int]:
        return int(self.node_ok.sum()), int(self.edge_ok.sum())

    def _key(self, i: int) -> tuple[str, str]:
        return self.g.keys[i]

    def _dist_rows(self, dist: np.ndarray) -> list[tuple]:
        return [(*self._key(i), int(dist[i])) for i in np.flatnonzero(dist >= 0)]

    def k_hop(self, start, k, direction, children=False) -> list[tuple]:
        s = self.g.index[start]
        down = _bfs(self.out, [s], k) if direction in ("downstream", "bi") else None
        up = _bfs(self.inc, [s], k) if direction in ("upstream", "bi") else None
        if direction == "downstream":
            return self._dist_rows(down)
        if direction == "upstream":
            return self._dist_rows(up)
        big = np.iinfo(np.int64).max
        best = np.full(self.g.n, big)
        for d in (down, up):
            best = np.where(d >= 0, np.minimum(best, d), best)
        if children:
            indptr, indices = self.out
            for u in np.flatnonzero(up >= 0):
                for w in indices[indptr[u]:indptr[u + 1]]:
                    best[w] = min(best[w], up[u] + 1)
        return self._dist_rows(np.where(best == big, -1, best))

    def reachable(self, start, direction) -> list[tuple]:
        s = self.g.index[start]
        return self._dist_rows(_bfs(self.out if direction == "downstream" else self.inc, [s]))

    def on_shortest_path(self, source, targets) -> list[tuple]:
        s = self.g.index[source]
        ts = [self.g.index[t] for t in targets]
        d_f = _bfs(self.out, [s])
        d_r = _bfs(self.inc, ts)
        td = {int(d_f[t]) for t in ts if d_f[t] >= 0}
        both = (d_f >= 0) & (d_r >= 0)
        keep = both & np.isin(d_f + d_r, list(td))
        return [(*self._key(i), int(d_f[i]), int(d_r[i])) for i in np.flatnonzero(keep)]

    def node_properties(self, layer, node_id) -> dict:
        return self.g.props[(layer, node_id)]

    def filter_edges(self, prop: str, value, comparison: str) -> list[tuple]:
        """Edge rows (src_layer, src_id, dst_layer, dst_id, etype,
        weight) whose ``prop`` compares true against ``value``."""
        col = {"etype": 4, "weight": 5}[prop]
        cmp = _COMPARE[comparison]
        rows = (self.g.edge_rows[i] for i in np.flatnonzero(self.edge_ok))
        return [tuple(r) for r in rows if cmp(r[col], value)]

    def components(self, threshold: int, connectivity: str) -> list[tuple]:
        """(layer, node_id, canonical label, size) for nodes of
        components of at least ``threshold`` nodes. The label is the
        smallest (layer, node_id) key of the component, so labelings
        compare across engines."""
        nodes = np.flatnonzero(self.node_ok)
        label = self._scc_labels(nodes) if connectivity == "strong" else self._wcc_labels()
        members: dict[int, list[int]] = {}
        for v in nodes:
            members.setdefault(int(label[v]), []).append(int(v))
        rows = []
        for comp in members.values():
            if len(comp) < threshold:
                continue
            canon = min(self._key(v) for v in comp)
            rows.extend((*self._key(v), "%s:%s" % canon, len(comp)) for v in comp)
        return rows

    def _wcc_labels(self) -> np.ndarray:
        """Union-find over the masked edges: each node's root."""
        parent = np.arange(self.g.n)

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(self.g.src[self.edge_ok], self.g.dst[self.edge_ok]):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return np.array([find(v) for v in range(self.g.n)])

    def _scc_labels(self, nodes: np.ndarray) -> np.ndarray:
        """Iterative Tarjan over the masked directed graph."""
        indptr, indices = self.out
        index = np.full(self.g.n, -1)
        low = np.zeros(self.g.n, dtype=np.int64)
        label = np.full(self.g.n, -1)
        on_stack = np.zeros(self.g.n, dtype=bool)
        stack: list[int] = []
        counter = 0
        for root in nodes:
            if index[root] >= 0:
                continue
            work = [(int(root), int(indptr[root]))]
            index[root] = low[root] = counter
            counter += 1
            stack.append(int(root))
            on_stack[root] = True
            while work:
                v, pos = work[-1]
                if pos < indptr[v + 1]:
                    work[-1] = (v, pos + 1)
                    w = int(indices[pos])
                    if index[w] < 0:
                        index[w] = low[w] = counter
                        counter += 1
                        stack.append(w)
                        on_stack[w] = True
                        work.append((w, int(indptr[w])))
                    elif on_stack[w]:
                        low[v] = min(low[v], index[w])
                    continue
                work.pop()
                if work:
                    parent = work[-1][0]
                    low[parent] = min(low[parent], low[v])
                if low[v] == index[v]:
                    while True:
                        w = stack.pop()
                        on_stack[w] = False
                        label[w] = v
                        if w == v:
                            break
        return label

    def pagerank(self, n_iterations: int = 5, damping: float = 0.85) -> dict:
        """{(layer, node_id): rank}: the fixed-iteration recurrence of
        ``analytics.pagerank`` (uniform start, no dangling-mass
        redistribution)."""
        n = int(self.node_ok.sum())
        src, dst = self.g.src[self.edge_ok], self.g.dst[self.edge_ok]
        out_deg = np.bincount(src, minlength=self.g.n).astype(np.float64)
        base = (1.0 - damping) / n
        pr = np.full(self.g.n, 1.0 / n)
        for _ in range(n_iterations):
            contrib = np.bincount(dst, weights=pr[src] / out_deg[src], minlength=self.g.n)
            pr = base + damping * contrib
        return {self._key(i): float(pr[i]) for i in np.flatnonzero(self.node_ok)}
