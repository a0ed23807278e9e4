"""The benchmark workloads: how each request calls the library and
how its result is checked against the reference.

Every call into a library module runs inside a tracer span named
``<layer>.<function>``; the action that forces a lazy frame runs in
a child span of the call that returned the frame. ``execute`` is the
timed part of a request and returns the result rows; ``check``
compares them with the reference after the loop.
"""

from __future__ import annotations

import time

from onionnet_spark.builder import grow_onion
from onionnet_spark.operators import analytics, components, filters, properties, traversal
from onionnet_spark.sources import tpch_graph
from onionnet_spark.streaming.graph_stream import StreamingGraphMaintainer

import reqgen
from reference import RefGraph, row_digest

BATCH_LINEITEMS = 400
EDGE_SCHEMA = (
    "src_layer string, src_id string, dst_layer string, dst_id string, "
    "etype string, weight double"
)
EDGE_COLS = ["src_layer", "src_id", "dst_layer", "dst_id", "etype", "weight"]
NAMED_EDGE_COLS = EDGE_COLS + ["src_name", "dst_name"]


def _rows(table, cols) -> list[tuple]:
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def _canonical_components(rows) -> list[tuple]:
    """Replace each component id by the smallest node key in it."""
    smallest: dict = {}
    for layer, node_id, comp, _ in rows:
        key = (layer, node_id)
        if comp not in smallest or key < smallest[comp]:
            smallest[comp] = key
    return [(l, n, "%s:%s" % smallest[c], s) for l, n, c, s in rows]


def _pagerank_close(got_rows, want: dict) -> bool:
    got = {(l, n): r for l, n, r in got_rows}
    if got.keys() != want.keys():
        return False
    return all(abs(got[k] - want[k]) <= 1e-12 + 1e-9 * abs(want[k]) for k in want)


def _with_names(rows, names) -> list[tuple]:
    return [(*r, names.get((r[0], r[1])), names.get((r[2], r[3]))) for r in rows]


class Workload:
    """Shared set-up: open the table readers, build the graph with
    endpoint validation, persist it and count it. There is no separate
    warm-up: a round's first requests fill the graph's cached views,
    so work moved between build and first use shows in ``rps``."""

    # tables whose rows the base graph leaves out
    deferred: tuple[str, ...] = ()

    def __init__(self, spark, tracer, paths: dict[str, str], seed: int):
        self.spark = spark
        self.tr = tracer
        self.paths = paths
        self.seed = seed
        self.tables = reqgen.read_tables(paths["_dir"])
        self.graph = None

    def build_once(self) -> tuple[float, float]:
        """One set-up: returns (seconds with the readers opened,
        seconds of the build alone).

        The previous set-up's graph is released first: persisted data
        is keyed by plan, so a rebuild of the same plan would
        otherwise find it cached."""
        tr = self.tr
        if self.graph is not None:
            with tr.span("core", "unpersist"):
                self.graph.unpersist()
            tr.resolve()
        t0 = time.perf_counter()
        readers = {t: self.spark.read.parquet(p) for t, p in self.paths.items() if t != "_dir"}
        for t in self.deferred:
            readers[t] = readers[t].limit(0)
        t1 = time.perf_counter()
        with tr.span("builder", "grow_onion"):
            g = grow_onion(
                tpch_graph.node_frames(readers),
                tpch_graph.edge_frames(readers),
                node_prop_cols=["name", "val"],
                edge_prop_cols=["etype", "weight"],
                drop_duplicates=False,
                validate_endpoints=True,
            )
            # the invariant tpch_graph.build_graph asserts for this graph
            g.edges_unique_undirected = True
            with tr.span("core", "persist"):
                g.persist()
            with tr.span("builder", "grow_onion.count"):
                counts = g.counts()
        t2 = time.perf_counter()
        tr.resolve()
        self.graph = g
        self.built_counts = counts
        return t2 - t0, t2 - t1

    def start_loop(self) -> None:
        """Called once, after set-up and before the first request."""

    def prepare(self, req):
        """Untimed client-side input for a request."""
        return None

    def after(self, req, prepared) -> dict:
        """Untimed bookkeeping after a request; returns what ``check`` needs."""
        return {}

    def build_ok(self) -> bool:
        """Whether the last set-up's node and edge counts match the
        reference (call after ``reference``)."""
        return self.built_counts == self.base_view().counts()

    # -- helpers shared by the request types ---------------------------
    def _collect(self, layer: str, name: str, df):
        with self.tr.span(layer, name + ".collect"):
            return df.toArrow()

    def _k_hop(self, g, args):
        start, k, direction, children = args
        with self.tr.span("traversal", "k_hop"):
            df = traversal.k_hop(g, tuple(start), k, direction, include_upstream_children=children)
            return self._collect("traversal", "k_hop", df)


class Ego(Workload):
    """Interactive ego search on the persisted graph."""

    round_size = reqgen.EGO_ROUND

    def requests(self):
        return reqgen.ego_requests(self.tables, self.seed)

    def execute(self, req, prepared=None):
        g = self.graph
        if req.op == "k_hop":
            return _rows(self._k_hop(g, req.args), ["layer", "node_id", "dist"])
        if req.op == "reachable":
            with self.tr.span("traversal", "reachable"):
                df = traversal.reachable(g, *req.args)
                t = self._collect("traversal", "reachable", df)
            return _rows(t, ["layer", "node_id", "dist"])
        if req.op == "on_shortest_path":
            source, targets = req.args
            with self.tr.span("traversal", "on_shortest_path"):
                df = traversal.on_shortest_path(g, tuple(source), [tuple(t) for t in targets])
                t = self._collect("traversal", "on_shortest_path", df)
            return _rows(t, ["layer", "node_id", "d_f", "d_r"])
        layer, node_id = req.args
        with self.tr.span("properties", "get_node_properties"):
            return [tuple(sorted(properties.get_node_properties(g, layer, node_id).items()))]

    def reference(self) -> None:
        self.ref = RefGraph(self.paths["_dir"], tpch_graph.graph_ctes()).view()

    def base_view(self):
        return self.ref

    def check(self, req, rows, meta) -> bool:
        v = self.ref
        if req.op == "k_hop":
            want = v.k_hop(*req.args)
        elif req.op == "reachable":
            want = v.reachable(*req.args)
        elif req.op == "on_shortest_path":
            want = v.on_shortest_path(*req.args)
        else:
            want = [tuple(sorted(v.node_properties(*req.args).items()))]
        return row_digest(rows) == row_digest(want)


class Grow(Workload):
    """Lineitems streamed into a graph of the six dimension layers,
    each merge followed by reads on the new graph instance."""

    round_size = reqgen.GROW_ROUND
    deferred = ("lineitem",)

    def start_loop(self) -> None:
        with self.tr.span("streaming", "StreamingGraphMaintainer"):
            self.maint = StreamingGraphMaintainer(self.graph)
        self.tr.resolve()
        self.merged = 0  # batches of new lineitems merged so far
        self.arrivals: dict[str, int] = {}

    def requests(self):
        return reqgen.grow_requests(self.tables, self.seed, BATCH_LINEITEMS)

    def batch_frame(self, rows):
        e = self.tables.li_edges
        events = []
        for r in rows:
            li = e["li"][r]
            events.append(("lineitem", li, "orders", e["orders"][r], "li_order", float(e["price"][r])))
            events.append(("lineitem", li, "part", e["part"][r], "li_part", float(e["qty"][r])))
            events.append(("lineitem", li, "supplier", e["supplier"][r], "li_supp", float(e["qty"][r])))
        return self.spark.createDataFrame(events, EDGE_SCHEMA)

    def prepare(self, req):
        if req.op == "merge_edge_batch":
            self._before = self.maint.graph
            return self.batch_frame(req.args[1])
        return None

    def execute(self, req, prepared=None):
        g = self.maint.graph
        op, args = req.op, req.args
        if op == "merge_edge_batch":
            with self.tr.span("streaming", "merge_edge_batch"):
                self.maint.merge_edge_batch(prepared, args[0])
            return None
        if op == "k_hop":
            return _rows(self._k_hop(g, args), ["layer", "node_id", "dist"])
        if op == "filter_export":
            with self.tr.span("filters", "filter_view_by_property"):
                view = filters.filter_view_by_property(g, args[0], args[1], args[2], dim="e", prune=True)
            with self.tr.span("properties", "export_edges"):
                df = properties.export_edges(view, node_prop_names=["name"])
                return _rows(self._collect("properties", "export_edges", df), NAMED_EDGE_COLS)
        with self.tr.span("filters", "view_layers"):
            view = filters.view_layers(g, list(args[0]))
        if op == "view_components":
            with self.tr.span("components", "view_components"):
                df = components.view_components(view, args[1], args[2])
                t = self._collect("components", "view_components", df)
            return _canonical_components(_rows(t, ["layer", "node_id", "component", "component_size"]))
        with self.tr.span("analytics", "pagerank"):
            df = analytics.pagerank(view)
            return _rows(self._collect("analytics", "pagerank", df), ["layer", "node_id", "pagerank"])

    def after(self, req, prepared) -> dict:
        """For a merge: the stream prefix it leaves, the merged graph's
        row counts and whether the replay guard skipped it (a skipped
        batch leaves the same graph instance)."""
        if req.op != "merge_edge_batch":
            return {"upto": self.merged}
        batch_id, rows, kind = req.args
        g = self.maint.graph
        skipped = g is self._before
        self._before = None
        if kind == "new":
            self.merged += 1
            for r in rows:
                self.arrivals[str(self.tables.li_edges["li"][r])] = self.merged
        with self.tr.span("core", "counts"):
            counts = g.counts()
        return {"upto": self.merged, "counts": counts, "skipped": skipped,
                "kind": kind, "ingested": 3 * len(rows)}

    def reference(self) -> None:
        self.ref = RefGraph(self.paths["_dir"], tpch_graph.graph_ctes())
        self.ref.set_arrivals(self.arrivals)
        self._views: dict = {}
        self._names = None

    def base_view(self):
        return self._view(0)

    def _view(self, upto, layers=None):
        key = (upto, layers)
        if key not in self._views:
            self._views[key] = self.ref.view(upto=upto, layers=layers)
        return self._views[key]

    def _node_names(self) -> dict:
        # lineitem nodes enter the maintained graph from edge events,
        # without properties
        if self._names is None:
            self._names = {
                k: (None if k[0] == "lineitem" else p["name"]) for k, p in self.ref.props.items()
            }
        return self._names

    def check(self, req, rows, meta) -> bool:
        op, args = req.op, req.args
        v = self._view(meta["upto"])
        if op == "merge_edge_batch":
            return meta["skipped"] == (meta["kind"] == "replay") and meta["counts"] == v.counts()
        if op == "k_hop":
            return row_digest(rows) == row_digest(v.k_hop(*args))
        if op == "filter_export":
            want = _with_names(v.filter_edges(*args), self._node_names())
            return row_digest(rows) == row_digest(want)
        lv = self._view(meta["upto"], tuple(args[0]))
        if op == "view_components":
            return row_digest(rows) == row_digest(lv.components(args[1], args[2]))
        return _pagerank_close(rows, lv.pagerank())


WORKLOADS = {"ego": Ego, "grow": Grow}
