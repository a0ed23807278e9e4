"""BFS traversals: k-hop ego search, reachability, on-shortest-path.

Reference parity: ``onionnet/searcher.py``:
  - search (searcher.py:157-242): k-hop ego subgraph in
    'downstream' / 'upstream' / 'bi' direction via graph-tool
    shortest_distance with max_dist.
  - _bfs_traversal (searcher.py:119-155): unbounded reachability.
  - compute_on_shortest (searcher.py:26-117): mark vertices v with
    d_fwd(source, v) + d_rev(v, targets) in {d_fwd(source, t)}.

Spark-first design: every hop-count traversal here runs on ONE
level-synchronous frontier kernel, `_lockstep_bfs`, in the shape of
a Pregel superstep (Pregelix: a state-message join plus a group-by).
Its frontier rows carry an arm id; each arm is one BFS with its own
orientation (downstream, upstream or sym), seeds and stopping rule,
and all live arms advance together, so a level is ONE plan for every
arm: a join of the frontier against the graph's cached endpoint view
for each arm's orientation (a broadcast frontier while it fits
`BROADCAST_FRONTIER_MAX`, so the big side is scanned, never
exchanged), a dedup on (arm, node key) fused with the anti-join
against the arm's visited set, and a lazy checkpoint cut that the
level's single action -- per-arm row counts plus stop-node hits --
materializes. k-hop 'bi' runs its two arms in lockstep, on-shortest-
path its forward and reverse arms, multi-source BFS one arm per
source. The kernel keys nodes either by (layer, node_id) strings or
by the collision-checked 64-bit ids of the ``cached_int_*`` views
(core.py); each caller picks the key, and a hash clash falls back
to strings.
"""

from __future__ import annotations

import json
from collections import Counter
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onionnet_spark.core import NODE_KEY, OnionGraph
from onionnet_spark.operators.ckpt import IterCheckpointer

# Frontiers below this row count are broadcast to the edge join.
BROADCAST_FRONTIER_MAX = 2_000_000


class _Arm(NamedTuple):
    """One BFS of a `_lockstep_bfs` run.

    ``seeds`` is a driver-side list of (layer, node_id) tuples, or a
    DataFrame with (layer, node_id) columns for a single-arm run
    seeded from a computed set (which must never round-trip through
    the driver at scale). The arm stops at ``max_dist``, when its
    frontier is empty, once every node of ``stop_nodes`` has been
    reached (levels are disjoint, so each stop node hits once), or
    when the arm at index ``paired`` stops.
    """

    seeds: "list[tuple[str, str]] | DataFrame"
    orientation: str
    max_dist: int | None = None
    stop_nodes: list[tuple[str, str]] | None = None
    paired: int | None = None


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _rows_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Driver-side rows as a JVM-only plan: one JSON literal that the
    optimizer folds into an inline table. ``spark.createDataFrame``
    would build a Python RDD whose every scan starts Python workers
    -- a cost each BFS level would pay again when it broadcasts the
    seeds or probes the stop nodes."""
    fields = [f.split() for f in ddl.split(",")]
    typ = ",".join(f"{n}:{t}" for n, t in fields)
    payload = json.dumps([dict(zip((n for n, _ in fields), r)) for r in rows])
    return spark.sql("SELECT 1").select(
        F.inline(F.from_json(F.lit(payload), f"array<struct<{typ}>>"))
    )


def _lockstep_bfs(
    graph: OnionGraph, arms: list[_Arm], int_key: bool = False
) -> tuple[DataFrame, list[int]]:
    """Level-synchronous BFS of all ``arms`` at once: one Spark
    action per level, whatever the arm count.

    Returns (DataFrame(arm, layer, node_id, dist), depths): the
    union of every level including each arm's seeds at dist 0
    (seeds absent from the graph stay, alone, at dist 0), and per
    arm the depth of its deepest non-empty level.

    ``int_key`` runs the levels on the int-keyed views, falling back
    to the exact string keying when the 64-bit hash clashes (the
    views are None). Seeds are always emitted from their string
    frame; deeper levels map back through the node index once, at
    the end -- which relies on the OnionGraph invariant that edge
    endpoints appear in graph.nodes.
    """
    spark = graph.nodes.sparkSession
    orients = {a.orientation for a in arms}
    views = None
    if int_key:
        views = {
            o: graph.cached_int_sym() if o == "sym" else graph.cached_int_endpoints(o)
            for o in orients
        }
        if any(v is None for v in views.values()):
            views = None
    if views is not None:
        nidx = next(iter(views.values()))[1]
        edges_of = {o: v[0] for o, v in views.items()}
        key, src, dst = ["node"], ["s"], ["d"]
    else:
        edges_of = {
            o: graph.cached_symmetrized() if o == "sym" else graph.cached_endpoints(o)
            for o in orients
        }
        key, src, dst = NODE_KEY, ["src_layer", "src_id"], ["dst_layer", "dst_id"]
    akey = ["arm", *key]

    def _to_key(df: DataFrame) -> DataFrame:
        if views is None:
            return df
        rest = [c for c in df.columns if c not in NODE_KEY]
        return df.select(F.xxhash64("layer", "node_id").alias("node"), *rest)

    ck = IterCheckpointer(prefix="onionnet_bfs_")
    stops = {
        i: {(l, str(n)) for (l, n) in a.stop_nodes}
        for i, a in enumerate(arms)
        if a.stop_nodes is not None
    }
    stop_df = None
    if stops:
        stop_df = F.broadcast(
            _to_key(
                _rows_frame(
                    spark,
                    [(i, l, n, 1) for i, s in stops.items() for (l, n) in sorted(s)],
                    "arm int, layer string, node_id string, _hit int",
                )
            )
        )

    def _measure(level: DataFrame, probe: bool) -> dict[int, tuple[int, int]]:
        # the level's single action: materializes its lazy cut and
        # returns (rows, stop-node hits) per arm
        aggs = [F.count("*").alias("n")]
        if probe:
            level = level.join(stop_df, on=akey, how="left")
            aggs.append(F.count("_hit").alias("hit"))
        rows = level.groupBy("arm").agg(*aggs).collect()
        return {r["arm"]: (r["n"], r["hit"] if probe else 0) for r in rows}

    if isinstance(arms[0].seeds, DataFrame):
        seeds = ck.cut(
            arms[0].seeds.select(
                F.lit(0).alias("arm"), "layer", "node_id", F.lit(0).alias("dist")
            ),
            eager=False,
        )
        stats = _measure(seeds, False)
    else:
        seed_rows = [
            (i, l, str(n), 0) for i, a in enumerate(arms) for (l, n) in a.seeds
        ]
        seeds = _rows_frame(
            spark, seed_rows, "arm int, layer string, node_id string, dist int"
        )
        n0 = Counter(r[0] for r in seed_rows)
        stats = {
            i: (n0[i], len({(l, str(n)) for (l, n) in a.seeds} & stops.get(i, set())))
            for i, a in enumerate(arms)
        }
    sym = sorted(i for i, a in enumerate(arms) if a.orientation == "sym")
    levels = [_to_key(seeds)]
    level_rows = [sum(n for n, _ in stats.values())]
    remaining = {i: len(s) for i, s in stops.items()}
    depths = [0] * len(arms)
    live = set(range(len(arms)))
    depth = 0
    while True:
        for i, (n, hit) in stats.items():
            if n:
                depths[i] = depth
            if i in remaining:
                remaining[i] -= hit
        live = {
            i
            for i in live
            if stats.get(i, (0, 0))[0]
            and (arms[i].max_dist is None or depth < arms[i].max_dist)
            and remaining.get(i) != 0
        }
        live = {i for i in live if arms[i].paired is None or arms[i].paired in live}
        if not live:
            break
        frontier = levels[-1]
        if any(n and i not in live for i, (n, _) in stats.items()):
            frontier = frontier.filter(F.col("arm").isin(sorted(live)))
        f = frontier.select(
            "arm", *[F.col(k).alias(s) for k, s in zip(key, src)]
        )
        live_orients = sorted({arms[i].orientation for i in live})
        on = src
        if len(live_orients) == 1:
            edges = edges_of[live_orients[0]]
        else:
            # one broadcast frontier against the union of the live
            # orientations' cached views, each tagged so an arm only
            # follows its own orientation
            tag = None
            for t, o in enumerate(live_orients):
                arms_o = sorted(i for i in live if arms[i].orientation == o)
                cond = F.col("arm").isin(arms_o)
                tag = F.when(cond, t) if tag is None else tag.when(cond, t)
            f = f.withColumn("_o", tag)
            edges = _union(
                [edges_of[o].withColumn("_o", F.lit(t)) for t, o in enumerate(live_orients)]
            )
            on = ["_o", *src]
        if sum(stats[i][0] for i in live) <= BROADCAST_FRONTIER_MAX:
            f = F.broadcast(f)
        # Visited side of the anti-join. Undirected BFS invariant: an
        # edge spans at most one level, so an expansion from level d
        # can only re-touch levels d and d-1 -- a sym arm needs just
        # its LAST TWO levels, which keeps the dedup side bounded by
        # two level sizes at every depth. A directed edge can reach
        # arbitrarily earlier levels: directed arms keep the union.
        visited = [lv.select(*akey) for lv in levels[-2:]]
        n_visited = sum(level_rows[-2:])
        if len(sym) < len(arms) and len(levels) > 2:
            older = [lv.select(*akey) for lv in levels[:-2]]
            if sym:
                older = [lv.filter(~F.col("arm").isin(sym)) for lv in older]
            visited += older
            n_visited += sum(level_rows[:-2])
        visited = _union(visited)
        if n_visited <= BROADCAST_FRONTIER_MAX:
            visited = F.broadcast(visited)
        # dedup on (arm, key) -- dist is constant within a level -- so
        # the dedup exchange is hash-partitioned on exactly the
        # anti-join key: one shuffle per level. (Measured r9:
        # anti-joining BEFORE the dedup costs more -- the broadcast
        # probe over the full expansion beats the bytes it saves.)
        nxt = (
            edges.join(f, on=on)
            .select(
                "arm",
                *[F.col(d).alias(k) for d, k in zip(dst, key)],
                F.lit(depth + 1).alias("dist"),
            )
            .dropDuplicates(akey)
            .join(visited, on=akey, how="left_anti")
        )
        # lazy cut: the level's one action below materializes it;
        # IterCheckpointer rebases to parquet every few levels so
        # deep runs never chain enough localCheckpoints to hit the
        # geometric replay blowup (ckpt.py)
        nxt = ck.cut(nxt, eager=False)
        depth += 1
        stats = _measure(nxt, any(remaining.get(i) for i in live))
        n_next = sum(n for n, _ in stats.values())
        if n_next:
            levels.append(nxt)
            level_rows.append(n_next)
    if views is None:
        return _union(levels), depths
    if len(levels) == 1:
        return seeds, depths
    deep = _union(levels[1:])
    mapped = deep.join(nidx, deep["node"] == nidx["idx"]).select(
        "arm", "layer", "node_id", "dist"
    )
    return seeds.unionByName(mapped), depths


def bfs_distances(
    graph: OnionGraph,
    sources: "list[tuple[str, str]] | DataFrame",
    direction: str = "downstream",
    max_dist: int | None = None,
) -> DataFrame:
    """Min hop distance from the source set to every reachable node.

    Returns DataFrame(layer, node_id, dist) including the sources at
    dist 0. Multi-source: dist is the minimum over sources, which is
    exactly the artificial-source construction the reference uses in
    compute_on_shortest (searcher.py:75-86).

    Int-keyed levels (core.cached_int_*) serve DEEP UNCAPPED
    fixpoints from a driver-side seed list (the `reachable` shape):
    only there do the many narrow levels amortize the one node-index
    join that maps the result back to strings. Capped sweeps (k_hop)
    and DataFrame seed sets (bow-tie) measured net slower on the int
    key (r10 session-4 A/B: khop_upstream 1.21->1.57s, graph_bowtie
    5.12->5.35s, vs reachability 4.88->3.17s, sssp_hops
    2.35->1.85s) and keep the string key.
    """
    int_key = max_dist is None and not isinstance(sources, DataFrame)
    out, _ = _lockstep_bfs(graph, [_Arm(sources, direction, max_dist)], int_key)
    return out.drop("arm")


def k_hop(
    graph: OnionGraph,
    start: tuple[str, str],
    max_dist: int,
    direction: str = "downstream",
    include_upstream_children: bool = False,
) -> DataFrame:
    """Ego subgraph node set within max_dist hops of start.

    Reference search (searcher.py:157-242). direction='bi' unions
    upstream and downstream reachable sets (searcher.py:222-223);
    dist is then the min of the two directions. The two arms run in
    lockstep: one job set per level for both.

    ``include_upstream_children`` (bi mode only, reference
    searcher.py:212-216): additionally union the OUT-neighbors of
    every upstream node — the reference's "children of ancestors"
    widening. The reference returns membership only; here a
    child-only node carries dist = min over its upstream parents of
    (parent dist + 1), and nodes already reached keep the smaller of
    that and their BFS dist. One extra single-hop join against the
    cached downstream endpoints — no extra BFS fixpoint.
    """
    if include_upstream_children and direction != "bi":
        raise ValueError(
            "include_upstream_children applies only to direction='bi' "
            "(reference searcher.py:212)"
        )
    if direction != "bi":
        return bfs_distances(graph, [start], direction, max_dist)
    out, _ = _lockstep_bfs(
        graph,
        [_Arm([start], "downstream", max_dist), _Arm([start], "upstream", max_dist)],
    )
    parts = out.drop("arm")
    if include_upstream_children:
        up = out.filter(F.col("arm") == 1)
        children = (
            graph.cached_endpoints("downstream")
            .join(
                up.select(
                    F.col("layer").alias("src_layer"),
                    F.col("node_id").alias("src_id"),
                    "dist",
                ),
                on=["src_layer", "src_id"],
            )
            .select(
                F.col("dst_layer").alias("layer"),
                F.col("dst_id").alias("node_id"),
                (F.col("dist") + F.lit(1)).alias("dist"),
            )
        )
        parts = parts.unionByName(children)
    return parts.groupBy(*NODE_KEY).agg(F.min("dist").alias("dist"))


def reachable(
    graph: OnionGraph, start: tuple[str, str], direction: str = "downstream"
) -> DataFrame:
    """Full reachability fixpoint (reference _bfs_traversal,
    searcher.py:119-155)."""
    return bfs_distances(graph, [start], direction, max_dist=None)


def pseudo_diameter(
    graph: OnionGraph, start: tuple[str, str], n_sweeps: int = 2
) -> DataFrame:
    """Pseudo-diameter by iterated double-sweep BFS on the undirected
    view (graph-tool `pseudo_diameter` parity): BFS from `start`,
    jump to the farthest node (ties broken by smallest (layer,
    node_id)), BFS again; the last sweep's eccentricity is a lower
    bound on the true diameter that is exact on trees and near-exact
    in practice. `n_sweeps` is FIXED (default 2, the classic double
    sweep) so the result is engine-reproducible — graph-tool's
    iterate-to-no-improvement variant would make the answer depend
    on BFS tie-breaking.

    Returns one row: (start_layer, start_id, peak_layer, peak_id,
    pseudo_diameter) where peak is the farthest node found by the
    final sweep. Each sweep is one int-keyed sym arm of the frontier
    kernel; its eccentricity is the arm's depth, so the argmax maps
    back only the nodes at that depth and takes the smallest (layer,
    node_id) with a TakeOrdered limit(1) — a scalar fetch, not a
    data collect.
    """
    if n_sweeps < 1:
        raise ValueError(f"n_sweeps must be >= 1, got {n_sweeps}")
    src = (start[0], str(start[1]))
    far = None
    ecc = 0
    for _ in range(n_sweeps):
        d, (ecc,) = _lockstep_bfs(graph, [_Arm([src], "sym")], int_key=True)
        row = (
            d.filter(F.col("dist") == ecc)
            .orderBy("layer", "node_id")
            .limit(1)
            .collect()[0]
        )
        far = (row["layer"], row["node_id"])
        src = far
    spark = graph.nodes.sparkSession
    return spark.createDataFrame(
        [(start[0], str(start[1]), far[0], far[1], ecc)],
        "start_layer string, start_id string, peak_layer string, "
        "peak_id string, pseudo_diameter int",
    )


def weighted_sssp(
    graph: OnionGraph,
    sources: list[tuple[str, str]],
    direction: str = "downstream",
    weight_col: str = "weight",
    max_iterations: int = 50,
) -> DataFrame:
    """Single/multi-source shortest WEIGHTED distances (non-negative
    weights) by frontier Bellman-Ford relaxation.

    Extends the reference's hop-count traversals (searcher.py uses
    graph-tool shortest_distance, which also accepts edge weights)
    to weighted edges. Each round relaxes only edges out of nodes
    whose distance improved last round (delta relaxation), so late
    rounds touch a shrinking frontier; the distance map is
    localCheckpoint-ed per round to keep lineage flat. Rounds needed
    = longest shortest-path edge count, NOT graph size.

    Returns DataFrame(layer, node_id, dist: double).
    """
    if direction not in ("downstream", "upstream"):
        raise ValueError("direction must be 'upstream' or 'downstream'")
    e = graph.edges
    if direction == "downstream":
        edges = e.select(
            "src_layer", "src_id", "dst_layer", "dst_id", F.col(weight_col).alias("w")
        )
    else:
        edges = e.select(
            F.col("dst_layer").alias("src_layer"),
            F.col("dst_id").alias("src_id"),
            F.col("src_layer").alias("dst_layer"),
            F.col("src_id").alias("dst_id"),
            F.col(weight_col).alias("w"),
        )
    edges = edges.persist()
    try:
        # Bellman-Ford requires non-negative weights for the delta
        # relaxation to terminate at true shortest distances; verify
        # up-front (one cheap agg over the persisted edges) rather
        # than looping forever or converging to garbage.
        min_w = edges.agg(F.min("w").alias("mw")).collect()[0]["mw"]
        if min_w is not None and min_w < 0:
            raise ValueError(
                f"weighted_sssp requires non-negative edge weights; "
                f"found min weight {min_w}"
            )
        spark = graph.nodes.sparkSession
        dist = (
            spark.createDataFrame(
                [(l, str(i), 0.0) for (l, i) in sources],
                "layer string, node_id string, dist double",
            )
            .localCheckpoint()
        )
        improved = dist
        # one checkpoint + one (metadata-cheap) count per round: the
        # relaxation merges into the distance map with a single FULL
        # OUTER join carrying an 'improved' flag, instead of separate
        # improved-set + anti-join/union rebuild jobs. (An inner+anti
        # delta split that never exchanges `dist` was tried in r10
        # and regressed ~2x: the unmaterialized relaxation
        # aggregation appeared in two branches and was evaluated
        # twice per round.)
        n_improved = dist.count()
        for _ in range(max_iterations):
            f = improved.select(
                F.col("layer").alias("src_layer"),
                F.col("node_id").alias("src_id"),
                "dist",
            )
            if n_improved <= BROADCAST_FRONTIER_MAX:
                f = F.broadcast(f)
            cand = (
                edges.join(f, on=["src_layer", "src_id"])
                .groupBy(
                    F.col("dst_layer").alias("layer"),
                    F.col("dst_id").alias("node_id"),
                )
                .agg(F.min(F.col("dist") + F.col("w")).alias("cand_dist"))
            )
            new_dist = (
                dist.join(cand, on=NODE_KEY, how="full")
                .select(
                    "layer",
                    "node_id",
                    F.least(
                        F.coalesce("dist", "cand_dist"),
                        F.coalesce("cand_dist", "dist"),
                    ).alias("dist"),
                    (
                        F.col("dist").isNull()
                        | (F.col("cand_dist") < F.col("dist"))
                    ).alias("improved"),
                )
                .localCheckpoint()
            )
            improved = new_dist.filter("improved").drop("improved")
            dist = new_dist.drop("improved")
            n_improved = improved.count()
            if n_improved == 0:
                break
        if n_improved != 0:
            # A non-empty frontier at cap means some shortest path
            # has more than max_iterations edges: the distances in
            # `dist` would be silently too large. Fail loudly.
            raise RuntimeError(
                f"weighted_sssp did not converge within {max_iterations} "
                f"iterations ({n_improved} distances still improving); "
                f"a shortest path exceeds the iteration cap — raise "
                f"max_iterations"
            )
        return dist
    finally:
        edges.unpersist()


def on_shortest_path(
    graph: OnionGraph,
    source: tuple[str, str],
    targets: list[tuple[str, str]],
) -> DataFrame:
    """Nodes lying on some shortest path from source to any target.

    Reference compute_on_shortest (searcher.py:26-117): forward BFS
    from source; reverse BFS from an artificial vertex wired to all
    targets with weight 0 (== multi-source reverse BFS); keep v with
    d_f(v) + d_r(v) ∈ { d_f(t) : t ∈ targets }. We reproduce those
    semantics exactly, including the quirk that d_r is the min over
    ALL targets while membership is tested against the full set of
    target distances.

    Neither BFS needs its full fixpoint: membership requires
    d_f(v) + d_r(v) == some target distance td <= D, where D is the
    depth of the last target found, so d_f(v) <= D and d_r(v) <= D
    for every member. The forward arm stops once every target is
    found (at depth D; an unreachable target lets it run to its
    fixpoint), and the reverse arm runs in lockstep with it and
    stops with it -- one job set per level for both directions
    instead of O(diameter) reverse rounds.
    """
    out, _ = _lockstep_bfs(
        graph,
        [
            _Arm([source], "downstream", stop_nodes=targets),
            _Arm(targets, "upstream", paired=0),
        ],
    )
    fwd = out.filter(F.col("arm") == 0).select(*NODE_KEY, F.col("dist").alias("d_f"))
    rev = out.filter(F.col("arm") == 1).select(*NODE_KEY, F.col("dist").alias("d_r"))
    target_dists = (
        fwd.join(
            F.broadcast(
                _rows_frame(
                    fwd.sparkSession,
                    [(l, str(i)) for (l, i) in targets],
                    "layer string, node_id string",
                )
            ),
            on=NODE_KEY,
        )
        .select(F.col("d_f").alias("td"))
        .distinct()
    )
    return (
        fwd.join(rev, on=NODE_KEY)
        .withColumn("d_sum", F.col("d_f") + F.col("d_r"))
        .join(F.broadcast(target_dists), F.col("d_sum") == F.col("td"), "left_semi")
        .select("layer", "node_id", "d_f", "d_r")
    )


def on_shortest_path_weighted(
    graph: OnionGraph,
    source: tuple[str, str],
    targets: list[tuple[str, str]],
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted variant of on_shortest_path: nodes v with
    d_f(source, v) + d_r(v, targets) equal to some target's weighted
    distance (reference compute_on_shortest runs over graph-tool
    shortest_distance, which honors edge weights when given).

    Distances come from two concurrent Bellman-Ford fixpoints;
    membership compares ROUNDED (6 dp) sums so float associativity
    cannot flake the equality. Returns (layer, node_id, d_f, d_r).
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fwd = pool.submit(weighted_sssp, graph, [source], "downstream", weight_col)
        f_rev = pool.submit(weighted_sssp, graph, targets, "upstream", weight_col)
        fwd = f_fwd.result().withColumnRenamed("dist", "d_f")
        rev = f_rev.result().withColumnRenamed("dist", "d_r")
    spark = graph.nodes.sparkSession
    target_df = F.broadcast(
        spark.createDataFrame(
            [(l, str(i)) for (l, i) in targets], "layer string, node_id string"
        )
    )
    target_dists = (
        fwd.join(target_df, on=NODE_KEY)
        .select(F.round("d_f", 6).alias("td"))
        .distinct()
    )
    return (
        fwd.join(rev, on=NODE_KEY)
        .withColumn("d_sum", F.round(F.col("d_f") + F.col("d_r"), 6))
        .join(F.broadcast(target_dists), F.col("d_sum") == F.col("td"), "left_semi")
        .select(
            "layer",
            "node_id",
            F.round("d_f", 6).alias("d_f"),
            F.round("d_r", 6).alias("d_r"),
        )
    )


def multi_source_bfs(
    graph: OnionGraph,
    sources: list[tuple[str, str]],
    direction: str = "downstream",
    max_dist: int | None = None,
) -> DataFrame:
    """Per-source BFS distances for ALL sources in ONE
    level-synchronous sweep: one kernel arm per distinct source, so
    each level is still a single join + dedup + anti-join round and
    the per-level job count is independent of the source count
    (running k separate bfs_distances calls would cost k times the
    scheduling). sid is the source's 'layer:node_id' key. Directed
    sweeps run on the int key: the visited union reaches
    k x |reach| rows, which is where a k-pivot sweep's level cost
    lives.

    Unlike bfs_distances (which MERGES sources into a min-distance
    field), this keeps the per-source distance — the primitive for
    sampled centralities (harmonic closeness, betweenness pivots)
    and landmark distance labelings.

    Returns DataFrame(sid, layer, node_id, dist).
    """
    uniq = list(dict.fromkeys((l, str(i)) for (l, i) in sources))
    out, _ = _lockstep_bfs(
        graph,
        [_Arm([s], direction, max_dist) for s in uniq],
        int_key=direction in ("downstream", "upstream"),
    )
    sid = _rows_frame(
        graph.nodes.sparkSession,
        [(a, f"{l}:{i}") for a, (l, i) in enumerate(uniq)],
        "arm int, sid string",
    )
    return out.join(F.broadcast(sid), on="arm").select("sid", "layer", "node_id", "dist")


def temporal_earliest_arrival(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "ts",
    max_rounds: int = 4,
    hops_per_round: int = 1,
) -> DataFrame:
    """Time-respecting reachability: earliest arrival time at every
    node over paths whose edge timestamps never decrease — an edge
    (u, v, t) is traversable only if you arrived at u by time t.

    Relaxes  arrival(v) = min{ t of (u,v,t) : t >= arrival(u) }
    to fixpoint, frontier-sparse like `weighted_sssp`: only nodes
    whose arrival improved last round join the edge list in the
    next. Sources have arrival NULL (reads as -infinity: all their
    edges qualify) and are never improvable. Rounds are capped at
    `max_rounds` with the same convergence contract as the other
    iterative operators: the loop stops early on an empty frontier,
    and a RuntimeError is raised if the cap is hit while the
    frontier is still non-empty (silent truncation would report
    too-late arrivals).

    Scale shape: per round one equi-join on the source key with the
    temporal filter applied inside the join, then a min-aggregate on
    the destination key — hop-BFS shuffle economics; the frontier
    broadcasts while small under AQE. The per-round merge is
    DELTA-DRIVEN (r9 VERDICT item 3, the k-core delta-ledger shape):
    only the frontier-sized candidate set is materialized each round;
    `best` is never shuffled — improvements are detected by joining
    the small candidate set against it and folded back in with a
    broadcast anti-join + union, checkpointed every few rounds to
    bound lineage. The old full-outer merge re-exchanged (and
    re-materialized) the WHOLE best table every round.

    `hops_per_round` > 1 expands the frontier that many hops INSIDE
    one round (lazy join chain, no barrier between hops) before the
    single delta merge — so an improvement propagates k hops per
    materialization and the round count (the per-round scheduling
    constant dominates at small data; at 100 TB it is the number of
    cluster-wide barriers) drops by ~k. Sound because relaxation is
    monotone label-correcting: an intra-round hop relaxes from a
    CANDIDATE arrival that may be worse than (or tie) the node's
    final best, which can only under-qualify edges — never admit an
    invalid path — and any node whose best actually improves lands
    in the round's delta, so its out-edges are re-relaxed with the
    improved value next round. The fixpoint (empty delta) is
    therefore the same under any hops_per_round; the convergence
    guard caps OUTER rounds, i.e. total depth <= max_rounds *
    hops_per_round.
    """
    e = edges.select(
        F.col(src_col).alias("u"),
        F.col(dst_col).alias("v"),
        F.col(ts_col).alias("t"),
    ).localCheckpoint()
    ts_type = e.schema["t"].dataType
    best = sources.select(
        F.col(sources.columns[0]).alias("node"),
        F.lit(None).cast(ts_type).alias("arrival"),
    ).localCheckpoint()
    frontier = best
    n_frontier = best.count()
    for round_no in range(max_rounds + 1):
        hop, per_hop = frontier, []
        for hop_no in range(max(1, hops_per_round)):
            # Broadcast the frontier into the edge join while it fits:
            # the checkpointed edge list is then scanned, never
            # exchanged or sorted, on every hop (without the hint the
            # planner has no stats for either checkpointed side and
            # falls back to a full sort-merge of the edges each hop).
            # Intra-round hops past the first are LAZY (size unknown
            # until the round materializes), so their broadcast is
            # gated on the last measured frontier with fan-out
            # headroom; past the budget the shuffle join returns.
            if hop_no == 0:
                small = n_frontier <= BROADCAST_FRONTIER_MAX
            else:
                small = n_frontier <= BROADCAST_FRONTIER_MAX // 8
            h = F.broadcast(hop) if small else hop
            reached = (
                h.join(e, on=h["node"] == e["u"])
                .filter(
                    F.col("arrival").isNull() | (F.col("t") >= F.col("arrival"))
                )
                .groupBy(F.col("v").alias("node"))
                .agg(F.min("t").alias("arrival"))
            )
            per_hop.append(reached)
            hop = reached
        cands = per_hop[0]
        for nxt in per_hop[1:]:
            cands = cands.unionByName(nxt)
        reached = cands.groupBy("node").agg(F.min("arrival").alias("cand"))
        # improvements only: a candidate survives if its node is new
        # to best (`seen` NULL) or strictly earlier than the current
        # non-NULL arrival (a source's NULL arrival reads as
        # -infinity, never improvable). One left join referencing the
        # round's hop chain exactly ONCE — an inner+anti split that
        # streams `best` was tried in r10 and regressed 2-4x: the
        # unmaterialized hop aggregation appeared in both branches
        # and was evaluated twice per round, which costs far more
        # than this (delta-bounded) exchange of the best table saves.
        # lazy checkpoint + count = ONE Spark job per round (the cut
        # materializes inside the count); an eager cut + isEmpty would
        # schedule two.
        delta = (
            reached.join(
                best.select(
                    "node", F.col("arrival").alias("cur"), F.lit(1).alias("seen")
                ),
                on="node",
                how="left",
            )
            .filter(
                F.col("seen").isNull()
                | (F.col("cur").isNotNull() & (F.col("cand") < F.col("cur")))
            )
            .select("node", F.col("cand").alias("arrival"))
            .localCheckpoint(eager=False)
        )
        n_frontier = delta.count()
        if n_frontier == 0:
            return best
        if round_no == max_rounds:
            raise RuntimeError(
                f"temporal_earliest_arrival did not converge in "
                f"{max_rounds} rounds; raise `max_rounds`"
            )
        # fold the delta in lazily: broadcast anti-join (delta is the
        # small build side) + union — no checkpoint job, no exchange
        # of best; every 4th round the grown lineage gets a lazy cut
        # that materializes inside the next round's delta job.
        best = best.join(
            F.broadcast(delta.select("node")), on="node", how="left_anti"
        ).unionByName(delta)
        if (round_no + 1) % 4 == 0:
            best = best.localCheckpoint(eager=False)
        frontier = delta
    return best


def topological_levels(
    graph: OnionGraph, max_iterations: int = 20, guard: bool = True
) -> DataFrame:
    """Topological generation of every node in a DAG: level(v) =
    length of the LONGEST directed path reaching v (sources sit at
    0) — the layer scheduler's view of an onion graph (everything at
    level k depends only on levels < k), and a cycle detector for
    free: a cycle keeps relaxing forever, so hitting the iteration
    cap with changes still flowing raises (like weighted_sssp's
    convergence guard).

    Frontier-sparse max-relaxation (delta scheduling, the
    weighted_sssp shape): only nodes whose level CHANGED last round
    join the edge list in the next, so each round touches a
    shrinking frontier instead of the whole graph (the dense
    variant re-joined all |E| x |V| every round — 47s -> frontier
    cost at sf0.1, r8 sweep). Monotone relaxation reaches the same
    fixpoint under any schedule. Converges in longest-path-depth
    rounds. Returns (layer, node_id, level).
    """
    e = graph.edge_endpoints().select(
        F.concat_ws(":", "src_layer", "src_id").alias("s"),
        F.concat_ws(":", "dst_layer", "dst_id").alias("d"),
    ).localCheckpoint()
    lv = graph.nodes.select(
        F.concat_ws(":", "layer", "node_id").alias("n"), F.lit(0).alias("level")
    ).localCheckpoint()
    changed = lv  # round 0: every node is newly levelled
    # Frontier/delta tables are broadcast into the round's joins while
    # they fit the budget (they are counted anyway for convergence),
    # so the cached edge list and the level table are scanned — never
    # exchanged or re-sorted — inside the loop. Round 0's frontier is
    # the full node set, so it broadcasts only on small graphs; every
    # later frontier is the (shrinking) improved set.
    n_changed = graph.cached_n_nodes()
    converged = False
    for _ in range(max_iterations):
        f = changed.withColumnRenamed("n", "s")
        if n_changed <= BROADCAST_FRONTIER_MAX:
            f = F.broadcast(f)
        upd = (
            e.join(f, on="s")
            .groupBy(F.col("d").alias("n"))
            .agg((F.max("level") + 1).alias("cand"))
        )
        # upd is bounded by the frontier's out-neighborhood; its own
        # broadcast is gated on the same frontier count (one hop of
        # fan-out stays inside the budget's intent at these sizes —
        # past the threshold the shuffle join takes over anyway).
        if n_changed <= BROADCAST_FRONTIER_MAX:
            upd = F.broadcast(upd)
        imp = (
            upd.join(lv, on="n")
            .filter(F.col("cand") > F.col("level"))
            .select("n", F.col("cand").alias("level"))
            .localCheckpoint()
        )
        n_changed = imp.count()
        if n_changed == 0:
            converged = True
            break
        new = imp.withColumnRenamed("level", "new")
        if n_changed <= BROADCAST_FRONTIER_MAX:
            new = F.broadcast(new)
        lv = (
            lv.join(new, on="n", how="left")
            .select("n", F.coalesce("new", "level").alias("level"))
            .localCheckpoint()
        )
        changed = imp
    if guard and not converged:
        raise RuntimeError(
            f"topological_levels: still relaxing after {max_iterations} "
            "rounds — graph has a cycle or raise max_iterations"
        )
    # key split mirrors the oracle: everything after the FIRST ':'
    # is the node_id (ids may themselves contain ':')
    return lv.select(
        F.split_part(F.col("n"), F.lit(":"), F.lit(1)).alias("layer"),
        F.expr(
            "substring(n, length(split_part(n, ':', 1)) + 2)"
        ).alias("node_id"),
        F.col("level").cast("int").alias("level"),
    )
