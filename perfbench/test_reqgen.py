"""Tests of the seeded request schedules.

    python3 -m pytest perfbench/test_reqgen.py -q
"""

from __future__ import annotations

import itertools
import os
import subprocess
import sys

import pytest

import reqgen

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")


def _take(gen, n):
    return list(itertools.islice(gen, n))


@pytest.fixture(scope="module")
def tables():
    return reqgen.read_tables(DATA_DIR)


def test_lineitem_ids_are_unique(tables):
    ids = tables.ids["lineitem"]
    assert len(set(ids)) == len(ids)


@pytest.mark.parametrize("workload", ["ego", "grow"])
def test_same_seed_gives_identical_requests(tables, workload):
    t = tables
    make = {
        "ego": lambda: reqgen.ego_requests(t, 7),
        "grow": lambda: reqgen.grow_requests(t, 7, 20),
    }[workload]
    assert _take(make(), 60) == _take(make(), 60)


def test_different_seeds_give_different_start_nodes(tables):
    t = tables
    starts = [
        [r.args[0] for r in _take(reqgen.ego_requests(t, seed), 40) if r.op == "k_hop"]
        for seed in (1, 2)
    ]
    assert starts[0] != starts[1]
    grow = [
        [r.args for r in _take(reqgen.grow_requests(t, seed, 20), 30) if r.op == "k_hop"]
        for seed in (1, 2)
    ]
    assert grow[0] != grow[1]


def test_ego_round_covers_every_layer_direction_and_hop_count():
    shapes = reqgen.ego_round()
    khop = [s for s in shapes if s[0] == "k_hop"]
    assert {s[1] for s in khop} == set(reqgen.LAYERS)
    assert {(s[2], s[3]) for s in khop} == {
        ("downstream", False), ("upstream", False), ("bi", False), ("bi", True)}
    assert {s[4] for s in khop} == {1, 2, 3}
    assert {s[0] for s in shapes} == {
        "k_hop", "get_node_properties", "reachable", "on_shortest_path"}
    assert len(shapes) == reqgen.EGO_ROUND


def test_grow_stream_has_one_replay_and_one_duplicate_batch(tables):
    batches = _take(reqgen.grow_batches(tables, 3, 20), 8)
    assert len(batches) == 8
    kinds = [k for _, _, k in batches]
    assert kinds.count("replay") == 1 and kinds.count("duplicate") == 1
    by_kind = {k: (bid, list(rows)) for bid, rows, k in batches if k != "new"}
    news = [(bid, list(rows)) for bid, rows, k in batches if k == "new"]
    assert by_kind["replay"] == news[0]  # same batch_id, same rows
    assert by_kind["duplicate"][1] == news[0][1]  # rows already merged
    assert by_kind["duplicate"][0] not in {bid for bid, _ in news}
    ids = [bid for bid, _, k in batches if k != "replay"]
    assert ids == sorted(set(ids))  # batch ids only increase
    # new batches never repeat a lineitem
    merged = [r for _, rows in news for r in rows]
    assert len(set(merged)) == len(merged)


def test_generator_reads_no_library_code():
    code = (
        "import sys; sys.path.insert(0, %r); import reqgen; reqgen.read_tables(%r); "
        "bad = [m for m in sys.modules if m.split('.')[0] in ('onionnet_spark', 'pyspark')]; "
        "sys.exit(1 if bad else 0)" % (HERE, DATA_DIR)
    )
    assert subprocess.run([sys.executable, "-c", code]).returncode == 0
