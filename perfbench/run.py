#!/usr/bin/env python3
"""Workload benchmark for the onionnet_spark graph engine.

    python3 perfbench/run.py --workload ego --seed 1 --seconds 20 --trace 0

Reads the TPC-H tables at scale factor 0.01 under ``perfbench/data``
(the same graph for every seed; the seed draws only the requests),
starts a Spark session through ``onionnet_spark.session.get_spark``
on ``local[<cores>]``, builds the workload's graph SETUP_REPS times,
then runs the workload's requests as a closed loop with one client
until the library calls have taken ``--seconds`` seconds. Every
result is checked against an answer computed outside Spark
(reference.py).

The last line of standard output is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics,
taken from a run in which every call into a library module is a
span charged with the Spark jobs, stages, tasks and bytes it ran
(tracer.py). ``--out PATH`` also writes the run's full record:
environment, every request with its latency, outcome and counts,
and every metric.

Writes only under ``perfbench/.work`` (Spark's temporary files,
removed at exit) and the ``--out`` path.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

PROCESS_T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the repository's TPC-H test tables at scale factor 0.01, the seven
# the graph is built from; every seed runs on this same graph
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
SETUP_REPS = 3
REQUEST_TIMEOUT_S = 60.0
# stop issuing requests this long after process start, so a slowed
# run still ends well inside its 180 s limit
LOOP_DEADLINE_S = 140.0
LAYERS = ["builder", "core", "traversal", "components", "analytics",
          "filters", "properties", "streaming"]
LAYER_COUNTERS = ["calls", "failed", "busy_s", "exec_s", "jobs", "stages", "tasks",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--out", help="also write the run's full record (JSON) here")
    return p.parse_args(argv)


def configure_env(work: str) -> dict:
    """Session settings, exported before pyspark is imported; every
    temporary file of Python and the JVM goes under ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS") or str(cores),
        "ONIONNET_SHUFFLE_PARTITIONS": str(2 * cores),
        "ONIONNET_DRIVER_MEM": "2g",
    }
    os.environ.update(env)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    return {"cores": cores, **env}


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) of the host CPU line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def tail(values: list[float]) -> float:
    """The highest order statistic with at least ten samples above
    it. Below 21 samples that statistic is not above the median, so
    the maximum stands in for the tail."""
    s = sorted(values)
    return s[-11] if len(s) > 20 else s[-1]


def run_request(spark, wl, req, prepared):
    """One timed library call; returns (seconds, rows, error). A
    watchdog cancels the call's Spark jobs after REQUEST_TIMEOUT_S."""
    watchdog = threading.Timer(REQUEST_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    watchdog.start()
    t0 = time.perf_counter()
    try:
        rows, err = wl.execute(req, prepared), None
    except Exception as e:  # a failed request is counted, the loop goes on
        rows, err = None, f"{type(e).__name__}: {e}"[:300]
    finally:
        dt = time.perf_counter() - t0
        watchdog.cancel()
    return dt, rows, err


def run_loop(spark, wl, tracer, seconds: float) -> list[dict]:
    """Closed loop, one client, over whole rounds of the workload's
    stratified mix, so every run sees the same proportions: at least
    one round, then another while it brings the time spent in
    library calls closer to ``seconds``. Each request runs once; in a
    traced run its spans pay whatever cold work (cache fills, index
    builds) the request triggers."""
    records = []
    lib_s = 0.0
    for n, req in enumerate(wl.requests()):
        rounds = n // wl.round_size
        if n % wl.round_size == 0 and rounds and lib_s + lib_s / rounds / 2 >= seconds:
            break
        if time.perf_counter() - PROCESS_T0 > LOOP_DEADLINE_S:
            break
        prepared = wl.prepare(req)
        tracer.request = req.idx
        dt, rows, err = run_request(spark, wl, req, prepared)
        tracer.request = None
        lib_s += dt
        tracer.resolve()
        rec = {"req": req, "latency": dt, "rows": rows, "error": err,
               "meta": wl.after(req, prepared)}
        tracer.resolve()
        records.append(rec)
    return records


def check_records(wl, records) -> None:
    """Mark each record ok or failed against the reference answers."""
    wl.reference()
    for rec in records:
        err = rec["error"]
        if err is None:
            try:
                ok = wl.check(rec["req"], rec["rows"], rec["meta"])
                err = None if ok else "result differs from the reference"
            except Exception as e:  # a check that cannot run fails the request
                err = f"check raised {type(e).__name__}: {e}"[:300]
        rec["ok"] = err is None
        rec["error"] = err


def storage(spark) -> tuple[float, int]:
    """(MB held by persisted and checkpointed blocks, cached RDDs)
    once garbage is collected: Spark's ContextCleaner frees the blocks
    of RDDs nothing references only after a JVM collection, so what
    remains is data some owner pins, or a pin that lost its owner.
    Collects until the figure holds for three readings in a row."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc.sc()
    last, stable = None, 0
    for _ in range(40):
        jvm.System.gc()
        time.sleep(0.2)  # the cleaner frees blocks asynchronously
        infos = jsc.getRDDStorageInfo()
        now = (sum(i.memSize() + i.diskSize() for i in infos) / 1e6, len(infos))
        stable = stable + 1 if now == last else 0
        if stable == 3:
            break
        last = now
    return now


def end_to_end(records, setups, cache_mb) -> dict:
    lat = [r["latency"] for r in records]
    reads = [r["latency"] for r in records if not r["req"].write]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "rps": (len(lat) / sum(lat), "1/s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "read_tail_s": (tail(reads), "s"),
        "cache_mb": (cache_mb, "MB"),
    }


def per_layer(tracer, records, cores: int, cached_rdds: int, session_s: float,
              overhead: float) -> dict:
    out = {}
    for layer in LAYERS:
        spans = [s for s in tracer.spans if s.layer == layer]
        entry = [s for s in spans if s.parent is None or s.parent.layer != layer]
        c = {k: sum(s.counts[k] for s in spans) for k in
             ("exec_s", "jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")}
        c.update(calls=len(entry), failed=sum(s.failed for s in entry),
                 busy_s=sum(s.self_s for s in spans))
        for k in LAYER_COUNTERS:
            unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count"
            out[f"{layer}.{k}"] = (c[k], unit)

    loop = {r["req"].idx: r for r in records}
    loop_spans = [s for s in tracer.spans if s.request in loop]

    def layer_sum(layer, key, ops=None):
        return sum(s.counts[key] for s in loop_spans if s.layer == layer
                   and (ops is None or loop[s.request]["req"].op in ops))

    bfs = [r for r in records if r["req"].op in ("k_hop", "reachable") and r["rows"]]
    levels = sum(max(row[2] for row in r["rows"]) + 1 for r in bfs)
    trav = [r for r in records if r["req"].op in ("k_hop", "reachable", "on_shortest_path")]
    result_rows = sum(len(r["rows"] or ()) for r in trav)
    out["traversal.jobs_per_level"] = (
        _ratio(layer_sum("traversal", "jobs", ("k_hop", "reachable")), levels), "ratio")
    out["traversal.shuffle_rows_per_result_row"] = (
        _ratio(layer_sum("traversal", "shuffle_read_rows"), result_rows), "ratio")
    for layer in ("components", "analytics"):
        out[f"{layer}.jobs_per_call"] = (
            _ratio(out[f"{layer}.jobs"][0], out[f"{layer}.calls"][0]), "ratio")

    merges = [r for r in records if r["req"].op == "merge_edge_batch"]
    ran = [r for r in merges if not r["meta"].get("skipped")]
    rewritten = sum(sum(r["meta"]["counts"]) for r in ran)
    ingested = sum(r["meta"]["ingested"] for r in ran)
    # a run's first merge also compiles the merge's plans: the trend
    # starts after it
    trend = [r["latency"] for r in ran[1:]]
    q = max(1, len(trend) // 4)
    writes = [r["latency"] for r in ran]
    out["streaming.rows_rewritten_per_row_ingested"] = (_ratio(rewritten, ingested), "ratio")
    out["streaming.merge_s_late_over_early"] = (
        _ratio(statistics.mean(trend[-q:]), statistics.mean(trend[:q])) if trend else 0.0, "ratio")
    out["streaming.replays_skipped"] = (sum(bool(r["meta"].get("skipped")) for r in merges), "count")
    out["streaming.merge_p50_s"] = (statistics.median(writes) if writes else 0.0, "s")
    out["streaming.merge_tail_s"] = (tail(writes) if writes else 0.0, "s")

    wall = sum(r["latency"] for r in records)
    out["session.core_util"] = (
        _ratio(sum(s.counts["exec_s"] for s in loop_spans), wall * cores), "ratio")
    out["session.start_s"] = (session_s, "s")
    out["core.cached_rdds"] = (cached_rdds, "count")
    out["trace.overhead_frac"] = (overhead, "ratio")
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def record_summary(rec, tracer) -> dict:
    req = rec["req"]
    args = req.args
    if req.op == "merge_edge_batch":
        args = (args[0], f"{len(args[1])} lineitems", args[2])
    out = {"idx": req.idx, "op": req.op, "args": repr(args), "write": req.write,
           "latency_s": rec["latency"], "ok": rec["ok"], "error": rec["error"],
           "result_rows": len(rec["rows"]) if rec["rows"] is not None else None}
    if req.op == "merge_edge_batch":
        out["skipped"] = rec["meta"].get("skipped")
    if tracer.spans:
        counts = tracer.request_counts(req.idx)
        out.update({k: counts[k] for k in ("jobs", "stages", "tasks")})
    return out


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children(pid: int) -> list[int]:
    return [int(p) for p in os.listdir("/proc")
            if p.isdigit() and (st := _stat(p)) and int(st[1]) == pid]


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched, and the
    Python worker daemon the JVM launched, to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    daemons = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while daemons and time.monotonic() < deadline:
        daemons = [p for p in daemons if _running(p)]
        time.sleep(0.05)


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import onionnet_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the library: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, workloads) -> int:
    env = configure_env(work)
    paths = {t: os.path.join(DATA_DIR, f"{t}.parquet") for t in TABLES}
    paths["_dir"] = DATA_DIR

    from onionnet_spark.session import get_spark

    from tracer import Tracer

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - PROCESS_T0
    try:
        tracer = Tracer(spark, bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, tracer, paths, args.seed)
        setups, builds = [], []
        for _ in range(SETUP_REPS):
            s, b = wl.build_once()
            setups.append(s)
            builds.append(b)
        wl.start_loop()
        steal0, total0 = cpu_ticks()
        traced0 = tracer.span_s + tracer.resolve_s
        t_loop = time.perf_counter()
        records = run_loop(spark, wl, tracer, args.seconds)
        t_loop = time.perf_counter() - t_loop
        trace_loop_s = tracer.span_s + tracer.resolve_s - traced0
        steal1, total1 = cpu_ticks()
        cache_mb, cached_rdds = storage(spark)
        env.update(
            shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
            driver_memory=spark.conf.get("spark.driver.memory"),
            master=spark.sparkContext.master,
            spark_version=spark.version,
        )
    finally:
        stop_spark(spark)

    t_check = time.perf_counter()
    check_records(wl, records)
    build_ok = wl.build_ok()
    t_check = time.perf_counter() - t_check
    failed = sum(not r["ok"] for r in records)
    reads = sum(not r["req"].write for r in records)
    env.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        data=os.path.relpath(DATA_DIR, ROOT), setup_reps=SETUP_REPS, samples={"reads": reads, "writes": len(records) - reads},
        steal_pct=round(100.0 * _ratio(steal1 - steal0, total1 - total0), 3),
        setup_s_each=setups, build_s_each=builds, session_start_s=session_s,
        cache_mb=cache_mb, cached_rdds=cached_rdds,
        trace_span_s=tracer.span_s, trace_resolve_s=tracer.resolve_s,
        trace_loop_s=trace_loop_s, loop_wall_s=t_loop, check_s=t_check,
        run_wall_s=time.perf_counter() - PROCESS_T0,
    )
    if args.trace:
        # the loop's extra wall time spent on tracing, over the wall
        # time the same loop takes without it
        overhead = _ratio(trace_loop_s, t_loop - trace_loop_s)
        metrics = per_layer(tracer, records, env["cores"], cached_rdds, session_s, overhead)
    else:
        metrics = end_to_end(records, setups, cache_mb)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    errors = sorted({r["error"] for r in records if r["error"]})
    if not build_ok:
        errors.insert(0, "graph node/edge counts after set-up differ from the reference")
    print(json.dumps({"env": env, "errors": errors[:5]}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"env": env, "metrics": metrics,
                       "requests": [record_summary(r, tracer) for r in records]}, f, indent=1)
    print(json.dumps({"correct": failed == 0 and build_ok, "attempted": len(records),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
