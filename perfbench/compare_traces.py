#!/usr/bin/env python3
"""Compare two runs of the same workload and seed.

    python3 perfbench/compare_traces.py A.json B.json

A and B are ``--out`` records of ``run.py``. Prints a JSON report
over the requests both runs reached:

- when both runs were traced (``--trace 1``), every request whose
  Spark job or stage count differs;
- always, the read latencies of B over those of A, per request and as
  their median and ratio of sums. With A untraced and B traced, the
  median minus one is the tracing overhead the requests saw, run-to-run
  noise included.

Exits 1 when the two runs did not issue the same requests.
"""

from __future__ import annotations

import json
import statistics
import sys


def compare(a: dict, b: dict) -> dict:
    ra, rb = a["requests"], b["requests"]
    n = min(len(ra), len(rb))
    pairs = list(zip(ra[:n], rb[:n]))
    report = {
        "workload": a["env"]["workload"], "seed": a["env"]["seed"],
        "trace": [a["env"]["trace"], b["env"]["trace"]], "compared": n,
        "same_requests": all((x["op"], x["args"]) == (y["op"], y["args"]) for x, y in pairs),
    }
    if all("jobs" in x and "jobs" in y for x, y in pairs):
        differing = [
            {"idx": x["idx"], "op": x["op"], "args": x["args"],
             "a": {"jobs": x["jobs"], "stages": x["stages"]},
             "b": {"jobs": y["jobs"], "stages": y["stages"]}}
            for x, y in pairs
            if (x["jobs"], x["stages"]) != (y["jobs"], y["stages"])
        ]
        report.update(repeating=n - len(differing), differing=differing)
    reads = [(x, y) for x, y in pairs if not x["write"]]
    if reads:
        ratios = [y["latency_s"] / x["latency_s"] for x, y in reads]
        report["read_latency_b_over_a"] = {
            "median": statistics.median(ratios),
            "sum": sum(y["latency_s"] for _, y in reads) / sum(x["latency_s"] for x, _ in reads),
            "per_request": {x["idx"]: round(r, 4) for (x, _), r in zip(reads, ratios)},
        }
    return report


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        report = compare(json.load(fa), json.load(fb))
    print(json.dumps(report, indent=1))
    return 0 if report["same_requests"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
