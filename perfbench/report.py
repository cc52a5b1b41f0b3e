#!/usr/bin/env python3
"""Print where a traced run's time sits, per query or plan, as a markdown
table, from a trace file that ``run.py --trace 1`` wrote:

    python3 perfbench/report.py perfbench/out/trace_batch_queries_1.json
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.env import progress_digest  # noqa: E402
from perfbench.trace import self_times  # noqa: E402


def self_by_query(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Self seconds per query and span name; a span without a query id
    (``parse``) takes its parent's."""
    by_id = {s["id"]: s for s in spans}

    def query(s):
        while s["query"] is None and s["parent"] is not None:
            s = by_id[s["parent"]]
        return (s["query"] or "-").split("#")[0]

    out: dict[str, dict[str, float]] = defaultdict(dict)
    for (q, name), v in self_times(spans, lambda s: (query(s), s["name"])).items():
        out[q][name] = v
    return out


def main(path: str) -> None:
    t = json.load(open(path))
    selfs = self_by_query(t["spans"])
    names = ["parse", "build", "plan", "execute", "drain", "microbatch",
             "pattern.kernel", "pattern.nfa"]
    names = [n for n in names if any(n in v for v in selfs.values())]
    # counters summed over every traced pass or round, like the spans
    counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for q, runs in t.get("per_query", {}).items():
        for r in runs:
            for k in ("jobs", "tasks", "task_ms", "shuffle_write_bytes"):
                counters[q][k] += r[k]
    for q, prog in t.get("progress", {}).items():
        d = progress_digest(prog)
        for k in ("add_batch_ms", "state_update_ms", "state_commit_ms"):
            counters[q.split("#")[0]][k] += d[k]
    extra = sorted({k for v in counters.values() for k in v})
    cols = names + extra
    print(f"{t['workload']}: self seconds per span, and counters, summed over the traced pass")
    print()
    print("| query | " + " | ".join(cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    total = defaultdict(float)
    for q in sorted(set(selfs) | set(counters)):
        row = [selfs[q].get(n, 0.0) for n in names] + [counters[q].get(k, 0.0) for k in extra]
        for c, x in zip(cols, row):
            total[c] += x
        print(f"| {q} | " + " | ".join(f"{x:.3g}" for x in row) + " |")
    print("| **total** | " + " | ".join(f"{total[c]:.3g}" for c in cols) + " |")


if __name__ == "__main__":
    main(sys.argv[1])
