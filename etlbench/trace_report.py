"""Per-layer table from a traced run's span file.

    python3 etlbench/trace_report.py .etlbench_traces/versioned_commits-seed1.json

A ``--trace 1`` run writes ``.etlbench_traces/<workload>-seed<n>.json``
(spans and counters of the traced child, plus the untraced child's
report). This prints, per layer: span count, span time, self time (span
time minus the part covered by child spans), and the Spark jobs, stages,
tasks, failed tasks, executor CPU and shuffle bytes attributed to it;
then every per-layer metric, including ``trace.overhead_s``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import PER_LAYER, per_layer, self_times  # noqa: E402


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(sys.argv[1]) as f:
        doc = json.load(f)
    traced, run = doc["reports"]["traced"], doc["reports"]["run"]
    spans = traced["spans"]
    selfs = self_times(spans)
    rows: dict[str, dict] = {}
    for sp in spans:
        r = rows.setdefault(sp["layer"], {"spans": 0, "span_s": 0.0, "jobs": 0, "stages": 0,
                                          "tasks": 0, "failed_tasks": 0,
                                          "executor_cpu_s": 0.0, "shuffle_write_bytes": 0})
        r["spans"] += 1
        r["span_s"] += sp["end"] - sp["start"]
        r["jobs"] += len(sp.get("jobs", ()))
        for k in ("stages", "tasks", "failed_tasks", "executor_cpu_s", "shuffle_write_bytes"):
            r[k] += sp.get("job_stats", {}).get(k, 0)
    ctx = doc["context"]
    print(f"{ctx['workload']} seed {ctx['seed']}: traced schedule "
          f"{traced['schedule_wall_s']:.3f} s, untraced {run['schedule_wall_s']:.3f} s")
    head = ("layer", "spans", "span_s", "self_s", "jobs", "stages", "tasks", "failed",
            "exec_cpu_s", "shuffle_B")
    print("".join(f"{h:>12}" for h in head))
    for layer, r in sorted(rows.items()):
        print(f"{layer:>12}{r['spans']:>12}{r['span_s']:>12.3f}{selfs[layer]:>12.3f}"
              f"{r['jobs']:>12}{r['stages']:>12}{r['tasks']:>12}{r['failed_tasks']:>12}"
              f"{r['executor_cpu_s']:>12.3f}{r['shuffle_write_bytes']:>12}")
    print()
    for name, value in per_layer(traced, run).items():
        print(f"  {name:<40}{value:>16.6g} {PER_LAYER[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
