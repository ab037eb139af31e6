"""Spread report over repeated benchmark runs.

    python3 etlbench/spread.py out1.txt out2.txt ...   (or stdin)

Reads benchmark stdout captures. Each result line is attributed to the
workload named in the run-context line printed just before it. Prints,
per workload and metric: run count, median, first and third quartiles,
(q3 - q1) / median, (max - min) / median, and the sample counts the runs
reported. A metric whose quartile spread exceeds its bound in
BENCHMARK.json cannot resolve a change of that size: call it unresolved.
"""

from __future__ import annotations

import fileinput
import json
import os
import statistics
import sys


def load(lines) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    ctx = None
    for line in lines:
        line = line.strip()
        if not line.startswith("{"):
            continue
        obj = json.loads(line)
        if "context" in obj:
            ctx = obj["context"]
            continue
        if "metrics" not in obj or ctx is None:
            continue
        key = ctx["workload"] + (" (trace)" if ctx.get("trace") else "")
        per = out.setdefault(key, {})
        for name, m in obj["metrics"].items():
            per.setdefault(name, []).append(m["value"])
        per.setdefault("_samples", []).append(ctx.get("samples") or 0)
        per.setdefault("_failed", []).append(obj["failed"])
        ctx = None
    return out


def bounds() -> dict[str, float]:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    try:
        with open(path) as f:
            return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    except (OSError, KeyError, ValueError):
        return {}


def main() -> int:
    data = load(fileinput.input(sys.argv[1:]))
    bnd = bounds()
    for wl, per in sorted(data.items()):
        n = len(per["_failed"])
        print(f"{wl}: {n} runs, samples/run {sorted(set(per['_samples']))}, "
              f"failed ops {sum(per['_failed'])}")
        print(f"  {'metric':<28}{'median':>14}{'q1':>14}{'q3':>14}{'iqr/med':>9}"
              f"{'rng/med':>9}{'bound':>7}")
        for name, vals in per.items():
            if name.startswith("_"):
                continue
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            rel = (q3 - q1) / med if med else 0.0
            rng = (max(vals) - min(vals)) / med if med else 0.0
            b = bnd.get(name)
            flag = " UNRESOLVED" if b is not None and rel > b else ""
            print(f"  {name:<28}{med:>14.6g}{q1:>14.6g}{q3:>14.6g}{rel:>9.3f}{rng:>9.3f}"
                  f"{'' if b is None else b:>7}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
