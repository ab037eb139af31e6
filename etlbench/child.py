"""One benchmark child process: set up, then (unless ``--role setup``) run
the workload's fixed schedule, read back, and write a JSON report.

Started by run.py with its own working directory, Spark local dirs and
temp dirs, all inside the run directory. ``--spawned-at`` is the parent's
CLOCK_MONOTONIC reading just before the spawn, so set-up time covers
interpreter start, session start and the base-table build.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import metrics
from common import Ctx, percentile, tail_percentile
from procstat import tree_cpu_s
from tracing import Tracer


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--role", required=True, choices=("setup", "run", "traced"))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    a = ap.parse_args()

    from as_etl_storage_spark import get_spark

    work = os.getcwd()
    rep: dict = {"role": a.role}
    t = time.monotonic()
    spark = get_spark("etlbench")
    rep["session_start_s"] = time.monotonic() - t
    tracer = Tracer(spark, a.role == "traced", f"{a.workload}-{a.seed}-{a.role}")
    ctx = Ctx(spark, tracer, a.seed, a.seconds, a.inputs, work)
    module = metrics.module(a.workload)
    wl = module.Workload(ctx)
    wl.setup()
    rep["setup_s"] = time.monotonic() - a.spawned_at
    if a.role != "setup":
        wl.prepare()
        cpu0 = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        wl.schedule()
        rep["schedule_wall_s"] = time.perf_counter() - t
        tracer.harvest()
        rep["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        reads = []
        for _ in range(module.READBACKS):
            with tracer.span("bench", "readback"):
                ctx.op("readback", 0, wl.readback, wl.check_readback, in_schedule=False)
            reads.append(ctx.ops[-1]["s"])
        rep["snapshot_read_s"] = statistics.median([r for r in reads if r is not None] or [0.0])
        tracer.harvest()
        rep.update(wl.space())
        rep.update(_op_summary(ctx, wl.foreground))
        rep["bytes_written"] = ctx.bytes_written
        rep["arrow_bytes_asked"] = ctx.arrow_bytes_asked
        rep["counters"] = ctx.counters
        rep["spans"] = tracer.dump()
    spark.stop()
    with open(a.report, "w") as f:
        json.dump(rep, f)
    return 0


def _op_summary(ctx: Ctx, foreground: tuple[str, ...]) -> dict:
    fg = [s for k in foreground for s in ctx.samples.get(k, ())] or [
        o["s"] for o in ctx.ops if o["kind"] in foreground and o["s"] is not None]
    timed = [o for o in ctx.ops if o["s"] is not None and o["in_schedule"]]
    out = {
        "attempted": len(ctx.ops),
        "failed": sum(1 for o in ctx.ops if not o["ok"]),
        "failures": ctx.failures[:20],
        "samples": len(fg),
        "rows": sum(o["rows"] for o in timed),
        "op_wall_s": sum(o["s"] for o in timed),
    }
    if fg:
        out["op_p50_s"] = statistics.median(fg)
        q = tail_percentile(len(fg))
        # too few samples for a tail: report the slowest one (q = 100)
        out["tail_q"] = q if q is not None else 100
        out["op_tail_s"] = percentile(fg, out["tail_q"])
    return out


if __name__ == "__main__":
    sys.exit(main())
