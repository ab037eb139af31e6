"""Benchmark entry point.

    python3 etlbench/run.py --workload etl_roundtrip --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. Generates the seeded inputs, then
starts child processes one after another (never two at once):

* ``--trace 0``: a ``run`` child (set-up + the fixed schedule + read-back)
  and a ``setup`` child (set-up only). ``setup_s`` is the median of their
  two set-ups; every other metric comes from the ``run`` child.
* ``--trace 1``: a ``run`` child and a ``traced`` child doing identical
  work; per-layer metrics come from the traced child, and
  ``trace.overhead_s`` is its schedule wall minus the untraced one.

Each run owns one fresh directory under ``.etlbench_run/`` (Spark local
dirs, warehouse, Derby log, sinks, tables, temp files), removed at exit.
The parent becomes a child subreaper, so the JVM and the Python workers
are reaped here and waited for before the result is printed.

Prints a run-context line, then the result line (last line of stdout).
Exits non-zero when an output check failed or a child failed.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import gen
import metrics
import procstat
from procstat import RssSampler, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".etlbench_run")
TRACES = os.path.join(ROOT, ".etlbench_traces")
RUN_DEADLINE_S = 170  # the whole run, both children included
PR_SET_CHILD_SUBREAPER = 36


def heap_mb() -> int:
    """Driver heap derived from host RAM (a sixteenth, 1-2 GiB): the same
    on every run of a host, never more than the host has, and several
    times what either workload holds live. It is pinned (-Xms = -Xmx):
    an unpinned heap grew by different amounts from run to run, and peak
    RSS then spread by 30-45 % on identical work."""
    return max(1024, min(2048, procstat.mem_total_mb() // 16))


def source_hash() -> str:
    h = hashlib.sha256()
    for d in ("as_etl_storage_spark", os.path.basename(HERE)):
        for root, dirs, names in sorted(os.walk(os.path.join(ROOT, d))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(root, n), "rb") as f:
                        h.update(n.encode() + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return out.stdout.strip() or "none"


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def remove_stale_runs() -> int:
    """Delete run directories whose owning process is gone (a killed
    run cannot clean up after itself)."""
    n = 0
    if os.path.isdir(RUNS):
        for d in os.listdir(RUNS):
            pid = d.split("-", 1)[0]
            if not (pid.isdigit() and _alive(int(pid))):
                shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)
                n += 1
    return n


def reap_all(deadline_s: float) -> int:
    """Wait for every descendant (re-parented here as subreaper). Kills
    what is still alive at the deadline. Returns how many were killed."""
    end = time.monotonic() + deadline_s
    killed = 0
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return killed
        if pid:
            continue
        if time.monotonic() > end:
            for p in tree_pids(os.getpid())[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                    killed += 1
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 10
        time.sleep(0.05)


def run_child(role: str, a, rundir: str, inputs: str, env: dict, deadline: float) -> dict:
    work = os.path.join(rundir, role)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    report = os.path.join(work, "report.json")
    log = os.path.join(rundir, f"{role}.log")
    cenv = dict(env)
    cenv.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Xms{env['SPARK_DRIVER_MEMORY']} -Djava.io.tmpdir={work}/tmp "
            f"-Dderby.system.home={work}' pyspark-shell"
        ),
    )
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--role", role,
           "--inputs", inputs, "--report", report,
           "--spawned-at", repr(time.monotonic())]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=cenv, stdout=lf, stderr=subprocess.STDOUT)
        # sampled from here, not from a thread in the child, so the
        # sampler never holds the child driver's interpreter lock
        with RssSampler(proc.pid) as rss:
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                rc = proc.wait()
    leftover = reap_all(15)
    if rc != 0 or not os.path.exists(report):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise RuntimeError(f"{role} child exited {rc}:\n{tail}")
    with open(report) as f:
        rep = json.load(f)
    rep["leftover_killed"] = leftover
    rep["peak_rss_mb"] = rss.peak / 2**20
    return rep


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "as_etl_storage_spark")):
        print(f"no engine sources under {ROOT}", file=sys.stderr)
        return 2

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    t_start = time.monotonic()
    stale = remove_stale_runs()
    rundir = os.path.join(RUNS, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    inputs = os.path.join(rundir, "inputs")
    os.makedirs(inputs)
    ctx = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": git_commit(), "source_hash": source_hash(),
        "nproc": len(os.sched_getaffinity(0)), "heap_mb": heap_mb(),
        "mem_available_mb": procstat.mem_available_mb(), "stale_runs_removed": stale,
        "canary_ms_before": round(procstat.canary_ms(), 2),
        "loadavg_before": procstat.loadavg(),
    }
    steal0 = procstat.steal_ticks()
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(ctx["nproc"]),
        SPARK_DRIVER_MEMORY=f"{ctx['heap_mb']}m",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
    )
    reports = {}
    try:
        wl = metrics.module(a.workload)
        files = wl.make_inputs(a.seed, a.seconds, inputs)
        ctx["input_hash"] = gen.file_digest(files)
        roles = ("run", "traced") if a.trace else ("run", "setup")
        for role in roles:
            reports[role] = run_child(role, a, rundir, inputs, env,
                                      t_start + RUN_DEADLINE_S - 35)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)
    ctx.update(
        canary_ms_after=round(procstat.canary_ms(), 2),
        loadavg_after=procstat.loadavg(),
        steal_ticks=procstat.steal_ticks() - steal0,
        leftover_procs_killed=sum(r["leftover_killed"] for r in reports.values()),
        samples=reports["run"].get("samples"),
        tail_q=reports["run"].get("tail_q"),
        failures=[f for r in reports.values() for f in r.get("failures", [])][:5],
        wall_s=round(time.monotonic() - t_start, 2),
        children={role: {k: round(r[k], 3) for k in
                         ("session_start_s", "setup_s", "schedule_wall_s") if k in r}
                  for role, r in reports.items()},
    )
    result = metrics.result(reports, a.trace)
    if a.trace:
        os.makedirs(TRACES, exist_ok=True)
        path = os.path.join(TRACES, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"context": ctx, "reports": reports}, f)
        ctx["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"context": ctx}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
