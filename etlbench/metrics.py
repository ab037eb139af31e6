"""Turn child reports into the result line: end-to-end metrics from the
untraced ``run`` child, per-layer metrics from the ``traced`` child's
spans and counters."""

from __future__ import annotations

import importlib
import statistics

MODULES = {
    "etl_roundtrip": "wl_etl",
    "versioned_commits": "wl_versioned",
}

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "snapshot_read_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

OPERATORS = ("keep_latest",)
VERSIONED_OPS = ("append", "delete", "update", "merge")
VERSIONED_MAINT = ("checkpoint", "compact", "vacuum")
EXEC_LAYERS = ("plans", "sources", "writer", "versioned", "streaming", "operators")
EXEC_STATS = ("jobs", "stages", "tasks", "failed_tasks", "executor_cpu_s",
              "shuffle_write_bytes")


def _per_layer_units() -> dict[str, str]:
    u = {
        "session.start_s": "s",
        "spec.parse_s": "s",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "sources.files_scanned": "count",
        "sources.input_bytes": "bytes",
        "sources.skip_ratio": "ratio",
        "sources.jdbc_partitions": "count",
        "writer.write_s": "s",
        "writer.bytes_written": "bytes",
        "writer.files_written": "count",
    }
    u.update({f"versioned.{op}_s": "s" for op in VERSIONED_OPS})
    u["versioned.files_rewritten"] = "count"
    u["versioned.read_build_s"] = "s"
    u["versioned.log_entries"] = "count"
    u["versioned.log_bytes"] = "bytes"
    u.update({f"versioned.{op}_s": "s" for op in VERSIONED_MAINT})
    u["streaming.drain_s"] = "s"
    u["streaming.batches"] = "count"
    for op in OPERATORS:
        u[f"operators.{op}.build_s"] = "s"
        u[f"operators.{op}.exec_s"] = "s"
        u[f"operators.{op}.build_jobs"] = "count"
    for layer in EXEC_LAYERS:
        for st in EXEC_STATS:
            u[f"{layer}.{st}"] = {"executor_cpu_s": "s",
                                  "shuffle_write_bytes": "bytes"}.get(st, "count")
    u["trace.overhead_s"] = "s"
    u["fail_ratio"] = "ratio"
    return u


PER_LAYER = _per_layer_units()


def module(workload: str):
    return importlib.import_module(MODULES[workload])


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it
    that its child spans cover (children may overlap each other)."""
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for k in sorted(kids.get(sp["id"], ()), key=lambda k: k["start"]):
            s, e = max(k["start"], sp["start"]), min(k["end"], sp["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + _dur(sp) - covered
    return out


def per_layer(traced: dict, untraced: dict) -> dict[str, float]:
    spans, cnt = traced["spans"], traced["counters"]
    m = {k: 0.0 for k in PER_LAYER}

    def total(layer, name=None):
        return sum(_dur(s) for s in spans if s["layer"] == layer
                   and (name is None or s["name"] == name))

    def jobs(layer, name=None):
        return sum(len(s.get("jobs", ())) for s in spans if s["layer"] == layer
                   and (name is None or s["name"] == name))

    m["session.start_s"] = traced["session_start_s"]
    m["spec.parse_s"] = total("spec")
    m["plans.build_s"] = total("plans")
    m["plans.build_jobs"] = jobs("plans")
    m["sources.files_scanned"] = cnt.get("sources.files_scanned", 0)
    m["sources.input_bytes"] = sum(s["job_stats"]["input_bytes"] for s in spans if "job_stats" in s)
    if cnt.get("sources.files_total"):
        m["sources.skip_ratio"] = 1 - cnt["sources.files_scanned"] / cnt["sources.files_total"]
    m["sources.jdbc_partitions"] = cnt.get("sources.jdbc_partitions", 0)
    m["writer.write_s"] = total("writer")
    m["writer.bytes_written"] = cnt.get("writer.bytes_written", 0)
    m["writer.files_written"] = cnt.get("writer.files_written", 0)
    for op in VERSIONED_OPS + VERSIONED_MAINT + ("read_build",):
        m[f"versioned.{op}_s"] = total("versioned", op)
    for k in ("files_rewritten", "log_entries", "log_bytes"):
        m[f"versioned.{k}"] = cnt.get(f"versioned.{k}", 0)
    m["streaming.drain_s"] = total("streaming", "drain")
    m["streaming.batches"] = cnt.get("streaming.batches", 0)
    for op in OPERATORS:
        m[f"operators.{op}.build_s"] = total("operators", f"{op}.build")
        m[f"operators.{op}.exec_s"] = total("operators", f"{op}.exec")
        m[f"operators.{op}.build_jobs"] = jobs("operators", f"{op}.build")
    for layer in EXEC_LAYERS:
        for s in spans:
            if s["layer"] != layer or "job_stats" not in s:
                continue
            m[f"{layer}.jobs"] += len(s["jobs"])
            for st in EXEC_STATS[1:]:
                m[f"{layer}.{st}"] += s["job_stats"][st]
    m["trace.overhead_s"] = traced["schedule_wall_s"] - untraced["schedule_wall_s"]
    att = traced["attempted"] + untraced["attempted"]
    m["fail_ratio"] = (traced["failed"] + untraced["failed"]) / att
    return m


def result(reports: dict, trace: int) -> dict:
    run = reports["run"]
    attempted = sum(r.get("attempted", 0) for r in reports.values())
    failed = sum(r.get("failed", 0) for r in reports.values())
    correct = attempted > 0 and failed == 0
    if trace:
        vals = per_layer(reports["traced"], run)
        units = PER_LAYER
    else:
        vals = {
            "setup_s": statistics.median(r["setup_s"] for r in reports.values()),
            "rows_per_s": run["rows"] / run["op_wall_s"],
            "op_p50_s": run.get("op_p50_s", 0.0),
            "op_tail_s": run.get("op_tail_s", 0.0),
            "snapshot_read_s": run["snapshot_read_s"],
            "write_amp": run["bytes_written"] / run["arrow_bytes_asked"],
            "space_amp": run["stored_bytes"] / run["live_bytes"],
            "cpu_s": run["cpu_s"],
            "peak_rss_mb": run["peak_rss_mb"],
        }
        units = END_TO_END
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(vals[k]), "unit": u} for k, u in units.items()},
    }
