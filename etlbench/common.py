"""Shared pieces of one benchmark child process: operation records,
output checks, byte accounting and the percentile rule."""

from __future__ import annotations

import math
import os
import time
import traceback

import duckdb


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile of ``n`` samples that leaves at least
    ``beyond`` samples above its interpolation position; None when n is
    too small to support a tail."""
    for q in range(99, 50, -1):
        if n - 1 - math.floor((n - 1) * q / 100.0) >= beyond:
            return q
    return None


def file_stats(path: str) -> dict[str, tuple[int, int]]:
    """relpath -> (size, mtime_ns) for every file below ``path``; a
    rewritten file shows as changed."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def files_under(path: str) -> dict[str, int]:
    """relpath -> size for every file below ``path``."""
    return {k: v[0] for k, v in file_stats(path).items()}


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Ctx:
    """State of one child: inputs, its private work directory, the tracer
    and the record of every operation attempted."""

    def __init__(self, spark, tracer, seed: int, seconds: int, inputs: str, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.inputs = inputs
        self.work = work
        self.duck = duckdb.connect()
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.bytes_written = 0
        self.arrow_bytes_asked = 0
        self.counters: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def op(self, kind: str, rows: int, fn, check=None, *, sink: str | None = None,
           asked: int = 0, in_schedule: bool = True):
        """Run one timed operation; its output check runs untimed after it.
        An exception or a failed check counts the operation as failed.
        With ``sink``, every file the operation adds or rewrites under it
        counts as written, against ``asked`` in-memory (Arrow) bytes."""
        rec = {"kind": kind, "rows": rows, "s": None, "ok": False,
               "in_schedule": in_schedule}
        self.ops.append(rec)
        before = file_stats(sink) if sink else None
        try:
            t = time.perf_counter()
            out = fn()
            rec["s"] = time.perf_counter() - t
            if sink:
                after = file_stats(sink)
                new = [v[0] for k, v in after.items() if before.get(k) != v]
                self.bytes_written += sum(new)
                self.arrow_bytes_asked += asked
                rec["bytes_written"], rec["files_written"] = sum(new), len(new)
            if check is not None:
                check(out)
            rec["ok"] = True
        except Exception as exc:  # a failed op is recorded, never fatal
            self.failures.append(f"{kind}: {type(exc).__name__}: {exc}"[:500])
            traceback.print_exc()
            out = None
        return out

    def sample(self, kind: str, seconds: float) -> None:
        """A foreground latency measured inside another operation (e.g. the
        append commit inside a stream drain): a sample, not an attempt."""
        self.samples.setdefault(kind, []).append(seconds)

    def sql(self, q: str):
        return self.duck.sql(q).fetchall()
