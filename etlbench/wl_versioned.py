"""versioned_commits: the lakehouse write path.

Seeded event slices land one file at a time in a stream directory; one
running ``file_stream`` query drains each slice (``processAllAvailable``)
into exactly one ``VersionedTable.append`` inside ``foreachBatch``. After
every ninth append a row-level DML commits (delete, update, merge in
rotation). With version 0 built at set-up, DMLs land on versions 10, 20,
30, ... so every auto-checkpoint (each 10th version) falls on a DML and
the append population stays homogeneous: its p50 and tail never sit on
the regular/checkpointing boundary. After the schedule: compact,
checkpoint, vacuum. Read-back: latest snapshot, oldest retained version
and the change feed over the retained range.

A DuckDB table replays the same operations from the generated inputs and
is the oracle for every commit.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
from common import expect, files_under

BASE_ROWS = 20_000
SLICE_ROWS = 2_000
APPENDS_PER_SECOND = 2.5  # appends = run seconds * this
DML_EVERY = 9
RETAIN_LAST = 10
READBACKS = 1  # one read-back already costs ~3 s of the run's budget
MERGE_UPDATES, MERGE_INSERTS, MERGE_STALE = 300, 100, 50
DML_KINDS = ("delete", "update", "merge")


def appends(seconds: int) -> int:
    return max(12, int(seconds * APPENDS_PER_SECOND))


def make_inputs(seed: int, seconds: int, d: str) -> list[str]:
    out = [gen.write_parquet(gen.event_slice(seed, -1, BASE_ROWS, 0), f"{d}/base.parquet")]
    key = BASE_ROWS
    for i in range(appends(seconds)):
        out.append(gen.write_parquet(gen.event_slice(seed, i, SLICE_ROWS, key),
                                     f"{d}/slices/s{i:04d}.parquet"))
        key += SLICE_ROWS
    n_merges = sum(1 for k in range(appends(seconds) // DML_EVERY) if DML_KINDS[k % 3] == "merge")
    for j in range(n_merges):
        batch = gen.cdc_batch(seed, j, BASE_ROWS, MERGE_UPDATES, MERGE_INSERTS, MERGE_STALE,
                              10_000_000 + key + j * 1000)
        out.append(gen.write_parquet(batch, f"{d}/merge/m{j:04d}.parquet"))
    return out


class Workload:
    foreground = ("append",)

    def __init__(self, ctx):
        self.ctx = ctx
        self.table = os.path.join(ctx.work, "tbl")
        self.stream_in = os.path.join(ctx.work, "stream_in")
        self.n_appends = appends(ctx.seconds)

    def _events(self, path):
        from as_etl_storage_spark.sources.parquet import read_parquet_table
        from pyspark.sql import functions as F

        # the stream emits TIMESTAMP; the table is created with the same type
        return read_parquet_table(self.ctx.spark, path).withColumn(
            "ts", F.col("ts").cast("timestamp"))

    def setup(self) -> None:
        from as_etl_storage_spark.writers.versioned import VersionedTable

        self.vt = VersionedTable(self.ctx.spark, self.table)
        self.vt.append(self._events(os.path.join(self.ctx.inputs, "base.parquet")))

    # ----------------------------------------------------------- oracle --
    def prepare(self) -> None:
        d = self.ctx.duck
        d.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.ctx.inputs}/base.parquet')")
        self.sigs = {0: self._duck_sig()}
        self.slice_bytes = [
            pq.read_table(os.path.join(self.ctx.inputs, "slices", f"s{i:04d}.parquet")).nbytes
            for i in range(self.n_appends)]
        self.cdf: dict[int, dict[str, int]] = {}
        self.version = 0

    def _duck_sig(self):
        return tuple(self.ctx.sql(
            "SELECT count(*), sum(event_id), sum(CAST(round(value * 1000) AS BIGINT)) FROM t"))

    def _spark_sig(self, df):
        from pyspark.sql import functions as F

        r = df.agg(F.count("*"), F.sum("event_id"),
                   F.sum(F.round(F.col("value") * 1000).cast("long"))).collect()[0]
        return ((r[0], r[1], r[2]),)

    def _commit_oracle(self, cdf: dict[str, int]) -> None:
        self.version += 1
        self.sigs[self.version] = self._duck_sig()
        self.cdf[self.version] = cdf

    # ---------------------------------------------------------- schedule --
    def schedule(self) -> None:
        from as_etl_storage_spark.streaming import file_stream

        c, tr, vt = self.ctx, self.ctx.tracer, self.vt
        os.makedirs(self.stream_in)

        def on_batch(df, batch_id):
            with tr.span("versioned", "append"):
                t = time.perf_counter()
                vt.append(df)
                c.sample("append", time.perf_counter() - t)

        def start():
            with tr.span("streaming", "file_stream.start"):
                return (file_stream(c.spark, self.stream_in).writeStream
                        .foreachBatch(on_batch)
                        .option("checkpointLocation", os.path.join(c.work, "stream_ck"))
                        .start())

        q = c.op("stream_start", 0, start)
        dml = 0
        for i in range(self.n_appends):
            src = os.path.join(c.inputs, "slices", f"s{i:04d}.parquet")

            def drain(src=src, i=i):
                os.link(src, os.path.join(self.stream_in, f"s{i:04d}.parquet"))
                with tr.span("streaming", "drain"):
                    q.processAllAvailable()
                c.count("streaming.batches")

            def check_append(_o, src=src):
                c.duck.execute(f"INSERT INTO t SELECT * FROM read_parquet('{src}')")
                self._commit_oracle({"insert": SLICE_ROWS})
                expect(vt.latest_version() == self.version,
                       f"append: version {vt.latest_version()}, want {self.version}")

            c.op("drain", SLICE_ROWS, drain, check_append,
                 sink=self.table, asked=self.slice_bytes[i])
            if (i + 1) % DML_EVERY == 0:
                self._dml(DML_KINDS[dml % 3], dml)
                dml += 1
        q.stop()
        self._maintenance()

    def _dml(self, kind: str, j: int) -> None:
        c, tr, vt = self.ctx, self.ctx.tracer, self.vt
        rows, asked = 0, 0
        if kind == "delete":
            pred = f"event_id % 97 = {j}"
            n = c.sql(f"SELECT count(*) FROM t WHERE {pred}")[0][0]
            c.duck.execute(f"DELETE FROM t WHERE {pred}")
            cdf = {"delete": n}
            fn = lambda: vt.delete(pred)  # noqa: E731
        elif kind == "update":
            pred = f"event_id % 89 = {j}"
            n = c.sql(f"SELECT count(*) FROM t WHERE {pred}")[0][0]
            c.duck.execute(f"UPDATE t SET value = value + 1 WHERE {pred}")
            asked = c.duck.sql(f"SELECT * FROM t WHERE {pred}").arrow().nbytes
            cdf = {"update_preimage": n, "update_postimage": n}
            fn = lambda: vt.update(pred, {"value": "value + 1"})  # noqa: E731
        else:
            path = os.path.join(c.inputs, "merge", f"m{j // 3:04d}.parquet")
            src = (f"(SELECT * FROM read_parquet('{path}') QUALIFY row_number() "
                   "OVER (PARTITION BY event_id ORDER BY ts DESC) = 1)")
            n = c.sql(f"SELECT count(*) FROM t WHERE event_id IN (SELECT event_id FROM {src})")[0][0]
            c.duck.execute(f"DELETE FROM t WHERE event_id IN (SELECT event_id FROM {src})")
            c.duck.execute(f"INSERT INTO t SELECT * FROM {src}")
            rows = MERGE_UPDATES + MERGE_INSERTS
            asked = c.duck.sql(f"SELECT * FROM {src}").arrow().nbytes
            cdf = {"update_preimage": n, "update_postimage": n,
                   "insert": rows - n}
            raw = self._events(path)

            def fn():
                from as_etl_storage_spark.operators.dedup import keep_latest

                # the CDC batch carries stale images; MERGE needs one per key
                with tr.span("operators", "keep_latest.build"):
                    latest = keep_latest(raw, ["event_id"], ["ts"])
                with tr.span("operators", "keep_latest.exec"):
                    latest = latest.localCheckpoint()
                return vt.merge(latest, ["event_id"])
        self._commit_oracle(cdf)
        want = self.sigs[self.version]

        def run():
            before = set(vt.read().inputFiles()) if tr.enabled else set()
            with tr.span("versioned", kind):
                v = fn()
            if tr.enabled:
                c.count("versioned.files_rewritten", len(before - set(vt.read().inputFiles())))
            return v

        def check(v):
            expect(v == self.version, f"{kind}: version {v}, want {self.version}")
            got = self._spark_sig(vt.read())
            expect(got == want, f"{kind}: snapshot {got}, want {want}")

        c.op(kind, rows, run, check, sink=self.table, asked=asked)

    def _maintenance(self) -> None:
        c, tr, vt = self.ctx, self.ctx.tracer, self.vt

        def compact():
            with tr.span("versioned", "compact"):
                return vt.compact()

        def check_compact(v):
            self._commit_oracle({})
            expect(v == self.version, f"compact: version {v}, want {self.version}")

        c.op("compact", 0, compact, check_compact, sink=self.table)

        def checkpoint():
            with tr.span("versioned", "checkpoint"):
                return vt.checkpoint()

        c.op("checkpoint", 0, checkpoint,
             lambda v: expect(v == self.version, f"checkpoint at {v}, want {self.version}"),
             sink=self.table)

        def vacuum():
            with tr.span("versioned", "vacuum"):
                return vt.vacuum(retain_last=RETAIN_LAST, grace_seconds=0)

        c.op("vacuum", 0, vacuum,
             lambda n: expect(n > 0, f"vacuum removed {n} files"))
        log = files_under(os.path.join(self.table, "_log"))
        c.count("versioned.log_entries", len(log))
        c.count("versioned.log_bytes", sum(log.values()))

    # ---------------------------------------------------------- readback --
    def readback(self) -> dict:
        """Latest snapshot, oldest retained version and the change feed
        over the retained range, each evaluated in full."""
        from pyspark.sql import functions as F

        tr, vt = self.ctx.tracer, self.vt
        oldest = self.version - RETAIN_LAST + 1
        with tr.span("versioned", "read_build"):
            latest = vt.read()
        old = vt.read(version_as_of=oldest)
        feed = vt.change_feed(from_version=oldest)  # exclusive lower bound
        return {
            "oldest": oldest,
            "snapshots": [self._spark_sig(latest), self._spark_sig(old)],
            "feed": dict(feed.groupBy("_change_type").agg(F.count("*")).collect()),
        }

    def check_readback(self, out: dict) -> None:
        oldest = out["oldest"]
        want = [self.sigs[self.version], self.sigs[oldest]]
        expect(out["snapshots"] == want, f"readback snapshots {out['snapshots']}, want {want}")
        want_cdf: dict[str, int] = {}
        for v in range(oldest + 1, self.version + 1):
            for k, n in self.cdf[v].items():
                want_cdf[k] = want_cdf.get(k, 0) + n
        want_cdf = {k: n for k, n in want_cdf.items() if n}
        expect(out["feed"] == want_cdf, f"change feed {out['feed']}, want {want_cdf}")

    def space(self) -> dict:
        """All bytes under the table (data, log, change files) vs. the data
        files the latest snapshot references."""
        live = sum(os.path.getsize(p.removeprefix("file:"))
                   for p in self.vt.read().inputFiles())
        return {"stored_bytes": sum(files_under(self.table).values()), "live_bytes": live}
