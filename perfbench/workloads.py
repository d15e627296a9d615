"""The benchmark's workloads, driven through the engine's public API.

Every workload runs one closed loop with a single caller: the next write is
issued only after the previous write, its change-feed consumer and its
point lookup have returned. Inputs are loggen change logs made from the
run's seed during set-up; the engine reads only those parquet logs.

- ``backfill``: bulk catch-up. Each op replays the whole log into a fresh
  table in two windows (insert-only, then the shuffle merge), then reads
  the full change feed and looks up one key.
- ``stream``: steady-state tailing of a copy-on-write table. Each op is one
  Structured Streaming micro-batch of one log segment; the
  ``on_batch_applied`` hook reads the commit's change feed and looks up a
  key the segment touched.
- ``mor_serve``: the same steady state on a merge-on-read table, driven by
  direct ``apply_batch`` calls, with a change-feed read and a point lookup
  after each apply and a compaction every second op.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

from dbimport_spark.lake import maintenance
from dbimport_spark.lake.cdf import table_changes
from dbimport_spark.lake.table import LakeTable
from dbimport_spark.operators.dedup import dedup_lww
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.validate import fold_expected, reconcile
from dbimport_spark.schema import PAYLOAD_COLUMNS
from dbimport_spark.sources.loggen import (
    generate_changes,
    write_changes,
    write_changes_segments,
)
from dbimport_spark.streaming.stream import run_stream, stream_changes


@dataclass(frozen=True)
class Scale:
    buckets: int
    # backfill log; its two windows both exceed ``bf_threshold`` rows, so
    # the second window takes the shuffle merge as it would at full scale
    bf_events: int
    bf_keys: int
    bf_threshold: int
    # steady-state base table and the batches applied on top of it
    base_events: int
    base_keys: int
    batch_events: int
    warmup_ops: int
    # the first few micro-batches of a fresh stream are still JIT-compiling
    stream_warmup_ops: int
    setup_reps: int
    # a compaction ends every cycle of this many mor_serve ops
    compact_every: int = 2


FULL = Scale(
    buckets=16,
    bf_events=60_000,
    bf_keys=6_000,
    bf_threshold=10_000,
    base_events=30_000,
    base_keys=6_000,
    batch_events=500,
    warmup_ops=1,
    stream_warmup_ops=2,
    setup_reps=3,
)
TINY = Scale(
    buckets=16,
    bf_events=2_000,
    bf_keys=200,
    bf_threshold=500,
    base_events=2_000,
    base_keys=400,
    batch_events=100,
    warmup_ops=1,
    stream_warmup_ops=1,
    setup_reps=2,
)


class OpFailed(Exception):
    """A benchmark op raised; it is already counted as failed."""


def install_probes(tracer) -> None:
    """Wrap the engine and lake entry points for the traced run.

    Also runs ``dedup_lww`` on every applied window into the noop sink, so
    the dedup operator is measured on the real windows; the engine binds
    ``dedup_lww`` by name, so its own call cannot be wrapped from here.
    """
    if not tracer.enabled:
        return

    def written(sp, args, files):
        sp.set(bytes=sum(f.bytes for f in files), rows=sum(f.rows for f in files))

    def applied(sp, args, bs):
        sp.set(events=bs.events, mode=bs.mode, skipped=bs.skipped)

    tracer.wrap(CDCEngine, "apply_batch", "plans.engine.apply", group=True, on_result=applied)
    tracer.wrap(CDCEngine, "replay", "plans.engine.replay")
    tracer.wrap(LakeTable, "write_data_files", "lake.write_data_files", on_result=written)
    tracer.wrap(LakeTable, "commit", "lake.commit")
    tracer.wrap(LakeTable, "read", "lake.read")
    tracer.wrap(LakeTable, "read_files_reconciled", "lake.read_files_reconciled")

    traced_apply = CDCEngine.__dict__["apply_batch"]

    def probed_apply(self, batch, lo, hi, *args, **kwargs):
        with tracer.span("operators.dedup_lww") as sp:
            seen, kept = Observation(), Observation()
            dedup_lww(
                batch.observe(seen, F.count(F.lit(1)).alias("n")),
                key=self.keys,
                order_col="lsn",
                strategy=self.dedup_strategy,
                n_salts=self.n_salts,
            ).observe(kept, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            sp.set(rows_in=seen.get["n"], rows_out=kept.get["n"])
        return traced_apply(self, batch, lo, hi, *args, **kwargs)

    tracer.patch(CDCEngine, "apply_batch", probed_apply)


def fold_row(events: list, hi: int):
    """Last-writer-wins state of one key over ``events`` with lsn <= hi."""
    live = None
    for e in sorted(events, key=lambda e: e["lsn"]):
        if e["lsn"] > hi:
            break
        live = None if e["op"] == "D" else tuple(e[c] for c in PAYLOAD_COLUMNS)
    return live


class Workload:
    """Set-up, timed loop and correctness gate shared by the workloads."""

    def __init__(self, spark, work: str, seed: int, scale: Scale, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {
            "batch_ms": [], "apply_ms": [], "cdf_ms": [], "lookup_ms": []
        }
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.events = 0
        self.timed_s = 0.0
        # time the benchmark spends producing inputs inside the timed phase
        self.source_s = 0.0
        self.loggen_s: list[float] = []
        # wall time of each repetition of the repeatable part of set-up
        self.rep_s: list[float] = []
        self.lookups: list[tuple[str, int, list]] = []
        self.table: LakeTable | None = None
        self.steps_s: dict[str, float] = {}

    # -- helpers ----------------------------------------------------------------

    @contextmanager
    def step(self, name: str):
        """Time one set-up step; the detail record reports them."""
        t0 = time.perf_counter()
        yield
        self.steps_s[name] = self.steps_s.get(name, 0.0) + time.perf_counter() - t0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def make_log(self, path: str, n: int, keys: int, first_lsn: int = 1, **kw) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("sources.loggen"):
            write_changes(
                generate_changes(
                    self.spark, n, n_keys=keys, seed=self.seed, first_lsn=first_lsn, **kw
                ),
                path,
                n_files=4,
            )
        self.loggen_s.append(time.perf_counter() - t0)

    def build_base(self, root: str, log: str) -> LakeTable:
        table = CDCEngine.create_table(root, num_buckets=self.scale.buckets)
        CDCEngine(self.spark, table).replay(self.spark.read.parquet(log), num_batches=1)
        return table

    def lookup_keys(self, log_df, lsns: list[int], table: LakeTable) -> list[tuple]:
        """(lsn, key, bucket) of the events at ``lsns``: the lookup targets."""
        snap = table.current()
        rows = (
            log_df.filter(F.col("lsn").isin(lsns))
            .select(
                "lsn",
                "doc_id",
                table.bucket_expr(snap.bucket_column, snap.num_buckets).alias("b"),
            )
            .collect()
        )
        return sorted((r["lsn"], r["doc_id"], r["b"]) for r in rows)

    def cdf(self, table: LakeTable, v_from: int, v_to: int) -> tuple[int, float]:
        t0 = time.perf_counter()
        with self.tracer.span("lake.cdf.table_changes", group=True):
            n = table_changes(self.spark, table, v_from, v_to).count()
        return n, time.perf_counter() - t0

    def lookup(self, table: LakeTable, key: str, bucket: int, hi: int) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("lake.lookup") as sp:
            if self.tracer.enabled:
                sp.set(delta_files=sum(f.kind != "base" for f in table.current().files))
            rows = (
                table.read(self.spark, buckets=[bucket])
                .filter(F.col("doc_id") == key)
                .select(*PAYLOAD_COLUMNS)
                .collect()
            )
        self.lookups.append((key, hi, [tuple(r) for r in rows]))
        return time.perf_counter() - t0

    def run_op(self, fn, *args):
        """Run one op; an exception counts it as failed and ends the loop."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:
            self.fail(f"{type(e).__name__}: {e}")
            raise OpFailed(str(e)) from e

    def fail(self, error: str) -> None:
        self.failed += 1
        self.errors.append(error[:500])

    def timed_loop(self, seconds: float, op, cycle: int = 1) -> None:
        """Run ``op(j)`` until ``seconds`` have passed, in whole cycles of
        ``cycle`` ops, so that every run samples the same op mix."""
        self.source_s = 0.0
        t0 = time.perf_counter()
        j = 0
        try:
            while (
                time.perf_counter() - t0 - self.source_s < seconds or j % cycle
            ) and op(j):
                j += 1
        except OpFailed:
            pass  # already counted; the run is reported as incorrect
        except Exception as e:
            self.attempted += 1
            self.fail(f"{type(e).__name__}: {e}")
        finally:
            self.tracer.op = None
            self.timed_s = time.perf_counter() - t0 - self.source_s

    def record(self, batch_s, apply_s, cdf_s, lookup_s) -> None:
        for name, v in (
            ("batch_ms", batch_s), ("apply_ms", apply_s),
            ("cdf_ms", cdf_s), ("lookup_ms", lookup_s),
        ):
            self.samples[name].append(v * 1000.0)

    # -- correctness gate ---------------------------------------------------------

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail(f"check {name} failed {detail}")

    def check_table(self, table: LakeTable, log_df, hi: int) -> dict:
        """Reconcile ``table`` with the LWW fold of ``log_df``, whose largest
        LSN is ``hi``; return the reconcile report (its row count feeds
        ``stored_bytes_per_row``)."""
        rep = reconcile(table.read(self.spark), fold_expected(log_df), PAYLOAD_COLUMNS)
        self.check("reconcile", rep["converged"], str(rep))
        self.check("last_lsn", table.last_lsn() == hi, f"{table.last_lsn()} != {hi}")
        return rep

    def check_lookups(self, log_df) -> None:
        keys = sorted({k for k, _, _ in self.lookups})
        events: dict[str, list] = {}
        for r in log_df.filter(F.col("doc_id").isin(keys)).collect():
            d = r.asDict()
            d["tokens"] = list(d["tokens"]) if d["tokens"] is not None else None
            events.setdefault(d["doc_id"], []).append(d)
        for key, hi, rows in self.lookups:
            want = fold_row(events.get(key, []), hi)
            got = [(r[0], list(r[1]) if r[1] is not None else None, *r[2:]) for r in rows]
            self.check("lookup", got == ([want] if want else []), f"{key}@{hi}")

    def stored_bytes_per_row(self, rows: int) -> float:
        live_bytes = sum(f.bytes for f in self.table.current().files)
        return live_bytes / max(rows, 1)

    def snapshot_metadata_bytes(self) -> int:
        v = self.table.current().version
        return os.path.getsize(os.path.join(self.table.root, "metadata", f"v{v}.json"))


class Backfill(Workload):
    def setup(self, seconds: float) -> None:
        s = self.scale
        for r in range(s.setup_reps):
            t0 = time.perf_counter()
            self.log_path = self.path(f"bflog-{r}")
            self.make_log(
                self.log_path, s.bf_events, s.bf_keys, tokens_min=32, tokens_max=128
            )
            self.rep_s.append(time.perf_counter() - t0)
        self.log = self.spark.read.parquet(self.log_path)
        hi = self.log.agg(F.max("lsn")).first()[0]
        self.targets = self.lookup_keys(
            self.log, [hi - i for i in range(64)], CDCEngine.create_table(
                self.path("bf-probe"), num_buckets=s.buckets
            )
        )
        self.hi = hi
        for j in range(s.warmup_ops):
            self.op(-1 - j)

    def op(self, j: int) -> bool:
        self.tracer.op = j if j >= 0 else None
        t0 = time.perf_counter()
        table = CDCEngine.create_table(self.path(f"bf-{j}"), num_buckets=self.scale.buckets)
        eng = CDCEngine(
            self.spark, table, broadcast_threshold_rows=self.scale.bf_threshold
        )
        st = self.run_op(eng.replay, self.log, 2)
        apply_s = time.perf_counter() - t0
        modes = [b.mode for b in st.batch_stats]
        if modes != ["insert-only", "shuffle"]:
            self.check("window_modes", False, str(modes))
        n, cdf_s = self.run_op(self.cdf, table, 0, table.current().version)
        live = sum(f.rows for f in table.current().files)
        self.check("cdf_rows", n == live, f"{n} != {live}")
        _, key, bucket = self.targets[abs(j) % len(self.targets)]
        lookup_s = self.run_op(self.lookup, table, key, bucket, self.hi)
        if j >= 0:
            self.events += st.events_applied
            self.record(time.perf_counter() - t0, apply_s, cdf_s, lookup_s)
        self.table = table
        return True

    def run(self, seconds: float) -> None:
        self.timed_loop(seconds, self.op)

    def gate(self) -> dict:
        self.check_lookups(self.log)
        return self.check_table(self.table, self.log, self.hi)


class _Steady(Workload):
    """Base table + a tail log cut into fixed-size batches."""

    write_mode = "cow"

    def setup_base(self) -> None:
        s = self.scale
        for r in range(s.setup_reps):
            t0 = time.perf_counter()
            self.base_log = self.path(f"base-{r}")
            self.make_log(self.base_log, s.base_events, s.base_keys)
            self.rep_s.append(time.perf_counter() - t0)
        with self.step("base_table"):
            self.table = self.build_base(self.path("table"), self.base_log)
        # more batches than any run applies: one takes well over 0.25 s
        self.n_batches = s.stream_warmup_ops + int(self.seconds * 4) + 8
        self.tail_path = self.path("tail")
        with self.step("tail_log"):
            self.make_log(
                self.tail_path,
                self.n_batches * s.batch_events,
                s.base_keys,
                first_lsn=s.base_events + 1,
            )
        self.tail_log = self.spark.read.parquet(self.tail_path)
        his = [self.window(k)[1] for k in range(self.n_batches)]
        with self.step("lookup_targets"):
            self.targets = self.lookup_keys(self.tail_log, his, self.table)
        self.engine = CDCEngine(self.spark, self.table, write_mode=self.write_mode)
        self.handed = 0  # windows handed to the engine so far

    def window(self, k: int) -> tuple[int, int]:
        lo = self.scale.base_events + k * self.scale.batch_events
        return lo, lo + self.scale.batch_events

    def gate(self) -> dict:
        # every LSN up to the last window handed to the engine is in the log
        hi = self.window(self.handed - 1)[1]
        log = self.spark.read.parquet(self.base_log).unionByName(
            self.tail_log.filter(F.col("lsn") <= hi)
        )
        self.check_lookups(log)
        return self.check_table(self.table, log, hi)


class Stream(_Steady):
    def setup(self, seconds: float) -> None:
        self.seconds = seconds
        self.setup_base()
        self.watch = self.path("watch")
        os.makedirs(self.watch)
        self.hooks: list[dict] = []
        self.hooked = threading.Event()
        with self.step("stream_start"):
            self.query = run_stream(
                self.engine,
                stream_changes(self.spark, self.watch, max_files_per_trigger=1),
                self.path("ckpt"),
                available_now=False,
                on_batch_applied=self.on_batch_applied,
            )
        with self.step("warmup"):
            for _ in range(self.scale.stream_warmup_ops):
                self.release()

    def on_batch_applied(self, bs) -> None:
        t0 = time.perf_counter()
        rec = {"hi": bs.hi, "events": bs.events}
        try:
            v = self.table.current().version
            rec["cdf_rows"], rec["cdf_s"] = self.cdf(self.table, v - 1, v)
            k = (bs.hi - self.scale.base_events) // self.scale.batch_events - 1
            _, key, bucket = self.targets[k]
            rec["lookup_s"] = self.lookup(self.table, key, bucket, bs.hi)
        finally:
            rec["hook_s"] = time.perf_counter() - t0
            self.hooks.append(rec)
            self.hooked.set()

    def release(self) -> bool:
        """Hand the next segment to the stream and wait for its batch."""
        k = self.handed
        if k >= self.n_batches:
            return False
        # the log tailer's side: cut the next segment, then publish it with
        # one rename. The stream is idle meanwhile; this is not engine time.
        t0 = time.perf_counter()
        lo, hi = self.window(k)
        (seg,) = write_changes_segments(
            self.tail_log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi)),
            self.path(f"segment-{k}"),
            n_segments=1,
        )
        os.replace(seg, os.path.join(self.watch, f"seg-{k:05d}.parquet"))
        self.source_s += time.perf_counter() - t0
        self.handed += 1
        self.attempted += 1
        # the batch is done once its hook has run and its progress is out
        deadline = time.monotonic() + 120
        while not (
            self.hooked.wait(0.5)
            and any(
                p["batchId"] == k and p["numInputRows"] > 0
                for p in self.query.recentProgress
            )
        ):
            if not self.query.isActive or time.monotonic() > deadline:
                exc = self.query.exception()
                self.fail(f"stream stopped at segment {k}: {exc}")
                raise OpFailed(str(exc))
            time.sleep(0.005)
        self.hooked.clear()
        return True

    def op(self, j: int) -> bool:
        self.tracer.op = j
        return self.release()

    def run(self, seconds: float) -> None:
        w = self.scale.stream_warmup_ops
        self.timed_loop(seconds, self.op)
        progress = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        self.query.stop()
        self.triggers = progress[w:]
        self.attempted += 2 * len(self.hooks)  # each hook: change feed + lookup
        for p, rec in zip(self.triggers, self.hooks[w:]):
            d = p["durationMs"]
            self.samples["batch_ms"].append(float(d["triggerExecution"]))
            self.samples["apply_ms"].append(d["addBatch"] - rec["hook_s"] * 1000.0)
            self.samples["cdf_ms"].append(rec["cdf_s"] * 1000.0)
            self.samples["lookup_ms"].append(rec["lookup_s"] * 1000.0)
            self.events += rec["events"]
            self.check(
                "cdf_rows", 0 < rec["cdf_rows"] <= rec["events"], str(rec["cdf_rows"])
            )


class MorServe(_Steady):
    write_mode = "mor"

    def setup(self, seconds: float) -> None:
        self.seconds = seconds
        self.setup_base()
        with self.step("warmup"):
            for _ in range(self.scale.warmup_ops):
                self.op(-1)
        # the timed phase starts from a fully compacted table, so every
        # compaction cycle it measures starts from the same layout
        with self.step("compact"):
            maintenance.compact(self.spark, self.table, max_files_per_bucket=1)

    def op(self, j: int) -> bool:
        s = self.scale
        k = self.handed
        if k >= self.n_batches:
            return False
        self.handed += 1
        self.tracer.op = j if j >= 0 else None
        lo, hi = self.window(k)
        window = self.tail_log.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        t0 = time.perf_counter()
        bs = self.run_op(self.engine.apply_batch, window, lo, hi)
        apply_s = time.perf_counter() - t0
        v = self.table.current().version
        n, cdf_s = self.run_op(self.cdf, self.table, v - 1, v)
        self.check("cdf_rows", 0 < n <= bs.events, str(n))
        _, key, bucket = self.targets[k]
        lookup_s = self.run_op(self.lookup, self.table, key, bucket, hi)
        if j >= 0 and (j + 1) % s.compact_every == 0:
            self.run_op(self.compact)
        if j >= 0:
            self.events += bs.events
            self.record(time.perf_counter() - t0, apply_s, cdf_s, lookup_s)
        return True

    def compact(self) -> None:
        with self.tracer.span("lake.maintenance.compact") as sp:
            res = maintenance.compact(self.spark, self.table, max_files_per_bucket=4)
            sp.set(buckets=res["compacted_buckets"])

    def run(self, seconds: float) -> None:
        self.timed_loop(seconds, self.op, cycle=self.scale.compact_every)


WORKLOADS = {"backfill": Backfill, "stream": Stream, "mor_serve": MorServe}

