"""CDC benchmark: one workload, one seed, one run; prints one JSON result.

    python3 perfbench/run.py --workload {backfill,stream,mor_serve} \
        --seed N --seconds S --trace {0,1} [--tiny]

Run from the repository root. The run starts a single-process Spark session
sized to the host (``local[n]`` with n <= the core count), generates its
input logs from ``--seed``, sets up, measures whole ops for ``--seconds``
and then checks the outputs. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a detail record: sample counts and samples, error rate and
errors, set-up steps, and for traced runs self times per op and the
tracing overhead.

Every file the run writes stays under ``.perfbench_work/`` (removed at exit,
and swept on the next run after a crash) and ``.perfbench_out/`` (spans of
traced runs, end-to-end results of untraced runs, which a later traced run
of the same workload and seed uses to report the tracing overhead).

``--tiny`` runs a small scale for the benchmark's own smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_row": "B",
    "batch_ms.p50": "ms",
    "apply_ms.p50": "ms",
    "cdf_ms.p50": "ms",
    "lookup_ms.p50": "ms",
}
# per-layer metric -> (unit, the end-to-end metric it should move and where)
LAYERS = {
    "operators.dedup_lww_s": ("s", "events_per_s on backfill; not stream or mor_serve"),
    "operators.dedup_out_per_in": ("ratio", "events_per_s on backfill"),
    "lake.write_data_files_s": ("s", "events_per_s on backfill, batch_ms.p50 on stream"),
    "lake.bytes_written_per_event": ("B", "batch_ms.p50 on stream (CoW rewrite)"),
    "lake.rows_written_per_event": ("ratio", "batch_ms.p50 on stream (CoW rewrite)"),
    "plans.engine.apply_s": ("s", "batch_ms.p50 on stream, apply_ms.p50 on mor_serve"),
    "plans.engine.apply_self_s": ("s", "batch_ms.p50 on stream, apply_ms.p50 on mor_serve"),
    "plans.engine.spark_jobs_per_apply": ("count", "as plans.engine.apply_s"),
    "plans.engine.spark_stages_per_apply": ("count", "as plans.engine.apply_s"),
    "plans.engine.spark_tasks_per_apply": ("count", "as plans.engine.apply_s"),
    "streaming.trigger_s": ("s", "batch_ms.p50 on stream"),
    "streaming.overhead_s": ("s", "batch_ms.p50 on stream"),
    "lake.commit_s": ("s", "stream and mor_serve latency on long runs"),
    "lake.snapshot_metadata_bytes": ("B", "stream and mor_serve latency on long runs"),
    "lake.read_plan_s": ("s", "lookup_ms.p50 and cdf_ms.p50 on mor_serve"),
    "lake.read_files_reconciled_s": ("s", "lookup_ms.p50 and cdf_ms.p50 on mor_serve"),
    "lake.delta_files": ("count", "lookup_ms.p50 and cdf_ms.p50 on mor_serve"),
    "lake.cdf.table_changes_s": ("s", "cdf_ms.p50 on stream and mor_serve"),
    "lake.cdf.spark_tasks": ("count", "cdf_ms.p50 on stream and mor_serve"),
    "lake.maintenance.compact_s": ("s", "events_per_s and read latency on mor_serve"),
    "lake.maintenance.buckets_compacted": ("count", "stored_bytes_per_row on mor_serve"),
    "lake.maintenance.bytes_rewritten": ("B", "events_per_s on mor_serve"),
    "sources.loggen_s": ("s", "setup_s only"),
    "spark.failed_tasks": ("count", "events_per_s, counted per workload"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["backfill", "stream", "mor_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test scale")
    return p.parse_args(argv)


def engine_importable() -> bool:
    """The engine must come from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import dbimport_spark
    except ImportError:
        return False
    return os.path.dirname(os.path.abspath(dbimport_spark.__file__)) == os.path.join(
        ROOT, "dbimport_spark"
    )


def sweep_stale_work() -> None:
    """Remove work dirs of earlier runs whose process is gone (a crash)."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        try:
            os.kill(int(name.rsplit("-", 1)[1]), 0)
        except (IndexError, ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by someone else


def start_spark(work: str):
    from dbimport_spark.session import get_spark

    cores = max(1, min(4, os.cpu_count() or 1))
    # keep every temp file inside the checkout: Python's, and both JVMs'
    # (the launcher and the driver; -UsePerfData skips /tmp/hsperfdata_*)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit.

    Runs on every exit path, including a SIGTERM that broke the gateway
    connection mid-call, so each step tolerates the previous one failing.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception as e:
        print(f"perfbench: spark.stop failed: {e!r}"[:300], file=sys.stderr)
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def e2e_metrics(wl, setup_s: float, rss_mb: float, rows: int) -> dict:
    m = {
        "setup_s": setup_s,
        "events_per_s": wl.events / wl.timed_s if wl.timed_s else 0.0,
        "peak_rss_mb": rss_mb,
        "stored_bytes_per_row": wl.stored_bytes_per_row(rows),
    }
    for name, xs in wl.samples.items():
        m[f"{name}.p50"] = statistics.median(xs) if xs else 0.0
    return m


def layer_metrics(tracer, wl, sc) -> tuple[dict, dict]:
    spans = [s for s in tracer.spans if s["op"] is not None and s["end"] is not None]
    n_ops = max(1, len(wl.samples["batch_ms"]))
    selfs = tracer.self_times()
    by_id = {s["id"]: s for s in tracer.spans}

    def dur(s):
        return s["end"] - s["start"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def under(s, name):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    def per_op(name):
        return sum(dur(s) for s in named(name)) / n_ops

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    applies = named("plans.engine.apply")
    events = sum(s["attrs"].get("events", 0) for s in applies)
    apply_writes = [s for s in named("lake.write_data_files") if under(s, "plans.engine.apply")]
    compact_writes = [
        s for s in named("lake.write_data_files") if under(s, "lake.maintenance.compact")
    ]
    dedup = named("operators.dedup_lww")
    rows_in = sum(s["attrs"].get("rows_in", 0) for s in dedup)
    cdfs = named("lake.cdf.table_changes")

    trigger_s = overhead_s = 0.0
    if hasattr(wl, "triggers"):
        trig, over = [], []
        for j, (p, rec) in enumerate(zip(wl.triggers, wl.hooks[wl.scale.stream_warmup_ops :])):
            t = p["durationMs"]["triggerExecution"] / 1000.0
            inner = sum(
                dur(s)
                for s in spans
                if s["op"] == j and s["name"] in ("plans.engine.apply", "operators.dedup_lww")
            )
            trig.append(t)
            over.append(t - inner - rec["hook_s"])
        trigger_s, overhead_s = mean(trig), mean(over)

    m = {
        "operators.dedup_lww_s": per_op("operators.dedup_lww"),
        "operators.dedup_out_per_in": (
            sum(s["attrs"].get("rows_out", 0) for s in dedup) / rows_in if rows_in else 0.0
        ),
        "lake.write_data_files_s": per_op("lake.write_data_files"),
        "lake.bytes_written_per_event": (
            sum(s["attrs"].get("bytes", 0) for s in apply_writes) / events if events else 0.0
        ),
        "lake.rows_written_per_event": (
            sum(s["attrs"].get("rows", 0) for s in apply_writes) / events if events else 0.0
        ),
        "plans.engine.apply_s": per_op("plans.engine.apply"),
        "plans.engine.apply_self_s": sum(selfs[s["id"]] for s in applies) / n_ops,
        "plans.engine.spark_jobs_per_apply": mean([s.get("spark", {}).get("jobs", 0) for s in applies]),
        "plans.engine.spark_stages_per_apply": mean([s.get("spark", {}).get("stages", 0) for s in applies]),
        "plans.engine.spark_tasks_per_apply": mean([s.get("spark", {}).get("tasks", 0) for s in applies]),
        "streaming.trigger_s": trigger_s,
        "streaming.overhead_s": overhead_s,
        "lake.commit_s": per_op("lake.commit"),
        "lake.snapshot_metadata_bytes": wl.snapshot_metadata_bytes(),
        "lake.read_plan_s": per_op("lake.read"),
        "lake.read_files_reconciled_s": per_op("lake.read_files_reconciled"),
        "lake.delta_files": mean([s["attrs"].get("delta_files", 0) for s in named("lake.lookup")]),
        "lake.cdf.table_changes_s": per_op("lake.cdf.table_changes"),
        "lake.cdf.spark_tasks": mean([s.get("spark", {}).get("tasks", 0) for s in cdfs]),
        "lake.maintenance.compact_s": per_op("lake.maintenance.compact"),
        "lake.maintenance.buckets_compacted": sum(
            s["attrs"].get("buckets", 0) for s in named("lake.maintenance.compact")
        ),
        "lake.maintenance.bytes_rewritten": sum(s["attrs"].get("bytes", 0) for s in compact_writes),
        "sources.loggen_s": statistics.median(wl.loggen_s),
        "spark.failed_tasks": failed_tasks(sc),
    }
    self_per_op: dict[str, float] = {}
    for s in spans:
        self_per_op[s["name"]] = self_per_op.get(s["name"], 0.0) + selfs[s["id"]] / n_ops
    return m, self_per_op


def failed_tasks(sc) -> int:
    """Failed task attempts over every job of the run (retries included).

    Failures are counted from Spark's status tracker and from ops that
    raise, never from log lines: the "Failed to update accumulator" ERROR
    lines that ``localCheckpoint`` cleanup prints are not failures."""
    st = sc.statusTracker()
    stages: set[int] = set()
    misses, jid = 0, 0
    while misses < 100:
        info = st.getJobInfo(jid)
        jid += 1
        if info is None:
            misses += 1
            continue
        misses = 0
        stages.update(info.stageIds)
    total = 0
    for sid in stages:
        s = st.getStageInfo(sid)
        total += s.numFailedTasks if s is not None else 0
    return total


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not engine_importable():
        print("perfbench: dbimport_spark is not in this checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    import spans
    import workloads

    sweep_stale_work()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    tracer = None
    try:
        spark = start_spark(work)
        sc = spark.sparkContext
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_s = time.perf_counter() - t_start

        tracer = spans.Tracer(sc, bool(args.trace))
        workloads.install_probes(tracer)
        scale = workloads.TINY if args.tiny else workloads.FULL
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, scale, tracer)

        t0 = time.perf_counter()
        wl.setup(args.seconds)
        setup_total = time.perf_counter() - t0
        # the repeated part of set-up counts once, at its median
        setup_s = jvm_s + setup_total - sum(wl.rep_s) + statistics.median(wl.rep_s)

        wl.run(args.seconds)
        t0 = time.perf_counter()
        try:
            rows = wl.gate()["rows_actual"]
        except Exception as e:  # a broken engine fails the gate, not the run
            wl.check("gate", False, f"{type(e).__name__}: {e}")
            rows = 0
        gate_s = time.perf_counter() - t0
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

        e2e = e2e_metrics(wl, setup_s, rss_mb, rows)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "timed_s": wl.timed_s,
            "events": wl.events,
            "samples": {k: len(v) for k, v in wl.samples.items()},
            "samples_ms": wl.samples,
            "error_rate": wl.failed / max(wl.attempted, 1),
            "errors": wl.errors[:10],
            "phases_s": {"jvm": jvm_s, "setup": setup_total, "gate": gate_s},
            "setup_reps_s": wl.rep_s,
            "steps_s": wl.steps_s,
            "end_to_end": e2e,
        }
        os.makedirs(OUT_DIR, exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}{'-tiny' if args.tiny else ''}"
        if args.trace:
            layers, self_per_op = layer_metrics(tracer, wl, sc)
            detail["self_s_per_op"] = self_per_op
            untraced = os.path.join(OUT_DIR, f"result-{tag}.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)
                detail["tracing_overhead"] = {
                    k: e2e[k] - base[k] for k in E2E_UNITS if k in base
                }
            tracer.write(os.path.join(OUT_DIR, f"spans-{tag}.json"), {"detail": detail})
            metrics = {k: {"value": layers[k], "unit": u} for k, (u, _) in LAYERS.items()}
        else:
            with open(os.path.join(OUT_DIR, f"result-{tag}.json"), "w") as f:
                json.dump(e2e, f)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({"detail": detail}), flush=True)
        print(
            json.dumps(
                {
                    "correct": wl.failed == 0,
                    "attempted": wl.attempted,
                    "failed": wl.failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        try:
            if tracer is not None:
                tracer.unwrap_all()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
