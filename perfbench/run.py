"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analyst_reads --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they are
the per-layer ones, and the spans and counts are also written to
``perfbench_out/trace-<workload>-seed<seed>.json``. The line before it is
host context (core count, load average, CPU probe), kept apart from the
metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

import datagen
import stats
import tracing as tr
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_context() -> dict:
    """Core count, load average and a short CPU probe, so a busy or slow host
    shows beside the numbers it produced. The probe is ``bench.py``'s
    ``cpu_calibration`` (a BLAS matmul and a pure-Python loop, min of
    repeats) at a tenth of the work: the full one takes about 7 s, a tenth
    of a run."""
    import numpy as np

    a = np.full((1024, 1024), 1.000001)
    b = np.full((1024, 1024), 0.999999)
    a @ b
    blas, py = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(2):
            a @ b
        blas.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += i * i % 7
        py.append(time.perf_counter() - t0)
    return {
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "calibration_blas_s": min(blas),
        "calibration_python_s": min(py),
    }


def cpu_jiffies() -> dict[str, int]:
    """Host-wide CPU time by state from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, map(int, fields)))


def host_busy(before: dict[str, int], after: dict[str, int]) -> dict:
    """Load average now, and the share of host CPU time that was stolen by
    the hypervisor or spent outside this run between two readings."""
    total = sum(after[k] - before[k] for k in after) or 1
    return {
        "loadavg_end": list(os.getloadavg()),
        "steal_share": (after["steal"] - before["steal"]) / total,
        "idle_share": (after["idle"] - before["idle"]) / total,
    }


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this process plus the driver JVM."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline_update", "analyst_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


@contextmanager
def run_dir(name: str):
    """A private directory under the checkout for one process, holding every
    scratch file of Spark, the JVM and Python; removed on exit, also when
    the process is terminated."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_run", f"{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata file in the system temp dir either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def program_found() -> bool:
    """Whether the program's package is in the checkout; if so, put the
    checkout on the import path."""
    if not os.path.isfile(os.path.join(ROOT, workloads.PKG, "__init__.py")):
        print(f"perfbench: program package {workloads.PKG} not found under {ROOT}", file=sys.stderr)
        return False
    sys.path.insert(0, ROOT)
    return True


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_found():
        return 2
    with run_dir(f"{args.workload}-{args.seed}") as work:
        return run(args, work)


def run(args, work: str) -> int:
    t_run = time.perf_counter()
    jiffies0 = cpu_jiffies()
    host = host_context()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(datagen.make_tables(args.seed, workloads.SCALE), data_dir)
    inputs_s = time.perf_counter() - t_run

    pkg = __import__(workloads.PKG)
    tracer = tr.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(tr.event_log_conf(log_dir))
    ops = workloads.Outcomes()

    t_setup = time.perf_counter()
    spark = pkg.get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.workload == "analyst_reads":
            wl = workloads.AnalystReads(spark, data_dir, args.seed, tracer, ops, ROOT)
        else:
            wl = workloads.PipelineUpdate(
                spark, data_dir, args.seed, tracer, ops, work, args.seconds
            )
        # set-up is the session and the warm-up, not the generation of the
        # landing files the constructor does
        t_warmup = time.perf_counter()
        wl.warmup()
        setup_s = session_s + time.perf_counter() - t_warmup

        # the traced run times the same segment with spans, wrappers, the
        # event log and the progress listener on
        patches = listener = None
        if args.trace:
            tracer.enabled = True
            patches = tr.install_wrappers(tracer, pkg)
            listener = tr.progress_listener(tracer)
            spark.streams.addListener(listener)
        t0_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            measured = wl.timed(args.seconds)
        finally:
            timed_s = time.perf_counter() - t0
            window = (t0_ms, time.time() * 1000.0)
            if patches is not None:
                patches.undo()
            if listener is not None:
                _drain_progress(tracer)
                spark.streams.removeListener(listener)
            tracer.enabled = False
        rss = peak_rss_mb(getattr(spark.sparkContext._gateway.proc, "pid", None))
        t_validate = time.perf_counter()
        wl.validate()
        validate_s = time.perf_counter() - t_validate
    finally:
        stop_spark(spark)
    total_s = time.perf_counter() - t_run
    host.update(host_busy(jiffies0, cpu_jiffies()))

    lat = measured["latencies"]
    if len(lat) < 2 * stats.TAIL_MIN_BEYOND:
        ops.fail(f"{len(lat)} latency samples cannot support a tail percentile")
        tail_p, tail_v = float("nan"), float("nan")
    else:
        tail_p, tail_v = stats.tail(lat)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "latency_samples": len(lat),
        "tail_percentile": tail_p,
        "cycles": len(measured["cycles"]),
        "peak_rss_mb": rss,
        **{k: v for k, v in measured.items() if k not in ("latencies", "cycles")},
        "phases_s": {
            "host_probe_and_inputs": inputs_s,
            "setup": setup_s,
            "timed": timed_s,
            "validate": validate_s,
            "total": total_s,
        },
        "errors": ops.errors,
    }
    if args.trace:
        metrics = layer_metrics(
            tracer, wl, measured, window, log_dir, session_s, int(host["nproc"] or 1)
        )
        metrics["process.peak_rss_mb"] = {"value": rss, "unit": "MB"}
        metrics["bench.error_rate"] = {
            "value": ops.failed / max(ops.attempted, 1),
            "unit": "ratio",
        }
        write_artifact(args, tracer, metrics, context)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cycle_s": {"value": statistics.median(measured["cycles"]), "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_tail_s": {"value": tail_v, "unit": "s"},
        }
    print(json.dumps({"context": context}))
    correct = ops.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def _drain_progress(tracer, timeout: float = 5.0) -> None:
    """Streaming progress events reach the listener asynchronously; wait
    until one has arrived for every microbatch the runner reported."""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        if tracer.counts.get("incremental.progress_events", 0) >= tracer.counts.get(
            "incremental.batches", 0
        ):
            return
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM this process launched and
    wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def layer_metrics(tracer, wl, measured, window, log_dir, session_s, cores) -> dict:
    t0, t1 = window
    ex = tr.stage_metrics(tr.read_event_log(log_dir), t0, t1)
    tot = ex["totals"]
    wall = (t1 - t0) / 1000.0
    per_module = {m: 0.0 for m in ("similarity", "dedup", "textops", "graph")}
    for group, task_s in ex["task_s_by_group"].items():
        module = wl.group_module(group) if group.startswith("timed:") else None
        if module:
            per_module[module] += task_s
    c = tracer.counts
    updates = max(c.get("incremental.updates", 0), 1)
    ingests = max(c.get("csv_ingest.calls", 0), 1)

    def m(value, unit):
        return {"value": float(value), "unit": unit}

    out = {
        "session.get_spark_s": m(session_s, "s"),
        "registry.run_s": m(tracer.total("registry.run"), "s"),
        "loader.load_table_calls": m(c.get("loader.load_table_calls", 0), "count"),
        "loader.load_table_s": m(tracer.total("loader.load_table"), "s"),
        "queries.construct_s": m(tracer.total("queries.construct"), "s"),
        "queries.execute_s": m(tracer.total("queries.execute"), "s"),
        "exec.jobs": m(tot.get("jobs", 0), "count"),
        "exec.stages": m(tot.get("stages", 0), "count"),
        "exec.tasks": m(tot.get("tasks", 0), "count"),
        "exec.task_s": m(tot.get("task_s", 0), "s"),
        "exec.gc_s": m(tot.get("gc_s", 0), "s"),
        "exec.shuffle_read_bytes": m(tot.get("shuffle_read_bytes", 0), "bytes"),
        "exec.shuffle_write_bytes": m(tot.get("shuffle_write_bytes", 0), "bytes"),
        "exec.spill_bytes": m(tot.get("spill_bytes", 0), "bytes"),
        "exec.core_utilization": m(tot.get("task_s", 0) / (wall * cores), "ratio"),
        **{f"operators.{k}.task_s": m(v, "s") for k, v in per_module.items()},
        "registry.run_self_s": m(tracer.self_time("registry.run"), "s"),
        "expectations.enforce_fail_s": m(tracer.total("expectations.enforce_fail"), "s"),
        "expectations.enforce_fail_calls": m(c.get("expectations.enforce_fail_calls", 0), "count"),
        "expectations.observe_s": m(tracer.total("expectations.observe"), "s"),
        "sinks.write_table_s": m(tracer.total("sinks.write_table"), "s"),
        "sinks.rows_written": m(c.get("sinks.rows_written", 0), "count"),
        "sinks.bytes_written": m(c.get("sinks.bytes_written", 0), "bytes"),
        "sinks.files_written": m(c.get("sinks.files_written", 0), "count"),
        "csv_ingest.ingest_s": m(tracer.total("csv_ingest.ingest"), "s"),
        "csv_ingest.files_per_call": m(c.get("csv_ingest.files", 0) / ingests, "count"),
        "incremental.update_s": m(tracer.total("incremental.update"), "s"),
        "incremental.batches_per_update": m(c.get("incremental.batches", 0) / updates, "count"),
        **{
            f"incremental.batch_ms.{k}": m(c.get(f"incremental.batch_ms.{k}", 0), "ms")
            for k in ("addBatch", "queryPlanning", "walCommit", "latestOffset")
        },
        "incremental.input_rows": m(c.get("incremental.input_rows", 0), "count"),
        "bench.generator_lag_max_s": m(max(getattr(wl, "generator_lag", []) or [0.0]), "s"),
        "trace.cycle_s": m(statistics.median(measured["cycles"]), "s"),
        "trace.overhead_s": m(len(tracer.spans) * tr.span_cost(), "s"),
    }
    return out


def write_artifact(args, tracer, metrics, context) -> None:
    out_dir = os.path.join(ROOT, "perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    spans = [
        {**s, "self": tr.self_time(s, tracer.spans)} for s in tracer.spans if s["end"] is not None
    ]
    with open(path, "w") as f:
        json.dump(
            {
                "context": context,
                "metrics": metrics,
                "counts": dict(tracer.counts),
                "spans": spans,
            },
            f,
            indent=1,
        )


if __name__ == "__main__":
    sys.exit(main())
