"""Measure the ingest capacity the ``pipeline_update`` landing rate is set from.

    python3 perfbench/capacity.py [--seed 1]

Run from the repository root. After a warm-up, it times single ingest ticks
(``ingest_csv_append`` into bronze, then the incremental bronze→silver update
with the workload's expectations) over backlogs of different file counts and
fits ``tick_s = fixed_s + per_file_s * files``. A back-to-back tick loop fed at
``r`` files per second settles at ticks of ``fixed_s / (1 - per_file_s * r)``,
so it keeps up exactly while ``r < 1 / per_file_s``: that rate is the capacity.
Prints one JSON object with the fit, the capacity, and the tick time and rate
at 60% of capacity.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import datagen
import run
import tracing
import workloads

BACKLOGS = [1, 8, 32, 96]
REPEATS = 3


def measure(seed: int) -> dict:
    with run.run_dir(f"capacity-{seed}") as work:
        data_dir = os.path.join(work, "data")
        datagen.write_tables(datagen.make_tables(seed, workloads.SCALE), data_dir)
        pkg = __import__(workloads.PKG)
        spark = pkg.get_spark(
            "perfbench-capacity",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        ops = workloads.Outcomes()
        wl = workloads.PipelineUpdate(
            spark, data_dir, seed, tracing.Tracer("capacity", enabled=False), ops, work,
            seconds=REPEATS * sum(BACKLOGS) / workloads.FILES_PER_SECOND,
        )
        try:
            wl.warmup()
            points = []
            for _ in range(REPEATS):
                for n in BACKLOGS:
                    wl.land(n)
                    t0 = time.perf_counter()
                    _commit, took = wl.tick("capacity")
                    points.append((len(took), time.perf_counter() - t0))
            wl.validate_ingest()
        finally:
            run.stop_spark(spark)
        if ops.failed:
            raise SystemExit(f"capacity: failed operations: {ops.errors}")
    xs, ys = zip(*points)
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    per_file = sum((x - mx) * (y - my) for x, y in points) / sum((x - mx) ** 2 for x in xs)
    fixed = my - per_file * mx
    capacity = 1.0 / per_file
    rate = 0.6 * capacity
    return {
        "rows_per_file": workloads.ROWS_PER_FILE,
        "points": [{"files": x, "tick_s": y} for x, y in points],
        "fixed_s": fixed,
        "per_file_s": per_file,
        "capacity_files_per_s": capacity,
        "rate_at_60pct_files_per_s": rate,
        "tick_s_at_60pct": fixed / (1.0 - per_file * rate),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    if not run.program_found():
        return 2
    print(json.dumps(measure(args.seed), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
