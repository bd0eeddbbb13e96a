"""The benchmark's workloads: what one run sets up, times and validates.

``pipeline_update`` is the producer side of the medallion: an open loop lands
CSV order batches while incremental bronze→silver ticks run back to back,
then one full refresh rebuilds the bronze/silver/gold datasets.
``analyst_reads`` is the consumer side: one client in a closed loop runs star
queries and operator kernels, each through a noop sink, in a seeded order.
"""

from __future__ import annotations

import csv
import glob
import importlib.util
import itertools
import json
import os
import threading
import time

import datagen

PKG = "azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark"

#: Scale factor of the generated tables (12k line items). Per-op cost at this
#: size is dominated by the engine's fixed costs, as at the program's
#: test scales.
SCALE = 0.002


class Outcomes:
    """Attempted and failed operations of one run, with the first errors."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:500])


def _import(mod: str):
    from importlib import import_module

    return import_module(f"{PKG}.{mod}")


def _release(spark) -> None:
    """Drop the cached blocks and kernel broadcasts a finished query left,
    as the program's own bench does between queries."""
    from bench import release_cached_state

    release_cached_state(spark)


def _oracle_utils(root: str):
    """The repository's oracle canonicalization, loaded from its file."""
    path = os.path.join(root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


# --- analyst_reads ------------------------------------------------------------

#: Star-schema reads: a spread of TPC-H plan shapes (aggregate scan, join
#: chains, outer join, IN and EXISTS subqueries) plus the gold fact and the
#: catalog's aggregate, window and rollup reads. Scan/join/aggregate bound,
#: no Python workers.
STAR_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q9",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "gold_fact_lineitem",
    "order_totals",
    "window_dedup",
    "rollup_sales",
]
#: Operator kernels, one module each; their task time is attributed to the
#: module through the job group the benchmark sets per query.
KERNEL_QUERIES = {
    "hard_negatives": "similarity",
    "dedup_simhash": "dedup",
    "text_analysis": "textops",
    "label_propagation": "graph",
}
#: Passes a run times at least: 60 latencies, so the tail rule reaches p83.3
#: and pass time is a median of four.
MIN_PASSES = 4


class AnalystReads:
    def __init__(self, spark, data_dir: str, seed: int, tracer, ops: Outcomes, root: str):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.ops = ops
        self.root = root
        self.queries = _import("queries").SPARK_QUERIES
        self.names = STAR_QUERIES + list(KERNEL_QUERIES)
        self._orders = datagen.query_order(seed, self.names, 64)
        self._pass = 0

    def _next_order(self) -> list[str]:
        order = self._orders[self._pass % len(self._orders)]
        self._pass += 1
        return order

    def warmup(self) -> None:
        """One cold pass that collects every result for validation; also warms
        the noop sink the timed passes write to."""
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        results = {}
        for name in self._next_order():
            _set_group(self.spark, f"warmup:{name}")
            try:
                results[name] = self.queries[name](self.spark, self.data_dir).toPandas()
            except Exception as exc:  # reported as a failed op, run continues
                self.ops.attempted += 1
                self.ops.fail(f"warmup {name}: {type(exc).__name__}: {exc}")
            _release(self.spark)
        self.results = results

    def validate(self) -> None:
        """Every cold-pass result against its DuckDB twin."""
        oracles = _import("queries").ORACLES
        compare = _oracle_utils(self.root).compare_frames
        con = _duck(self.data_dir)
        try:
            for name, pdf in self.results.items():
                self.ops.attempted += 1
                problems = compare(pdf, con.execute(oracles[name]).fetchdf(), name)
                if problems:
                    self.ops.fail("; ".join(problems))
        finally:
            con.close()

    def timed(self, seconds: float) -> dict:
        """Whole passes until ``seconds`` have passed and at least
        ``MIN_PASSES`` have run."""
        lat: list[float] = []
        passes: list[float] = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
            p0 = time.perf_counter()
            for name in self._next_order():
                _set_group(self.spark, f"timed:{name}")
                self.ops.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("queries.construct"):
                        df = self.queries[name](self.spark, self.data_dir)
                    with self.tracer.span("queries.execute"):
                        df.write.format("noop").mode("overwrite").save()
                    lat.append(time.perf_counter() - t0)
                except Exception as exc:
                    self.ops.fail(f"{name}: {type(exc).__name__}: {exc}")
                _release(self.spark)
            passes.append(time.perf_counter() - p0)
            if len(lat) < len(self.names) * len(passes):
                break  # a failing query must not keep the loop alive
        return {"latencies": lat, "cycles": passes}

    def group_module(self, group: str) -> str | None:
        return KERNEL_QUERIES.get(group.partition(":")[2])


# --- pipeline_update ------------------------------------------------------------

#: Landing rate of the open loop and the size of each landed file. The rate
#: is 60% of the ingest capacity ``perfbench/capacity.py`` measures.
FILES_PER_SECOND = 100.0
ROWS_PER_FILE = 1000
#: Warm-up ticks before timing, each over one second's worth of files: tick
#: times fall by half over the first ten ticks of a process as the JVM
#: compiles the ingest path.
WARMUP_TICKS = 6


class PipelineUpdate:
    def __init__(self, spark, data_dir: str, seed: int, tracer, ops: Outcomes, work: str, seconds: float):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.ops = ops
        self.work = work
        self.landing = os.path.join(work, "landing", "orders")
        self.state = os.path.join(work, "state", "orders")
        self.bronze = os.path.join(work, "bronze", "orders")
        self.silver = os.path.join(work, "silver", "orders")
        self.checkpoint = os.path.join(work, "checkpoint", "orders")
        os.makedirs(self.landing, exist_ok=True)
        n_timed = int(round(FILES_PER_SECOND * seconds))
        n_warmup = WARMUP_TICKS * int(FILES_PER_SECOND)
        self.batches = datagen.order_batches(seed, n_warmup + n_timed, ROWS_PER_FILE)
        self._next_batch = 0
        self.n_timed = n_timed
        self.warehouse = os.path.join(work, "warehouse")
        self.report = None
        self.batch_metrics: list[dict] = []
        self.landed: list[str] = []
        self.generator_lag: list[float] = []
        ex = _import("plans.expectations")
        self.expectations = [
            ex.Expectation("known_status", "o_orderstatus IN ('F', 'O', 'P')", ex.WARN),
            ex.Expectation("non_negative_price", "o_totalprice >= 0", ex.DROP),
        ]
        self._medallion = _import("plans.medallion")
        self._csv = _import("sources.csv_ingest")
        self._inc = _import("streaming.incremental")

    # -- the program calls ----------------------------------------------------
    def _path(self, i: int) -> str:
        return os.path.join(self.landing, f"batch_{i:05d}.csv")

    def _land(self, i: int) -> str:
        path = self._path(i)
        tmp = os.path.join(self.landing, f".batch_{i:05d}.tmp")
        with open(tmp, "wb") as f:
            f.write(self.batches[i])
        os.replace(tmp, path)
        return path

    def _ledger(self) -> set[str]:
        # the ingest state the csv_ingest module documents: processed paths
        path = os.path.join(self.state, "ledger.json")
        if not os.path.exists(path):
            return set()
        with open(path) as f:
            return set(json.load(f))

    def land(self, n: int) -> None:
        """Land the next ``n`` batches at once."""
        for _ in range(n):
            self.landed.append(self._land(self._next_batch))
            self._next_batch += 1

    def tick(self, phase: str) -> tuple[float, set[str]]:
        """Ingest landed files into bronze, then bronze→silver incrementally.
        Returns the silver commit time and the files this tick took."""
        before = self._ledger()
        _set_group(self.spark, f"{phase}:ingest")
        self.ops.attempted += 1
        try:
            with self.tracer.span("csv_ingest.ingest"):
                n = self._csv.ingest_csv_append(self.spark, self.landing, self.state, self.bronze)
            self.tracer.count("csv_ingest.calls")
            self.tracer.count("csv_ingest.files", n)
            with self.tracer.span("incremental.update"):
                src = self._inc.stream_source(self.spark, self.bronze)
                metrics = self._inc.run_incremental_with_expectations(
                    src, self.silver, self.checkpoint, self.expectations, dataset="silver_orders"
                )
            self.tracer.count("incremental.updates")
            self.tracer.count("incremental.batches", len(metrics))
            self.batch_metrics.extend(metrics)
        except Exception as exc:
            self.ops.fail(f"ingest tick: {type(exc).__name__}: {exc}")
        return time.perf_counter(), self._ledger() - before

    def _refresh(self) -> None:
        _set_group(self.spark, "timed:refresh")
        self.ops.attempted += 1
        try:
            with self.tracer.span("registry.run"):
                self.report = self._medallion.build_pipeline(self.data_dir).run(
                    self.spark, warehouse=self.warehouse
                )
            self.tracer.count(
                "sinks.rows_written", sum(e.get("rows", 0) for e in self.report.values())
            )
        except Exception as exc:
            self.ops.fail(f"refresh: {type(exc).__name__}: {exc}")

    # -- phases ---------------------------------------------------------------
    def warmup(self) -> None:
        """Warm-up ticks. The refresh stays cold: it is the first in the
        process and runs in the timed region."""
        for _ in range(WARMUP_TICKS):
            self.land(int(FILES_PER_SECOND))
            self.tick("warmup")

    def timed(self, seconds: float) -> dict:
        """Land files on schedule for ``seconds`` while ticks run back to
        back, each starting when the previous one ends; drain, then run one
        full refresh."""
        first = self._next_batch
        count = self.n_timed
        self._next_batch += count
        # a batch's freshness starts when it was due, so a stalled generator
        # shows as staleness instead of hiding it
        due = {self._path(first + k): None for k in range(count)}
        landed_first = threading.Event()
        done = threading.Event()
        landed_end = []

        def generate(t0: float) -> None:
            try:
                for k in range(count):
                    at = t0 + k / FILES_PER_SECOND
                    delay = at - time.perf_counter()
                    if delay > 0:
                        time.sleep(delay)
                    due[self._path(first + k)] = at
                    self.landed.append(self._land(first + k))
                    self.generator_lag.append(time.perf_counter() - at)
                    landed_first.set()
            finally:
                landed_end.append(time.perf_counter())
                landed_first.set()
                done.set()

        gen = threading.Thread(target=generate, args=(time.perf_counter(),), name="landing")
        gen.start()
        fresh: list[float] = []
        ticks: list[float] = []
        try:
            landed_first.wait()
            while True:
                finished = done.is_set()
                t0 = time.perf_counter()
                commit, took = self.tick("timed")
                ticks.append(commit - t0)
                fresh.extend(commit - due[p] for p in took if p in due)
                if finished:
                    break  # every file had landed before this tick listed them
        finally:
            gen.join()
        if len(fresh) != count:
            self.ops.fail(f"{count - len(fresh)} landed files were not ingested")
        r0 = time.perf_counter()
        self._refresh()
        end = time.perf_counter()
        # program time only: the ingest still owed once landing stopped,
        # then the refresh
        return {
            "latencies": fresh,
            "cycles": [end - landed_end[0]],
            "refresh_s": end - r0,
            "drain_s": r0 - landed_end[0],
            "ticks_s": ticks,
        }

    def validate(self) -> None:
        self.validate_refresh()
        self.validate_ingest()

    def validate_refresh(self) -> None:
        """Per-dataset row counts against independent counts, and every warn
        expectation's violation count against the written table."""
        report, warehouse = self.report, self.warehouse
        if report is None:
            return
        import pandas as pd

        con = _duck(self.data_dir)
        oracles = _import("queries").ORACLES
        try:
            tables = {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in datagen.ROWS_PER_SF}
            ev = pd.read_parquet(os.path.join(self.data_dir, "events.parquet"))
            orders = pd.read_parquet(os.path.join(self.data_dir, "orders.parquet"))
            expected = {f"bronze.bronze_{t}": n for t, n in tables.items()}
            expected.update(
                {
                    "bronze.bronze_nation": 25,
                    "bronze.bronze_region": 5,
                    "bronze.bronze_documents": datagen.N_DOCUMENTS,
                    "silver.silver_orders": tables["orders"],
                    "silver.silver_lineitem": tables["lineitem"],
                    "silver.silver_customer": tables["customer"],
                    "silver.silver_supplier": tables["supplier"],
                    "silver.silver_part": tables["part"],
                    "silver.silver_events": int(
                        ev.loc[ev.user_id.isin(orders.o_custkey), "event_id"].nunique()
                    ),
                    "silver.silver_nation": 25,
                    "silver.silver_region": 5,
                    "silver.silver_documents": datagen.N_DOCUMENTS,
                }
            )
            for gold in ("fact_lineitem", "dim_orders", "dim_customers", "dim_suppliers", "dim_parts", "dim_date"):
                sql = oracles[f"gold_{gold}"]
                expected[f"gold.{gold}"] = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
            self.ops.attempted += 1
            if set(report) != set(expected):
                self.ops.fail(f"refresh datasets {sorted(report)} != {sorted(expected)}")
                return
            bad = {k: (report[k]["rows"], v) for k, v in expected.items() if report[k]["rows"] != v}
            if bad:
                self.ops.fail(f"refresh row counts (got, expected): {bad}")
            defs = {d.name: d for d in self._medallion.build_pipeline(self.data_dir).datasets()}
            for name, entry in report.items():
                for exp_name, got in entry.get("expectations", {}).items():
                    self.ops.attempted += 1
                    pred = next(e.predicate for e in defs[name].expectations if e.name == exp_name)
                    files = os.path.join(warehouse, *name.split("."), "*.parquet")
                    want = con.execute(
                        f"SELECT SUM(CASE WHEN COALESCE(({pred}), FALSE) THEN 0 ELSE 1 END) "
                        f"FROM read_parquet('{files}')"
                    ).fetchone()[0]
                    if int(want or 0) != got:
                        self.ops.fail(f"{name}.{exp_name}: {got} violations reported, {want} written")
        finally:
            con.close()

    def validate_ingest(self) -> None:
        """Silver holds every landed row minus the DROP rows, each key once,
        and the WARN counts equal the landed violations."""
        import duckdb

        self.ops.attempted += 1
        n_rows = n_drop = n_warn = 0
        for path in self.landed:
            with open(path, newline="") as f:
                for row in csv.DictReader(f):
                    n_rows += 1
                    n_drop += float(row["o_totalprice"]) < 0
                    n_warn += row["o_orderstatus"] not in ("F", "O", "P")
        con = duckdb.connect()
        try:
            silver = os.path.join(self.silver, "*.parquet")
            got, distinct = con.execute(
                f"SELECT COUNT(*), COUNT(DISTINCT o_orderkey) FROM read_parquet('{silver}')"
            ).fetchone()
        finally:
            con.close()
        warn = sum(m.get("known_status", 0) for m in self.batch_metrics)
        if got != n_rows - n_drop or distinct != got or warn != n_warn:
            self.ops.fail(
                f"ingest: silver rows {got} (distinct keys {distinct}), expected "
                f"{n_rows} landed - {n_drop} dropped; warn count {warn}, expected {n_warn}"
            )

    def group_module(self, group: str) -> str | None:
        return None
