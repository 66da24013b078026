"""Closed-loop benchmark of the engine's named queries.

    python3 perfbench/run.py --workload warehouse_olap --seed 1 --seconds 10 --trace 0
    python -m pytest perfbench/tests -q      # the harness's own tests

Run from the repository root (any working directory works: the script
finds the package next to its own directory and hands that path to
Spark's Python workers). The tables are the engine's read-only
scale-factor sets, found where the package's catalog looks for them
(the parent of ``catalog.DEFAULT_SF_DIR``). One run:

1. set-up, repeated ``SETUP_CYCLES`` times in this process: start a
   SparkSession (``session.get_session``), load the catalog and open
   every table (``catalog.load``). The first cycle also launches the
   JVM; the others stop the previous session first. ``setup_s`` is the
   median.
2. verification, untimed: every workload query is collected once and
   compared with its DuckDB oracle (``registry.oracle_sqls()``) using
   the canon of ``tools/driver_sweep.py``. This pass, and the
   workload's untimed warm-up passes, warm the JIT. A query that fails
   here has every timed operation counted as failed.
3. ``--trace 0``: timed passes, each query once per pass in a seeded
   order, until ``--seconds`` have passed and at least the workload's
   ``min_passes`` are done. One operation is the builder call plus a
   noop-sink write. Prints the end-to-end metrics.
   ``--trace 1``: one untraced reference pass, then a new
   session with Spark's event log on and one traced pass in which every
   job carries the group ``<query>:build|plan|exec``. The log is parsed
   (perfbench/eventlog.py) into the per-layer metrics.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a self-describing record of the run (session shape, host, versions,
per-query figures). Exits 2 without a result when the package or its
data is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

T_PROCESS = time.perf_counter()

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.eventlog import EventLog, parse_file  # noqa: E402
from perfbench.stats import geomean_of_medians, iter_pass_orders, tail  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

# scratch space of this run (Spark local dir, temp files, event log),
# removed when the run ends; per process, so runs never share it
WORK = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
SETUP_CYCLES = 3
MAX_THREADS = 4
MAX_HEAP_MB = 2048
WATCHDOG_S = 170


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def session_shape() -> dict:
    """Thread count and driver heap, pinned from the host: one core
    fewer than the host has (the driver, py4j, JIT, GC and Python
    workers need one), at most MAX_THREADS; a quarter of physical
    memory, at most MAX_HEAP_MB."""
    nproc = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = max(1024, min(MAX_HEAP_MB, mem_mb // 4))
    return {
        "nproc": nproc,
        "threads": max(1, min(nproc - 1, MAX_THREADS)),
        "heap_mb": heap_mb,
        "host_mem_mb": mem_mb,
        "loadavg_start": list(os.getloadavg()),
    }


def spark_conf(heap_mb: int, trace_dir: Path | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # a fixed initial heap and young generation: the JVM's resident
        # peak then follows live data instead of heap-resizing decisions
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -Xms{heap_mb}m -Xmn{heap_mb // 4}m"
        ),
    }
    if trace_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": trace_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    return conf


class Bench:
    """One benchmark run: owns the SparkSession and the timings."""

    def __init__(self, workload: Workload, shape: dict, sf_dir: str):
        from data_warehouse_data_mining_spark import registry

        self.w = workload
        self.shape = shape
        self.sf_dir = sf_dir
        all_q = registry.all_queries()
        oracles = registry.oracle_sqls()
        self.builders = {n: all_q[n].builder for n in workload.queries}
        self.oracles = {n: oracles[n] for n in workload.queries}
        self.spark = None
        self.oracle_s = 0.0  # DuckDB time inside verify()

    # -- layers, called through their public functions -----------------

    def start(self, trace_dir: Path | None = None) -> dict[str, float]:
        """One set-up cycle; returns its per-layer times."""
        from data_warehouse_data_mining_spark import catalog, session

        t0 = time.perf_counter()
        self.spark = session.get_session(
            master=f"local[{self.shape['threads']}]",
            driver_memory=f"{self.shape['heap_mb']}m",
            extra_conf=spark_conf(self.shape["heap_mb"], trace_dir),
        )
        t1 = time.perf_counter()
        cat = catalog.load(self.spark, self.sf_dir)
        for name in catalog.TABLE_NAMES:
            cat.table(name)
        t2 = time.perf_counter()
        return {"session": t1 - t0, "catalog": t2 - t1, "total": t2 - t0}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def run_query(self, name: str) -> bool:
        """One operation: the builder call plus a noop-sink write. A
        query that raises is reported and counted, never fatal."""
        try:
            df = self.builders[name](self.spark, self.sf_dir)
            df.write.mode("overwrite").format("noop").save()
            return True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return False

    # -- phases ------------------------------------------------------------

    def setup(self) -> list[dict[str, float]]:
        cycles = []
        for i in range(SETUP_CYCLES):
            if i:
                self.stop()
            cycles.append(self.start())
        return cycles

    def verify(self) -> dict[str, str]:
        """Collect each query once and compare it with its DuckDB oracle.
        Returns {query: "pass" | reason}."""
        import duckdb
        from data_warehouse_data_mining_spark import catalog
        from tools.driver_sweep import canon_rows, nonscalar_columns

        con = duckdb.connect()
        con.execute(f"SET threads TO {self.shape['threads']}")
        con.execute(f"SET temp_directory = '{WORK / 'duckdb'}'")
        for t in catalog.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        out = {}
        for name in self.w.queries:
            try:
                df = self.builders[name](self.spark, self.sf_dir)
                bad = nonscalar_columns(df.schema)
                if bad:
                    out[name] = f"non-scalar columns {bad}"
                    continue
                cols = df.columns
                rows = [tuple(r) for r in df.collect()]
                t0 = time.perf_counter()
                cur = con.execute(self.oracles[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                self.oracle_s += time.perf_counter() - t0
                if sorted(cols) != sorted(ocols):
                    out[name] = "schema mismatch"
                elif len(rows) != len(orows):
                    out[name] = f"rows {len(rows)} vs oracle {len(orows)}"
                elif canon_rows(cols, rows) != canon_rows(ocols, orows):
                    out[name] = "values differ from oracle"
                else:
                    out[name] = "pass"
            except Exception as e:  # a failing query is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                out[name] = f"{type(e).__name__}: {str(e)[:200]}"
        con.close()
        return out

    def timed(self, seed: int, seconds: float, bad: set[str]) -> dict:
        samples: dict[str, list[float]] = {n: [] for n in self.w.queries}
        attempted = failed = passes = 0
        orders = iter_pass_orders(list(self.w.queries), seed)
        t0 = time.perf_counter()
        first_query_at = t0
        while passes < self.w.min_passes or time.perf_counter() - t0 < seconds:
            for name in next(orders):
                attempted += 1
                q0 = time.perf_counter()
                if self.run_query(name) and name not in bad:
                    samples[name].append(time.perf_counter() - q0)
                else:
                    failed += 1
            passes += 1
        return {
            "samples": samples,
            "attempted": attempted,
            "failed": failed,
            "passes": passes,
            "window_s": time.perf_counter() - t0,
            "first_query_at": first_query_at,
        }

    def traced_pass(self, order: list[str]) -> tuple[list[dict], list[str]]:
        """One pass with every job labelled ``<query>:<phase>``; the
        layer times are taken around the phase calls."""
        sc = self.spark.sparkContext
        rows, failed = [], []
        for name in order:
            try:
                t0 = time.perf_counter()
                sc.setJobGroup(f"{name}:build", name)
                df = self.builders[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{name}:plan", name)
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                sc.setJobGroup(f"{name}:exec", name)
                df.write.mode("overwrite").format("noop").save()
                t3 = time.perf_counter()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed.append(name)
                continue
            rows.append({"query": name, "build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2, "wall": t3 - t0})
        return rows, failed

    def jvm_hwm_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")


def end_to_end(w: Workload, cycles: list[dict], run: dict, jvm_mb: float, driver_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics of the timed passes (see BENCHMARK.json)."""
    per_query = run["samples"]
    pooled = [x for v in per_query.values() for x in v]
    level, tail_value = tail(pooled, len(w.queries) * w.min_passes)
    completed = run["attempted"] - run["failed"]
    metrics = {
        "latency_p50_s": (statistics.median(pooled), "s"),
        "latency_tail_s": (tail_value, "s"),
        "geomean_s": (geomean_of_medians(per_query), "s"),
        "ops_per_min": (completed / run["window_s"] * 60.0, "1/min"),
        "setup_s": (statistics.median(c["total"] for c in cycles), "s"),
        "peak_rss_mb": (jvm_mb + driver_mb, "MB"),
    }
    detail = {
        "tail_percentile": level,
        "tail_samples": len(pooled),
        "passes": run["passes"],
        "window_s": run["window_s"],
        "error_rate": run["failed"] / run["attempted"],
        "jvm_hwm_mb": jvm_mb,
        "driver_rss_mb": driver_mb,
        "cold_setup_s": run["first_query_at"] - T_PROCESS,
        "query_median_s": {n: statistics.median(v) for n, v in per_query.items() if v},
        "samples_s": per_query,
    }
    return metrics, detail


def per_layer(cycles: list[dict], rows: list[dict], ref_pass_s: float, log: EventLog) -> dict:
    """Per-layer metrics of one traced pass (see BENCHMARK.json)."""
    groups = {p: [log.group(f"{r['query']}:{p}") for r in rows] for p in ("build", "plan", "exec")}
    build_s = sum(r["build"] for r in rows)
    exec_s = sum(r["exec"] for r in rows)
    wall = sum(r["wall"] for r in rows)
    ex = groups["exec"]
    task_s = sum(g.task_s for g in ex)
    all_groups = [g for gs in groups.values() for g in gs]
    jobs = sum(g.jobs for g in all_groups)
    idle = sum(g.idle_s for g in all_groups)
    mb = 2.0**20
    m = {
        "session.start_s": (statistics.median(c["session"] for c in cycles), "s"),
        "catalog.load_s": (statistics.median(c["catalog"] for c in cycles), "s"),
        "build.s": (build_s, "s"),
        "build.jobs": (sum(g.jobs for g in groups["build"]), "count"),
        "build.job_s": (sum(g.job_wall_s for g in groups["build"]), "s"),
        "build.driver_s": (build_s - sum(g.job_wall_s for g in groups["build"]), "s"),
        "plan.s": (sum(r["plan"] for r in rows), "s"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (sum(g.jobs for g in ex), "count"),
        "exec.stages": (sum(g.stages for g in ex), "count"),
        "exec.tasks": (sum(g.tasks for g in ex), "count"),
        "exec.task_s": (task_s, "s"),
        "exec.cpu_s": (sum(g.cpu_s for g in ex), "s"),
        "exec.shuffle_mb": (sum(g.shuffle_bytes for g in ex) / mb, "MB"),
        "exec.spill_mb": (sum(g.spill_bytes for g in ex) / mb, "MB"),
        "exec.gc_s": (sum(g.gc_s for g in ex), "s"),
        "exec.python_share": ((task_s - sum(g.cpu_s for g in ex)) / task_s if task_s else 0.0, "ratio"),
        "exec.single_task_stage_s": (sum(g.single_task_stage_s for g in ex), "s"),
        "sched.idle_s": (idle, "s"),
        "sched.per_job_ms": (idle / jobs * 1000.0 if jobs else 0.0, "ms"),
        "cache.write_mb": (log.cache_write_bytes / mb, "MB"),
        "trace.overhead": (wall / ref_pass_s, "ratio"),
        "trace.layer_coverage": (
            (build_s + sum(r["plan"] for r in rows) + exec_s) / wall,
            "ratio",
        ),
    }
    by_query = {r["query"]: (r, log.group(f"{r['query']}:build")) for r in rows}
    # the per-layer list is shared by all workloads: queries of other
    # workloads read 0 here
    for w in WORKLOADS.values():
        for name in w.queries:
            r, g = by_query.get(name, ({"build": 0.0, "exec": 0.0}, None))
            m[f"q.{name}.build_s"] = (r["build"], "s")
            m[f"q.{name}.exec_s"] = (r["exec"], "s")
            m[f"q.{name}.jobs"] = (g.jobs if g else 0, "count")
    return m


def versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _abort() -> None:
    """Watchdog: kill the JVM and exit without a result."""
    from pyspark import SparkContext

    _log(f"run exceeded {WATCHDOG_S} s; aborting")
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(3)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    w = WORKLOADS[args.workload]
    try:
        from data_warehouse_data_mining_spark import catalog
        import tools.driver_sweep  # noqa: F401  (the oracle canon)
    except ImportError as e:
        _log(f"engine package not found next to perfbench/: {e}")
        return 2
    sf_dir = str(Path(catalog.DEFAULT_SF_DIR).parent / f"sf{w.sf}")
    missing = [t for t in catalog.TABLE_NAMES if not os.path.exists(f"{sf_dir}/{t}.parquet")]
    if missing:
        _log(f"scale-factor data missing in {sf_dir}: {missing}")
        return 2

    # a hung query must not outlive the run's time limit
    watchdog = threading.Timer(WATCHDOG_S, _abort)
    watchdog.daemon = True
    watchdog.start()

    for sub in ("local", "tmp", "duckdb", "eventlog"):
        (WORK / sub).mkdir(parents=True)
    # Spark's Python workers import the package from this path, whatever
    # the working directory; set before the JVM (and its workers) start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")

    shape = session_shape()
    bench = Bench(w, shape, sf_dir)
    record = {"workload": w.name, "sf": w.sf, "seed": args.seed, "trace": args.trace, **shape}
    try:
        cycles = bench.setup()
        record["versions"] = versions(bench.spark)
        record["setup_cycles"] = cycles
        t0 = time.perf_counter()
        verdict = bench.verify()
        record["verify"] = verdict
        record["verify_s"] = time.perf_counter() - t0
        record["oracle_s"] = bench.oracle_s
        bad = {n for n, v in verdict.items() if v != "pass"}
        for _ in range(w.warmup_passes):
            for name in w.queries:
                bench.run_query(name)
        if args.trace:
            order = next(iter_pass_orders(list(w.queries), args.seed))
            t0 = time.perf_counter()
            ref_ok = [bench.run_query(name) for name in order]
            ref_pass_s = time.perf_counter() - t0
            bench.stop()
            bench.start(trace_dir=WORK / "eventlog")
            rows, raised = bench.traced_pass(order)
            bench.stop()  # flushes and closes the event log
            (log_path,) = (WORK / "eventlog").iterdir()
            metrics = per_layer(cycles, rows, ref_pass_s, parse_file(str(log_path)))
            record["traced_queries"] = rows
            failed_names = bad | set(raised) | {n for n, ok in zip(order, ref_ok) if not ok}
            attempted, failed = len(order), len(failed_names)
        else:
            run = bench.timed(args.seed, args.seconds, bad)
            driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            metrics, detail = end_to_end(w, cycles, run, bench.jvm_hwm_mb(), driver_mb)
            record.update(detail)
            attempted, failed = run["attempted"], run["failed"]
    finally:
        bench.stop()
        shutdown_jvm()
        watchdog.cancel()
        shutil.rmtree(WORK, ignore_errors=True)

    record["loadavg_end"] = list(os.getloadavg())
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not bad,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
