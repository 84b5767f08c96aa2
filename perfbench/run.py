"""The repo's benchmark: one closed-loop client, one job in flight, on
``local[nproc]``.

    python3 perfbench/run.py --workload transcripts_rollup --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. A run sets up Spark (import of the program,
``get_spark``, a warm-up query), runs a cold job and warm-up jobs, then
runs steady jobs back to back for ``--seconds`` seconds (and at least
``MIN_STEADY`` of them). Every job's output is checked against goldens
built from the seeded inputs; a job that fails or returns a wrong result
counts as a failed op. The last line of standard output is one JSON
object: with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run, in which untraced and traced steady
jobs alternate so that the tracing overhead is measured in the same
process. The spans and the per-job log are written to
``perfbench/.work/reports``.

Workloads and metrics are listed in BENCHMARK.json at the repository root;
``--tiny`` shrinks every input for the self-tests in perfbench/tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from perfbench import trace as tr  # noqa: E402
from perfbench import workloads  # noqa: E402

# Job 0 is the cold job, then WARMUP_JOBS jobs let JIT compilation and
# Python worker start-up settle: per-job CPU time falls by a quarter over
# jobs 1-3 and is level from job 3 on. The steady-state median is taken
# over at least MIN_STEADY jobs.
WARMUP_JOBS = 3
MIN_STEADY = 3

# Steady-state cost is wall time, the time the one client waits. CPU time
# is per-layer: gating on it would read added parallelism as a regression.
END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s_p50": "s",
    "points_per_s": "1/s",
    "ops_ok_share": "share",
}


def configure_env(work: str, cores: int) -> None:
    """Keep every file Spark and Python write inside ``work``; pin BLAS to
    one thread per worker. Must run before pyspark is imported."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


def set_up(cores: int):
    """Import of the program, ``get_spark`` and a warm-up query, each timed
    (numpy, pandas and pyarrow are already loaded by the benchmark)."""
    t0 = time.perf_counter()
    import __spark_entry__  # noqa: F401
    from pysatl_cpd_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(cores=cores, app_name="perfbench")
    t2 = time.perf_counter()
    spark.range(0, 200_000, 1, cores).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0,
        "session.import_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.warmup_s": t3 - t2,
    }


def shut_down(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(tr.process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in tr.process_tree(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def environment(spark, seed: int, cores: int) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores": cores,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "seed": seed,
        "load": "closed loop, 1 client, 1 job in flight, BLAS threads = 1",
    }


class Runner:
    """Runs one workload's jobs in a closed loop and keeps their log."""

    def __init__(self, spark, wl, tamper=None) -> None:
        self.spark = spark
        self.wl = wl
        self.tamper = tamper
        self.tracer = tr.Tracer(spark)
        self.log: list[dict] = []
        self.counts: list[dict] = []
        self.layers: dict = {}
        self.local_dir = os.environ.get("SPARK_LOCAL_DIRS", "")

    def job(self, phase: str, traced: bool = False) -> None:
        """Run, check and clean up one job; log its wall time, result and
        the state it leaves behind (persisted RDDs, local-dir bytes, RSS)."""
        tracer = self.tracer if traced else tr.Tracer(None)
        tracer.start_job(len(self.log))
        steal0 = tr.steal_seconds()
        cpu0 = tr.cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        try:
            with tracer.span("job"):
                out = self.wl.job(self.spark, tracer)
            wall = time.perf_counter() - t0
            cpu = tr.cpu_seconds(os.getpid()) - cpu0
            out = self.wl.fetch(out)
            if self.tamper is not None:
                self.tamper(out)
            errors = self.wl.check(out)
            self.counts.append(self.wl.exact_counts(out))
            self.layers = self.wl.layer_counts(out)
        except Exception as exc:  # noqa: BLE001 - a failed job is a failed op
            wall = time.perf_counter() - t0
            cpu = tr.cpu_seconds(os.getpid()) - cpu0
            errors = [f"{type(exc).__name__}: {exc}"]
            traceback.print_exc()
        finally:
            self.wl.cleanup()
        self.log.append(
            {
                "job": tracer.job,
                "phase": phase,
                "traced": traced,
                "wall_s": wall,
                "cpu_s": cpu,
                "steal_s": tr.steal_seconds() - steal0,
                "ok": not errors,
                "errors": errors[:5],
                "persisted_rdds": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
                "local_dir_bytes": tr.dir_bytes(self.local_dir) if self.local_dir else 0,
                "rss_mb": tr.peak_rss_mb(os.getpid()),
            }
        )

    def steady(self, traced: bool) -> list[dict]:
        return [e for e in self.log if e["phase"] == "steady" and e["traced"] == traced]

    def loop(self, seconds: float, trace: bool, tiny: bool) -> None:
        """The cold job, the warm-up jobs, then steady jobs until ``seconds``
        have passed and MIN_STEADY untraced steady jobs ran. A traced run
        alternates untraced and traced steady jobs and needs two untraced
        and one traced. A tiny run has one warm-up and one steady job."""
        warmup, need = (1, 1) if tiny else (WARMUP_JOBS, 2 if trace else MIN_STEADY)
        self.job("cold")
        for _ in range(warmup):
            self.job("warmup")
        t0 = time.perf_counter()
        n = 0
        while not (
            time.perf_counter() - t0 >= seconds
            and len(self.steady(False)) >= need
            and (self.steady(True) or not trace)
        ):
            self.job("steady", traced=trace and n % 2 == 1)
            n += 1

    def failed(self) -> int:
        return sum(not e["ok"] for e in self.log)


def end_to_end(runner: Runner, setup: dict) -> dict:
    wall = statistics.median(e["wall_s"] for e in runner.steady(False))
    return {
        "setup_s": setup["setup_s"],
        "job_s_p50": wall,
        "points_per_s": runner.wl.points_per_job / wall,
        "ops_ok_share": 1.0 - runner.failed() / len(runner.log),
    }


# stage counters that are maxima over stages; the others are sums
_MAXED = ("skew", "peak_execution_memory")


def per_job_layers(runner: Runner, job: int, wall: float) -> dict:
    """Per-layer metrics of one traced job: layer self times from its spans,
    Spark counters summed over the spans."""
    spans = runner.tracer.job_spans(job)
    selfs = runner.tracer.self_seconds(job)
    tot: dict[str, float] = {}
    for _, s in spans:
        for k, v in s.counters.items():
            tot[k] = max(tot.get(k, 0), v) if k in _MAXED else tot.get(k, 0) + v

    def in_layer(layer: str, key: str) -> float:
        return sum(s.counters.get(key, 0) for _, s in spans if s.name == layer)

    def self_of(layer: str) -> float:
        return selfs.get(layer, 0.0)

    m = {
        "sources.transcripts.s": self_of("sources.transcripts"),
        "scan.s": tot.get("scan_s", 0.0),
        "scan.bytes": tot.get("scan_bytes", 0),
        "scan.tasks": tot.get("scan_tasks", 0),
        "operators.series.s": self_of("operators.series"),
        "operators.cpd.s": self_of("operators.cpd"),
        "operators.cpd.exchanges": in_layer("operators.cpd", "exchanges"),
        "operators.segments.s": self_of("operators.segments"),
        "operators.rollup.tier_1m_s": self_of("operators.rollup.tier_1m"),
        "operators.rollup.tier_1h_s": self_of("operators.rollup.tier_1h"),
        "operators.rollup.tier_1d_s": self_of("operators.rollup.tier_1d"),
        "shuffle.bytes_written": tot.get("shuffle_bytes_written", 0),
        "shuffle.write_s": tot.get("shuffle_write_s", 0.0),
        "shuffle.fetch_wait_s": tot.get("shuffle_fetch_wait_s", 0.0),
        "exchange.count": tot.get("exchanges", 0),
        "tasks.count": tot.get("tasks", 0),
        "tasks.run_s": tot.get("run_s", 0.0),
        "tasks.failed": tot.get("tasks_failed", 0),
        "tasks.skew": tot.get("skew", 1.0),
        "jvm.peak_execution_memory": tot.get("peak_execution_memory", 0),
        "jvm.spill_bytes": tot.get("spill_bytes", 0),
        "driver.plan_s": self_of("driver.plan"),
        "driver.jobs": tot.get("jobs", 0),
        "driver.stages": tot.get("stages", 0),
        "driver.residual_s": wall - tot.get("stage_wall_s", 0.0),
        "trace.coverage": 1.0 - self_of("job") / wall,
    }
    for key in ("python_boot_s", "python_init_s", "python_total_s",
                "python_bytes_sent", "python_bytes_received"):
        m[f"operators.cpd.{key}"] = in_layer("operators.cpd", key)
    for _, s in spans:
        if s.name.startswith("query."):
            m[f"{s.name}.s"] = s.seconds
    return m


def kernel_seconds(wl, reps: int = 3) -> tuple[float, int]:
    """In-process ``process_many`` time of the workload's detector kernels
    on the same series the job detects on (median of ``reps``)."""
    values = wl.layer_inputs()
    points = sum(v.shape[0] for v in values)
    if not wl.kernels():
        return 0.0, points
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for factory in wl.kernels():
            factory().process_many(values)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), points


def per_layer(runner: Runner, setup: dict, names: list[str]) -> dict:
    traced = runner.steady(True)
    untraced = runner.steady(False)
    rows = [per_job_layers(runner, e["job"], e["wall_s"]) for e in traced]
    m = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in rows[0]}
    m.update(runner.layers)
    m["session.get_spark_s"] = setup["session.get_spark_s"]
    m["session.warmup_s"] = setup["session.warmup_s"]
    m["first_job_s"] = runner.log[0]["wall_s"]
    m["job_cpu_s_p50"] = statistics.median(e["cpu_s"] for e in untraced)
    # the JVM heap grows with every job, so this rises with the job count
    m["peak_rss_mb"] = max(e["rss_mb"] for e in runner.log)
    kernel_s, points = kernel_seconds(runner.wl)
    m["detectors.kernel_s"] = kernel_s
    m["detectors.kernel_points_per_s"] = points / kernel_s if kernel_s else 0.0
    m["trace.overhead_s"] = statistics.median(
        e["wall_s"] for e in traced
    ) - statistics.median(e["wall_s"] for e in untraced)
    m["ops_failed_share"] = runner.failed() / len(runner.log)
    m["state.persisted_rdds"] = max(e["persisted_rdds"] for e in runner.log)
    m["state.local_dir_bytes"] = max(e["local_dir_bytes"] for e in runner.log)
    return {k: m.get(k, 0.0) for k in names}


def layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def run_workload(spark, setup: dict, name: str, seed: int, seconds: float,
                 trace: bool, tiny: bool, work: str, tamper=None) -> dict:
    """Run one workload on a live session; returns the result record.
    ``tamper`` edits each job's fetched output before it is checked."""
    wl = workloads.WORKLOADS[name](work, seed, tiny)
    runner = Runner(spark, wl, tamper)
    runner.loop(seconds, trace, tiny)
    if trace:
        layers = layer_names()
        values = per_layer(runner, setup, [n for n, _ in layers])
        metrics = {n: {"value": values[n], "unit": u} for n, u in layers}
    else:
        values = end_to_end(runner, setup)
        metrics = {n: {"value": v, "unit": END_TO_END_UNITS[n]} for n, v in values.items()}
    return {
        "result": {
            "correct": runner.failed() == 0,
            "attempted": len(runner.log),
            "failed": runner.failed(),
            "metrics": metrics,
        },
        "input_size": wl.input_size,
        "jobs": runner.log,
        "counts": runner.counts,
        "spans": runner.tracer.as_rows() if trace else [],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-tests)")
    args = ap.parse_args(argv)

    cores = os.cpu_count() or 1
    root = os.path.join(HERE, ".work")
    work = os.path.join(root, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    configure_env(work, cores)
    spark, setup = set_up(cores)
    try:
        record = run_workload(
            spark, setup, args.workload, args.seed, args.seconds,
            bool(args.trace), args.tiny, work,
        )
        env = environment(spark, args.seed, cores)
    finally:
        shut_down(spark)
    shutil.rmtree(work, ignore_errors=True)

    record.update(env=env, workload=args.workload, trace=args.trace, setup=setup)
    os.makedirs(os.path.join(root, "reports"), exist_ok=True)
    report = os.path.join(root, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(report, "w") as f:
        json.dump(record, f, indent=1, default=float)
    result = record["result"]
    print(f"env {json.dumps(env)}")
    print(f"workload {args.workload}: {record['input_size']}")
    for e in record["jobs"]:
        kind = e["phase"] + (" traced" if e["traced"] else "")
        print(
            f"job {e['job']} {kind} wall_s={e['wall_s']:.4f} ok={e['ok']} "
            f"persisted_rdds={e['persisted_rdds']} local_dir_bytes={e['local_dir_bytes']} "
            f"rss_mb={e['rss_mb']:.1f} cpu_s={e['cpu_s']:.2f} steal_s={e['steal_s']:.2f}"
            + (f" errors={e['errors']}" if e["errors"] else "")
        )
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(f"report {os.path.relpath(report)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
