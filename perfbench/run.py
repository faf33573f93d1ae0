"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 14 --trace 0

Run from the repository root.  Sets up several times (session start,
input generation, warm-up), times a fixed amount of work sized from
``--seconds``, checks the outputs, and prints one JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics from a traced
run with ``--trace 1``.  Scratch files live in ``.perfbench_work/`` and
traces are written to ``.perfbench_runs/``, both under the repository
root.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

#: Session starts and input generations per run; ``setup_s`` takes their median.
SETUPS = 3
JVM_HEAP = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
}


def layer_spans() -> tuple[str, ...]:
    """Span names whose mean seconds per repetition is a per-layer metric."""
    from workloads import SQL_QUERIES, LlmCuration

    return (
        ("pipeline.land", "pipeline.transform", "pipeline.load")
        + tuple(f"queries.{q}.{phase}" for q in SQL_QUERIES for phase in ("build", "run"))
        + LlmCuration.STEPS
    )


def per_layer_units() -> dict[str, str]:
    return {
        "session.start_s": "s",
        **{f"{name}_s": "s" for name in layer_spans()},
        "pipeline.append_ratio": "ratio",
        "sources.sink_files": "count",
        "sources.sink_mb": "MB",
        "operators.dedup.candidate_pairs": "count",
        "operators.dedup.verified_ratio": "ratio",
        "operators.similarity.pairs_scored": "count",
        "spark.jobs": "count",
        "spark.tasks": "count",
        "spark.construct_jobs": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.idle_slot_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.python_mb_sent": "MB",
        "spark.tasks_failed": "count",
        "process.cpu_s": "s",
        "process.peak_rss_mb": "MB",
        "trace.wall_s": "s",
        "trace.coverage": "ratio",
    }


def tail(latencies: list[float]) -> float:
    """Latency at the highest percentile that has at least ten samples
    beyond it; the maximum when there are no more than ten samples."""
    xs = sorted(latencies)
    return xs[len(xs) - 11] if len(xs) > 10 else xs[-1]


def end_to_end(
    setups: list[float], warm_s: float, wall_s: float, rows: int, batches: list[float]
) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setups) + warm_s,
        "wall_s": wall_s,
        "rows_per_s": rows / wall_s,
        "batch_p50_s": statistics.median(batches) if batches else 0.0,
        "batch_tail_s": tail(batches) if batches else 0.0,
    }


def _start_session(work: str):
    from end_to_end_data_engineering_project_with_databricks_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait until no process started by
    this one is left."""
    from pyspark import SparkContext

    import proc

    spark.stop()
    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is not None:
        SparkContext._gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 60
    while len(proc.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _env(work: str, cpus: int) -> None:
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable


def layer_metrics(wl, spark, res, tracer, t0: float, t1: float, slots: int) -> dict:
    import spans as sp

    reps = len(res.ops) if wl.name == "etl_ingest" else wl.passes
    out = {name: 0.0 for name in per_layer_units()}
    names = set(layer_spans())
    for s in tracer.spans:
        if s.name in names:
            out[f"{s.name}_s"] += s.duration / reps
    out.update(wl.layer_values(spark, res))
    attr = sp.attribute(tracer.spans, sp.StatusStore(spark), slots)
    own = attr["own"]
    total = {k: sum(own[s.id][k] for s in tracer.spans) for k in sp.zero_totals()}
    out.update({
        "spark.jobs": total["jobs"],
        "spark.tasks": total["tasks"],
        "spark.construct_jobs": sum(own[s.id]["jobs"] for s in tracer.spans if s.kind == "build"),
        "spark.executor_run_s": total["run_s"],
        "spark.executor_cpu_s": total["cpu_s"],
        "spark.gc_s": total["gc_s"],
        "spark.idle_slot_s": (t1 - t0) * slots - total["run_s"],
        "spark.shuffle_write_mb": total["shuffle_write_bytes"] / 2**20,
        "spark.spill_mb": total["spill_bytes"] / 2**20,
        "spark.python_mb_sent": total["python_bytes"] / 2**20,
        "spark.tasks_failed": total["tasks_failed"],
        "trace.wall_s": t1 - t0,
        "trace.coverage": sp.covered(
            [s for s in tracer.spans if s.kind != "group"], t0, t1
        ) / (t1 - t0),
    })
    self_s = sp.self_times(tracer.spans)
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    tracer.dump(
        os.path.join(runs, f"{wl.name}-seed{wl.seed}.trace.json"),
        {
            "timed": [t0, t1],
            "self_s": self_s,
            "spark_own": own,
            "spark_subtree": attr["subtree"],
            "python_exposed": attr["python_exposed"],
        },
    )
    return out


def run(args) -> dict:
    from spans import Tracer
    from workloads import TimedResult, WORKLOADS
    import proc

    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_work"))
    _env(work, cpus)
    wl = WORKLOADS[args.workload](args.seed, args.seconds)
    spark = None
    res = TimedResult()
    problems: list[str] = []
    raised = 0
    try:
        with proc.PeakRss() as rss:
            # Session start and input generation are repeated, and their
            # median taken; the first also pays the JVM launch.  The
            # warm-up then runs once, in the last session.
            setups, starts = [], []
            t_setup = T_PROCESS
            for i in range(SETUPS):
                if spark is not None:
                    t_setup = time.perf_counter()
                    spark.stop()
                t = time.perf_counter()
                spark = _start_session(work)
                starts.append(time.perf_counter() - t)
                wl.generate(os.path.join(work, f"setup{i}"))
                setups.append(time.perf_counter() - t_setup)
            t = time.perf_counter()
            wl.warm(spark)
            warm_s = time.perf_counter() - t
            tracer = Tracer(bool(args.trace), spark)
            cpu0 = proc.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                wl.timed(spark, tracer, res)
            except Exception:  # an operation raised: report it as failed
                traceback.print_exc()
                raised = 1
            t1 = time.perf_counter()
            cpu_s = proc.tree_cpu_s(os.getpid()) - cpu0
            peak, at_peak = rss.peak, rss.at_peak
        t = time.perf_counter()
        if not raised:
            problems = wl.check(spark, res)
        check_s = time.perf_counter() - t
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        lat = wl.batch_latencies(res)
        if args.trace:
            metrics = layer_metrics(wl, spark, res, tracer, t0, t1, cpus)
            metrics["session.start_s"] = statistics.median(starts)
            metrics["process.cpu_s"] = cpu_s
            metrics["process.peak_rss_mb"] = peak / 2**20
            units = per_layer_units()
        else:
            metrics = end_to_end(setups, warm_s, t1 - t0, wl.input_rows(), lat)
            units = END_TO_END_UNITS
        print(
            f"{wl.name}: {len(res.ops)} ops, setups {[round(s, 2) for s in setups]} s, "
            f"warm-up {warm_s:.2f} s, "
            f"timed {t1 - t0:.2f} s, checks {check_s:.2f} s, "
            f"tail = batch {len(lat) - 10 if len(lat) > 10 else len(lat)} of {len(lat)}, "
            f"peak RSS by process (MB) {at_peak}",
            file=sys.stderr,
        )
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = raised + sum(not op.ok for op in res.ops)
    return result_line(metrics, units, len(res.ops) + raised, failed, bool(problems))


def result_line(metrics: dict, units: dict, attempted: int, failed: int, check_failed: bool) -> dict:
    return {
        "correct": failed == 0 and not check_failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("etl_ingest", "sql_analytics", "llm_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    package = os.path.join(ROOT, "end_to_end_data_engineering_project_with_databricks_spark")
    if not os.path.isdir(package):
        print(f"program package not found under {ROOT}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
