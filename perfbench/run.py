"""Benchmark entry point.

    python3 perfbench/run.py --workload retail_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one Spark session on
``local[<cores>]``, one workload (see README.md in this directory). The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``). The
exit code is 0 only if every operation succeeded and every correctness
check passed; without the program's sources it is 2.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus_admission  # noqa: E402
import query_mix  # noqa: E402
import retail_daily  # noqa: E402

WORKLOADS = {
    "retail_daily": retail_daily,
    "query_mix": query_mix,
    "corpus_admission": corpus_admission,
}

#: workloads whose traced run also admits the corpus feed, so that the
#: streaming and io.versioned layers are measured (see README.md)
TRACED_WITH_CORPUS = ("query_mix",)

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "ops_per_s": "1/s",
}
_SECONDS = (
    [f"retail.{p}_s" for p in retail_daily.PIPELINES.values()]
    + [f"retail.step.{s}_s" for s in retail_daily.STEPS]
    + ["io.write_staging_swap_s", "io.write_csv_s", "io.read_csv_s",
       "io.queue.process_next_s", "ops.scd1_merge_build_s",
       "validate.validate_s", "registry.build_s", "registry.exec_s",
       "catalog.load_table_s", "streaming.trigger_s",
       "streaming.add_batch_s", "streaming.bootstrap_batch_s",
       "io.versioned.read_s", "io.versioned.write_s", "corpus.batch_s_p50"]
    + [f"query.{q}_s" for q in query_mix.QUERIES]
)
PER_LAYER = {
    **{name: "s" for name in _SECONDS},
    "io.write_staging_swap_calls": "count",
    "io.bytes_rewritten_per_day": "B",
    "io.stored_bytes_per_fact_row": "B/row",
    "spark.jobs_per_day": "count",
    "spark.tasks_per_day": "count",
    "spark.jobs_per_query": "count",
    "plan.shuffles_per_query": "count",
    "catalog.load_table_calls": "count",
    "io.versioned.commits": "count",
    "io.versioned.state_bytes_per_doc": "B",
    "spark.jobs_per_batch": "count",
    "ops.admit_ratio": "fraction",
    "corpus.docs_per_s": "1/s",
    "spark.failed_tasks": "count",
    "failed_frac": "fraction",
    "peak_rss_mb": "MB",
    "first_op_s": "s",
    **{f"traced.{name}": unit for name, unit in END_TO_END.items()},
}

DRIVER_MEMORY = "2g"


def _peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    process under it: the Python driver and the Spark JVM."""
    def children(pid: int) -> list[int]:
        out = []
        task_dir = f"/proc/{pid}/task"
        for tid in os.listdir(task_dir):
            with open(f"{task_dir}/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        return out

    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            todo += children(pid)
        except FileNotFoundError:
            continue
    return total_kb / 1024


def _pin_environment(work: str) -> None:
    """Everything Spark and Python write goes under ``work``; the session
    uses every core this process may run on and a heap well below RAM."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)


def _shutdown() -> None:
    """Stop the session, then the JVM: closing its stdin makes it exit;
    wait until it has."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="minimum input sizes (self-test only)")
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "dynamic_etl_spark")):
        print("run from the root of a checkout of the program "
              "(dynamic_etl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    state = os.path.join(checkout, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work)
    # derby.log, spark-warehouse/ and metastore files land in the JVM's
    # working directory
    os.chdir(work)

    from dynamic_etl_spark.session import get_spark
    from spans import JobCounter, Tracer, log

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    try:
        # set-up as a daily run pays it: launch the JVM and the session,
        # until the first job completes
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.range(1).count()
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        log(f"session started in {setup_s:.2f}s")
        os.chdir(checkout)
        jobs = JobCounter(spark, run_id)
        result = WORKLOADS[args.workload].run(
            spark, seed=args.seed, seconds=args.seconds, tracer=tracer,
            jobs=jobs, workdir=work, smoke=args.smoke,
        )
        if args.trace and args.workload in TRACED_WITH_CORPUS:
            corpus = corpus_admission.run(
                spark, seed=args.seed, seconds=args.seconds, tracer=tracer,
                jobs=jobs, workdir=work, smoke=args.smoke,
            )
            for key in ("attempted", "failed", "failed_tasks"):
                result[key] += corpus[key]
            result["problems"] += corpus["problems"]
            result["layers"].update(corpus["layers"])
        rss = _peak_rss_mb()
    finally:
        tracer.unwrap_all()
        _shutdown()
        os.chdir(checkout)
        shutil.rmtree(work, ignore_errors=True)
    log("session and JVM stopped")

    problems = list(result["problems"])
    times = result["op_times"]
    if not times:
        problems.append("no timed operation succeeded")
        times = [0.0]
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(times),
        # over every timed operation, so on query_mix it covers the whole
        # pass, tail included
        "ops_per_s": len(times) / sum(times) if sum(times) else 0.0,
    }
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(result["layers"])
        layers["spark.failed_tasks"] = result["failed_tasks"]
        layers["failed_frac"] = result["failed"] / max(result["attempted"], 1)
        layers["peak_rss_mb"] = rss
        layers["first_op_s"] = result["first_op_s"]
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        traces = os.path.join(state, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{run_id}.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = not problems and result["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
