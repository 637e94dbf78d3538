"""Workload ``retail_daily``: the reference's daily lifecycle through
``pipelines.retail.retail_daily_run``, one day at a time, on top of a
history of ``HISTORY_DAYS`` days.

Why: this is the paper's core lifecycle and the only write-heavy
workload. One day runs generation, the CSV extract with Current->Archive
rotation, six DQ gates and the SCD-1 fact merge with staging+swap into
the history, so per-step fixed cost and O(history) rewrites both show
up. It never touches the registry, the catalog or the plan helpers.

Before the timed region the run writes the state that ``HISTORY_DAYS``
earlier days would have left behind, directly and from the seed: source
and DW dimensions, ``HISTORY_DAYS`` days of source facts and of DW facts,
the processed-file log and the last day's extract in ``Current``. The
timed region is then consecutive days on top of it, in a closed loop with
one client, until ``--seconds`` have passed. The first timed day is the
first pipeline run of the JVM, as a once-a-day scheduled run pays it.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import functools
import os
import time
import traceback

from spans import log

ROWS_PER_DAY = 20_000
N_STORES = 2000
N_PRODUCTS = 5000
N_DISTRIBUTORS = 200
SMOKE_ROWS_PER_DAY = 1000
#: days of source and DW facts in place before the first timed day
HISTORY_DAYS = 30
SMOKE_HISTORY_DAYS = 3

PIPELINES = {
    "retail_daily_generation": "generation",
    "retail_daily_extract": "extract",
    "retail_daily_validation": "validation",
    "retail_target_dw_load": "dw_load",
}
STEPS = (
    "dim_store", "dim_product", "dim_distributor", "dim_date", "fact_sales",
    "extract_fact_sales", "extract_sales_snapshot", "read_extract_snapshot",
    "read_current", "read_archive",
    "validate_dim_store", "validate_dim_product", "validate_dim_distributor",
    "validate_dim_date", "validate_fact_sales", "validate_snapshot_file",
    "load_dim_store", "load_dim_product", "load_dim_distributor",
    "load_dim_date", "load_fact_sales",
)
GRAIN = ["date_id", "store_id", "product_id", "distributor_id"]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _install_spans(tracer, retail) -> None:
    """Spans around the names ``pipelines/retail.py`` calls. That module
    binds its io/validate/merge helpers by name at import, so the wrappers
    go into its namespace; Pipeline.run and FileQueue.process_next are
    class attributes shared with every caller."""
    from dynamic_etl_spark.pipeline import Pipeline

    if not tracer.enabled:
        return
    tracer.wrap(
        retail, "write_staging_swap", "io.write_staging_swap",
        after=lambda attrs, _r, args, kw: attrs.update(
            bytes=dir_bytes(kw.get("final_path") or args[1])),
    )
    tracer.wrap(retail, "write_csv", "io.write_csv")
    tracer.wrap(retail, "read_csv_schema_on_read", "io.read_csv")
    tracer.wrap(retail, "validate", "validate.validate")
    tracer.wrap(retail, "scd1_merge", "ops.scd1_merge")
    tracer.wrap(retail.FileQueue, "process_next", "io.queue.process_next")

    def traced_step(step):
        def fn(ctx):
            with tracer.span(f"step.{step.name}"):
                return step.fn(ctx)
        return dataclasses.replace(step, fn=fn)

    init = Pipeline.__init__

    def init_traced(self, name, steps):
        init(self, name, [traced_step(s) for s in steps])

    tracer.patch(Pipeline, "__init__", init_traced)
    tracer.wrap(Pipeline, "run", lambda args, kw: f"pipeline.{args[0].name}")


def _layer_metrics(tracer, day_spans, day_counts, stored_bytes_per_row) -> dict:
    """Per-layer figures, each averaged over the timed days."""
    n = max(len(day_counts), 1)
    out = {}
    total, self_s, calls = {}, {}, {}
    bytes_rewritten = 0
    for root in day_spans:
        spans = tracer.within(root)
        t, s, c = tracer.totals(spans)
        for d, src in ((total, t), (self_s, s), (calls, c)):
            for k, v in src.items():
                d[k] = d.get(k, 0) + v
        bytes_rewritten += sum(
            sp.attrs.get("bytes", 0) for sp in spans
            if sp.name == "io.write_staging_swap"
        )
    for pipe, short in PIPELINES.items():
        out[f"retail.{short}_s"] = total.get(f"pipeline.{pipe}", 0.0) / n
    for step in STEPS:
        out[f"retail.step.{step}_s"] = self_s.get(f"step.{step}", 0.0) / n
    out["io.write_staging_swap_s"] = total.get("io.write_staging_swap", 0.0) / n
    out["io.write_staging_swap_calls"] = calls.get("io.write_staging_swap", 0) / n
    out["io.bytes_rewritten_per_day"] = bytes_rewritten / n
    out["io.write_csv_s"] = total.get("io.write_csv", 0.0) / n
    out["io.read_csv_s"] = total.get("io.read_csv", 0.0) / n
    out["io.queue.process_next_s"] = total.get("io.queue.process_next", 0.0) / n
    out["ops.scd1_merge_build_s"] = total.get("ops.scd1_merge", 0.0) / n
    out["validate.validate_s"] = total.get("validate.validate", 0.0) / n
    out["spark.jobs_per_day"] = sum(c["jobs"] for c in day_counts) / n
    out["spark.tasks_per_day"] = sum(c["tasks"] for c in day_counts) / n
    out["io.stored_bytes_per_fact_row"] = stored_bytes_per_row
    return out


def _date_id(day: dt.date) -> int:
    return int(day.strftime("%Y%m%d"))


def _write_history(spark, root: str, *, seed: int, first: dt.date,
                   days: int, rows_per_day: int) -> None:
    """The state ``days`` pipeline days from ``first`` on leave behind,
    written directly with the program's own generators and sinks: DW
    dimensions, source and DW facts, the processed-file log and the last
    day's extract in ``Current``."""
    from pyspark.sql import functions as F

    from dynamic_etl_spark import generate as G
    from dynamic_etl_spark.io import FileQueue, write_csv, write_staging_swap
    from dynamic_etl_spark.ops.dates import build_date_dimension
    from dynamic_etl_spark.ops.dedup import dedup_keep_last

    src, dw = os.path.join(root, "source"), os.path.join(root, "dw")
    current = os.path.join(root, "extract", "Current")
    os.makedirs(current)
    dims = {
        "dim_store": G.generate_stores(spark, N_STORES, seed),
        "dim_product": G.generate_products(spark, N_PRODUCTS, seed),
        "dim_distributor": G.generate_distributors(spark, N_DISTRIBUTORS, seed),
        "dim_date": build_date_dimension(
            spark, f"{first.year}-01-01", f"{first.year}-12-31"),
    }
    # the source dimensions are regenerated by every day's generation
    # steps; the DW ones are what earlier days' loads left
    for name, df in dims.items():
        write_staging_swap(df, os.path.join(dw, name))
    log("history: DW dimensions written")
    stores, products, dists = (
        spark.read.parquet(os.path.join(dw, n))
        for n in ("dim_store", "dim_product", "dim_distributor"))
    day_dates = [first + dt.timedelta(days=k) for k in range(days)]
    # the generator draws a day's rows from the row index and the seed, so
    # the days the pipeline generates are the same rows under their own
    # date_id and sales_id range (weekend and seasonal quantity factors
    # aside): one generated day repeated is that history, without the
    # minutes of set-up ``days`` generator runs take
    day = G.generate_fact_sales(
        spark, stores, products, dists, date_id=_date_id(first),
        rows=rows_per_day, seed=seed, start_sales_id=0,
        is_weekend=first.weekday() >= 5, month=first.month)
    k = F.col("__k")
    shifted = {
        "sales_id": F.col("sales_id") + k * rows_per_day,
        "date_id": F.date_format(
            F.date_add(F.lit(first.isoformat()).cast("date"), k.cast("int")),
            "yyyyMMdd").cast(day.schema["date_id"].dataType),
    }
    facts = day.crossJoin(spark.range(days).withColumnRenamed("id", "__k")).select(
        *(shifted[c].cast(day.schema[c].dataType).alias(c) if c in shifted else c
          for c in day.columns))
    write_staging_swap(facts, os.path.join(src, "fact_sales"))
    log("history: source facts written")
    facts = spark.read.parquet(os.path.join(src, "fact_sales"))
    # the DW load's typing and grain dedup; the source sales_id stands in
    # for the surrogate the merge numbers inserts with (MAX + 1 + i)
    typed = facts.select(
        F.col("sales_id").cast("long"),
        F.col("date_id").cast("int"),
        F.col("store_id").cast("long"),
        F.col("product_id").cast("long"),
        F.col("distributor_id").cast("long"),
        F.col("quantity_sold").cast("long"),
        F.col("net_amount").cast("decimal(12,2)").cast("double"),
    )
    write_staging_swap(
        dedup_keep_last(typed, keys=GRAIN, order=["sales_id"]),
        os.path.join(dw, "fact_sales_dw"))
    log("history: DW facts written")
    queue = FileQueue(current, os.path.join(dw, "processed.log"),
                      prefix="fact_sales_", suffix="")
    for d in day_dates:
        queue.mark_processed(f"fact_sales_{_date_id(d)}")
    last = _date_id(day_dates[-1])
    write_csv(facts.filter(F.col("date_id") == last),
              os.path.join(current, f"fact_sales_{last}"), sep=",", single_file=True)


def _check(spark, root: str, history: list[int], days_ok: list[int],
           results: list[dict], rows_per_day: int) -> list[str]:
    """Correctness of the committed state; runs after the timed region."""
    from pyspark.sql import functions as F

    problems = []
    all_days = history + days_ok
    src = spark.read.parquet(os.path.join(root, "source", "fact_sales"))
    want = rows_per_day * len(all_days)
    got = src.count()
    if got != want:
        problems.append(f"source fact rows {got} != {rows_per_day} x {len(all_days)} days")
    dw = spark.read.parquet(os.path.join(root, "dw", "fact_sales_dw"))
    dup = dw.groupBy(*GRAIN).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        problems.append("DW fact grain is not unique")
    dw_days = {r[0] for r in dw.select("date_id").distinct().collect()}
    if dw_days != set(all_days):
        problems.append(f"DW fact dates {sorted(dw_days)} != days {all_days}")
    with open(os.path.join(root, "dw", "processed.log")) as f:
        logged = [line.split("|", 1)[0] for line in f.read().splitlines() if line]
    if sorted(logged) != sorted(f"fact_sales_{d}" for d in all_days):
        problems.append(f"processed.log {logged} is not one entry per day")
    for res in results:
        # every validation gate raises on a FAIL row, so a gate that
        # returned a report passed
        order = res["retail_daily_validation"].order
        if len(order) != 6:
            problems.append(f"validation ran {order}, not all six gates")
        name, loaded = res["retail_target_dw_load"].outputs["load_fact_sales"]
        if name is None or not isinstance(loaded, int):
            problems.append(f"DW fact load did not consume a file: {name} {loaded}")
    return problems


def run(spark, *, seed: int, seconds: float, tracer, jobs, workdir: str,
        smoke: bool = False) -> dict:
    from dynamic_etl_spark.pipelines import retail

    rows_per_day = SMOKE_ROWS_PER_DAY if smoke else ROWS_PER_DAY
    history_days = SMOKE_HISTORY_DAYS if smoke else HISTORY_DAYS
    root = os.path.join(workdir, "retail")
    # every day stays inside one calendar year: dim_date covers the year
    # of the day being generated
    first = dt.date(2024, 1, 1) + dt.timedelta(days=seed % 300)
    t0 = time.perf_counter()
    _write_history(spark, root, seed=seed, first=first, days=history_days,
                   rows_per_day=rows_per_day)
    history = [_date_id(first + dt.timedelta(days=k)) for k in range(history_days)]
    log(f"{history_days}-day history written in {time.perf_counter() - t0:.1f}s")

    # retail_daily_run takes no seed; bind the benchmark seed into the
    # generation factory it looks up in its module namespace
    tracer.patch(retail, "generation_pipeline",
                 functools.partial(retail.generation_pipeline, seed=seed))
    _install_spans(tracer, retail)

    attempted = failed = failed_tasks = 0
    days_ok, results = [], []
    times, day_spans, day_counts = [], [], []

    start = time.perf_counter()
    i = history_days
    while True:
        date_id = _date_id(first + dt.timedelta(days=i))
        i += 1
        attempted += 1
        ok = True
        with jobs.group(f"day{date_id}") as counts:
            with tracer.span("retail.day", date_id=date_id) as root_span:
                t0 = time.perf_counter()
                try:
                    res = retail.retail_daily_run(
                        spark, root, date_id=date_id, n_stores=N_STORES,
                        n_products=N_PRODUCTS, n_distributors=N_DISTRIBUTORS,
                        rows_per_day=rows_per_day,
                    )
                except Exception:
                    traceback.print_exc()
                    ok = False
                elapsed = time.perf_counter() - t0
        failed_tasks += counts["failed_tasks"]
        if ok:
            days_ok.append(date_id)
            results.append(res)
            times.append(elapsed)
            day_counts.append(counts)
            day_spans.append(root_span)
        else:
            failed += 1
        if time.perf_counter() - start >= seconds:
            break
    log(f"timed region done: {len(times)} days in {time.perf_counter() - start:.1f}s")

    dw_path = os.path.join(root, "dw", "fact_sales_dw")
    stored = 0.0
    try:
        problems = _check(spark, root, history, days_ok, results, rows_per_day)
        stored = dir_bytes(dw_path) / max(spark.read.parquet(dw_path).count(), 1)
    except Exception as exc:  # a failed day can leave tables missing
        problems = [f"correctness check raised {exc!r}"]
    log("correctness checks done")
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "op_times": times,
        "first_op_s": times[0] if times else 0.0,
        "failed_tasks": failed_tasks,
        "layers": _layer_metrics(tracer, day_spans if tracer.enabled else [],
                                 day_counts, stored),
    }
