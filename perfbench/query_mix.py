"""Workload ``query_mix``: repeated passes, each in a seeded shuffled
order, over read-only relational registry queries on seeded tables.

Why: this is the analyst surface. It does scan, join, aggregate and
window work in Catalyst code with a handful of jobs per query, and never
touches ``pipeline``, ``io`` or ``streaming``; a change to those layers
is predicted to leave it unchanged, and an operator change in ``ops``
shows up here first.

Closed loop, one client. Pass 0 runs every query cold and collects it
for the DuckDB parity check (``first_op_s`` is the median cold query);
the timed region is whole warm passes, each query forced with a
``noop`` write, until ``--seconds`` have passed.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback

from inputs import write_tables
from spans import log

#: Tables at 1/500 of the TPC-H-ish sf1 sizes (lineitem 12k rows): the
#: mix measures per-query planning and scheduling plus a little data
#: work, and a whole pass stays a few seconds.
SCALE = 0.002
SMOKE_SCALE = 0.001

#: One query per operator family of the relational surface (joins,
#: multi-aggregates, pushdown scans, windows, dedup, top-N, fallback
#: lookups, event-time sessions, percentiles, as-of and range joins).
QUERIES = (
    "flagship_star_join",
    "pricing_summary",
    "scan_projection_filter",
    "customer_order_sequence",
    "dedup_keep_last_line",
    "top_part_types",
    "fallback_key_resolution",
    "events_sessionization",
    "events_value_percentiles",
    "events_asof_last_purchase",
    "events_range_interval_join",
)


class _Collected:
    """The cold pass's collected result, handed to the parity comparison
    in place of the DataFrame so the query is not executed again."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _install_spans(tracer) -> None:
    """Registry modules reach the catalog through ``registry.core.t`` or
    their own imported ``load_table``; wrap every binding of it."""
    from dynamic_etl_spark import catalog

    original = catalog.load_table
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if name.startswith("dynamic_etl_spark") and getattr(mod, "load_table", None) is original:
            tracer.wrap(mod, "load_table", "catalog.load_table")


def run(spark, *, seed: int, seconds: float, tracer, jobs, workdir: str,
        smoke: bool = False) -> dict:
    from dynamic_etl_spark.plan import count_shuffle_exchanges, physical_plan
    from dynamic_etl_spark.registry import all_queries

    from tests.parity import compare, run_oracle

    data = os.path.join(workdir, "tables")
    write_tables(data, seed, SMOKE_SCALE if smoke else SCALE)
    registry = all_queries()
    _install_spans(tracer)
    log("inputs written")
    rng = random.Random(seed)
    attempted = failed = failed_tasks = 0
    problems: list[str] = []

    # pass 0: cold execution, collected for the oracle comparison
    cold = []
    check_s = 0.0
    order = list(QUERIES)
    rng.shuffle(order)
    for name in order:
        query = registry[name]
        attempted += 1
        counts = {}
        try:
            with jobs.group(f"cold:{name}") as counts:
                t0 = time.perf_counter()
                pdf = query.fn(spark, data).toPandas()
                cold.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            result = compare(name, _Collected(pdf), run_oracle(query.oracle, data))
            check_s += time.perf_counter() - t0
            if not result.ok:
                problems.append(str(result))
        except Exception:
            traceback.print_exc()
            failed += 1
            problems.append(f"{name}: cold run or parity check raised")
        # the group's counts are read on leaving it, raised or not
        failed_tasks += counts.get("failed_tasks", 0)

    log(f"cold pass {sum(cold):.1f}s, parity checks {check_s:.1f}s")
    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    per_query: dict[str, dict] = {}
    build = exec_ = 0.0
    warm = []
    first_warm_span = len(tracer.spans)
    start = time.perf_counter()
    while True:
        rng.shuffle(order)
        for name in order:
            query = registry[name]
            attempted += 1
            counts = {}
            try:
                with jobs.group(name) as counts:
                    with tracer.span("query", query=name):
                        t0 = time.perf_counter()
                        with tracer.span("registry.build") as b:
                            df = query.fn(spark, data)
                        with tracer.span("registry.exec") as e:
                            df.write.format("noop").mode("overwrite").save()
                        elapsed = time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            finally:
                failed_tasks += counts.get("failed_tasks", 0)
            times[name].append(elapsed)
            warm.append(elapsed)
            if tracer.enabled:
                build += b.end - b.start
                exec_ += e.end - e.start
                if name not in per_query:
                    per_query[name] = {
                        "jobs": counts["jobs"],
                        "shuffles": count_shuffle_exchanges(physical_plan(df)),
                    }
        if time.perf_counter() - start >= seconds:
            break
    wall = time.perf_counter() - start
    log(f"timed region done: {len(warm)} queries in {wall:.1f}s")

    layers = {}
    n = max(len(warm), 1)
    load_s = load_calls = 0
    for sp in tracer.spans[first_warm_span:]:
        if sp.name == "catalog.load_table":
            load_s += sp.end - sp.start
            load_calls += 1
    layers["registry.build_s"] = build / n
    layers["registry.exec_s"] = exec_ / n
    layers["catalog.load_table_s"] = load_s / n
    layers["catalog.load_table_calls"] = load_calls / n
    k = max(len(per_query), 1)
    layers["spark.jobs_per_query"] = sum(p["jobs"] for p in per_query.values()) / k
    layers["plan.shuffles_per_query"] = sum(p["shuffles"] for p in per_query.values()) / k
    for name in QUERIES:
        layers[f"query.{name}_s"] = statistics.median(times[name]) if times[name] else 0.0
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "op_times": warm,
        "first_op_s": statistics.median(cold) if cold else 0.0,
        "failed_tasks": failed_tasks,
        "layers": layers,
    }
