"""Workload ``corpus_admission``: a document feed admitted one
micro-batch file at a time by ``streaming.run_streaming_curation`` over
``file_stream(..., max_files_per_trigger=1)``.

Why: this is the maintained LLM-corpus path. Every batch runs the exact
fingerprint, banded-MinHash lexical and SemDeDup semantic tiers against
persistent ``io.versioned`` stores and commits the ledger, the corpus and
three stores (read-modify-write on versioned state). It bypasses the
retail pipeline, the registry and the catalog.

Closed loop, one client: one file is dropped into the feed directory and
the stream is drained (``Trigger.AvailableNow``, the repository's batch
cadence), then the next. Batch 0 bootstraps the corpus and freezes the
semantic fit on a cold JVM; it is reported as ``first_op_s``. The timed
region is the batches after it, until ``--seconds`` have passed.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import pyarrow.parquet as pq

from inputs import COPY_OFFSET, build_feed
from retail_daily import dir_bytes
from spans import log

#: 16 files of about 40 documents (plus re-sent copies): a steady batch
#: is then almost all per-batch fixed cost (81 Spark jobs), which is what
#: dominates the path at small batch sizes
N_DOCS = 640
N_FILES = 16
SMOKE_DOCS = 96
SMOKE_FILES = 4

STATE = ("corpus", "fp", "lex", "sem", "centers", "ledger")
SCHEMA = "doc_id long, text string, vec array<float>"


def _install_spans(tracer) -> None:
    """``streaming/sink.py`` imports the ``io.versioned`` functions when
    the sink is called, so the module attributes are what to wrap."""
    from dynamic_etl_spark.io import versioned

    tracer.wrap(versioned, "read_versioned", "io.versioned.read")
    tracer.wrap(versioned, "write_versioned", "io.versioned.write")


def _check(spark, roots: dict, offered: set[int]) -> tuple[list[str], set[int]]:
    """Correctness of the committed state; runs after the timed region.
    Returns the problems and the admitted ids."""
    from dynamic_etl_spark.io.versioned import read_versioned

    problems = []
    ledger = read_versioned(spark, roots["ledger_root"]).select(
        "doc_id", "admitted").collect()
    ids = [r["doc_id"] for r in ledger]
    if len(ids) != len(set(ids)) or set(ids) != offered:
        problems.append(f"ledger has {len(ids)} rows for {len(set(ids))} ids; "
                        f"{len(offered)} docs were offered")
    admitted = {r["doc_id"] for r in ledger if r["admitted"]}
    rejected = {r["doc_id"] for r in ledger if not r["admitted"]}
    if admitted | rejected != offered:
        problems.append("admitted and rejected ids do not cover the offered ones")
    corpus = [r[0] for r in read_versioned(spark, roots["corpus_root"])
              .select("doc_id").collect()]
    if len(corpus) != len(set(corpus)):
        problems.append("corpus ids are not unique")
    if set(corpus) != admitted:
        problems.append("corpus ids differ from the ledger's admitted ids")
    # every original is new and every planted near-copy follows its
    # original, so the admitted set is exactly the offered originals
    originals = {i for i in offered if i < COPY_OFFSET}
    if admitted != originals:
        problems.append(
            f"admitted set differs from the offered originals: "
            f"{len(admitted - originals)} copies admitted, "
            f"{len(originals - admitted)} originals rejected")
    return problems, admitted


def run(spark, *, seed: int, seconds: float, tracer, jobs, workdir: str,
        smoke: bool = False) -> dict:
    from pyspark.sql import functions as F

    from dynamic_etl_spark.io.versioned import read_versioned
    from dynamic_etl_spark.streaming import file_stream, run_streaming_curation

    files = build_feed(seed, SMOKE_DOCS if smoke else N_DOCS,
                       SMOKE_FILES if smoke else N_FILES)
    feed = os.path.join(workdir, "feed")
    os.makedirs(feed)
    state = os.path.join(workdir, "state")
    roots = {f"{name}_root": os.path.join(state, name) for name in STATE}
    checkpoint = os.path.join(workdir, "checkpoint")
    schema = spark.createDataFrame([], SCHEMA).schema
    _install_spans(tracer)

    attempted = failed = failed_tasks = 0
    offered: set[int] = set()
    times, batch_spans, progress = [], [], []
    jobs_first_steady = timed_docs = 0

    def one_batch(i: int):
        nonlocal attempted, failed, failed_tasks
        table = files[i]
        pq.write_table(table, os.path.join(feed, f"batch-{i:04d}.parquet"))
        attempted += 1
        query, ok = None, True
        with jobs.group(f"batch{i}") as counts:
            with tracer.span("corpus.batch", batch=i) as span:
                t0 = time.perf_counter()
                try:
                    query = run_streaming_curation(
                        file_stream(spark, feed, schema, max_files_per_trigger=1),
                        **roots, checkpoint_dir=checkpoint,
                        id_col="doc_id", text_col="text", vec_col="vec",
                    )
                except Exception:
                    traceback.print_exc()
                    ok = False
                elapsed = time.perf_counter() - t0
        if query is not None:
            # the stream runs its batches in the job group of its run id
            for k, v in jobs.read(str(query.runId)).items():
                counts[k] += v
        failed_tasks += counts["failed_tasks"]
        if ok:
            offered.update(table.column("doc_id").to_pylist())
        else:
            failed += 1
        return ok, elapsed, counts, span, query

    ok, first_s, _, _, _ = one_batch(0)
    log(f"bootstrap batch done in {first_s:.1f}s")
    start = time.perf_counter()
    for i in range(1, len(files)):
        ok, elapsed, counts, span, query = one_batch(i)
        if ok:
            times.append(elapsed)
            timed_docs += files[i].num_rows
            batch_spans.append(span)
            progress += [p for p in query.recentProgress if p.numInputRows > 0]
            if i == 1:
                jobs_first_steady = counts["jobs"]
        if time.perf_counter() - start >= seconds:
            break
    wall = time.perf_counter() - start
    log(f"timed region done: {len(times)} batches in {wall:.1f}s")

    n_admitted, admit_ratio = 0, 0.0
    try:
        problems, admitted = _check(spark, roots, offered)
        n_admitted = len(admitted)
        # over the bootstrap and the first steady batch: a fixed prefix of
        # the feed, so the figure is exact and repeats for a seed
        first_two = read_versioned(spark, roots["ledger_root"]).filter(
            F.col("batch_id") <= 1).agg(
            F.count(F.lit(1)), F.sum(F.col("admitted").cast("int"))).first()
        admit_ratio = first_two[1] / first_two[0]
    except Exception as exc:  # a failed batch can leave tables missing
        problems = [f"correctness check raised {exc!r}"]
    log("correctness checks done")

    layers = {}
    n = max(len(times), 1)
    if tracer.enabled:
        read_s = write_s = commits = 0
        for root in batch_spans:
            for sp in tracer.within(root):
                if sp.name == "io.versioned.read":
                    read_s += sp.end - sp.start
                elif sp.name == "io.versioned.write":
                    write_s += sp.end - sp.start
                    commits += 1
        layers["io.versioned.read_s"] = read_s / n
        layers["io.versioned.write_s"] = write_s / n
        layers["io.versioned.commits"] = commits / n
    layers["streaming.trigger_s"] = statistics.median(
        p.durationMs.get("triggerExecution", 0) / 1000 for p in progress) if progress else 0.0
    layers["streaming.add_batch_s"] = statistics.median(
        p.durationMs.get("addBatch", 0) / 1000 for p in progress) if progress else 0.0
    layers["streaming.bootstrap_batch_s"] = first_s
    layers["io.versioned.state_bytes_per_doc"] = (
        sum(dir_bytes(r) for r in roots.values()) / max(n_admitted, 1))
    layers["spark.jobs_per_batch"] = jobs_first_steady
    # documents counted from the generated files: the progress counter
    # counts rows twice when foreachBatch rescans its batch
    layers["corpus.batch_s_p50"] = statistics.median(times) if times else 0.0
    layers["corpus.docs_per_s"] = timed_docs / sum(times) if times else 0.0
    layers["ops.admit_ratio"] = admit_ratio
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "op_times": times,
        "first_op_s": first_s,
        "failed_tasks": failed_tasks,
        "layers": layers,
    }
