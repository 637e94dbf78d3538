"""Fast-tier coverage of the streaming sinks' shared protocol: the
versioned-state helper's optimistic concurrency, the AvailableNow drain
timeout, the curation sink end to end on two tiny files (against the
shared gate over the same committed state), and the session's env-conf
parsing. The long-tail sink scenarios live in tests/test_streaming.py
(slow tier)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

SCRATCH = Path(__file__).resolve().parent.parent / ".tmp" / "sink_protocol"

_SCHEMA = "doc_id int, text string, vec array<float>"


@pytest.fixture()
def scratch():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    SCRATCH.mkdir(parents=True)
    yield SCRATCH
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _sentence(seed, extra=""):
    return " ".join(f"w{(seed * 31 + p * 7) % 997}" for p in range(10)) + extra


def test_versioned_state_append_detects_concurrent_commit(spark, scratch):
    """The helper commits against the version its frame was READ at: a
    second writer committing in between fails the CAS instead of being
    silently overwritten — for an existing table and for one created
    concurrently after an empty read."""
    from dynamic_etl_spark.io.versioned import (
        ConcurrentWriteError,
        latest_version,
        read_versioned,
        write_versioned,
    )
    from dynamic_etl_spark.streaming.sink import _Versioned

    rows = lambda ids: spark.createDataFrame([(i,) for i in ids], "id int")
    root = str(scratch / "t")
    write_versioned(rows([1]), root)
    table = _Versioned(root, rows([]))
    assert table.version == 0
    write_versioned(rows([1, 2]), root)  # the second writer
    with pytest.raises(ConcurrentWriteError):
        table.append(rows([3]))
    assert latest_version(root) == 1
    assert sorted(r["id"] for r in read_versioned(spark, root).collect()) == [1, 2]

    absent = str(scratch / "absent")
    table = _Versioned(absent, rows([]))
    assert table.version is None and table.df.isEmpty()
    write_versioned(rows([7]), absent)
    with pytest.raises(ConcurrentWriteError):
        table.append(rows([8]))

    # without interference the batch's own commits advance the base
    table = _Versioned(root, rows([]))
    table.append(rows([3]))
    table.append(rows([4]))
    assert latest_version(root) == 3
    assert sorted(r["id"] for r in read_versioned(spark, root).collect()) == [1, 2, 3, 4]


def test_run_available_now_raises_when_drain_times_out(spark, scratch):
    """A drain that cannot finish within the timeout raises instead of
    returning a query that is still running."""
    from dynamic_etl_spark.streaming import file_stream, run_available_now

    feed = scratch / "feed"
    spark.range(10).coalesce(1).write.parquet(str(feed / "a.parquet"))
    stream = file_stream(spark, str(feed / "*.parquet"),
                         spark.range(0).schema)
    try:
        with pytest.raises(TimeoutError, match="did not drain"):
            run_available_now(stream, str(scratch / "ckpt"),
                              query_name="never_drains", output_mode="append",
                              timeout_sec=0.001)
    finally:
        for query in spark.streams.active:
            if query.name == "never_drains":
                query.stop()


def test_streaming_curation_two_files_matches_shared_gate(spark, scratch):
    """Two tiny files through run_streaming_curation (one per trigger):
    the ledger matches hand-pinned labels for every tier, and batch 1's
    attribution equals ops/gate.curation_gate run over the state batch 0
    committed (version 0 of every table)."""
    from dynamic_etl_spark.io.versioned import read_versioned
    from dynamic_etl_spark.ops.ann import centers_from_rows
    from dynamic_etl_spark.ops.gate import curation_gate
    from dynamic_etl_spark.streaming import file_stream, run_streaming_curation

    feed = scratch / "feed"
    b0 = [
        (1, _sentence(1), [1.0, 0.0, 0.0, 0.0]),
        (2, _sentence(2), [0.0, 1.0, 0.0, 0.0]),
        (3, _sentence(1, " x"), [0.0, 0.0, 1.0, 0.0]),   # lexical ~ 1
    ]
    b1 = [
        (10, "  " + _sentence(2).upper() + " ", None),    # exact copy of 2
        (11, _sentence(1, " y"), None),                   # lexical ~ 1
        (12, _sentence(42), [0.001, 1.0, 0.0, 0.0]),      # semantic ~ 2
        (13, _sentence(88), [1.0, 1.0, 1.0, 1.0]),        # fresh
        (14, _sentence(99), None),                        # no embedding
    ]
    for name, rows in (("b0", b0), ("b1", b1)):
        spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(
            str(feed / f"{name}.parquet"))
    roots = {f"{t}_root": str(scratch / t)
             for t in ("corpus", "fp", "lex", "sem", "centers", "ledger")}
    schema = spark.createDataFrame([], _SCHEMA).schema
    run_streaming_curation(
        file_stream(spark, str(feed / "*.parquet"), schema,
                    max_files_per_trigger=1),
        **roots, checkpoint_dir=str(scratch / "ckpt"),
        id_col="doc_id", text_col="text", vec_col="vec",
    )

    ledger = {
        r["doc_id"]: (r["admitted"], r["rejected_by"], r["batch_id"])
        for r in read_versioned(spark, roots["ledger_root"]).collect()
    }
    assert ledger == {
        1: (True, "none", 0),
        2: (True, "none", 0),
        3: (False, "lexical", 0),
        10: (False, "exact", 1),
        11: (False, "lexical", 1),
        12: (False, "semantic", 1),
        13: (True, "none", 1),
        14: (True, "none", 1),
    }
    corpus_ids = {r["doc_id"] for r in
                  read_versioned(spark, roots["corpus_root"]).collect()}
    assert corpus_ids == {1, 2, 13, 14}

    v0 = lambda name: read_versioned(spark, roots[f"{name}_root"], 0)
    embedded = lambda df: df.filter(F.col("vec").isNotNull()).select("doc_id", "vec")
    batch = spark.createDataFrame(b1, _SCHEMA)
    # the registry's layout: embeddings as separate (id, vec) rows
    gate = curation_gate(
        batch.select("doc_id", "text"), v0("corpus"), id_col="doc_id", text_col="text",
        store_fp=v0("fp").select("__fp").distinct(), lex_store=v0("lex"),
        vec_col="vec", corpus_emb=embedded(v0("corpus")),
        batch_emb=embedded(batch),
        centers=centers_from_rows(v0("centers")), sem_store=v0("sem"),
    )
    assert {
        r["doc_id"]: (r["admitted"], r["rejected_by"], 1)
        for r in gate["attribution"].collect()
    } == {d: row for d, row in ledger.items() if row[2] == 1}


def test_extra_conf_env_rejects_pair_without_equals(monkeypatch):
    from dynamic_etl_spark.session import _env_conf, get_spark

    assert _env_conf(" a.b = 1 ;; c=") == [("a.b", "1"), ("c", "")]
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.sql.ansi.enabled")
    with pytest.raises(ValueError, match="not a key=value pair"):
        get_spark()
    with pytest.raises(ValueError, match="not a key=value pair"):
        _env_conf("=1")
