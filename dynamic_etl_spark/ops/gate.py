"""The composed curation admission gate: exact-fingerprint, banded-MinHash
lexical, SemDeDup semantic and (optionally) DSIR quality admission of a
batch against an already-curated corpus, with per-doc tier attribution.

One definition serves both maintained forms — the registry's composed
gate queries (registry/curation) and the streaming curation sink
(streaming/sink.run_streaming_curation) — so a batch admitted through
either sees the same tiers, the same survivor sets and the same labels.
Callers own the state (the persistent stores and the frozen fits) and
what to do with the outputs; this function only composes the tier ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curation_gate(
    batch: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    text_col: str,
    store_fp: DataFrame,
    lex_store: DataFrame,
    lex_threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hash_mode: str = "xxhash",
    vec_col: str | None = None,
    corpus_emb: DataFrame | None = None,
    batch_emb: DataFrame | None = None,
    centers=None,
    sem_store: DataFrame | None = None,
    sem_threshold: float = 0.95,
    n_cells: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    dsir_ratios: DataFrame | None = None,
    dsir_min_log_weight=None,
) -> dict:
    """Admit ``batch`` (``id_col``, ``text_col`` rows) into ``corpus``:

    1. exact — drop batch docs whose normalized-text fingerprint is in
       ``store_fp`` (a ``__fp`` column), keep the MIN id of every
       within-batch fingerprint group;
    2. lexical — ops/lsh.incremental_near_dup_merge of the tier-1
       survivors against the signature store ``lex_store``;
    3. semantic (``vec_col`` given) — ops/ann.incremental_semantic_merge
       of the tier-2 survivors that have an embedding against
       ``sem_store`` under the frozen ``centers`` (``corpus_emb``: the
       corpus's (``id_col``, ``vec_col``) rows); survivors without an
       embedding pass through. The batch's vectors are a nullable
       ``vec_col`` of its own rows, or separate (``id_col``, ``vec_col``)
       rows in ``batch_emb``;
    4. quality (``dsir_ratios`` given) — ops/quality.dsir_gate of the
       semantic survivors against the frozen ratio table.

    Each dedup tier applies the shared rule (ops/graph.admit_batch):
    reject on any store hit, keep the MIN id of a within-batch group.

    Attribution: the survivor sets are strictly NESTED (batch ⊇ tier 1
    ⊇ tier 2 ⊇ ...), so the tier that rejected a doc is the one after the
    LAST set it reached — one tagged union and a ``max`` aggregate
    instead of a flag join per tier. ``rejected_by`` is one of exact,
    lexical, semantic, quality (only for the tiers that ran) or none.

    Returns ``{"attribution": (id_col, admitted, rejected_by) per batch
    doc, unordered; "fingerprints": (id_col, __fp) of the batch;
    "new_banded": tier 2's signature rows; "new_assigned": tier 3's
    store rows, or None}`` — the store deltas are the tier ops' outputs
    for THEIR survivors; a caller persisting them filters each to the
    final admitted set. No Spark action runs here beyond the tier ops'
    own and the tier-1/2 (and tier-3 survivor, with DSIR) checkpoints.
    """
    from dynamic_etl_spark.ops.ann import incremental_semantic_merge
    from dynamic_etl_spark.ops.lsh import incremental_near_dup_merge
    from dynamic_etl_spark.ops.quality import dsir_gate
    from dynamic_etl_spark.ops.text import fingerprint_md5

    # survivors[i] are the docs that passed i tiers; labels[i] names the
    # tier that rejects a doc whose last surviving set is survivors[i]
    survivors, labels = [batch], []

    fingerprints = batch.select(
        id_col, fingerprint_md5(F.col(text_col)).alias("__fp")
    )
    keep1 = (
        fingerprints.join(store_fp, "__fp", "left_anti")
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    s1 = batch.join(keep1, id_col, "leftsemi").localCheckpoint()
    survivors.append(s1)
    labels.append("exact")

    out2 = incremental_near_dup_merge(
        corpus, s1, id_col, text_col,
        threshold=lex_threshold, num_hashes=num_hashes, bands=bands,
        shingle_k=shingle_k, existing_banded=lex_store, hash_mode=hash_mode,
    )
    s2 = out2["accepted"].localCheckpoint()
    survivors.append(s2)
    labels.append("lexical")

    new_assigned = None
    if vec_col is not None:
        # two layouts, because a join is not free here: every re-execution
        # of the survivor split pays its broadcast job, and a join's size
        # estimate (the product of its sides) pushes the stream sink's
        # admitted-set joins off broadcast — measured 79 vs 91 Spark jobs
        # per steady stream batch; the registry's embeddings are a
        # separate table, and joining them onto the batch up front would
        # add a job to its pinned budget
        if batch_emb is None:
            embedded = s2.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)
            no_emb = s2.filter(F.col(vec_col).isNull()).select(id_col)
        else:
            embedded = s2.join(batch_emb, id_col).select(id_col, vec_col)
            no_emb = s2.join(batch_emb, id_col, "left_anti").select(id_col)
        out3 = incremental_semantic_merge(
            corpus_emb, embedded, id_col, vec_col,
            threshold=sem_threshold, n_cells=n_cells, n_probe=n_probe,
            seed=seed, centers=centers, existing_assigned=sem_store,
        )
        new_assigned = out3["new_assigned"]
        survivors.append(out3["accepted"].select(id_col).unionByName(no_emb))
        labels.append("semantic")

    if dsir_ratios is not None:
        # two consumers of the dedup survivor set (the DSIR scoring input
        # and the attribution spine) — checkpoint the seam
        s3 = (
            batch.join(survivors[-1], id_col, "leftsemi")
            .select(id_col, text_col)
            .localCheckpoint()
        )
        survivors[-1] = s3
        passed = dsir_gate(
            s3, dsir_ratios, id_col=id_col, text_col=text_col,
            min_log_weight=dsir_min_log_weight,
        )
        survivors.append(passed.filter(F.col("passes")).select(id_col))
        labels.append("quality")

    labels.append("none")
    spine = survivors[0].select(id_col, F.lit(0).alias("__tier"))
    for i, frame in enumerate(survivors[1:], start=1):
        spine = spine.unionByName(frame.select(id_col, F.lit(i).alias("__tier")))
    top = len(survivors) - 1
    reached = F.col("__tier")
    label = F.lit(labels[0])
    for i in range(1, top + 1):
        label = F.when(reached == i, F.lit(labels[i])).otherwise(label)
    attribution = (
        spine.groupBy(id_col)
        .agg(F.max("__tier").alias("__tier"))
        .select(id_col, (reached == top).alias("admitted"), label.alias("rejected_by"))
    )
    return {
        "attribution": attribution,
        "fingerprints": fingerprints,
        "new_banded": out2["new_banded"],
        "new_assigned": new_assigned,
    }
