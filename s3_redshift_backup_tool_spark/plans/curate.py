"""End-to-end training-corpus curation plan.

Composes the LLM-data operators into the pipeline a 100 TB pretraining
corpus actually runs, in the cost-ordered sequence cheap-narrow ->
expensive-wide:

    0. rule gate          Gopher per-row rules (optional) — the cheapest
                          filter runs first so every later stage sees
                          fewer rows; pure codegen, zero shuffle
    1. exact dedup        digest groupBy (shuffle = 32B/row)
    2. near-dup dedup     MinHash -> LSH pairs -> connected components;
                          keep each component's canonical (min-id) doc
    3. quality filter     repetition signals + composite quality score —
                          pure narrow expressions, run AFTER dedup so the
                          expensive stages above see fewer rows... but
                          BEFORE would also be valid; dedup first keeps
                          the canonical-doc choice independent of quality
    3.8 DSIR selection    (optional) keep docs whose hashed-ngram
                          target-vs-raw log-likelihood ratio clears a
                          floor — domain-targeted selection (Xie'23)
                          on top of the domain-agnostic quality gates
    4. decontamination    drop train docs whose shingles overlap the
                          held-out eval corpus above a threshold
    5. per-source caps    deterministic stratified contribution limits
    6. sequence packing   token-budget pack ids, bucket-parallel
    7. shard write        partitioned by pack bucket -> each training
                          shard is one directory, maxRecordsPerFile
                          bounds shard file sizes

Every stage is a DataFrame transform from ``operators/``; nothing here
collects data to the driver. The plan returns per-stage surviving-row
counts. Each counted stage is materialized once: its survivors are
lazily localCheckpoint'd and the stage's count() is the action that
fills the checkpoint, so the count adds no job and every later stage
(and its counts, ``fan_out`` partition probes and the shard write)
reads the cut lineage instead of re-running the funnel above it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import text as tx
from ..operators.sampling import pack_sequences


@dataclass
class CurationResult:
    counts: dict[str, int] = field(default_factory=dict)
    out_path: str | None = None


def _materialize(res: CurationResult, stage: str,
                 docs: DataFrame) -> DataFrame:
    """Cut ``docs``' lineage at a stage boundary and record its count;
    the count is the action that fills the checkpoint."""
    docs = docs.localCheckpoint(eager=False)
    res.counts[stage] = docs.count()
    return docs


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    *,
    out_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str | None = "source",
    gopher_min_words: int | None = None,
    minhash_hashes: int = 16,
    minhash_bands: int = 8,
    lsh_max_bucket_size: int | None = 64,
    min_quality: float = 0.3,
    classifier_weights: list[float] | None = None,
    classifier_min_p: float | None = None,
    dsir_target=None,
    dsir_min_avg_logratio: float | None = None,
    dsir_buckets: int = 4096,
    contamination_threshold: float = 0.5,
    per_source_cap: int | None = None,
    scrub_pii_text: bool = False,
    pack_budget: int = 2048,
    pack_buckets: int = 32,
    max_records_per_file: int | None = None,
) -> CurationResult:
    """Run the full curation pipeline; see module docstring for stages."""
    res = CurationResult(out_path=out_path)
    res.counts["input"] = docs.count()

    # -- 0. Gopher rule gate (optional): per-row codegen filter, so the
    # dedup shuffles below see only rule-passing docs -----------------------
    if gopher_min_words is not None:
        keep = (tx.gopher_rules(docs, text_col, id_col,
                                min_words=gopher_min_words)
                  .filter(F.col("gopher_keep")).select(id_col))
        docs = docs.join(keep, id_col, "left_semi")
        docs = _materialize(res, "rule_gate", docs)

    # -- 1. exact dedup ---------------------------------------------------
    canon = dd.exact_dedup(docs, text_col, id_col).select(
        F.col("canonical_id").alias(id_col))
    docs = docs.join(canon, id_col, "left_semi")
    docs = _materialize(res, "exact_dedup", docs)

    # -- 2. near-dup components -------------------------------------------
    # lsh_max_bucket_size is NON-None by default: the production plan
    # must never reach an uncapped b^2/2 candidate generator — one
    # boilerplate band bucket at web scale would dominate the whole job.
    # Passing None is the explicit opt-in for exactness studies
    # (tests/test_scale_fences.py pins this contract).
    pairs = dd.lsh_pairs(docs, text_col, id_col,
                         num_hashes=minhash_hashes, bands=minhash_bands,
                         max_bucket_size=lsh_max_bucket_size)
    comp = dd.neardup_components(pairs, pairs_distinct=True)
    # docs in no component are unique; component members survive only if
    # they ARE the component label (min id = canonical)
    dupes = comp.filter(F.col(id_col) != F.col("component")).select(id_col)
    docs = docs.join(dupes, id_col, "left_anti")
    docs = _materialize(res, "near_dedup", docs)

    # -- 3. quality filter -------------------------------------------------
    rep = tx.repetition_signals(docs, text_col, id_col)
    keep_rep = rep.filter(F.col("repetition_ok")).select(id_col)
    docs = (docs.join(keep_rep, id_col, "left_semi")
                .filter(tx.quality_score(F.col(text_col)) >= min_quality))
    docs = _materialize(res, "quality", docs)

    # -- 3.5 learned classifier gate (optional): score the surface
    # features under externally-trained logistic weights (train with
    # classifier.logreg_train on a hash-gate sample; pick the threshold
    # off classifier.logreg_pr_curve — e.g. max recall at the precision
    # floor). A narrow codegen projection + filter, no shuffle ----------
    if classifier_weights is not None and classifier_min_p is not None:
        from ..operators.classifier import logreg_score, surface_features

        scored = logreg_score(surface_features(docs, text_col),
                              classifier_weights, ["f1", "f2", "f3"])
        docs = (scored.filter(F.col("p_quality") >= classifier_min_p)
                      .drop("f1", "f2", "f3", "p_quality"))
        docs = _materialize(res, "classifier_gate", docs)

    # -- 3.8 DSIR domain-targeted selection (optional): keep docs whose
    # per-token hashed-ngram log-likelihood ratio vs the target domain
    # clears the floor. Runs AFTER the domain-agnostic gates so the LM
    # fit and the explode+count shuffle see only surviving rows; the
    # weight frame joins back as a left-semi on the id (the LM itself
    # is an O(dsir_buckets) broadcast — see text.dsir_logratio) --------
    if dsir_target is not None and dsir_min_avg_logratio is not None:
        w = tx.dsir_logratio(docs, dsir_target, text_col, id_col,
                             n_buckets=dsir_buckets)
        keep_ids = (w.filter(F.col("avg_logratio")
                             >= float(dsir_min_avg_logratio))
                     .select(id_col))
        docs = docs.join(keep_ids, id_col, "left_semi")
        docs = _materialize(res, "dsir_selected", docs)

    # -- 4. decontamination vs the eval corpus -----------------------------
    if eval_docs is not None:
        # direction: protect the BENCHMARK — a train doc overlapping any
        # eval doc's shingles is dropped (overlap computed per train doc
        # against the eval shingle set)
        overlap = dd.decontaminate_overlap(
            docs, eval_docs, text_col, id_col,
            threshold=contamination_threshold)
        contaminated = overlap.filter(F.col("contaminated")).select(id_col)
        docs = docs.join(contaminated, id_col, "left_anti")
        docs = _materialize(res, "decontaminated", docs)

    # -- 5. per-source contribution caps -----------------------------------
    if per_source_cap is not None and source_col is not None:
        docs = tx.stratified_sample(docs, source_col, per_source_cap, id_col)
        docs = _materialize(res, "source_capped", docs)

    # -- 5.5 PII redaction (narrow regexp chain; BEFORE packing so token
    # budgets count the text that actually ships) --------------------------
    if scrub_pii_text:
        docs = docs.withColumn(text_col, tx.scrub_pii(F.col(text_col)))

    # -- 6. sequence packing ------------------------------------------------
    packed = pack_sequences(docs, id_col,
                            F.size(F.split(F.col(text_col), " ")),
                            budget=pack_budget, buckets=pack_buckets)
    out = docs.join(packed.select(id_col, "n_tokens", "bucket", "pack_id"),
                    id_col)
    out = _materialize(res, "packed", out)

    # -- 7. shard write ------------------------------------------------------
    if out_path is not None:
        writer = (out.repartition(pack_buckets, F.col("bucket"))
                  .write.mode("overwrite").partitionBy("bucket"))
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile",
                                   int(max_records_per_file))
        writer.parquet(out_path)
        res.counts["shards"] = len([d for d in os.listdir(out_path)
                                    if d.startswith("bucket=")])
    return res
