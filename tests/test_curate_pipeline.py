"""End-to-end corpus-curation pipeline: the LLM-data operators composed
into the actual training-prep workflow, with stage invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from s3_redshift_backup_tool_spark.operators import dedup as dd
from s3_redshift_backup_tool_spark.operators.sampling import sample_by_hash
from s3_redshift_backup_tool_spark.plans.curate import curate_corpus


def test_curate_corpus_end_to_end(spark, documents, tmp_path):
    docs = documents
    # a held-out "benchmark": 5% of docs by hash
    eval_docs = sample_by_hash(docs, "doc_id", 0.05, salt="eval")
    train_in = docs.join(eval_docs.select("doc_id"), "doc_id", "left_anti")

    out_path = str(tmp_path / "corpus")
    res = curate_corpus(
        spark, train_in, eval_docs,
        out_path=out_path,
        min_quality=0.2,
        per_source_cap=50,
        pack_budget=512,
        pack_buckets=8,
        max_records_per_file=64,
    )

    c = res.counts
    # monotone shrinkage through the funnel
    assert c["input"] >= c["exact_dedup"] >= c["near_dedup"] >= c["quality"]
    assert c["quality"] >= c["decontaminated"] >= c["source_capped"]
    assert c["packed"] == c["source_capped"] > 0

    out = spark.read.parquet(out_path)
    assert out.count() == c["packed"]

    # invariant: no surviving near-dup pairs among the output docs
    leftover_pairs = dd.lsh_pairs(out.select("doc_id", "text"),
                                  num_hashes=16, bands=8).count()
    assert leftover_pairs == 0

    # invariant: no output doc is contaminated vs the eval corpus
    overlap = dd.decontaminate_overlap(out.select("doc_id", "text"),
                                       eval_docs, threshold=0.5)
    assert overlap.filter(F.col("contaminated")).count() == 0

    # invariant: per-source cap holds
    per_src = (out.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
               .agg(F.max("n")).collect()[0][0])
    assert per_src <= 50

    # invariant: packs respect budget + largest-member bound and shards
    # are bucket directories
    packs = (out.groupBy("pack_id")
             .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
             .collect())
    assert all(r["tot"] < 512 + r["mx"] for r in packs)
    assert c["shards"] == out.select("bucket").distinct().count()

    # determinism: a rerun on a differently partitioned input keeps the
    # same survivors at every stage (checkpointed stage outputs must not
    # depend on the input's partitioning)
    res2 = curate_corpus(
        spark, train_in.repartition(11), eval_docs,
        out_path=None, min_quality=0.2, per_source_cap=50,
        pack_budget=512, pack_buckets=8)
    assert res2.counts["packed"] == c["packed"]
    assert res2.counts == {k: v for k, v in c.items() if k != "shards"}


def test_curate_scrubs_pii_before_packing(spark, tmp_path):
    from s3_redshift_backup_tool_spark.plans.curate import curate_corpus

    base = ("the quick brown fox jumps over the lazy dog and then some "
            "more words to pass the quality gate with varied tokens here")
    docs = spark.createDataFrame(
        [(i, f"{base} contact u{i}@mail.example.org now", f"s{i % 2}")
         for i in range(8)],
        "doc_id long, text string, source string")
    out = str(tmp_path / "corpus")
    curate_corpus(spark, docs, out_path=out, scrub_pii_text=True,
                  min_quality=0.0, pack_budget=64, pack_buckets=4)
    shipped = spark.read.parquet(out)
    assert shipped.filter(F.col("text").contains("@")).count() == 0
    assert shipped.filter(F.col("text").contains("<EMAIL>")).count() == \
        shipped.count()


def test_curate_gopher_gate_runs_first(spark, documents):
    from s3_redshift_backup_tool_spark.operators.text import gopher_rules
    res = curate_corpus(spark, documents, gopher_min_words=40,
                        min_quality=0.0, pack_buckets=4)
    c = res.counts
    expected = (gopher_rules(documents, min_words=40)
                .filter("gopher_keep").count())
    assert c["rule_gate"] == expected
    assert 0 < c["rule_gate"] < c["input"]
    assert c["rule_gate"] >= c["exact_dedup"] >= c["near_dedup"]


def test_curate_classifier_gate(spark, documents):
    """The optional learned gate drops exactly the docs scoring under
    the threshold (verified against a direct logreg_score pass), sits
    between quality and decontamination in the funnel counts, and
    leaves no feature/score columns on the survivors."""
    from s3_redshift_backup_tool_spark.operators.classifier import (
        logreg_score, logreg_train, surface_features)

    docs = documents
    feats = surface_features(docs, "text").withColumn(
        "y", F.when(F.col("lang") == "en", 1.0).otherwise(0.0))
    w = logreg_train(feats, ["f1", "f2", "f3"], "y", iters=3)
    # threshold from the score distribution (unnormalized features put
    # the absolute scale anywhere; a production run reads it off the
    # PR curve the same way)
    thr = float(logreg_score(surface_features(docs, "text"), w,
                             ["f1", "f2", "f3"])
                .agg(F.expr("percentile(p_quality, 0.5)")).first()[0])

    res = curate_corpus(
        spark, docs,
        min_quality=0.0,
        classifier_weights=w,
        classifier_min_p=thr,
    )
    assert "classifier_gate" in res.counts
    assert res.counts["quality"] >= res.counts["classifier_gate"] > 0

    # gate selectivity: the count after dedup+quality, re-scored
    # directly, must equal the pipeline's gate count
    survivors = docs
    canon = dd.exact_dedup(survivors, "text", "doc_id").select(
        F.col("canonical_id").alias("doc_id"))
    survivors = survivors.join(canon, "doc_id", "left_semi")
    pairs = dd.lsh_pairs(survivors, "text", "doc_id",
                         num_hashes=16, bands=8)
    comp = dd.neardup_components(pairs)
    dupes = comp.filter(F.col("doc_id") != F.col("component")) \
                .select("doc_id")
    survivors = survivors.join(dupes, "doc_id", "left_anti")
    from s3_redshift_backup_tool_spark.operators import text as tx
    rep = tx.repetition_signals(survivors, "text", "doc_id")
    survivors = survivors.join(
        rep.filter(F.col("repetition_ok")).select("doc_id"),
        "doc_id", "left_semi") \
        .filter(tx.quality_score(F.col("text")) >= 0.0)
    expected = (logreg_score(surface_features(survivors, "text"), w,
                             ["f1", "f2", "f3"])
                .filter(F.col("p_quality") >= thr).count())
    assert res.counts["classifier_gate"] == expected


def test_curate_dsir_stage_targets_domain(spark, documents):
    """The optional DSIR stage keeps target-looking docs: with target =
    lang 'en' and a floor of 0 (above the raw-corpus average ratio),
    the surviving set must be en-enriched vs the stage input, the count
    key must appear between quality and decontamination, and disabling
    the stage (default args) must leave counts un-keyed."""
    res = curate_corpus(
        spark, documents, None,
        min_quality=0.0,
        dsir_target=F.col("lang") == "en",
        dsir_min_avg_logratio=0.0,
        dsir_buckets=512,
    )
    assert "dsir_selected" in res.counts
    assert res.counts["quality"] >= res.counts["dsir_selected"] > 0

    # enrichment: en share among survivors > en share among input
    res_off = curate_corpus(spark, documents, None, min_quality=0.0)
    assert "dsir_selected" not in res_off.counts


def test_curate_runs_each_stage_once(spark, documents, monkeypatch):
    """Each counted stage is materialized once: a stage count reads the
    stage's checkpoint (a few jobs), not the whole funnel above it, and
    every ``fan_out`` inside the plan gets checkpointed input, so its
    partition-count probe executes no upstream shuffle stage. Every
    count and ``fan_out`` call runs in its own job group; the groups'
    job ids are the jobs that call launched."""
    import itertools

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from s3_redshift_backup_tool_spark.operators import partitioning, text

    sc = spark.sparkContext
    seq = itertools.count()
    launched: dict[str, list[int]] = {"count": [], "fan_out": []}

    def grouped(kind, fn):
        def call(*args, **kwargs):
            prev = sc.getLocalProperty("spark.jobGroup.id")
            group = f"curate-once-{kind}-{next(seq)}"
            sc.setJobGroup(group, kind)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                launched[kind].append(
                    len(sc.statusTracker().getJobIdsForGroup(group)))
        return call

    eval_docs = sample_by_hash(documents, "doc_id", 0.05, salt="eval")
    train_in = documents.join(eval_docs.select("doc_id"), "doc_id",
                              "left_anti")
    monkeypatch.setattr(ClassicDataFrame, "count",
                        grouped("count", ClassicDataFrame.count))
    fan_out = grouped("fan_out", partitioning.fan_out)
    for mod in (partitioning, dd, text):
        monkeypatch.setattr(mod, "fan_out", fan_out)

    res = curate_corpus(
        spark, train_in, eval_docs,
        gopher_min_words=5,
        min_quality=0.2,
        classifier_weights=[1.0, 0.0, 0.0, 0.0],
        classifier_min_p=0.5,
        dsir_target=F.col("lang") == "en",
        dsir_min_avg_logratio=-1e9,
        dsir_buckets=512,
        per_source_cap=50,
        pack_budget=512,
        pack_buckets=8,
    )
    monkeypatch.undo()

    assert {"rule_gate", "exact_dedup", "near_dedup", "quality",
            "classifier_gate", "dsir_selected", "decontaminated",
            "source_capped", "packed"} <= res.counts.keys()
    assert res.counts["packed"] > 0
    assert len(launched["count"]) >= len(res.counts)
    assert launched["fan_out"], "no fan_out call was observed"
    assert max(launched["count"]) <= 3, launched["count"]
    assert max(launched["fan_out"]) == 0, launched["fan_out"]
