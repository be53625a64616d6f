"""End-to-end acceptance tests (BASELINE.md targets).

- blocking pair-recall on planted duplicates
- pairwise F1 ≥ 0.99 on labeled pairs sharing a blocking key
- kill-and-rerun resume: identical final cluster table (FIXTURES.md §4),
  also from a root whose metrics carry no stage schema
- the stage commit contract: lineage = per-file row counts of the committed
  table; reading a committed stage launches no Spark job
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from entity_matchers_spark.corpus import labeled_pairs, web_pages
from entity_matchers_spark.operators import blocking, scoring
from entity_matchers_spark.operators.evaluation import pairwise_f1_from_clusters
from entity_matchers_spark.plans.pipeline import CheckpointedPipeline, PipelineConfig

N_ENTITIES = 250


@pytest.fixture(scope="module")
def corpus(spark):
    pages = web_pages(spark, N_ENTITIES).localCheckpoint()
    labels = labeled_pairs(spark, N_ENTITIES).withColumnRenamed("id_a", "id_a").localCheckpoint()
    return pages, labels


def test_blocking_recall_on_planted_duplicates(spark, corpus):
    pages, labels = corpus
    docs = pages.select(F.col("page_id").alias("id"), "url", "text")
    mh = blocking.minhash_block_keys(docs, "id", "text")
    metrics = blocking.blocking_metrics(mh, labels.where("label = 1")).first()
    assert metrics.pair_recall >= 0.98, metrics
    assert metrics.max_block is not None


def test_pairwise_f1_on_labeled_same_block_pairs(spark, corpus):
    """The BASELINE.json acceptance metric: score labeled pairs that share a
    blocking key, threshold, F1 ≥ 0.99."""
    pages, labels = corpus
    docs = pages.select(F.col("page_id").alias("id"), "text")
    blocks = blocking.minhash_block_keys(docs, "id", "text")
    cands = blocking.candidate_pairs(blocks, max_block_size=64)
    same_block = labels.join(cands, ["id_a", "id_b"], "left_semi")
    scored = scoring.score_pairs(same_block, docs)
    labeled_scored = scored.join(labels.select("id_a", "id_b", "label"), ["id_a", "id_b"])
    threshold, f1 = scoring.fit_threshold(labeled_scored)
    assert f1 >= 0.99, (threshold, f1)


@pytest.fixture(scope="module")
def full_run(spark, corpus, tmp_path_factory):
    """One uninterrupted pipeline run: (pipeline, sorted cluster rows)."""
    pages, _ = corpus
    root = str(tmp_path_factory.mktemp("pipe_full"))
    pipe = CheckpointedPipeline(spark, root, PipelineConfig())
    rows = sorted(tuple(r) for r in pipe.run(pages).collect())
    yield pipe, rows
    shutil.rmtree(root, ignore_errors=True)


def _with_jobs(spark, action):
    """``action()``'s result and the ids of the Spark jobs it launched, from
    the status tracker (the listener bus is drained so every finished job
    is recorded)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = action()
    bus.waitUntilEmpty()
    return out, set(sc.statusTracker().getJobIdsForGroup()) - before


def test_pipeline_commit_contract(spark, full_run):
    """Every stage's lineage equals an independent per-file count of its
    committed table, and reading a committed stage launches no Spark job."""
    pipe, _ = full_run
    for stage in pipe.STAGES:
        path = pipe._path(stage)
        with open(f"{pipe.root}/_metrics/{stage}.json") as f:
            metrics = json.load(f)
        per_file = {
            os.path.basename(r.file): r.n
            for r in spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("file"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        files = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        expected = {str(int(f.split("-")[1])): per_file.get(f, 0) for f in files}
        assert metrics["partition_rows"] == expected, stage
        assert metrics["partitions"] == len(expected), stage
        assert metrics["rows"] == sum(per_file.values()), stage

        inferred, jobs = _with_jobs(spark, lambda: spark.read.parquet(path))
        assert jobs, "the probe must see the job a schema-less read launches"
        read, jobs = _with_jobs(spark, lambda: pipe.read(stage))
        assert jobs == set(), stage
        assert read.schema == inferred.schema, stage


def test_pipeline_resume_identical(spark, corpus, full_run, tmp_path_factory):
    pages, labels = corpus
    full_pipe, full_rows = full_run
    root_b = str(tmp_path_factory.mktemp("pipe_b"))
    cfg = PipelineConfig()

    # killed-after-stage-3 run: execute through 'scores', blow away nothing,
    # then resume with a FRESH pipeline object
    p1 = CheckpointedPipeline(spark, root_b, cfg)
    p1.run(pages, through="scores")
    assert p1.is_committed("scores") and not p1.is_committed("matches")
    # a root written before stage schemas were recorded: reads fall back to
    # schema inference
    for stage in ("extract", "blocks", "pairs", "scores"):
        metrics_path = f"{root_b}/_metrics/{stage}.json"
        with open(metrics_path) as f:
            metrics = json.load(f)
        del metrics["schema"]
        with open(metrics_path, "w") as f:
            json.dump(metrics, f)
    resumed = CheckpointedPipeline(spark, root_b, cfg).run(pages)
    resumed_rows = sorted(tuple(r) for r in resumed.collect())

    assert full_rows == resumed_rows

    # cluster quality vs planted truth on the full run
    truth = labels.where("label = 1").select("id_a", "id_b")
    r = pairwise_f1_from_clusters(full_pipe.read("clusters"), truth).first()
    assert r.f1 >= 0.99, (r.tp, r.n_align, r.n_truth, r.f1)

    shutil.rmtree(root_b, ignore_errors=True)
