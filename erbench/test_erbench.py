"""Tests of the benchmark itself. Run from the checkout root:

    python3 -m pytest erbench/test_erbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from procs import PeakPss, pss_kb, session, stop, tree  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_planted_generator_is_seeded():
    a, b = gen.planted_pages(40, 3), gen.planted_pages(40, 3)
    assert a == b
    other = gen.planted_pages(40, 4)
    assert {r["page_id"] for r in a}.isdisjoint(r["page_id"] for r in other)
    assert [r["html"] for r in a] != [r["html"] for r in other]


def test_planted_corpus_size_is_fixed_across_seeds():
    for seed in range(5):
        rows = gen.planted_corpus(350, seed)
        assert 350 <= len(rows) <= 355
        assert rows == gen.planted_pages(len({r["entity_id"] for r in rows}), seed)


def test_planted_seed0_reproduces_corpus_web_pages(tmp_path):
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    from entity_matchers_spark.corpus import web_pages

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        cols = [f.name for f in gen.PAGE_SCHEMA]
        want = sorted(tuple(r) for r in web_pages(spark, 60).select(*cols).collect())
        path = str(tmp_path / "pages.parquet")
        gen.write_pages(gen.planted_pages(60, 0), path)
        got = sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())
    finally:
        spark.stop()
    assert got == want


def _clusters(tmp_path, rows) -> str:
    path = str(tmp_path / "clusters.parquet")
    pq.write_table(pa.table({
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "cluster_id": pa.array([r[1] for r in rows], pa.int64()),
    }), path)
    return path


PAGES = pa.table({"page_id": pa.array([1, 2, 3, 4], pa.int64())})


def test_cluster_checks_accept_a_valid_table(tmp_path):
    assert checks.cluster_problems(_clusters(tmp_path, [(1, 1), (2, 1), (3, 3), (4, 3)]), PAGES) == []


@pytest.mark.parametrize("rows", [
    [(1, 1), (2, 1), (3, 3)],  # page 4 lost
    [(1, 1), (2, 1), (3, 3), (4, 3), (4, 4)],  # page 4 in two clusters
    [(1, 2), (2, 2), (3, 3), (4, 3)],  # cluster not named by its minimum
    [(1, 1), (2, 1), (3, 3), (4, 3), (9, 9)],  # id that is no input page
])
def test_cluster_checks_reject_a_corrupted_table(tmp_path, rows):
    assert checks.cluster_problems(_clusters(tmp_path, rows), PAGES)


def test_cluster_digest_sees_a_moved_page(tmp_path):
    a = checks.cluster_digest(_clusters(tmp_path, [(1, 1), (2, 1), (3, 3), (4, 3)]))
    b = checks.cluster_digest(_clusters(tmp_path, [(1, 1), (2, 1), (3, 3), (4, 4)]))
    assert a != b


def _fake_checkout(root) -> None:
    (root / "entity_matchers_spark").mkdir()
    (root / "entity_matchers_spark" / "__init__.py").write_text("VERSION = 1\n")
    (root / "jobs").mkdir()
    (root / "jobs" / "run_pipeline.py").write_text("")
    (root / "__spark_entry__.py").write_text("")


def test_records_are_keyed_by_the_code_under_test(tmp_path):
    _fake_checkout(tmp_path)
    old = run.Run(str(tmp_path), "pipeline-planted", 0)
    old.record("input-a", {"wall_s": 40.0, "digest": "d-old"})
    old.close()
    same = run.Run(str(tmp_path), "pipeline-planted", 1)
    assert [r["wall_s"] for r in same.records("input-a")] == [40.0]
    assert same.records("input-b") == []
    assert same.digest_problems("input-a", "d-new"), "same code, same input, other output"
    same.close()
    # a changed program's output may differ from what the old code committed
    (tmp_path / "entity_matchers_spark" / "__init__.py").write_text("VERSION = 2\n")
    changed = run.Run(str(tmp_path), "pipeline-planted", 0)
    assert changed.records("input-a") == []
    assert changed.digest_problems("input-a", "d-new") == []
    changed.close()


def test_pairwise_f1(tmp_path):
    truth = pa.table({"page_id": pa.array([1, 2, 3, 4], pa.int64()),
                      "entity_id": pa.array([0, 0, 1, 1], pa.int64())})
    assert checks.pairwise_f1(_clusters(tmp_path, [(1, 1), (2, 1), (3, 3), (4, 3)]), truth) == 1.0
    # one true pair found, one false pair added: precision 1/2, recall 1/2
    f1 = checks.pairwise_f1(_clusters(tmp_path, [(1, 1), (2, 1), (3, 3), (4, 1)]), truth)
    assert f1 == pytest.approx(2 * 1 / (3 + 2))


def test_query_check_is_order_insensitive_and_rejects_mismatches():
    cols, rows = ["id_a", "score"], [(1, 0.5), (2, 0.25)]
    assert checks.query_problems(ROOT, cols, rows, ["score", "id_a"], [(0.25, 2), (0.5, 1)]) == []
    assert checks.query_problems(ROOT, cols, rows, cols, [(1, 0.5), (2, 0.2500001)])
    assert checks.query_problems(ROOT, cols, rows, cols, [(1, 0.5)])
    assert checks.query_problems(ROOT, cols, rows, ["id_a", "sim"], rows)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_pss_tree_walks_processes_not_threads():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in tree(os.getpid())
        sampler = PeakPss(os.getpid())
        peak = sampler.stop()
        own = pss_kb(os.getpid()) / 1024
        assert 0 < own <= peak < 4 * own
    finally:
        child.kill()
        child.wait()


def test_stop_ends_the_whole_session():
    # the child starts a grandchild that outlives it
    proc = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'])"],
        start_new_session=True,
    )
    proc.wait(timeout=30)
    assert session(proc.pid), "the grandchild is still running"
    stop(proc)
    assert session(proc.pid) == []


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "erbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "erbench/run.py", "--workload", "pipeline-planted", "--seed", "0",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
