#!/usr/bin/env python3
"""Benchmark of the shipped record-linkage pipeline and the registry ER queries.

Run from the root of a checkout:

    python3 erbench/run.py --workload pipeline-planted --seed 0 --seconds 5 --trace 0

Workloads (all on ``local[4]``, one operation at a time, closed loop):

* ``pipeline-planted``: a seeded planted-entity web-page corpus through
  ``spark-submit jobs/run_pipeline.py``, the product as shipped. One
  operation is one pipeline run into a fresh output directory.
* ``registry-er``: the registry's ER query sequence over the fixed sf0.01
  testdata ``documents`` table (a copy is kept in ``erbench/data/sf0.01``),
  one pass in one fresh ``session.get_spark`` process, so every shared
  input is built inside the pass. One operation is one query.

Operations start back to back until ``--seconds`` have passed (at least one
pass). Every output is checked; a failed check counts as a failed
operation. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics untraced
(``--trace 0``), the per-layer metrics from a traced pass (``--trace 1``).
A traced run also writes its spans and per-layer metrics under
``.erbench/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from registry_driver import QUERY_ORDER  # noqa: E402
from procs import PeakPss, stop  # noqa: E402
from spans import layer_fields  # noqa: E402

PLANTED_PAGES = 350
REGISTRY_DATA = os.path.join("erbench", "data", "sf0.01")
MASTER = "local[4]"
OP_TIMEOUT_S = 170.0  # a child process still running after this is killed
STAGES = ("extract", "blocks", "pairs", "scores", "matches", "clusters")
STAGE_FIELDS = (
    "wall_s", "jobs", "task_s", "cpu_s", "offcpu_s",
    "shuffle_write_bytes", "spill_bytes", "task_skew", "bytes_written",
)
QUERY_FIELDS = STAGE_FIELDS[:-1]
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "pages_per_s": "pages/s",
    "pairwise_f1": "ratio", "peak_pss_mb": "MB",
}
SOURCES = ("jobs/run_pipeline.py", "__spark_entry__.py", "tools/check_correctness.py",
           "entity_matchers_spark/__init__.py")
PACKAGE = "entity_matchers_spark"


def _package_files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, name), root)
        for d, _, files in os.walk(os.path.join(root, PACKAGE))
        for name in files if name.endswith(".py")
    )


def code_key(root: str) -> str:
    """sha256 of the code under test: the package, the shipped pipeline
    entry point and the registry's driver contract."""
    h = hashlib.sha256()
    for rel in _package_files(root) + ["jobs/run_pipeline.py", "__spark_entry__.py"]:
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def file_key(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit; a workload reports 0 for
    the layers it does not reach."""
    def unit(field: str) -> str:
        if field.endswith("bytes") or field == "bytes_written":
            return "bytes"
        return {"jobs": "count", "task_skew": "ratio"}.get(field, "s")

    units = {f"{s}.{f}": unit(f) for s in STAGES for f in STAGE_FIELDS}
    units.update({
        "pairs.per_page": "pairs/page", "pairs.recall": "ratio",
        "scores.pairs_per_s": "pairs/s", "scores.tslr_exact_share": "ratio",
        "matches.yield": "ratio", "clusters.max_size": "pages",
    })
    units.update({f"{q}.{f}": unit(f) for q in QUERY_ORDER for f in QUERY_FIELDS})
    units.update({
        "session.setup_s": "s", "trace.wall_s": "s",
        "trace.overhead_s": "s", "trace.coverage": "ratio",
    })
    return units


class Run:
    """State of one benchmark invocation: checkout paths, operation counts
    and the problems found.

    Records of earlier operations (``.erbench/records``) outlive the run;
    each is keyed by the code under test and the input, and only records
    with this run's code key are read back."""

    def __init__(self, root: str, workload: str, seed: int):
        self.root, self.workload, self.seed = root, workload, seed
        self.code = code_key(root)
        self.state = os.path.join(root, ".erbench")
        self.work = os.path.join(self.state, f"work-{os.getpid()}")
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        os.makedirs(self.work)
        # keep Spark's, Python's and the JVM's scratch files inside the checkout
        tmp = os.path.join(self.work, "tmp")
        self.env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
                        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        os.makedirs(self.env["SPARK_LOCAL_DIRS"])

    def build(self) -> str:
        """Zip the package from source for ``--py-files``."""
        path = os.path.join(self.work, "emspark.zip")
        with zipfile.ZipFile(path, "w") as z:
            for rel in _package_files(self.root):
                z.write(os.path.join(self.root, rel), rel)
        return path

    def launch(self, cmd: list[str], env: dict[str, str]) -> tuple[int, float, float]:
        """Run one child to completion, sampling its process tree's peak PSS.
        Returns (exit code, launch time, peak MB); a child running longer
        than ``OP_TIMEOUT_S`` is killed, and whatever it leaves running is
        stopped before this returns."""
        with open(os.path.join(self.work, "child.log"), "ab") as log:
            launched = time.time()
            proc = subprocess.Popen(cmd, cwd=self.root, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            sampler = PeakPss(proc.pid)
            try:
                proc.wait(timeout=OP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                pass
            finally:
                peak = sampler.stop()
                stop(proc)
        return proc.returncode, launched, peak

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)

    def child_log_tail(self, lines: int = 30) -> str:
        with open(os.path.join(self.work, "child.log"), errors="replace") as f:
            return "".join(f.readlines()[-lines:])

    def records(self, input_key: str) -> list[dict]:
        """Earlier operations of this workload on the same code and input."""
        path = os.path.join(self.state, "records", f"{self.workload}.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            entries = [json.loads(line) for line in f if line.strip()]
        return [e for e in entries if e.get("code") == self.code and e.get("input") == input_key]

    def record(self, input_key: str, entry: dict) -> None:
        os.makedirs(os.path.join(self.state, "records"), exist_ok=True)
        entry = dict(entry, seed=self.seed, code=self.code, input=input_key)
        with open(os.path.join(self.state, "records", f"{self.workload}.jsonl"), "a") as f:
            f.write(json.dumps(entry) + "\n")

    def digest_problems(self, input_key: str, digest: str) -> list[str]:
        """The output digest must equal every earlier one on the same code
        and input."""
        if {r["digest"] for r in self.records(input_key)} - {digest}:
            return ["cluster digest differs from an earlier run of this code on the same input"]
        return []

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# --- pipeline-planted --------------------------------------------------------


class Pipeline:
    def __init__(self, run: Run):
        self.run = run
        rows = gen.planted_corpus(PLANTED_PAGES, run.seed)
        self.pages = len(rows)
        self.input = os.path.join(run.work, "pages.parquet")
        gen.write_pages(rows, self.input)
        self.input_key = file_key(self.input)
        self.truth = pa.table({
            "page_id": pa.array([r["page_id"] for r in rows], pa.int64()),
            "entity_id": pa.array([r["entity_id"] for r in rows], pa.int64()),
        })
        self.zip = run.build()
        self.n_ops = 0

    def _out(self) -> str:
        self.n_ops += 1
        return os.path.join(self.run.work, f"out{self.n_ops}")

    def _check(self, out: str) -> tuple[list[str], str]:
        glob = os.path.join(out, "clusters", "*.parquet")
        problems = checks.cluster_problems(glob, self.truth.select(["page_id"]))
        digest = checks.cluster_digest(glob)
        return problems + self.run.digest_problems(self.input_key, digest), digest

    def op(self) -> dict | None:
        """One shipped pipeline run; metrics or None when it failed."""
        r = self.run
        out = self._out()
        cmd = ["spark-submit", "--master", MASTER, "--py-files", self.zip,
               "jobs/run_pipeline.py", "--input", self.input, "--out", out]
        r.attempted += 1
        code, launched, peak = r.launch(cmd, r.env)
        if code != 0:
            r.fail(f"run_pipeline exited with {code}:\n{r.child_log_tail()}")
            return None
        # stage metrics files are written as each stage commits: the extract
        # file's mtime minus its wall is when the pipeline call started
        with open(os.path.join(out, "_metrics", "extract.json")) as f:
            extract_wall = json.load(f)["wall_sec"]
        started = os.stat(os.path.join(out, "_metrics", "extract.json")).st_mtime - extract_wall
        ended = os.stat(os.path.join(out, "_metrics", "clusters.json")).st_mtime
        problems, digest = self._check(out)
        if problems:
            r.fail("; ".join(problems))
            return None
        wall = ended - started
        f1 = checks.pairwise_f1(os.path.join(out, "clusters", "*.parquet"), self.truth)
        r.record(self.input_key, {"wall_s": wall, "digest": digest})
        shutil.rmtree(out, ignore_errors=True)
        return {"setup_s": started - launched, "wall_s": wall,
                "pages_per_s": self.pages / wall, "pairwise_f1": f1, "peak_pss_mb": peak}

    def traced(self) -> tuple[dict[str, float], dict] | None:
        """One traced pass through the benchmark's own stage-by-stage driver:
        its per-layer metrics and spans."""
        r = self.run
        out = self._out()
        trace = os.path.join(r.work, "trace.json")
        r.attempted += 1
        cmd = ["spark-submit", "--master", MASTER, "--py-files", self.zip,
               "erbench/pipeline_driver.py", self.input, out, str(time.time()), trace]
        code, _, _ = r.launch(cmd, r.env)
        if code != 0:
            r.fail(f"traced pipeline driver exited with {code}:\n{r.child_log_tail()}")
            return None
        problems, _ = self._check(out)
        if problems:
            r.fail("; ".join(problems))
            return None
        with open(trace) as f:
            root = json.load(f)
        spans = {s["name"]: s for s in root["children"]}
        metrics: dict[str, float] = {}
        rows = {}
        for stage in STAGES:
            for k, v in layer_fields(spans[stage]).items():
                metrics[f"{stage}.{k}"] = v
            metrics[f"{stage}.bytes_written"] = _dir_bytes(os.path.join(out, stage))
            with open(os.path.join(out, "_metrics", f"{stage}.json")) as f:
                rows[stage] = json.load(f)["rows"]
        metrics.update(self._ratios(out, rows, metrics["scores.wall_s"]))
        metrics["session.setup_s"] = root["setup_s"]
        walls = [spans[s]["end"] - spans[s]["start"] for s in STAGES]
        wall = spans[STAGES[-1]]["end"] - spans[STAGES[0]]["start"]
        metrics["trace.wall_s"] = wall
        metrics["trace.coverage"] = sum(walls) / wall
        return metrics, root

    def _ratios(self, out: str, rows: dict[str, int], scores_wall: float) -> dict[str, float]:
        import duckdb

        con = duckdb.connect()
        con.register("truth", self.truth)
        recall = con.sql(
            f"""
            WITH tp AS (SELECT a.page_id AS id_a, b.page_id AS id_b FROM truth a
                        JOIN truth b ON a.entity_id = b.entity_id AND a.page_id < b.page_id)
            SELECT (SELECT count(*) FROM tp SEMI JOIN read_parquet('{out}/pairs/*.parquet') c
                    ON c.id_a = tp.id_a AND c.id_b = tp.id_b) / greatest(count(*), 1)
            FROM tp
            """
        ).fetchone()[0]
        exact = con.sql(
            f"SELECT avg(CASE WHEN tslr = 1.0 THEN 1 ELSE 0 END) "
            f"FROM read_parquet('{out}/scores/*.parquet')"
        ).fetchone()[0]
        max_size = con.sql(
            f"SELECT max(n) FROM (SELECT count(*) AS n FROM "
            f"read_parquet('{out}/clusters/*.parquet') GROUP BY cluster_id)"
        ).fetchone()[0]
        return {
            "pairs.per_page": rows["pairs"] / self.pages,
            "pairs.recall": recall,
            "scores.pairs_per_s": rows["scores"] / scores_wall,
            "scores.tslr_exact_share": exact or 0.0,
            "matches.yield": rows["matches"] / max(rows["pairs"], 1),
            "clusters.max_size": max_size,
        }


# --- registry-er -------------------------------------------------------------


class Registry:
    def __init__(self, run: Run):
        self.run = run
        self.docs = os.path.join(run.root, REGISTRY_DATA)
        documents = os.path.join(self.docs, "documents.parquet")
        # the input of one pass is the table and the queries run over it
        self.input_key = hashlib.sha256(
            (file_key(documents) + repr(QUERY_ORDER)).encode()).hexdigest()
        self.pages = pq.read_metadata(documents).num_rows
        # the Python workers import the package from the checkout
        self.env = dict(run.env, PYTHONPATH=run.root)
        self.oracle = self._oracle()

    def _oracle(self) -> dict[str, tuple[list[str], list[tuple]]]:
        """Oracle rows per query for the fixed input, computed by DuckDB from
        the checkout's ``oracle_sql()`` once per input and oracle SQL and
        kept under ``.erbench/oracle``."""
        import duckdb

        sys.path.insert(0, self.run.root)
        import __spark_entry__

        sqls = {q: __spark_entry__.oracle_sql()[q] for q in QUERY_ORDER}
        key = hashlib.sha256((self.input_key + repr(sorted(sqls.items()))).encode()).hexdigest()
        cache = os.path.join(self.run.state, "oracle", f"{key}.pkl")
        if os.path.exists(cache):
            with open(cache, "rb") as f:
                return pickle.load(f)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.docs}/documents.parquet')")
        result = {}
        for q, sql in sqls.items():
            rel = con.sql(sql)
            result[q] = (rel.columns, rel.fetchall())
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + ".tmp", "wb") as f:
            pickle.dump(result, f)
        os.replace(cache + ".tmp", cache)
        return result

    def _pass(self, trace: str | None) -> dict | None:
        r = self.run
        out = os.path.join(r.work, "registry.pkl")
        if os.path.exists(out):
            os.remove(out)
        r.attempted += len(QUERY_ORDER)
        cmd = [sys.executable, "erbench/registry_driver.py", self.docs, out, str(time.time())]
        code, _, peak = r.launch(cmd + ([trace] if trace else []), self.env)
        if code != 0 or not os.path.exists(out):
            r.fail(f"registry driver exited with {code}:\n{r.child_log_tail()}", len(QUERY_ORDER))
            return None
        with open(out, "rb") as f:
            result = pickle.load(f)
        bad = 0
        for q in QUERY_ORDER:
            got = result["queries"][q]
            problems = [got["error"]] if "error" in got else checks.query_problems(
                r.root, got["cols"], got["rows"], *self.oracle[q])
            if problems:
                bad += 1
                r.problems.append(f"{q}: {problems[0]}")
        if bad:
            r.failed += bad
            return None
        result["peak_pss_mb"] = peak
        return result

    def op(self) -> dict | None:
        result = self._pass(None)
        if result is None:
            return None
        walls = {q: result["queries"][q]["wall_s"] for q in QUERY_ORDER}
        print(f"registry pass: {json.dumps(walls)}", file=sys.stderr)
        wall = sum(walls.values())
        self.run.record(self.input_key, {"wall_s": wall})
        # No held-back truth here: every query must equal its oracle exactly,
        # so a passing pass is reported at F1 1.0.
        return {"setup_s": result["setup_s"], "wall_s": wall, "pages_per_s": self.pages / wall,
                "pairwise_f1": 1.0, "peak_pss_mb": result["peak_pss_mb"]}

    def traced(self) -> tuple[dict[str, float], dict] | None:
        trace = os.path.join(self.run.work, "trace.json")
        result = self._pass(trace)
        if result is None:
            return None
        with open(trace) as f:
            root = json.load(f)
        spans = {s["name"]: s for s in root["children"]}
        metrics: dict[str, float] = {}
        for q in QUERY_ORDER:
            for k, v in layer_fields(spans[q]).items():
                metrics[f"{q}.{k}"] = v
        metrics["session.setup_s"] = result["setup_s"]
        wall = spans[QUERY_ORDER[-1]]["end"] - spans[QUERY_ORDER[0]]["start"]
        metrics["trace.wall_s"] = wall
        metrics["trace.coverage"] = sum(s["end"] - s["start"] for s in spans.values()) / wall
        return metrics, root


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# registry-er first: its first run in a checkout also computes the oracle rows
WORKLOADS = {"registry-er": Registry, "pipeline-planted": Pipeline}


def _guarded(run: Run, call):
    """One operation; an exception in it counts as a failed operation."""
    try:
        return call()
    except Exception:  # noqa: BLE001 - report it and still print the result line
        run.fail(traceback.format_exc(limit=5))
        return None


def measure(run: Run, workload, seconds: float, trace: bool) -> dict[str, float]:
    if trace:
        untraced = [r["wall_s"] for r in run.records(workload.input_key)]
        if not untraced:
            op = _guarded(run, workload.op)
            untraced = [op["wall_s"]] if op else []
        traced = _guarded(run, workload.traced)
        if traced is None:
            return {}
        layers, spans = traced
        metrics = dict.fromkeys(per_layer_units(), 0.0)
        metrics.update(layers)
        metrics["trace.overhead_s"] = (
            layers["trace.wall_s"] - statistics.median(untraced) if untraced else 0.0
        )
        out = os.path.join(run.state, "traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{run.workload}-seed{run.seed}.json"), "w") as f:
            json.dump({"spans": spans, "metrics": metrics}, f, indent=1)
        return metrics
    ops = []
    start = time.time()
    while not ops or time.time() - start < seconds:
        op = _guarded(run, workload.op)
        if op is None:
            break
        ops.append(op)
    if not ops:
        return {}
    return {k: statistics.median(o[k] for o in ops) for k in END_TO_END}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in SOURCES if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"not a checkout of the program: missing {', '.join(missing)}", file=sys.stderr)
        return 2
    run = Run(root, args.workload, args.seed)
    try:
        workload = WORKLOADS[args.workload](run)
        metrics = measure(run, workload, args.seconds, bool(args.trace))
    finally:
        run.close()
    for p in run.problems:
        print(f"FAILED: {p}", file=sys.stderr)
    units = per_layer_units() if args.trace else END_TO_END
    print(json.dumps({
        "correct": run.failed == 0 and bool(metrics),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
