"""Output checks, run outside Spark on what the program committed.

Every function returns a list of problems; an empty list means the output
passed. The pipeline checks read the committed parquet with DuckDB; the
registry check uses the order-insensitive row canonicalisation of
``tools/check_correctness.py`` from the checkout under test.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import duckdb
import pyarrow as pa


def _con(clusters_glob: str, truth: pa.Table | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(f"CREATE VIEW clusters AS SELECT id, cluster_id FROM read_parquet('{clusters_glob}')")
    if truth is not None:
        con.register("truth", truth)
    return con


def cluster_problems(clusters_glob: str, page_ids: pa.Table) -> list[str]:
    """Every input page lands in exactly one cluster, and each cluster's id
    is the minimum page id among its members. ``page_ids`` has one column
    ``page_id``."""
    con = _con(clusters_glob)
    con.register("pages", page_ids)
    problems = []
    dup, missing, extra, bad_min = con.sql(
        """
        SELECT
          (SELECT count(*) FROM (SELECT id FROM clusters GROUP BY id HAVING count(*) > 1)),
          (SELECT count(*) FROM pages p ANTI JOIN clusters c ON c.id = p.page_id),
          (SELECT count(*) FROM clusters c ANTI JOIN pages p ON c.id = p.page_id),
          (SELECT count(*) FROM (SELECT cluster_id FROM clusters GROUP BY cluster_id
                                 HAVING min(id) <> cluster_id))
        """
    ).fetchone()
    if dup:
        problems.append(f"{dup} pages are in more than one cluster")
    if missing:
        problems.append(f"{missing} input pages are in no cluster")
    if extra:
        problems.append(f"{extra} clustered ids are not input pages")
    if bad_min:
        problems.append(f"{bad_min} clusters are not named by their minimum page id")
    return problems


def cluster_digest(clusters_glob: str) -> str:
    """sha256 over the sorted (id, cluster_id) rows."""
    con = _con(clusters_glob)
    rows = con.sql("SELECT id, cluster_id FROM clusters ORDER BY id").fetchall()
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def pairwise_f1(clusters_glob: str, truth: pa.Table) -> float:
    """Pairwise F1 of the committed clusters against held-back truth
    ``(page_id, entity_id)``: a pair is predicted when both pages share a
    cluster and true when they share an entity."""
    con = _con(clusters_glob, truth)
    tp, pred, true = con.sql(
        """
        WITH j AS (SELECT c.cluster_id, t.entity_id FROM clusters c
                   JOIN truth t ON t.page_id = c.id),
        both_ AS (SELECT count(*) AS n FROM j GROUP BY cluster_id, entity_id),
        p AS (SELECT count(*) AS n FROM j GROUP BY cluster_id),
        t AS (SELECT count(*) AS n FROM j GROUP BY entity_id)
        SELECT (SELECT coalesce(sum(n * (n - 1) / 2), 0) FROM both_),
               (SELECT coalesce(sum(n * (n - 1) / 2), 0) FROM p),
               (SELECT coalesce(sum(n * (n - 1) / 2), 0) FROM t)
        """
    ).fetchone()
    return 2 * tp / (pred + true) if pred + true else 1.0


def _canon_rows(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows


def query_problems(root: str, cols, rows, oracle_cols, oracle_rows) -> list[str]:
    """Compare one query's rows with its oracle's, order-insensitively, the
    way ``tools/check_correctness.py`` does."""
    canon = _canon_rows(root)
    sc, sr = canon(list(cols), rows)
    oc, orr = canon(list(oracle_cols), oracle_rows)
    if sc != oc:
        return [f"schema mismatch spark={sc} oracle={oc}"]
    if len(sr) != len(orr):
        return [f"row count mismatch spark={len(sr)} oracle={len(orr)}"]
    if sr != orr:
        i = next(i for i, (a, b) in enumerate(zip(sr, orr)) if a != b)
        return [f"value mismatch at sorted row {i}: spark={sr[i]} oracle={orr[i]}"]
    return []
