"""One pass of the registry ER query sequence in a fresh session.

Runs in its own process so the registry's per-process shared-input cache is
cold: each shared input is built once, inside the first query that needs it,
and charged to that query. Writes setup time, per-query wall, the collected
rows and (when traced) the spans to a pickle for the parent to check.

Usage: python3 erbench/registry_driver.py DOCS_DIR OUT.pkl LAUNCH_TS [TRACE.json]
"""

from __future__ import annotations

import contextlib
import os
import pickle
import sys
import time
import traceback

QUERY_ORDER = (
    "er_pair_scores",
    "neardup_jaccard",
)


def main() -> None:
    docs_dir, out_path, launch_ts = sys.argv[1], sys.argv[2], float(sys.argv[3])
    trace_path = sys.argv[4] if len(sys.argv) > 4 else None
    sys.path.insert(0, os.getcwd())
    import __spark_entry__
    from entity_matchers_spark.session import get_spark

    spark = get_spark(app_name="erbench-registry", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    collector = None
    if trace_path:
        from spans import SpanCollector

        collector = SpanCollector(spark, "registry-er")
    queries = __spark_entry__.queries()
    result = {"setup_s": time.time() - launch_ts, "queries": {}}
    for name in QUERY_ORDER:
        start = time.time()
        try:
            with collector.span(name) if collector else contextlib.nullcontext():
                df = queries[name](spark, docs_dir)
                rows = [tuple(r) for r in df.collect()]
        except Exception:  # noqa: BLE001 - one failed query must not hide the rest
            result["queries"][name] = {"error": traceback.format_exc(limit=3)}
            continue
        result["queries"][name] = {
            "wall_s": time.time() - start,
            "cols": df.columns,
            "rows": rows,
        }
    if collector:
        collector.dump(trace_path)
    with open(out_path, "wb") as f:
        pickle.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
