"""The end-to-end record-linkage pipeline, staged and resumable.

The reference checkpoints by pickling each stage's output and resuming from
files on disk (/root/reference/bert-int/run_full_bert.py:46-64; every
interaction_model stage starts with pickle.load). The Spark-native analog:
every stage writes a table + a metrics/lineage row; a rerun skips stages
whose committed output exists (``_SUCCESS`` marker — the same contract an
Iceberg snapshot commit provides; the writer format is a config field, and
any format that writes parquet ``part-*`` files keeps the footer lineage).

Stages (SURVEY.md §7):
  extract → blocks → pairs → scores → matches → clusters

Each stage records its lineage (written part file number → row count) plus
wall-clock and schema into ``<root>/_metrics/<stage>.json`` — the north
rule's "per-partition lineage + metrics" requirement, and the analog of the
reference's blocking stats.csv audit (README.md:380-383).

A commit costs exactly the write: the lineage comes from the parquet footers
of the committed part files (read on the driver, no table re-scan), and a
committed stage is read back with its recorded schema, so no schema-inference
job runs. A metrics file without a schema (a root written before schemas were
recorded) falls back to inference.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from entity_matchers_spark.extraction import with_extracted_text
from entity_matchers_spark.operators import blocking, clustering, matching, scoring


@dataclass
class PipelineConfig:
    num_bands: int = 16
    rows_per_band: int = 2
    shingle_n: int = 3
    text_cap: int = 300
    name_cap: int = 64
    seed: int = 11037
    max_block_size: int = 64
    edge_threshold: float = 0.8
    weights: dict[str, float] = field(
        default_factory=lambda: dict(scoring.DEFAULT_WEIGHTS)
    )
    format: str = "parquet"  # "iceberg" on a cluster with the runtime jar


class CheckpointedPipeline:
    """Filesystem-committed stage runner.

    ``run()`` executes only the stages whose committed output is missing —
    kill it after any stage and a rerun resumes from the last commit with
    byte-identical results (determinism guaranteed by the seed-free hashing
    in every operator).
    """

    STAGES = ("extract", "blocks", "pairs", "scores", "matches", "clusters")

    def __init__(self, spark: SparkSession, root: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.config = config or PipelineConfig()

    # -- storage helpers ----------------------------------------------------

    def _path(self, stage: str) -> str:
        return f"{self.root}/{stage}"

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(f"{self._path(stage)}/_SUCCESS")

    def _metrics_path(self, stage: str) -> str:
        return f"{self.root}/_metrics/{stage}.json"

    def read(self, stage: str) -> DataFrame:
        reader = self.spark.read
        try:
            with open(self._metrics_path(stage)) as f:
                schema = json.load(f).get("schema")
        except FileNotFoundError:
            schema = None
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.format(self.config.format).load(self._path(stage))

    def _part_rows(self, stage: str) -> dict[str, int]:
        """Rows per written part file, keyed by its ``part-NNNNN`` number,
        from the parquet footers on the driver (no Spark job)."""
        import pyarrow.parquet as pq

        rows: dict[str, int] = {}
        for path in sorted(glob.glob(f"{self._path(stage)}/part-*")):
            part = str(int(os.path.basename(path).split("-")[1]))
            rows[part] = rows.get(part, 0) + pq.read_metadata(path).num_rows
        return rows

    def _commit(self, stage: str, df: DataFrame, started: float) -> DataFrame:
        df.write.format(self.config.format).mode("overwrite").save(self._path(stage))
        lineage = self._part_rows(stage)
        metrics = {
            "stage": stage,
            "rows": sum(lineage.values()),
            "partitions": len(lineage),
            "partition_rows": lineage,
            "wall_sec": round(time.time() - started, 3),
            "config": {k: v for k, v in vars(self.config).items() if not isinstance(v, dict)},
            "schema": df.schema.jsonValue(),
        }
        os.makedirs(f"{self.root}/_metrics", exist_ok=True)
        # replaced atomically: a committed stage is read with the schema in
        # this file, so a kill mid-write must not leave it truncated
        tmp = f"{self._metrics_path(stage)}.tmp"
        with open(tmp, "w") as f:
            json.dump(metrics, f, indent=2)
        os.replace(tmp, self._metrics_path(stage))
        return self.read(stage)

    # -- stage bodies -------------------------------------------------------

    def _build(self, stage: str, pages: DataFrame) -> DataFrame:
        c = self.config
        if stage == "extract":
            extracted = with_extracted_text(pages, "html", "extracted_text")
            return extracted.select(
                F.col("page_id").alias("id"), "url", "warc_ts", "lang",
                F.col("extracted_text").alias("text"),
            )
        docs = self.read("extract")
        if stage == "blocks":
            mh = blocking.minhash_block_keys(
                docs, "id", "text",
                num_bands=c.num_bands, rows_per_band=c.rows_per_band,
                shingle_n=c.shingle_n, text_cap=c.text_cap, seed=c.seed,
            )
            dom = blocking.domain_block_keys(docs, "id", "url")
            return mh.unionByName(dom)
        if stage == "pairs":
            return blocking.candidate_pairs(self.read("blocks"), c.max_block_size)
        if stage == "scores":
            return scoring.score_pairs(
                self.read("pairs"), docs, "id", "text",
                name_cap=c.name_cap, weights=c.weights,
            )
        if stage == "matches":
            # Clustering needs ALL above-threshold edges, not a 1-1 matching:
            # mutual-best (the reference's two-KG alignment rule) would keep
            # at most one edge per page and cap clusters at size 2. The
            # calibrated threshold is the match decision; CC adds transitivity.
            return matching.threshold_match(self.read("scores"), c.edge_threshold)
        if stage == "clusters":
            return clustering.clusters_with_singletons(docs, self.read("matches"))
        raise ValueError(f"unknown stage {stage}")

    # -- public API ---------------------------------------------------------

    def run(self, pages: DataFrame, through: str = "clusters") -> DataFrame:
        last = None
        for stage in self.STAGES:
            if self.is_committed(stage):
                last = self.read(stage)
            else:
                started = time.time()
                last = self._commit(stage, self._build(stage, pages), started)
            if stage == through:
                break
        assert last is not None
        return last
