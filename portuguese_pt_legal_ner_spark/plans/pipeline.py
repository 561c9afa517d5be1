"""End-to-end KG pipeline orchestration: staging, checkpoints, resume.

The reference tracks experiments with JSON metadata + append-only
metrics (src/tracking.py:65-148, 393-409); this module generalizes
that precedent to per-stage, per-partition pipeline state so that any
stage resumes idempotently (north_rule):

  * each stage's output is a parquet directory under the run workdir
    (Iceberg table in production — same seam as sources/tables.py);
    Spark's committer makes directory writes atomic (_SUCCESS marker);
  * `checkpoints` rows record stage status + row counts;
  * `lineage` rows record input→output paths per stage;
  * `metrics` rows record per-partition row counts (append-only, the
    shape of tracking.py:137-148's metrics.jsonl records);
  * re-running a finished stage is a no-op (reads its output back) —
    resume-after-kill drops straight into the first unfinished stage;
  * task-level retries inside a stage are safe because every stage is
    a deterministic function of its input (ids are content-derived,
    not monotonically assigned).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import edges_table, entities_table, resolve_entities
from ..operators.mentions import detect_mentions
from ..operators.triples import lift_triples
from ..sources.tables import local_table


def extract_triples(transcripts: DataFrame, persist: bool = False) -> DataFrame:
    """In-memory composition: transcripts → mentions → triples.

    Since the windows-only lift_triples rewrite the mentions plan is
    consumed exactly once, so the whole pipeline is a single linear
    job (scan → mapInPandas → two windows) — persisting the
    intermediate would only add a 10M-row cache build. Pass
    persist=True when the caller reuses the mentions side (e.g. also
    running entity resolution); the checkpointed KGPipeline
    materializes stages to storage instead.
    """
    mentions = detect_mentions(transcripts, passthrough=("role", "tool"))
    if persist:
        mentions = mentions.persist()
    return lift_triples(mentions)


class KGPipeline:
    """Checkpointed, resumable stage runner over a filesystem workdir."""

    def __init__(self, spark: SparkSession, workdir: str, run_id: str = "run-001"):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        self.meta_dir = os.path.join(workdir, "_meta")
        os.makedirs(self.meta_dir, exist_ok=True)

    # -- state tables -----------------------------------------------------

    def _append_meta(self, name: str, row: dict) -> None:
        path = os.path.join(self.meta_dir, f"{name}.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def read_meta(self, name: str) -> list[dict]:
        path = os.path.join(self.meta_dir, f"{name}.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def checkpoints_df(self) -> DataFrame:
        """The `checkpoints` rows as a JVM-local table. Columns keep the
        order `createDataFrame` infers from dict rows (sorted by name);
        rows_in is typed although every row records it as null."""
        return local_table(
            self.spark,
            self.read_meta("checkpoints"),
            "rows_in long, rows_out long, run_id string, stage string,"
            " status string, updated_ts double",
        )

    # -- stage execution ---------------------------------------------------

    def _out_path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._out_path(stage), "_SUCCESS"))

    def run_stage(
        self,
        stage: str,
        fn: Callable[[], DataFrame],
        inputs: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run `stage` unless already complete; record checkpoint,
        lineage, and per-partition metrics; return the stage output."""
        out = self._out_path(stage)
        if self.is_complete(stage):
            self._append_meta(
                "checkpoints",
                {
                    "run_id": self.run_id, "stage": stage, "status": "skipped",
                    "rows_in": None, "rows_out": None, "updated_ts": time.time(),
                },
            )
            return self.spark.read.parquet(out)

        t0 = time.time()
        df = fn()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)

        result = self.spark.read.parquet(out)
        # per-partition metrics (append-only, tracking.py:137-148 shape)
        part_counts = (
            result.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        rows_out = sum(r["count"] for r in part_counts)
        for r in part_counts:
            self._append_meta(
                "metrics",
                {
                    "run_id": self.run_id, "stage": stage,
                    "key": f"rows_partition_{r['partition_id']}",
                    "value": r["count"], "ts": time.time(),
                },
            )
        self._append_meta(
            "checkpoints",
            {
                "run_id": self.run_id, "stage": stage, "status": "complete",
                "rows_in": None, "rows_out": rows_out,
                "updated_ts": time.time(),
            },
        )
        self._append_meta(
            "lineage",
            {
                "run_id": self.run_id, "stage": stage,
                "inputs": inputs or [], "output": out,
                "sec": round(time.time() - t0, 3), "ts": time.time(),
            },
        )
        return result

    # -- the KG DAG ---------------------------------------------------------

    def run(
        self,
        transcripts: DataFrame,
        alias_dict: DataFrame | None = None,
        transcripts_path: str = "<in-memory>",
        salt_buckets: int = 16,
        confidence_threshold: float = 0.5,
        checkpoint_dir: str | None = None,
    ) -> dict[str, DataFrame]:
        """Full DAG: transcripts → mentions → triples → entity
        resolution (exact + LSH linking + connected components) →
        entities + edges tables.

        `checkpoint_dir` (config kg.checkpoint_dir) switches the
        resolution stage's connected-components iterations to RELIABLE
        checkpoints — on a real cluster the iterative CC state must
        survive executor loss; the localCheckpoint default is
        single-box speed only."""
        mentions = self.run_stage(
            "mentions",
            lambda: detect_mentions(
                transcripts,
                confidence_threshold=confidence_threshold,
                passthrough=("role", "tool"),
            ),
            inputs=[transcripts_path],
        )
        triples = self.run_stage(
            "triples",
            lambda: lift_triples(mentions),
            inputs=[self._out_path("mentions")],
        )
        out = {"mentions": mentions, "triples": triples}
        if alias_dict is not None:
            # run_stage materializes to parquet before returning, so the
            # linking intermediates resolve_entities persists can be
            # released as soon as the stage completes (cache lifecycle —
            # round-3 advice: a resumable pipeline is exactly the
            # long-lived driver that accumulates leaked blocks)
            registry: list[DataFrame] = []
            resolution = self.run_stage(
                "resolution",
                lambda: resolve_entities(
                    mentions,
                    alias_dict,
                    persist_registry=registry,
                    checkpoint_dir=checkpoint_dir,
                ),
                inputs=[self._out_path("mentions")],
            )
            for df in registry:
                df.unpersist()
            entities = self.run_stage(
                "entities",
                lambda: entities_table(resolution),
                inputs=[self._out_path("resolution")],
            )
            edges = self.run_stage(
                "edges",
                lambda: edges_table(triples, resolution, salt_buckets=salt_buckets),
                inputs=[self._out_path("triples"), self._out_path("resolution")],
            )
            out.update(
                {"resolution": resolution, "entities": entities, "edges": edges}
            )
        return out
