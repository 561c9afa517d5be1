"""Resolution-stage parity and job shape of one checkout on the
kgbench ``kg_dense`` input.

Runs ``KGPipeline.run`` three times on the input of one seed, each
stage under its own Spark job group, with the event log on. Prints one
JSON object:

* ``tables``: row count and sha256 (first 16 hex digits) of the sorted
  rows of the ``resolution``, ``entities`` and ``edges`` tables of the
  first run;
* ``stages``: per pipeline stage of the last run, its Spark jobs, its
  Spark stages, and the stages that hold a ``PythonRDD`` (a
  ``createDataFrame(list)`` table re-run in Python workers);
* ``stage_s``: per pipeline stage of the last two runs, the wall time.

Usage, from any directory::

    python bench_logs/resolution/parity.py <checkout> <seed> [<scratch dir>]
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import tempfile
import time


def main() -> None:
    checkout, seed = os.path.abspath(sys.argv[1]), int(sys.argv[2])
    scratch = tempfile.mkdtemp(dir=sys.argv[3] if len(sys.argv) > 3 else None)
    sys.path[:0] = [checkout, os.path.join(checkout, "kgbench")]
    import inputs  # noqa: PLC0415
    from workloads import SALT_BUCKETS, WORKLOADS  # noqa: PLC0415

    from portuguese_pt_legal_ner_spark.plans.pipeline import KGPipeline  # noqa: PLC0415
    from portuguese_pt_legal_ner_spark.session import build_session  # noqa: PLC0415
    from portuguese_pt_legal_ner_spark.sources.tables import (  # noqa: PLC0415
        alias_dict_df,
        load_table,
    )

    events = os.path.join(scratch, "eventlog")
    os.makedirs(events)
    spark = build_session(
        app_name="resolution-parity", master="local[4]", shuffle_partitions=4,
        extra_conf={
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false", "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    in_dir = os.path.join(scratch, "inputs")
    rows = inputs.dense_transcripts(WORKLOADS["kg_dense"]().n_conversations, seed)
    inputs.write_table(
        rows, inputs.TRANSCRIPTS_ARROW, os.path.join(in_dir, "transcripts.parquet")
    )
    alias = alias_dict_df(spark)
    sc = spark.sparkContext
    stage_s: dict[str, list[float]] = {}
    n_runs = 3
    for run in range(n_runs):
        pipeline = KGPipeline(spark, os.path.join(scratch, f"run{run}"))
        run_stage = pipeline.run_stage

        def grouped(stage, fn, *args, _run=run, **kwargs):
            sc.setLocalProperty("spark.jobGroup.id", f"{_run}.{stage}")
            t0 = time.perf_counter()
            try:
                return run_stage(stage, fn, *args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                if _run > 0:
                    stage_s.setdefault(stage, []).append(
                        round(time.perf_counter() - t0, 3)
                    )

        pipeline.run_stage = grouped
        pipeline.run(
            load_table(spark, in_dir, "transcripts"), alias_dict=alias,
            transcripts_path=in_dir, salt_buckets=SALT_BUCKETS,
        )

    tables = {}
    for name in ("resolution", "entities", "edges"):
        got = sorted(
            repr(tuple(r))
            for r in spark.read.parquet(os.path.join(scratch, "run0", name)).collect()
        )
        tables[name] = [len(got), hashlib.sha256("\n".join(got).encode()).hexdigest()[:16]]
    spark.stop()

    last = f"{n_runs - 1}."
    stages: dict[str, dict[str, int]] = {}
    for path in glob.glob(os.path.join(events, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if ev.get("Event") != "SparkListenerJobStart" or not group.startswith(last):
                    continue
                s = stages.setdefault(
                    group[len(last):], {"jobs": 0, "stages": 0, "python_rdd_stages": 0}
                )
                s["jobs"] += 1
                for info in ev["Stage Infos"]:
                    s["stages"] += 1
                    s["python_rdd_stages"] += any(
                        r.get("Name") == "PythonRDD" for r in info["RDD Info"]
                    )
    print(json.dumps({"seed": seed, "tables": tables, "stages": stages, "stage_s": stage_s}))


if __name__ == "__main__":
    main()
