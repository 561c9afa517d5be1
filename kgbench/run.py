"""KG-pipeline and near-dup benchmark: one workload per process.

    python3 kgbench/run.py --workload kg_dense --seed 1 --seconds 10 --trace 0

Runs on ``local[4]`` as a closed loop: one client, back-to-back batch
runs, each on a fresh workdir. Set-up (session build, seeded input
generation, untimed warm-up runs) is timed apart from the runs.
Every run's outputs are checked against the serial oracles; a run
that raises or fails a check counts as failed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` replaces
the timed loop with one traced run (the last warm-up run is its
untraced twin) and reports the per-layer metrics. Human-readable lines come first; the last line of
standard output is one JSON object. Everything the benchmark writes
stays under ``.kgbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# knobs that change what the program computes or which CC path it
# takes; a run with either set is not comparable, so it is refused
REFUSED_ENV = ("SPARK_GRAFT_MODEL_FLOPS", "SPARK_GRAFT_DRIVER_CC_MAX_EDGES")
CORES = 4
MASTER = f"local[{CORES}]"
DRIVER_MEMORY = "2g"
GENERATE_REPEATS = 3

END_TO_END = {"wall_s": "s", "rate_per_s": "1/s", "setup_s": "s"}
LAYERS = ("sources", "mentions", "triples", "linking", "canonicalize", "graph",
          "pipeline", "dedup")
JOB_METRICS = {
    "spark_jobs": "count", "spark_tasks": "count", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "task_skew": "ratio",
}
PER_LAYER = {
    "sources.scan_s": "s",
    "mentions.busy_s": "s", "mentions.turns_per_s": "1/s", "mentions.rows_out": "count",
    "triples.busy_s": "s", "triples.rows_out": "count",
    "linking.busy_s": "s", "linking.surfaces_in": "count", "linking.exact_hits": "count",
    "linking.lsh_hits": "count", "linking.link_ratio": "ratio",
    "canonicalize.busy_s": "s", "canonicalize.edges_in": "count",
    "canonicalize.distributed": "flag",
    "graph.resolve_s": "s", "graph.entities_s": "s", "graph.edges_s": "s",
    "graph.edges_out": "count", "graph.hub_weight_share": "ratio",
    "pipeline.stage_overhead_s": "s",
    **{f"pipeline.{s}.spark_jobs": "count"
       for s in ("mentions", "triples", "resolution", "entities", "edges")},
    "dedup.index_build_s": "s", "dedup.index_save_s": "s", "dedup.index_bytes": "bytes",
    "dedup.assign_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "cache.persisted_after_run": "count",
    **{f"{layer}.{m}": unit for layer in LAYERS for m, unit in JOB_METRICS.items()},
    "session.build_s": "s", "inputs.generate_s": "s", "warmup_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s", "trace.coverage": "ratio",
}
# span name → per-layer busy-time metric
SPAN_METRIC = {
    "sources.scan": "sources.scan_s", "mentions": "mentions.busy_s",
    "triples": "triples.busy_s", "linking": "linking.busy_s",
    "canonicalize": "canonicalize.busy_s", "graph.resolve": "graph.resolve_s",
    "graph.entities": "graph.entities_s", "graph.edges": "graph.edges_s",
    "dedup.index_build": "dedup.index_build_s", "dedup.index_save": "dedup.index_save_s",
    "dedup.assign": "dedup.assign_s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "eventlog")
        conf["spark.eventLog.compress"] = "false"
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python
    workers under it, and wait until every one has exited."""
    import tracing

    gateway = spark.sparkContext._gateway
    tree = tracing.process_tree(tracing.jvm_pid(spark))
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def persisted(spark) -> int:
    """Cached intermediates still alive after a run: tracked plus
    persistent RDDs."""
    from portuguese_pt_legal_ner_spark import cache

    cache.release_tracked()
    return cache.tracked_count() + spark.sparkContext._jsc.getPersistentRDDs().size()


def main(argv=None) -> int:
    args = parse_args(argv)
    refused = [v for v in REFUSED_ENV if os.environ.get(v)]
    if refused:
        print(f"refusing to run with {', '.join(refused)} set", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import portuguese_pt_legal_ner_spark  # noqa: F401
    except ImportError as exc:
        print(f"the package under test is not importable: {exc}", file=sys.stderr)
        return 2

    work = ROOT / ".kgbench_work" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "eventlog", "inputs"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path) -> int:
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    from portuguese_pt_legal_ner_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name=f"kgbench-{args.workload}", master=MASTER,
                          shuffle_partitions=CORES,
                          extra_conf=spark_conf(work, bool(args.trace)))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        gen_times = []
        for _ in range(GENERATE_REPEATS):
            t = time.perf_counter()
            data = workload.prepare(str(work / "inputs"), args.seed)
            gen_times.append(time.perf_counter() - t)
        workload.open(spark)
        t = time.perf_counter()
        warm_failed, warm_wall = warm_up(spark, workload, data, work)
        setup = {
            "session.build_s": session_s,
            "inputs.generate_s": statistics.median(gen_times),
            "warmup_s": time.perf_counter() - t,
        }
        if args.trace:
            result = traced(args, spark, workload, data, work, setup, warm_wall)
        else:
            result = timed(args, spark, workload, data, work, setup)
        result["attempted"] += len(warm_failed)
        result["failed"] += sum(warm_failed)
        result["correct"] = result["failed"] == 0
    finally:
        stop_spark(spark)
    if args.trace:
        finish_trace(result, str(work / "eventlog"))
    else:
        finish_timed(result)
    for line in result["lines"]:
        print(line)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def warm_up(spark, workload, data, work: Path) -> tuple[list[bool], float]:
    """Untimed runs on the measured input until the JVM's JIT has
    settled: a first, checked run (it compiles the plans' code and
    starts the Python workers), the KG resume check on its workdir
    (whose re-run of the last three stages is a second pass over the
    costliest stages), then one more run. Returns one failed-flag per
    check, and the last run's wall time."""
    rundir = str(work / "warmup")
    failed = [not workload.check(spark, data, workload.run(spark, data, rundir))["ok"]]
    if hasattr(workload, "resume_check"):
        try:
            failed.append(not workload.resume_check(spark, data, rundir))
        except Exception:  # noqa: BLE001 — a failed check is counted, not fatal
            traceback.print_exc()
            failed.append(True)
    shutil.rmtree(rundir, ignore_errors=True)
    last_wall = workload.run(spark, data, rundir)["wall_s"]
    persisted(spark)
    shutil.rmtree(rundir, ignore_errors=True)
    return failed, last_wall


def timed(args, spark, workload, data, work: Path, setup: dict) -> dict:
    """Back-to-back runs until `args.seconds` have passed; each run
    is checked, its cached intermediates released and its workdir
    removed before the next starts."""
    import tracing

    pid = tracing.jvm_pid(spark)
    walls, rates, assigns, rss, cached, quality, cpus = [], [], [], [], [], [], []
    attempted = failed = 0
    tracing.reset_peak_rss(pid)
    start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - start < args.seconds:
        rundir = str(work / f"run-{attempted}")
        attempted += 1
        try:
            cpu0 = tracing.cpu_seconds(pid)
            res = workload.run(spark, data, rundir)
            cpu = tracing.cpu_seconds(pid) - cpu0
            q = workload.check(spark, data, res)
            cpus.append(cpu)
            walls.append(res["wall_s"])
            rates.append(workload.rate(res, q))
            if "assign_s" in res:
                assigns.append(res["assign_s"])
            quality.append(q)
            failed += not q["ok"]
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            traceback.print_exc()
            failed += 1
        cached.append(persisted(spark))
        rss.append(tracing.peak_rss_mb(pid))
        shutil.rmtree(rundir, ignore_errors=True)
    if not walls:
        raise RuntimeError("no timed run completed")
    shown = {
        "wall_s": statistics.median(walls),
        "rate_per_s": statistics.median(rates),
        "setup_s": sum(setup.values()),
        **setup,
        "peak_rss_mb": max(rss),
        "cpu_s": statistics.median(cpus),
    }
    if assigns:
        shown["assign_s"] = statistics.median(assigns)
    else:
        shown["triples_per_s"] = shown["rate_per_s"]
    for key in quality[0] if quality else ():
        if key not in ("ok", "n_triples"):
            shown[key] = min(q[key] for q in quality)
    shown["cache.persisted_after_run"] = max(cached)
    return {
        "attempted": attempted, "failed": failed, "shown": shown,
        "lines": [f"workload {args.workload}: {len(walls)} timed runs, wall_s each: "
                  + " ".join(f"{w:.3f}" for w in walls)],
    }


def finish_timed(result: dict) -> None:
    shown = result.pop("shown")
    shown["error_rate"] = result["failed"] / result["attempted"]
    units = {**END_TO_END, **PER_LAYER, "peak_rss_mb": "MB", "cpu_s": "s",
             "error_rate": "failed/attempted", "triples_per_s": "triples/s", "assign_s": "s"}
    for name, value in shown.items():
        result["lines"].append(f"  {name:<26} {value:>14.6g} {units.get(name, 'ratio')}")
    result["metrics"] = {k: {"value": shown[k], "unit": u} for k, u in END_TO_END.items()}


def traced(args, spark, workload, data, work: Path, setup: dict, untraced_wall: float) -> dict:
    """One traced run; the last warm-up run is its untraced twin."""
    import tracing

    tracer = tracing.Tracer(spark)
    counts = workload.traced(spark, data, str(work / "traced"), tracer)
    counts["cache.persisted_after_run"] = persisted(spark)

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(setup)
    metrics.update(counts)
    for span, name in SPAN_METRIC.items():
        try:
            metrics[name] = tracer.find(span).self_time
        except StopIteration:
            pass
    root = tracer.find("traced_run")
    metrics["trace.wall_s"] = root.duration
    metrics["trace.overhead_s"] = workload.traced_wall(tracer) - untraced_wall
    # share of the traced wall the layer spans account for
    metrics["trace.coverage"] = 1 - root.self_time / root.duration
    if "canonicalize.edges_in" in counts:
        from portuguese_pt_legal_ner_spark.operators import canonicalize

        metrics["canonicalize.distributed"] = float(
            counts["canonicalize.edges_in"] > canonicalize.DRIVER_CC_MAX_EDGES
        )
    groups = [s.name for s in tracer.all_spans() if s.name not in ("traced_run", "pipeline",
                                                                  "cache.release")]
    for group in groups:
        jobs, tasks = tracing.job_counts(spark, group)
        layer = group.split(".")[0]
        metrics[f"{layer}.spark_jobs"] += jobs
        metrics[f"{layer}.spark_tasks"] += tasks
        if group.startswith("pipeline."):
            metrics[f"{group}.spark_jobs"] = jobs
    return {
        "attempted": 0,
        "failed": 0,
        "metrics": metrics,
        "groups": groups,
        "lines": [f"workload {args.workload}: traced run; spans (name, parent, "
                  "start, duration, self time; seconds):"]
        + [f"  {s.name:<22} {s.parent or '-':<12} {s.start - root.start:9.3f} "
           f"{s.duration:9.3f} {s.self_time:9.3f}" for s in tracer.all_spans()],
    }


def finish_trace(result: dict, event_dir: str) -> None:
    """Fold the event log's shuffle/spill/skew figures in (the log is
    complete only once the session has stopped), then format."""
    import tracing

    metrics = result["metrics"]
    stats = tracing.event_log_stats(event_dir)
    for group in result.pop("groups"):
        layer = group.split(".")[0]
        s = stats.get(group, {})
        metrics[f"{layer}.shuffle_write_bytes"] += s.get("shuffle_write_bytes", 0)
        metrics[f"{layer}.spill_bytes"] += s.get("spill_bytes", 0)
        metrics[f"{layer}.task_skew"] = max(metrics[f"{layer}.task_skew"], s.get("task_skew", 0))
    for name in PER_LAYER:
        result["lines"].append(f"  {name:<34} {metrics[name]:>14.6g} {PER_LAYER[name]}")
    result["metrics"] = {
        name: {"value": float(metrics[name]), "unit": unit} for name, unit in PER_LAYER.items()
    }


if __name__ == "__main__":
    sys.exit(main())
