"""Dedup parity evidence: row hashes of every near-dup query plus the
physical plans of the xxhash64 incremental path.

Writes, for the checkout given by --repo:
  * <out>/rows_<tag>.json — per query: column names and types, row count and the
    sha256 of its rows (each row repr'd, then sorted), for the 16
    ``dedup_*`` / ``stream_neardup_*`` queries of ``__spark_entry__``;
  * <out>/plan_<tag>_{index_bands,index_clusters,assign}.txt —
    ``explain("formatted")`` of the xxhash64 ``neardup_incremental``
    path (kgbench inputs): the built index's band table and clusters,
    and ``minhash_assign_new`` against the saved-and-reloaded index.
    Expression, plan, lambda and RDD ids and scratch paths are
    normalized so two checkouts can be diffed directly.

Run once per checkout, then diff the outputs:
    python bench_logs/pr2_dedup_parity.py --sf-dir <testdata>/sf0.1 \
        --repo <parent checkout> --tag parent
    python bench_logs/pr2_dedup_parity.py --sf-dir <testdata>/sf0.1 --tag change
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))

QUERIES = (
    "dedup_exact", "dedup_exact_normalized",
    "dedup_minhash", "dedup_minhash_md5", "dedup_minhash_md5_pairs",
    "dedup_minhash_md5_clusters", "dedup_minhash_assign",
    "dedup_simhash", "dedup_simhash_clusters", "dedup_simhash_md5",
    "dedup_simhash_md5_pairs", "dedup_simhash_md5_clusters",
    "dedup_embedding", "dedup_embedding_clusters",
    "stream_neardup_pairs", "stream_neardup_horizon",
)


def _row_hash(rows) -> str:
    lines = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _explain(df, scratch: str) -> str:
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    txt = txt.replace(scratch, "<scratch>")
    for pat, rep in ((r"#\d+L?", "#N"), (r"plan_id=\d+", "plan_id=N"),
                     (r"lambda x_\d+", "lambda x_N"),
                     (r"RDD\[\d+\]", "RDD[N]")):
        txt = re.sub(pat, rep, txt)
    return txt


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--repo", default=os.path.dirname(HERE))
    ap.add_argument("--tag", required=True)
    ap.add_argument("--out", default=os.path.join(HERE, "pr2_parity"))
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "kgbench"))
    sys.path.insert(0, args.repo)
    os.makedirs(args.out, exist_ok=True)

    import __spark_entry__ as entry
    import inputs  # kgbench input generator
    from portuguese_pt_legal_ner_spark import cache
    from portuguese_pt_legal_ner_spark.operators import dedup
    from portuguese_pt_legal_ner_spark.session import build_session

    spark = build_session(app_name="dedup-parity", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    rows_out = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        df = entry.queries()[name](spark, args.sf_dir)
        rows = df.collect()
        rows_out[name] = {
            "columns": df.dtypes, "rows": len(rows), "sha256": _row_hash(rows),
            "seconds": round(time.perf_counter() - t0, 2),
        }
        print(name, rows_out[name], flush=True)
    with open(os.path.join(args.out, f"rows_{args.tag}.json"), "w") as f:
        json.dump(rows_out, f, indent=1, sort_keys=True)

    # the neardup_incremental workload's inputs (seed 0), xxhash64 path
    scratch = tempfile.mkdtemp(prefix="dedup_parity_")
    corpus_rows, inc_rows, _ = inputs.neardup_docs(2000, 500, seed=0)
    for nm, rows in (("corpus", corpus_rows), ("increment", inc_rows)):
        inputs.write_table(rows, inputs.DOCS_ARROW, f"{scratch}/{nm}.parquet")
    corpus = spark.read.parquet(f"{scratch}/corpus.parquet")
    increment = spark.read.parquet(f"{scratch}/increment.parquet")
    cache.release_tracked()
    index = dedup.minhash_index(corpus, threshold=0.8)
    plans = {
        "index_bands": _explain(index.bands, scratch),
        "index_clusters": _explain(index.clusters, scratch),
    }
    index.save(f"{scratch}/index")
    cache.release_tracked()
    assign = dedup.minhash_assign_new(
        dedup.load_minhash_index(spark, f"{scratch}/index"), increment,
        threshold=0.8, corpus_docs=corpus,
    )
    plans["assign"] = _explain(assign, scratch)
    for nm, txt in plans.items():
        with open(os.path.join(args.out, f"plan_{args.tag}_{nm}.txt"), "w") as f:
            f.write(txt)
    print("plans:", {k: hashlib.sha256(v.encode()).hexdigest()[:12]
                     for k, v in plans.items()}, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
