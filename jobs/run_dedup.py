"""spark-submit entrypoint for the dedup families (build + incremental).

Two families share the CLI: minhash verifies with exact Jaccard (assign
re-shingles banded corpus candidates via --corpus); simhash verifies
with hamming on the indexed sim words (assign needs no corpus access).
The family, ngram and banding are chosen at BUILD time and recorded in
the index meta; assign reads them back from the index, so --family,
--ngram and --n-bands are build-only.

Build (cluster a corpus at rest, persist the incremental index):
    python -m zipfile -c /tmp/pkg.zip portuguese_pt_legal_ner_spark
    spark-submit --py-files /tmp/pkg.zip jobs/run_dedup.py build \
        --input <documents_parquet> --index-dir <dir> \
        [--family minhash|simhash] [--threshold 0.8] [--ngram 3] \
        [--n-bands 4] [--checkpoint-dir <hdfs-dir>] [--out <parquet>]

Assign (near-dup-assign a daily increment against the built index —
never re-clusters the corpus):
    spark-submit ... jobs/run_dedup.py assign \
        --input <new_documents_parquet> --corpus <documents_parquet> \
        --index-dir <dir> [--threshold 0.8] [--out <parquet>]

Local smoke:
    python jobs/run_dedup.py build --input <sf0.001>/documents.parquet \
        --index-dir /tmp/mhidx --out /tmp/clusters

Outputs one JSON line with row counts; cluster assignments land in
--out (parquet) when given, else print a sample.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("mode", choices=["build", "assign"])
    parser.add_argument("--family", choices=["minhash", "simhash"],
                        default="minhash",
                        help="build only: minhash (Jaccard over word "
                        "n-grams; assign re-shingles banded corpus "
                        "candidates) or simhash (hamming over the 64-bit "
                        "signature; assign re-reads NO corpus text)")
    parser.add_argument("--input", required=True,
                        help="documents parquet (corpus for build, "
                        "increment for assign)")
    parser.add_argument("--corpus", default=None,
                        help="corpus documents parquet (assign mode: the "
                        "minhash exact-Jaccard verify re-shingles banded "
                        "candidates; simhash uses it for the staleness "
                        "warning only)")
    parser.add_argument("--index-dir", required=True)
    parser.add_argument("--threshold", type=float, default=0.8)
    parser.add_argument("--ngram", type=int, default=3,
                        help="build only, minhash family")
    parser.add_argument("--max-bucket-size", type=int, default=None)
    parser.add_argument("--max-hamming", type=int, default=3,
                        help="simhash family: hamming threshold")
    parser.add_argument("--n-bands", type=int, default=4,
                        help="build only, simhash family: band count "
                        "(pigeonhole bound max-hamming <= n-bands - 1)")
    parser.add_argument("--checkpoint-dir", default=None,
                        help="reliable-checkpoint dir for CC iterations "
                        "(build mode; default localCheckpoint)")
    parser.add_argument("--out", default=None, help="output parquet path")
    parser.add_argument("--master", default=None)
    args = parser.parse_args()

    from portuguese_pt_legal_ner_spark.cache import release_tracked
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        FAMILIES,
        MAX_BAND_BUCKET,
        SimHashFamily,
        load_index,
        minhash_assign_new,
        minhash_index,
        simhash_assign_new,
        simhash_index,
    )
    from portuguese_pt_legal_ner_spark.session import build_session

    spark = build_session(app_name=f"dedup-{args.mode}", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    cap = args.max_bucket_size or MAX_BAND_BUCKET

    docs = spark.read.parquet(args.input)
    corpus = spark.read.parquet(args.corpus) if args.corpus else None
    if args.mode == "build":
        # both builds hash the corpus ONCE and share the persisted
        # spine/sim table between the band table and the clustering
        if args.family == "simhash":
            index = simhash_index(
                docs, args.max_hamming, args.n_bands,
                checkpoint_dir=args.checkpoint_dir,
            )
        else:
            index = minhash_index(
                docs, args.threshold, args.ngram, cap,
                checkpoint_dir=args.checkpoint_dir,
            )
        index.save(args.index_dir)
        release_tracked()  # drop the build's persisted intermediates
        result = spark.read.parquet(f"{args.index_dir}/clusters")
    else:
        index = load_index(spark, args.index_dir)
        if isinstance(FAMILIES.get(index.family), SimHashFamily):
            result = simhash_assign_new(index, docs, args.max_hamming, current=corpus)
        elif corpus is None:
            parser.error("minhash assign needs --corpus (the index stores "
                         "bands, not gram payloads)")
        else:
            result = minhash_assign_new(
                index, docs, args.threshold, corpus_docs=corpus
            )
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
        result = spark.read.parquet(args.out)
    n_docs = result.count()
    n_clusters = result.select("cluster_id").distinct().count()
    print(json.dumps({
        "mode": args.mode,
        "family": args.family if args.mode == "build" else index.family,
        "docs": n_docs,
        "clusters": n_clusters, "index_dir": args.index_dir,
        "out": args.out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
