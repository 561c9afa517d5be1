"""Round-7 guard: stream near-dup queries vs their batch oracles."""
import sys
sys.path.insert(0, "/root/repo")
import __spark_entry__ as em
from portuguese_pt_legal_ner_spark.session import build_session
from portuguese_pt_legal_ner_spark.operators.dedup import SIM_MD5, simhash_neardup_pairs
from pyspark.sql import functions as F

spark = build_session(app_name="parity", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")

for sf_dir in ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = simhash_neardup_pairs(docs, max_hamming=3, n_bands=4, family=SIM_MD5)

    sp = em.queries()["stream_neardup_pairs"](spark, sf_dir)
    d1 = sp.subtract(batch).count()
    d2 = batch.subtract(sp).count()
    print(f"{sf_dir} pairs: stream-batch={d1} batch-stream={d2} "
          f"n={sp.count()}", flush=True)
    assert d1 == 0 and d2 == 0

    horizon_oracle = batch.filter(
        F.col("doc_b") - F.col("doc_a") <= 100
    )
    sh = em.queries()["stream_neardup_horizon"](spark, sf_dir)
    d3 = sh.subtract(horizon_oracle).count()
    d4 = horizon_oracle.subtract(sh).count()
    print(f"{sf_dir} horizon: stream-batch={d3} batch-stream={d4} "
          f"n={sh.count()}", flush=True)
    assert d3 == 0 and d4 == 0
print("PARITY OK")
spark.stop()
