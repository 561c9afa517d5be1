"""Operator persist lifecycle — no cached blocks leak across queries.

Round-3 verdict item 3: four dedup paths (the md5 minhash band pairs,
the md5 and xxhash64 simhash pairs, ngram_jaccard_sparse)
plus graph.resolve_entities persisted slim intermediates and never
released them, so a long-lived session (bench loop, production driver)
accumulated cached blocks query-over-query. The contract now:

  * every operator-internal persist is recorded — in the caller's
    ``persist_registry`` when given, else in the module tracker
    (portuguese_pt_legal_ner_spark.cache);
  * ``release_tracked()`` unpersists everything tracked; the
    ``__spark_entry__`` query wrappers drain at next-query entry.

The assertion is on Spark's CacheManager (DataFrame persists).
localCheckpoint blocks are exempt by design: their lineage is
truncated (unpersisting one before its consumer runs would LOSE data,
not recompute), and the ContextCleaner reclaims them on driver GC.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from portuguese_pt_legal_ner_spark import cache


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture(autouse=True)
def _clean_slate(spark):
    spark.catalog.clearCache()
    cache.release_tracked()
    yield
    spark.catalog.clearCache()
    cache.release_tracked()


def _docs(spark, n=60):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc {i % 10} "
            f"iota kappa lambda mu nu xi omicron pi {i}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_md5_pairs_release(spark):
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        MD5,
        minhash_band_pairs,
    )

    minhash_band_pairs(_docs(spark), family=MD5).count()
    assert cache.tracked_count() > 0
    cache.release_tracked()
    assert _cache_manager_empty(spark)


def test_simhash_md5_pairs_release(spark):
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        SIM_MD5,
        simhash_neardup_pairs,
    )

    simhash_neardup_pairs(_docs(spark), family=SIM_MD5).count()
    cache.release_tracked()
    assert _cache_manager_empty(spark)


def test_simhash_pairs_release(spark):
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    simhash_neardup_pairs(_docs(spark)).count()
    cache.release_tracked()
    assert _cache_manager_empty(spark)


def test_ngram_jaccard_release(spark):
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        ngram_jaccard_sparse,
    )

    d = _docs(spark)
    ngram_jaccard_sparse(d, d).count()
    cache.release_tracked()
    assert _cache_manager_empty(spark)


def test_caller_registry_bypasses_tracker(spark):
    """A caller-held registry keeps the module tracker untouched — the
    minhash_dedup pattern (materialize internally, release eagerly)."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        MD5,
        minhash_band_pairs,
    )

    registry: list = []
    minhash_band_pairs(
        _docs(spark), family=MD5, persist_registry=registry
    ).count()
    assert cache.tracked_count() == 0
    assert len(registry) == 1
    for df in registry:
        df.unpersist()
    assert _cache_manager_empty(spark)


def test_resolve_entities_release(spark):
    from portuguese_pt_legal_ner_spark.operators.graph import resolve_entities
    from portuguese_pt_legal_ner_spark.operators.mentions import detect_mentions
    from portuguese_pt_legal_ner_spark.sources.tables import (
        alias_dict_df,
        synthetic_transcripts,
    )

    t = synthetic_transcripts(spark, n_conversations=12, seed=7, partitions=2)
    resolve_entities(detect_mentions(t), alias_dict_df(spark)).count()
    cache.release_tracked()
    assert _cache_manager_empty(spark)


def test_entry_queries_drain_previous(spark, sf_dir):
    """The __spark_entry__ wrappers drain the tracker at next-query
    entry: after running a leaky query then any other query, the first
    query's persists are gone from the CacheManager."""
    import __spark_entry__ as entry

    qs = entry.queries()
    qs["dedup_minhash_md5_pairs"](spark, sf_dir).count()
    assert cache.tracked_count() > 0
    qs["dedup_exact"](spark, sf_dir).count()
    assert cache.tracked_count() == 0
    assert _cache_manager_empty(spark)


def test_ivf_one_shot_topk_does_not_persist(spark, sf_dir):
    """ivf_topk with no caller-held index must not leave a persisted
    cell assignment behind (round-3 advice, low): one-shot use reads
    the cells exactly once."""
    from portuguese_pt_legal_ner_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    ivf_topk(emb, q, k=3, nprobe=2).count()
    assert _cache_manager_empty(spark)
