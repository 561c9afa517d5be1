"""Dedup tests: planted exact and near duplicates; minhash recall;
simhash hamming; ngram-Jaccard verifier; cluster assignment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from portuguese_pt_legal_ner_spark.operators.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_col,
    simhash_neardup_pairs,
    word_ngrams,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the tall green tree near the old stone wall"
)
NEAR = BASE.replace("lazy", "sleepy")          # 1-word change
FAR = "completely different text about spark query engines and shuffles etc"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE), (1, BASE),                  # exact dupes
        (2, NEAR),                             # near dup of 0/1
        (3, FAR),
        (4, "short text"),
        (5, BASE + " with a small suffix added here"),  # near-ish
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = [sorted(r["ng"]) for r in df.select(word_ngrams(F.col("text")).alias("ng")).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == ["a b"]  # shorter than n → whole text


def test_exact_dedup(spark, docs):
    res = {r["keep_doc_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert res[0] == 2          # docs 0,1 identical, keep min id
    assert 1 not in res
    assert res[2] == 1


def test_minhash_finds_planted_near_dup(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_candidate_pairs(docs).collect()
    }
    assert pairs.get((0, 1)) == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (0, 3) not in pairs  # unrelated text never a candidate


def test_minhash_dedup_clusters(spark, docs):
    clusters = {r["doc_id"]: r["cluster_id"] for r in minhash_dedup(docs, 0.7).collect()}
    assert clusters[0] == clusters[1] == clusters[2] == 0
    assert clusters[3] == 3
    assert clusters[4] == 4


def test_simhash_table_equals_simhash_col(spark, docs):
    """The codegen-aggregate table must produce bit-identical simhashes
    to the expression form (majority-rule equivalence)."""
    from portuguese_pt_legal_ner_spark.operators.dedup import simhash_table

    col_form = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash_col(F.col("text")).alias("s")).collect()
    }
    table_form = {r["doc_id"]: r["sim"] for r in simhash_table(docs).collect()}
    assert table_form == col_form


def test_minhash_signature_table_matches_serial(spark, docs):
    """Pin the hash family: min over distinct shingles g of
    xxhash64(xxhash64(g), i), recomputed serially via Spark exprs on
    one row at a time."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        minhash_signature_table,
        word_ngrams,
    )

    sig = {r["doc_id"]: [r[f"m_{i}"] for i in range(32)]
           for r in minhash_signature_table(docs).collect()}
    # serial recompute using interpreted HOF exprs (the round-1 form)
    ref = docs.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    word_ngrams(F.col("text")),
                    (lambda j: lambda g: F.xxhash64(F.xxhash64(g), F.lit(j)))(i),
                )
            ).alias(f"m_{i}")
            for i in range(32)
        ],
    ).collect()
    ref_sig = {r["doc_id"]: [r[f"m_{i}"] for i in range(32)] for r in ref}
    assert sig == ref_sig


def test_simhash_identical_and_near(spark, docs):
    sh = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash_col(F.col("text")).alias("s")).collect()
    }
    assert sh[0] == sh[1]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 12


def test_simhash_neardup_pairs_block(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, max_hamming=12, n_bands=16).collect()
    }
    assert pairs.get((0, 1)) == 0
    assert (0, 3) not in pairs


def test_simhash_recall_guarantee_pinned(spark, docs):
    """Pigeonhole recall pin: with n_bands=8 every pair at hamming ≤ 7
    MUST surface — compare against the exact all-pairs ground truth."""
    sh = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash_col(F.col("text")).alias("s")).collect()
    }
    ids = sorted(sh)
    expected = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sh[a] ^ sh[b]).count("1") <= 7
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, max_hamming=7, n_bands=8).collect()
    }
    assert got == expected


def test_simhash_bound_enforced(spark, docs):
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(docs, max_hamming=8, n_bands=4)


def test_band_bucket_cap_stops_flood(spark, docs):
    """SURVEY §4.5: a planted flood of identical docs must not go
    quadratic in the band join — oversized buckets are STAR-LINKED
    (each member vs the bucket min, linear pairs through the normal
    Jaccard verify) instead of self-joined, so the mega-cluster still
    merges (round-2 advice: drop-only capping never linked it at all)
    while normal near-dups in the same corpus cluster as before; the
    oversized volume stays auditable."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        oversized_band_buckets,
    )

    flood = spark.range(100, 1100).select(
        F.col("id").alias("doc_id"), F.lit("boilerplate disclaimer " * 10).alias("text")
    )
    corpus = docs.unionByName(flood)
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_dedup(corpus, 0.7, max_bucket_size=50).collect()
    }
    # the planted near-dups (small buckets) still cluster
    assert clusters[0] == clusters[1] == clusters[2] == 0
    # flood docs link through star pairs at linear cost: one cluster,
    # numeric-min representative
    assert all(clusters[i] == 100 for i in range(100, 1100))
    # and the oversized volume is visible, not silent
    dropped = oversized_band_buckets(corpus, max_bucket_size=50).collect()
    assert dropped and all(r["n_docs"] == 1000 for r in dropped)


def test_cluster_representative_is_numeric_min(spark):
    """Round-2 verdict item 6: for a cluster {2, 9, 10} the
    representative must be 2 — the lexicographic string min would be
    "10". Ids are zero-padded entering CC so string order == numeric
    order."""
    rows = [(2, BASE), (9, BASE), (10, BASE), (33, FAR)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = {
        r["doc_id"]: r["cluster_id"] for r in minhash_dedup(docs, 0.7).collect()
    }
    assert clusters[2] == clusters[9] == clusters[10] == 2
    assert clusters[33] == 33


def test_embedding_cluster_representative_is_numeric_min(spark):
    import random

    from portuguese_pt_legal_ner_spark.operators.dedup import (
        embedding_neardup_clusters,
    )

    rng = random.Random(3)
    base = [float(rng.gauss(0, 1)) for _ in range(64)]
    rows = [(2, base, 0), (9, base, 0), (10, base, 0)] + [
        (i, [float(rng.gauss(0, 1)) for _ in range(64)], 1) for i in range(11, 30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in embedding_neardup_clusters(emb, threshold=0.95).collect()
    }
    assert clusters[2] == clusters[9] == clusters[10] == 2


def test_embedding_srp_bucket_cap_star_links_flood(spark):
    """Round-2 verdict item 2: a flood of identical embeddings lands in
    ONE SRP bucket per band — the cap must stop the quadratic self-join
    while star pairs (verified by exact cosine) still merge the flood
    into one cluster."""
    import random

    from portuguese_pt_legal_ner_spark.operators.dedup import (
        embedding_neardup_clusters,
    )

    rng = random.Random(11)
    dup = [float(rng.gauss(0, 1)) for _ in range(64)]
    rows = [(i, dup, 0) for i in range(100, 400)] + [
        (i, [float(rng.gauss(0, 1)) for _ in range(64)], 1) for i in range(400, 430)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in embedding_neardup_clusters(
            emb, threshold=0.95, max_bucket_size=20
        ).collect()
    }
    assert all(clusters[i] == 100 for i in range(100, 400))
    assert all(clusters[i] == i for i in range(400, 430))


def test_simhash_md5_pairs_and_bounds(spark, docs):
    """The engine-neutral md5-simhash: identical docs pair at hamming
    0, unrelated docs don't surface at a tight hamming bound, and the
    pigeonhole bound is enforced like the xxhash64 variant."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        SIM_MD5,
        simhash_table,
    )

    sims = {r["doc_id"]: r["sim"] for r in simhash_table(docs, SIM_MD5).collect()}
    assert sims[0] == sims[1]
    assert all(0 <= s < (1 << 32) for s in sims.values())
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(
            docs, max_hamming=3, n_bands=4, family=SIM_MD5
        ).collect()
    }
    assert pairs.get((0, 1)) == 0
    assert (0, 3) not in pairs
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(docs, max_hamming=4, n_bands=4, family=SIM_MD5)


def test_md5_band_divisibility_enforced():
    import dataclasses

    from portuguese_pt_legal_ner_spark.operators.dedup import MD5

    with pytest.raises(ValueError, match="divide"):
        dataclasses.replace(MD5, n_bands=3)


def test_minhash_dedup_reliable_checkpoint(spark, docs, tmp_path):
    """The checkpoint_dir knob must produce identical clusters through
    the reliable-checkpoint path (executor-loss-safe on a cluster)."""
    expected = {r["doc_id"]: r["cluster_id"] for r in minhash_dedup(docs, 0.7).collect()}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_dedup(
            docs, 0.7, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert got == expected
    import os

    assert os.listdir(tmp_path / "ckpt")  # reliable checkpoints were written


def test_embedding_neardup_pairs_and_clusters(spark):
    """Dedup family #5 (embedding cosine): planted identical and
    slightly-perturbed vectors must pair/cluster; random vectors must
    stay singletons. Exact pairs and SRP-blocked clusters agree."""
    import random

    from portuguese_pt_legal_ner_spark.operators.dedup import (
        embedding_neardup_clusters,
        embedding_neardup_pairs,
    )

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    rows = [
        (0, [float(x) for x in base], 0),
        (1, [float(x) for x in base], 0),      # identical dup of 0
        (2, [float(x) for x in near], 0),      # near dup of 0
    ] + [
        (i, [float(rng.gauss(0, 1)) for _ in range(64)], 1)
        for i in range(3, 40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.95).collect()
    }
    assert pairs == {(0, 1), (0, 2), (1, 2)}

    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in embedding_neardup_clusters(emb, threshold=0.95).collect()
    }
    assert clusters[0] == clusters[1] == clusters[2] == 0
    assert all(clusters[i] == i for i in range(3, 40))


def test_ngram_jaccard_verifier(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, docs).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 3)] == 0.0
    assert 0.5 < pairs[(0, 2)] < 1.0


def test_ngram_jaccard_sparse_equals_dense(spark, docs):
    """The inverted-index form must equal the cross-pair verifier on
    every pair with non-zero overlap (zero pairs drop out by design)."""
    from portuguese_pt_legal_ner_spark.operators.dedup import ngram_jaccard_sparse

    dense = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, docs).collect()
        if r["jaccard"] > 0
    }
    sparse = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_sparse(docs, docs).collect()
    }
    assert sparse == dense


def test_star_audit_logged_by_default(spark, docs, caplog):
    """No-silent-caps (round-3 verdict item 5): when band buckets
    overflow the cap, minhash_dedup logs the star-link volume by
    default — the metrics ride the query's own materialization
    (Observation), no separate audit job."""
    import logging

    flood = spark.range(100, 400).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate disclaimer " * 10).alias("text"),
    )
    corpus = docs.unionByName(flood)
    with caplog.at_level(
        logging.INFO, logger="portuguese_pt_legal_ner_spark.dedup"
    ):
        minhash_dedup(corpus, 0.7, max_bucket_size=50).count()
    flagged = [r for r in caplog.records if "star pairs" in r.message]
    assert flagged and flagged[0].levelno == logging.WARNING
    caplog.clear()
    # and the quiet case logs INFO, not WARNING
    with caplog.at_level(
        logging.INFO, logger="portuguese_pt_legal_ner_spark.dedup"
    ):
        minhash_dedup(docs, 0.7).count()
    quiet = [r for r in caplog.records if "no band bucket" in r.message]
    assert quiet and quiet[0].levelno == logging.INFO


def test_embedding_star_audit_logged(spark, caplog):
    import logging
    import random

    from portuguese_pt_legal_ner_spark.operators.dedup import (
        embedding_neardup_clusters,
    )

    rng = random.Random(13)
    dup = [float(rng.gauss(0, 1)) for _ in range(64)]
    emb = spark.createDataFrame(
        [(i, dup, 0) for i in range(100, 200)],
        "vec_id long, embedding array<float>, label int",
    )
    with caplog.at_level(
        logging.INFO, logger="portuguese_pt_legal_ner_spark.dedup"
    ):
        embedding_neardup_clusters(emb, threshold=0.95, max_bucket_size=10).count()
    assert any("star pairs" in r.message for r in caplog.records)


def test_star_pairs_vs_clusters_asymmetry(spark):
    """Pin the star-link contract (round-3 verdict item 7): within an
    oversized bucket, two NON-min members never appear as an emitted
    pair in the PAIRS output (only rep-linked star pairs survive
    blocking), while the CLUSTERS output restores transitive
    membership through connected components. A refactor that "fixes"
    either side in the wrong direction breaks this test."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    flood = spark.range(100, 400).select(
        F.col("id").alias("doc_id"),
        F.lit("identical flood document text " * 8).alias("text"),
    )
    # monkeypatch-free: the cap is module-level for simhash; use
    # minhash (parameterized cap) for the clusters side and simhash
    # via its module constant for the pairs side
    import portuguese_pt_legal_ner_spark.operators.dedup as D

    old_cap = D.MAX_BAND_BUCKET
    D.MAX_BAND_BUCKET = 50
    try:
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_neardup_pairs(flood, max_hamming=3, n_bands=4).collect()
        }
    finally:
        D.MAX_BAND_BUCKET = old_cap
    # every emitted pair is rep-linked: doc_a is always the bucket min
    assert pairs and all(a == 100 for a, _ in pairs)
    assert (101, 102) not in pairs  # non-min members never pair directly
    # the CLUSTERS consumer still merges the whole flood transitively
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_dedup(flood, 0.7, max_bucket_size=50).collect()
    }
    assert all(clusters[i] == 100 for i in range(100, 400))


def test_ngram_jaccard_doc_freq_cap(spark):
    """A stopword gram shared by every doc is the posting-list analog
    of an oversized LSH bucket: the cap drops it from the intersection
    join (jaccard becomes a lower bound for pairs sharing it), the
    audit view surfaces it, and pairs sharing no dropped gram are
    untouched."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        frequent_grams,
        ngram_jaccard_sparse,
    )

    boiler = "termos gerais aplicam "  # one shared trigram everywhere
    rows = [(i, boiler + f"corpo unico {i} fim") for i in range(20)]
    rows += [(100, boiler + "corpo unico 0 fim")]  # dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_sparse(docs, docs, max_doc_freq=5).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_sparse(docs, docs).collect()
    }
    # the true near-dup pair survives the cap: its UNIQUE shared grams
    # are rare, so it still scores — at the documented lower bound
    # (boilerplate grams no longer count toward the intersection)
    assert exact[(0, 100)] == 1.0
    assert 0 < capped[(0, 100)] < exact[(0, 100)]
    # capped jaccard never exceeds exact (lower-bound contract)
    assert all(capped[k] <= exact[k] for k in capped)
    # boilerplate-only pairs drop out entirely under the cap
    assert len(capped) < len(exact)
    # audit view surfaces the dropped grams
    freq = {r["g"]: r["n_docs"] for r in frequent_grams(docs, max_doc_freq=5).collect()}
    assert any(n == 21 for n in freq.values())


def _assign_corpus(spark):
    base = "o tribunal da relacao confirmou a sentenca no processo "
    corpus = spark.createDataFrame(
        [
            (2, base + "um dois tres quatro cinco seis sete oito"),
            (9, base + "um dois tres quatro cinco seis sete oito"),
            (40, " ".join(f"token{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, base + "um dois tres quatro cinco seis sete NOVE"),
            (101, " ".join(f"outro{i}" for i in range(25))),
        ],
        "doc_id long, text string",
    )
    return corpus, new


def _rows(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def test_minhash_incremental_assignment(spark, tmp_path):
    """Build-once / assign-increments (the daily-crawl shape): a new
    near-dup of a corpus doc joins that doc's cluster through the
    saved index; a novel doc founds its own; the corpus clustering is
    never recomputed."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        load_minhash_index,
        minhash_assign_new,
        minhash_index,
    )

    corpus, new = _assign_corpus(spark)  # 100 near-dups 2/9, 101 is novel
    idx = minhash_index(corpus, threshold=0.5)
    idx.save(str(tmp_path / "mhidx"))
    loaded = load_minhash_index(spark, str(tmp_path / "mhidx"))

    assigned = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_assign_new(
            loaded, new, threshold=0.5, corpus_docs=corpus
        ).collect()
    }
    assert assigned[100] == 2   # joined the {2, 9} cluster (numeric min rep)
    assert assigned[101] == 101  # novel doc founds its own cluster
    # assignment requires the corpus docs for the exact verify
    import pytest as _pytest

    with _pytest.raises(ValueError, match="corpus_docs"):
        minhash_assign_new(loaded, new, threshold=0.5)


def test_minhash_md5_incremental_assignment(spark, tmp_path):
    """The md5-family twin of incremental assignment (the variant that
    carries the driver's SQL oracle): same assign operator, md5 bands
    (read from the index's family). The index records its family, so
    save → load_minhash_index → assign bands the increment in md5
    without the caller naming the family, and matches the in-memory
    assign. Checks the three semantic branches — join an existing
    cluster via the numeric-min representative, tie-break to the
    SMALLEST cluster_id when several corpus partners verify, and found
    a new cluster when nothing does."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        MD5,
        load_minhash_index,
        minhash_assign_new,
        minhash_index,
    )

    base = "o tribunal da relacao confirmou a sentenca no processo "
    other = "a autoridade tributaria emitiu nova liquidacao referente "
    corpus = spark.createDataFrame(
        [
            (2, base + "um dois tres quatro cinco seis sete oito"),
            (9, base + "um dois tres quatro cinco seis sete oito"),
            (5, other + "alpha beta gamma delta epsilon zeta eta theta"),
            (40, " ".join(f"token{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    idx = minhash_index(corpus, threshold=0.5, family=MD5)
    new = spark.createDataFrame(
        [
            (100, base + "um dois tres quatro cinco seis sete NOVE"),
            (101, " ".join(f"outro{i}" for i in range(25))),
            # near-dup of BOTH clusters' texts concatenated would not
            # verify at 0.5; instead a dup of doc 5 checks the second
            # cluster is reachable independently
            (102, other + "alpha beta gamma delta epsilon zeta eta IOTA"),
        ],
        "doc_id long, text string",
    )
    assigned = _rows(minhash_assign_new(idx, new, threshold=0.5, corpus_docs=corpus))
    assert assigned[100] == 2    # joined the {2, 9} cluster
    assert assigned[101] == 101  # novel doc founds its own cluster
    assert assigned[102] == 5    # joined doc 5's cluster
    idx.save(str(tmp_path / "md5idx"))
    loaded = load_minhash_index(spark, str(tmp_path / "md5idx"))
    assert (loaded.family, loaded.ngram, loaded.n_bands) == ("md5", 3, 4)
    got = _rows(minhash_assign_new(loaded, new, threshold=0.5, corpus_docs=corpus))
    assert got == assigned


def test_index_with_n_docs_only_meta_loads_as_xxh64(spark, tmp_path):
    """An index dir whose meta holds n_docs alone (the layout written
    before the meta named the family) loads as XXH64 at ngram 3 and
    assigns exactly as the in-memory index does."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        XXH64,
        load_minhash_index,
        minhash_assign_new,
        minhash_index,
    )

    corpus, new = _assign_corpus(spark)
    idx = minhash_index(corpus, threshold=0.5)
    path = str(tmp_path / "oldidx")
    idx.save(path)
    spark.createDataFrame([(3,)], "n_docs long").write.mode("overwrite").parquet(
        f"{path}/meta"
    )
    loaded = load_minhash_index(spark, path)
    assert (loaded.family, loaded.ngram, loaded.n_bands, loaded.n_docs) == (
        XXH64.name, 3, XXH64.n_bands, 3
    )
    expected = _rows(minhash_assign_new(idx, new, threshold=0.5, corpus_docs=corpus))
    got = _rows(minhash_assign_new(loaded, new, threshold=0.5, corpus_docs=corpus))
    assert got == expected == {100: 2, 101: 101}


def test_assign_picks_smallest_cluster_not_best_match(spark):
    """A new doc that verifies against two clusters joins the SMALLEST
    cluster_id, even when its higher-Jaccard match is the other
    cluster (the dedup_minhash_assign oracle's rule)."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        minhash_assign_new,
        minhash_index,
    )

    shared = [f"s{i}" for i in range(22)]
    t1 = [f"x{i}" for i in range(4)] + shared  # cluster 2
    t2 = shared + ["y0", "y1"]  # cluster 9
    corpus = spark.createDataFrame(
        [(2, " ".join(t1)), (9, " ".join(t2))], "doc_id long, text string"
    )
    new = spark.createDataFrame([(100, " ".join(shared))], "doc_id long, text string")

    def grams(words):
        return {tuple(words[i : i + 3]) for i in range(len(words) - 2)}

    def jac(a, b):
        return len(grams(a) & grams(b)) / len(grams(a) | grams(b))

    # premise: 2 and 9 stay separate, the new doc verifies against both,
    # and its best match is the larger id
    assert jac(t1, t2) < 0.8 <= jac(shared, t1) < jac(shared, t2)
    idx = minhash_index(corpus, threshold=0.8)
    assert _rows(idx.clusters) == {2: 2, 9: 9}
    got = _rows(minhash_assign_new(idx, new, threshold=0.8, corpus_docs=corpus))
    assert got == {100: 2}


def test_embedding_incremental_assignment(spark, tmp_path):
    """Embedding analog of minhash incremental assignment: a new
    vector near-identical to a corpus vector joins its cluster via the
    saved SRP index; an orthogonal-ish new vector founds its own."""
    import random

    from portuguese_pt_legal_ner_spark.operators.dedup import (
        embedding_assign_new,
        embedding_index,
        load_index,
    )

    rng = random.Random(5)
    base = [float(rng.gauss(0, 1)) for _ in range(64)]
    corpus = spark.createDataFrame(
        [(10, base, 0), (11, base, 0)]
        + [(20 + i, [float(rng.gauss(0, 1)) for _ in range(64)], 1) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    idx = embedding_index(corpus, threshold=0.95)
    idx.save(str(tmp_path / "eidx"))
    loaded = load_index(spark, str(tmp_path / "eidx"))

    near = [x * 1.001 for x in base]  # cosine ≈ 1 with the {10, 11} pair
    new = spark.createDataFrame(
        [(100, near), (101, [float(rng.gauss(0, 1)) for _ in range(64)])],
        "vec_id long, embedding array<float>",
    )
    assigned = {
        r["vec_id"]: r["cluster_id"]
        for r in embedding_assign_new(
            loaded, new, corpus, threshold=0.95
        ).collect()
    }
    assert assigned[100] == 10   # adopted by the {10, 11} cluster
    assert assigned[101] == 101  # novel vector founds its own


def test_exact_dedup_normalized(spark):
    """Casing/whitespace re-serializations of the same text collapse;
    genuinely different text does not."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        exact_dedup,
        exact_dedup_normalized,
    )

    docs = spark.createDataFrame(
        [
            (1, "O Tribunal  decidiu\thoje"),
            (2, "o tribunal decidiu hoje"),
            (3, "  o Tribunal DECIDIU hoje  "),
            (4, "texto diferente"),
        ],
        "doc_id long, text string",
    )
    norm = {r["keep_doc_id"]: r["n_copies"] for r in exact_dedup_normalized(docs).collect()}
    assert norm == {1: 3, 4: 1}
    # byte-exact sees them all as distinct
    assert all(r["n_copies"] == 1 for r in exact_dedup(docs).collect())


def test_minhash_index_staleness_warns_on_drift(spark, caplog):
    """The incremental index records the corpus row count at build;
    assigning against a since-grown corpus logs a staleness warning
    (docs added after the build have no bands in the index) — the
    IVFIndex contract extended to the minhash family."""
    import logging

    from portuguese_pt_legal_ner_spark.operators.dedup import (
        minhash_assign_new,
        minhash_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"doc body number {i} " * 5) for i in range(6)],
        "doc_id long, text string",
    )
    idx = minhash_index(corpus, threshold=0.8)
    assert idx.n_docs == 6
    grown = corpus.unionByName(
        spark.createDataFrame(
            [(100, "fresh appended text " * 5)], "doc_id long, text string"
        )
    )
    assert idx.is_stale(grown) and not idx.is_stale(corpus)
    new_docs = spark.createDataFrame(
        [(200, "another increment " * 5)], "doc_id long, text string"
    )
    with caplog.at_level(logging.WARNING, "portuguese_pt_legal_ner_spark.dedup"):
        minhash_assign_new(idx, new_docs, corpus_docs=grown).collect()
    assert any("stale" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, "portuguese_pt_legal_ner_spark.dedup"):
        minhash_assign_new(idx, new_docs, corpus_docs=corpus).collect()
    assert not any("stale" in r.message for r in caplog.records)


def test_embedding_index_staleness_warns_on_drift(spark, caplog, tmp_path):
    """Same staleness contract for the embedding family, including the
    save/load round-trip of the fingerprint."""
    import logging

    from portuguese_pt_legal_ner_spark.operators.dedup import (
        embedding_assign_new,
        embedding_index,
        load_index,
    )

    rows = [(i, [float(i == j) for j in range(64)]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = embedding_index(emb, threshold=0.9)
    assert idx.n_docs == 5
    idx.save(str(tmp_path / "eidx"))
    idx2 = load_index(spark, str(tmp_path / "eidx"))
    assert idx2.n_docs == 5
    grown = emb.unionByName(
        spark.createDataFrame(
            [(99, [0.5] * 64)], "vec_id long, embedding array<float>"
        )
    )
    new_vecs = spark.createDataFrame(
        [(50, [1.0] + [0.0] * 63)], "vec_id long, embedding array<float>"
    )
    with caplog.at_level(logging.WARNING, "portuguese_pt_legal_ner_spark.dedup"):
        embedding_assign_new(idx2, new_vecs, grown).collect()
    assert any("stale" in r.message for r in caplog.records)


def test_simhash_dedup_clusters_planted(spark):
    """The simhash clustering operator: exact copies and a 1-word edit
    merge into one cluster with the numeric-min representative;
    unrelated docs stay singletons (the minhash_dedup contract applied
    to the simhash family)."""
    from portuguese_pt_legal_ner_spark.operators.dedup import simhash_dedup

    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, FAR), (4, "short text")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in simhash_dedup(docs, max_hamming=7, n_bands=8).collect()
    }
    assert clusters[0] == clusters[1] == 0
    assert clusters[3] == 3
    assert clusters[4] == 4


def test_simhash_index_assign_and_staleness(spark, caplog, tmp_path):
    """Incremental simhash assignment: a new near-dup joins the
    existing cluster THROUGH the index bands alone (no corpus text is
    re-read — the sim word rides the band table), a novel doc founds
    its own cluster, the index save/load round-trips its banding and
    fingerprint, and assigning against a drifted corpus warns."""
    import logging

    from portuguese_pt_legal_ner_spark.operators.dedup import (
        load_index,
        simhash_assign_new,
        simhash_index,
    )

    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    idx = simhash_index(corpus, max_hamming=7, n_bands=8)
    assert idx.n_docs == 4
    idx.save(str(tmp_path / "shidx"))
    idx2 = load_index(spark, str(tmp_path / "shidx"))
    assert (idx2.n_docs, idx2.n_bands) == (4, 8)

    new_docs = spark.createDataFrame(
        [(100, BASE), (101, "totally novel content about unrelated affairs")],
        "doc_id long, text string",
    )
    assigned = {
        r["doc_id"]: r["cluster_id"]
        for r in simhash_assign_new(idx2, new_docs, max_hamming=7).collect()
    }
    assert assigned[100] == 0    # joined the BASE cluster via the index
    assert assigned[101] == 101  # founded its own

    grown = corpus.unionByName(
        spark.createDataFrame([(50, "appended later")], "doc_id long, text string")
    )
    with caplog.at_level(logging.WARNING, "portuguese_pt_legal_ner_spark.dedup"):
        simhash_assign_new(idx2, new_docs, max_hamming=7, current=grown).collect()
    assert any("stale" in r.message for r in caplog.records)


def test_parent_simhash_and_embedding_meta_layouts_load(spark, tmp_path):
    """Index dirs whose meta predates the family column keep their
    family: a simhash dir with (n_docs, n_bands) meta loads as
    SIM_XXH64 and assigns as the in-memory index does; an SRP dir with
    (n_vectors) meta keeps its row count and its band count."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        SIM_XXH64,
        SRP,
        embedding_index,
        load_index,
        simhash_assign_new,
        simhash_index,
    )

    corpus = spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)], "doc_id long, text string"
    )
    idx = simhash_index(corpus, max_hamming=7, n_bands=8)
    path = str(tmp_path / "shidx")
    idx.save(path)
    spark.createDataFrame([(4, 8)], "n_docs long, n_bands int").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    loaded = load_index(spark, path)
    assert (loaded.family, loaded.ngram, loaded.n_bands, loaded.n_docs) == (
        SIM_XXH64.name, None, 8, 4
    )
    new = spark.createDataFrame(
        [(100, BASE), (101, "totally novel content about unrelated affairs")],
        "doc_id long, text string",
    )
    expected = _rows(simhash_assign_new(idx, new, max_hamming=7))
    assert _rows(simhash_assign_new(loaded, new, max_hamming=7)) == expected
    assert expected == {100: 0, 101: 101}

    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(64)]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    epath = str(tmp_path / "eidx")
    embedding_index(emb, threshold=0.9, n_bands=4).save(epath)
    spark.createDataFrame([(5,)], "n_vectors long").write.mode("overwrite").parquet(
        f"{epath}/meta"
    )
    eloaded = load_index(spark, epath)
    assert (eloaded.family, eloaded.n_bands, eloaded.n_docs) == (SRP, 4, 5)


def test_simhash_assign_pigeonhole_enforced(spark):
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        SIM_XXH64,
        NearDupIndex,
        simhash_assign_new,
    )
    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_id long, sim long, band_idx int, band_val long")
    clusters = spark.createDataFrame([], "doc_id long, cluster_id long")
    idx = NearDupIndex(empty, clusters, family=SIM_XXH64.name, n_bands=4)
    docs = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_assign_new(idx, docs, max_hamming=4)


def test_simhash_assign_reads_no_corpus_text(spark, tmp_path):
    """Machine-check the simhash index claim: assignment's physical plan
    scans the INDEX parquet (bands/clusters) and the increment, but
    never the corpus documents — the hamming verify runs on sim words
    the index already stores."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        load_index,
        simhash_assign_new,
        simhash_index,
    )

    corpus_path = str(tmp_path / "corpus_docs")
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        corpus_path
    )
    idx = simhash_index(spark.read.parquet(corpus_path), max_hamming=7, n_bands=8)
    idx.save(str(tmp_path / "shidx"))
    idx2 = load_index(spark, str(tmp_path / "shidx"))
    new_docs = spark.createDataFrame(
        [(100, BASE)], "doc_id long, text string"
    )
    plan = (
        simhash_assign_new(idx2, new_docs, max_hamming=7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the index band scan is present (sim words come from parquet) ...
    assert "sim:bigint" in plan
    # ... and NO parquet scan reads a text column — the corpus is
    # never re-read (the increment is a LocalTableScan here)
    assert "text:string" not in plan


def test_duplicated_spans_planted(spark):
    """Substring-level dedup semantics on a hand-computable corpus:
    (a) a 10-token boilerplate run shared by two docs yields one
    MERGED span exactly covering the run in each doc; (b) two shared
    runs separated by a gap stay two islands; (c) a run repeated twice
    WITHIN one doc but in no other doc is not flagged (min_df counts
    distinct documents); (d) a fully-unique doc emits nothing."""
    from portuguese_pt_legal_ner_spark.operators.dedup import duplicated_spans

    B = [f"boiler{i}" for i in range(10)]
    C = [f"clause{i}" for i in range(10)]
    D = [f"inner{i}" for i in range(10)]

    def u(doc, k):
        return [f"u{doc}x{i}" for i in range(k)]

    rows = [
        (1, " ".join(u(1, 5) + B + u(1, 5)[:5])),
        (2, " ".join(u(2, 3) + B + ["u2gap"] + C + ["u2tail"])),
        (3, " ".join(C + u(3, 4))),
        (4, " ".join(D + ["u4gap"] + D)),
        (5, " ".join(u(5, 12))),
    ]
    # fix doc1: 5 unique + B + 5 MORE unique (distinct names)
    rows[0] = (1, " ".join(u(1, 5) + B + [f"v1x{i}" for i in range(5)]))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_spans(docs, n=8, min_df=2).collect()
    }
    assert got == {
        (1, 5, 14, 10),   # B inside doc1
        (2, 3, 12, 10),   # B inside doc2 ...
        (2, 14, 23, 10),  # ... and C after the gap: two islands
        (3, 0, 9, 10),    # C opens doc3
    }


def test_duplicated_spans_flood_gram_plan_and_behavior(spark):
    """Flood-gram guard (round-6 verdict item 1): a boilerplate gram
    present in EVERY document — the exact case the operator exists for
    — must (a) still produce correct merged spans and (b) never funnel
    through a single window task: the gram document-frequency must be
    a partial-aggregable groupBy(gh), not a count over
    Window.partitionBy(gh) (AQE cannot split a window partition). The
    plan check pins partial aggregation below the gram-frequency
    exchange and the absence of any Window over gh."""
    from portuguese_pt_legal_ner_spark.operators.dedup import duplicated_spans

    B = [f"flood{i}" for i in range(8)]  # one 8-gram shared by ALL docs
    rows = [
        (d, " ".join([f"u{d}x{i}" for i in range(4)] + B
                     + [f"v{d}x{i}" for i in range(3)]))
        for d in range(200)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    out = duplicated_spans(docs, n=8, min_df=2)

    plan = out._jdf.queryExecution().executedPlan().toString()
    # the frequency count partial-aggregates before its exchange …
    assert "partial_count" in plan
    # … and no window runs partitioned on the gram hash (the doc-level
    # island-merge windows partition by doc_id, which is fine)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "gh" not in line, line

    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in out.collect()
    }
    assert got == {(d, 4, 11, 8) for d in range(200)}


def test_duplicated_spans_hash_families_agree(spark):
    """Span output is a function of gram-string EQUALITY, not the hash
    family: the xxhash64 production path and the md5 oracle twin must
    emit identical span sets (a disagreement means a hash collision or
    a family-specific bug)."""
    from portuguese_pt_legal_ner_spark.operators.dedup import duplicated_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    xx = {tuple(r) for r in duplicated_spans(docs).collect()}
    md5 = {tuple(r) for r in duplicated_spans(docs, hash_fn="md5").collect()}
    assert xx == md5
    assert xx  # non-vacuous


def test_scrub_duplicated_spans_planted(spark):
    """Excision semantics: the shared boilerplate run is cut out of
    both docs (token content and order otherwise preserved, joined on
    single spaces); untouched docs pass through with 0 removed."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        scrub_duplicated_spans,
    )

    B = [f"boiler{i}" for i in range(10)]
    u1 = [f"u1x{i}" for i in range(5)]
    v1 = [f"v1x{i}" for i in range(5)]
    u2 = [f"u2x{i}" for i in range(8)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(u1 + B + v1)),
            (2, " ".join(B + u2)),
            (3, " ".join(f"solo{i}" for i in range(15))),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in scrub_duplicated_spans(docs, n=8, min_df=2).collect()
    }
    assert got[1] == (" ".join(u1 + v1), 10)
    assert got[2] == (" ".join(u2), 10)
    assert got[3] == (" ".join(f"solo{i}" for i in range(15)), 0)


def test_duplicated_spans_matches_brute_force_on_random_corpora(spark):
    """Differential gate: on seeded random corpora drawn from a SMALL
    token vocabulary (so shared gram runs arise by chance, in random
    positions, with random overlaps), duplicated_spans must equal an
    independent brute-force reference (dict-of-gram-positions + linear
    interval merge) exactly — across n and min_df settings, so the
    parameters are proven wired, not just the defaults."""
    import random

    from portuguese_pt_legal_ner_spark.operators.dedup import duplicated_spans

    def brute(corpus, N, min_df):
        where = {}
        for did, toks in corpus:
            for i in range(len(toks) - N + 1):
                where.setdefault(tuple(toks[i : i + N]), set()).add(did)
        expected = set()
        for did, toks in corpus:
            ivs = [
                (i, i + N - 1)
                for i in range(len(toks) - N + 1)
                if len(where[tuple(toks[i : i + N])]) >= min_df
            ]
            cur = None
            for s, e in ivs:  # already sorted by s
                if cur and s <= cur[1] + 1:
                    cur = (cur[0], max(cur[1], e))
                else:
                    if cur:
                        expected.add((did, cur[0], cur[1], cur[1] - cur[0] + 1))
                    cur = (s, e)
            if cur:
                expected.add((did, cur[0], cur[1], cur[1] - cur[0] + 1))
        return expected

    for seed, N, min_df in ((7, 8, 2), (21, 8, 2), (99, 8, 2), (5, 4, 3)):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]  # tiny vocab → chance repeats
        corpus = [
            (did, [rng.choice(vocab) for _ in range(rng.randrange(4, 60))])
            for did in range(30)
        ]
        docs = spark.createDataFrame(
            [(did, " ".join(toks)) for did, toks in corpus],
            ["doc_id", "text"],
        )
        got = {
            tuple(r)
            for r in duplicated_spans(docs, n=N, min_df=min_df).collect()
        }
        assert got == brute(corpus, N, min_df), f"seed {seed} n={N} df={min_df}"
