"""Deterministic sampling + sequence packing (training-data mixing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from portuguese_pt_legal_ner_spark.operators.sampling import (
    hash_sample,
    pack_token_bins,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_hash_sample_deterministic_and_sized(spark, docs):
    a = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.25).collect()}
    b = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.25).collect()}
    assert a == b  # pure function of the key — retry/re-run safe
    n = docs.count()
    assert 0.1 * n < len(a) < 0.45 * n  # ~25% within md5 uniformity slack


def test_hash_sample_nested_fractions(spark, docs):
    """A smaller fraction is a SUBSET of a larger one (prefix
    thresholds nest) — lets a pipeline scale a sample up without
    invalidating earlier runs."""
    small = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.1).collect()}
    big = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.5).collect()}
    assert small <= big


def test_hash_sample_full_fraction_is_identity(spark, docs):
    assert hash_sample(docs, "doc_id", 1.0).count() == docs.count()


def test_pack_token_bins_budget_and_coverage(spark, docs):
    out = pack_token_bins(docs, budget=500, shards=4).collect()
    assert len(out) == docs.count()  # every doc assigned exactly once
    by_bin: dict = {}
    for r in out:
        by_bin.setdefault(r["bin_id"], []).append(r["n_tokens"])
        assert r["bin_id"] // 1_000_000 == r["shard"]
    for bin_id, toks in by_bin.items():
        # streaming-pack bound: a bin overflows by at most ONE doc
        assert sum(toks) - max(toks) < 500 + max(toks)
        assert sum(toks) < 500 + max(toks)


def test_pack_token_bins_deterministic(spark, docs):
    a = sorted((r["doc_id"], r["bin_id"]) for r in pack_token_bins(docs).collect())
    b = sorted((r["doc_id"], r["bin_id"]) for r in pack_token_bins(docs).collect())
    assert a == b


def test_minhash_md5_dedup_clusters_planted(spark):
    """The SQL-oracled full clustering path: planted near-dups merge,
    singletons stay, representative is the numeric min."""
    from portuguese_pt_legal_ner_spark.operators.dedup import MD5, minhash_dedup

    base = "o tribunal da relacao confirmou a sentenca do processo numero "
    rows = [
        (2, base + "um dois tres quatro cinco seis sete oito"),
        (9, base + "um dois tres quatro cinco seis sete oito"),
        (10, base + "um dois tres quatro cinco seis sete NOVE"),
        (40, " ".join(f"token{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_dedup(docs, threshold=0.5, family=MD5).collect()
    }
    assert clusters[2] == clusters[9] == 2  # numeric min, not "10"
    assert clusters[10] == 2
    assert clusters[40] == 40


def test_stratified_sample_respects_strata(spark, docs):
    from portuguese_pt_legal_ner_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )

    out = stratified_sample(
        docs, "doc_id", "source", {"src0": 1.0, "src1": 0.25}, default=0.0
    ).collect()
    assert out and all(r["source"] in ("src0", "src1") for r in out)
    n_src0 = docs.filter(F.col("source") == "src0").count()
    assert sum(1 for r in out if r["source"] == "src0") == n_src0  # 1.0 keeps all
    # a stratum's sample uses the SAME key hash as hash_sample -> the
    # src1 rows are exactly hash_sample(src1 subset)
    src1 = {
        r["doc_id"]
        for r in hash_sample(
            docs.filter(F.col("source") == "src1"), "doc_id", 0.25
        ).collect()
    }
    assert {r["doc_id"] for r in out if r["source"] == "src1"} == src1


def test_weighted_upsample_multiplicities(spark, docs):
    from portuguese_pt_legal_ner_spark.operators.sampling import weighted_upsample

    out = weighted_upsample(
        docs, "doc_id", "source", {"src0": 3.0, "src1": 0.5}, default=0.0
    ).collect()
    copies: dict = {}
    for r in out:
        copies.setdefault(r["doc_id"], []).append(r["copy_idx"])
    n_src0 = docs.filter(F.col("source") == "src0").count()
    src0_ids = {r["doc_id"] for r in docs.filter(F.col("source") == "src0").collect()}
    # integral weight: exactly 3 copies each, copy_idx 0..2
    for did in src0_ids:
        assert sorted(copies[did]) == [0, 1, 2]
    # fractional weight 0.5: each src1 doc appears 0 or 1 times
    src1_ids = {r["doc_id"] for r in docs.filter(F.col("source") == "src1").collect()}
    for did in src1_ids & set(copies):
        assert copies[did] == [0]
    # other strata dropped entirely
    assert set(copies) <= src0_ids | src1_ids
    # deterministic across runs
    out2 = weighted_upsample(
        docs, "doc_id", "source", {"src0": 3.0, "src1": 0.5}, default=0.0
    ).collect()
    assert sorted((r["doc_id"], r["copy_idx"]) for r in out) == sorted(
        (r["doc_id"], r["copy_idx"]) for r in out2
    )


def test_null_rows_policy(spark):
    """Crawl corpora have null rows — pin the policy: null TEXT packs
    as zero tokens (the row keeps a bin; silently nulling bin_id would
    drop it from training), null KEY is never sampled (no stable
    identity to hash)."""
    from portuguese_pt_legal_ner_spark.operators.sampling import (
        hash_sample,
        pack_token_bins,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    packed = {r["doc_id"]: r for r in pack_token_bins(docs, budget=10).collect()}
    assert set(packed) == {1, 2, 3}          # every row assigned a bin
    assert packed[2]["n_tokens"] == 0
    assert packed[2]["bin_id"] is not None
    nullkey = spark.createDataFrame(
        [(None, "x"), (7, "y")], "doc_id long, text string"
    )
    kept = {r["doc_id"] for r in hash_sample(nullkey, "doc_id", 0.99).collect()}
    assert None not in kept


def test_hash_sample_near_full_fraction_not_undersampled(spark, docs):
    """fraction just below 1.0 rounds to cut=256; format(256,'02x') is
    the 3-char '100', which sorts BELOW most 2-char md5 prefixes — the
    old code silently kept ~6% of rows. _hex_cut maps cut>=256 to 'zz'
    (above every hex prefix), so ~all rows survive."""
    n = docs.count()
    kept = hash_sample(docs, "doc_id", 0.999).count()
    assert kept == n


def test_pack_token_bins_splits_long_docs(spark):
    """A document longer than the budget is split into (doc_id,
    chunk_idx) chunks of at most `budget` tokens before binning —
    full-size chunks then the remainder; short docs stay one chunk."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(25))),   # 25 toks -> 3 chunks
            (2, "a b c"),                                # 1 chunk
            (3, " ".join(f"x{i}" for i in range(10))),   # exactly budget
        ],
        "doc_id long, text string",
    )
    out = pack_token_bins(docs, budget=10, shards=1).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_tokens"])
        )
        assert r["n_tokens"] <= 10  # every chunk fits a bin
    assert sorted(by_doc[1]) == [(0, 10), (1, 10), (2, 5)]
    assert sorted(by_doc[2]) == [(0, 3)]
    assert sorted(by_doc[3]) == [(0, 10)]  # exact multiple: no empty tail
    # token mass is conserved — nothing truncated
    assert sum(t for chunks in by_doc.values() for _, t in chunks) == 38


def test_pack_token_bins_invariants_on_random_corpus(spark):
    """Seeded randomized invariants for the chunked packer: token mass
    conserved, every chunk within budget, chunk indices contiguous per
    doc, and per-bin sums bounded by budget + (budget - 1) — the chunk
    form's tightened overflow bound."""
    import random

    rng = random.Random(71)
    rows = []
    for i in range(120):
        n = rng.choice([0, 1, 3, 9, 10, 11, 25, 40, 100, 137])
        rows.append((i, " ".join(f"w{j}" for j in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    budget = 10
    out = pack_token_bins(docs, budget=budget, shards=4).collect()
    by_doc: dict = {}
    by_bin: dict = {}
    for r in out:
        assert 0 <= r["n_tokens"] <= budget
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["n_tokens"]))
        by_bin.setdefault(r["bin_id"], 0)
        by_bin[r["bin_id"]] += r["n_tokens"]
    expected = {
        i: max(1, len(t.split())) if t else 1 for i, t in rows
    }  # chunks per doc = ceil(tokens/budget), min 1 — recompute below
    for doc_id, chunks in by_doc.items():
        idxs = sorted(c for c, _ in chunks)
        assert idxs == list(range(len(idxs)))  # contiguous chunk ids
        text = rows[doc_id][1]
        n_tok = len([t for t in text.split()]) if text.strip() else 1
        # Spark counts the empty string as one '' token
        total = sum(n for _, n in chunks)
        if text.strip():
            assert total == n_tok  # token mass conserved
    for s in by_bin.values():
        assert s < 2 * budget  # chunked overflow bound
