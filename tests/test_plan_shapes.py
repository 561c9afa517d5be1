"""Physical-plan shape regressions: the scale-critical properties the
round-2/3 rewrites bought — slim band exchanges (no text/vector payload
replicated through LSH shuffles) — asserted from `explain("formatted")`
so a refactor can't silently reintroduce a payload-carrying exchange.

Parsing contract: in formatted explain, every Exchange node prints
``Input [n]: [col#id, ...]`` then ``Arguments: hashpartitioning(...)``;
we assert the Input list of every exchange (and specifically every
band-keyed exchange) never contains raw text, shingle strings, or
embedding arrays."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

PAYLOAD_COLS = ("text#", "embedding#", "qe#", "ce#", "ea#", "eb#", "g#", "tok#")


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _exchange_inputs(plan: str) -> list[tuple[str, str]]:
    """[(input_line, arguments_line)] for every Exchange node."""
    out = []
    for m in re.finditer(
        r"\(\d+\) Exchange\s*\n(Input[^\n]*)\n(Arguments:[^\n]*)", plan
    ):
        out.append((m.group(1), m.group(2)))
    return out


def _assert_no_payload(exchanges) -> None:
    """Every HASH exchange (join/agg shuffle) must be payload-free.
    RoundRobin exchanges are exempt: _ensure_parallelism re-spreads the
    raw input before CPU-bound stages when a small file scans as one
    split — that exchange carries the input by definition and is a
    no-op at scale (input already wide)."""
    hashed = [(i, a) for i, a in exchanges if "hashpartitioning" in a]
    assert hashed, "no hash Exchange nodes found — parsing contract broke?"
    for inputs, args in hashed:
        for col in PAYLOAD_COLS:
            assert col not in inputs, f"payload {col} rides exchange: {inputs} | {args}"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_srp_ann_topk_exchanges_carry_no_vectors(spark, emb):
    """Round-2 verdict item 4 done-criterion: the SRP band join must
    not replicate 64-float embeddings n_bands× through a shuffle —
    every exchange in the plan is payload-free (vectors re-attach to
    surviving (qid, cid) pairs via the slim join)."""
    from portuguese_pt_legal_ner_spark.operators.similarity import srp_ann_topk

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    plan = _plan(srp_ann_topk(emb, q, k=5))
    _assert_no_payload(_exchange_inputs(plan))


def test_minhash_pairs_exchanges_carry_no_text(spark, docs):
    """The minhash blocking/verify pipeline never shuffles document
    text or shingle strings — only ids, 64-bit hashes, and counts."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    plan = _plan(minhash_candidate_pairs(docs))
    _assert_no_payload(_exchange_inputs(plan))


def test_simhash_pairs_band_exchanges_slim(spark, docs):
    """The simhash band self-join carries (doc_id, band) only; sim
    words re-attach to candidate pairs."""
    from portuguese_pt_legal_ner_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    plan = _plan(simhash_neardup_pairs(docs, max_hamming=3, n_bands=4))
    _assert_no_payload(_exchange_inputs(plan))


def test_detector_scan_is_column_pruned(spark):
    """The mention detector's parquet scan reads only the columns the
    UDF consumes — a scan that reads all 6 transcript columns for a
    3-column mapInPandas is wrong at 100 TB."""
    import tempfile

    from portuguese_pt_legal_ner_spark.operators.mentions import detect_mentions
    from portuguese_pt_legal_ner_spark.sources.tables import synthetic_transcripts

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t.parquet"
        synthetic_transcripts(spark, n_conversations=5, seed=1).write.parquet(path)
        plan = _plan(detect_mentions(spark.read.parquet(path)))
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert read_cols == {"conv_id", "turn_idx", "text"}, read_cols


def test_duplicated_spans_exchanges_carry_no_text(spark, docs):
    """Substring-level dedup: the gram table is hashed (xxhash64 — the
    default production family) in the same projection as the explode,
    so neither the text column nor the raw token array rides any hash
    exchange — every shuffle carries (doc_id, pos, 8-byte hash)
    scalars only."""
    import re as _re

    from portuguese_pt_legal_ner_spark.operators.dedup import duplicated_spans

    plan = _plan(duplicated_spans(docs))
    exchanges = _exchange_inputs(plan)
    _assert_no_payload(exchanges)
    for inputs, args in exchanges:
        if "hashpartitioning" in args:
            assert not _re.search(r"[\[,\s]t#", inputs), (
                f"raw token array rides exchange: {inputs}"
            )


def test_small_driver_tables_plan_as_local_relation(spark, tmp_path):
    """The alias dictionary, the driver union-find output and the
    pipeline checkpoint rows are JVM-local tables: a
    `createDataFrame(list)` LogicalRDD re-runs Python-worker tasks on
    every reference. The empty union-find keeps its (node, component)
    schema; checkpoint rows whose rows_in is always null still type."""
    from portuguese_pt_legal_ner_spark.operators.canonicalize import (
        union_find_components,
    )
    from portuguese_pt_legal_ner_spark.plans.pipeline import KGPipeline
    from portuguese_pt_legal_ner_spark.sources.tables import alias_dict_df

    edges = spark.range(6).select(
        F.col("id").cast("string").alias("src"),
        (F.col("id") % 3).cast("string").alias("dst"),
    )
    empty = union_find_components(edges.limit(0))
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<node:string,component:string>"
    pipeline = KGPipeline(spark, str(tmp_path))
    for status, rows_out in (("skipped", None), ("complete", 5)):
        pipeline._append_meta("checkpoints", {
            "run_id": "r", "stage": "s", "status": status,
            "rows_in": None, "rows_out": rows_out, "updated_ts": 1.5,
        })
    checkpoints = pipeline.checkpoints_df()
    assert [tuple(r) for r in checkpoints.collect()] == [
        (None, None, "r", "s", "skipped", 1.5), (None, 5, "r", "s", "complete", 1.5),
    ]
    for df in (alias_dict_df(spark), union_find_components(edges), empty, checkpoints):
        plan = _plan(df, "extended")
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_resolution_scans_mentions_once_without_python_rdd(spark, tmp_path):
    """resolve_entities over the alias dictionary plans no LogicalRDD,
    and the distinct-surface table it persists is the only reader of
    the mentions parquet: formatted explain numbers each distinct
    operator once, cached sub-plans included."""
    from portuguese_pt_legal_ner_spark.operators.graph import resolve_entities
    from portuguese_pt_legal_ner_spark.sources.tables import alias_dict_df

    path = str(tmp_path / "mentions")
    spark.createDataFrame(
        [("João Silva", "PER"), ("Joao Silvaa", "PER"), ("TJ Lisboa", "ORG"),
         ("Tribunal de Justica", "ORG"), ("Zzz", "PER")] * 2,
        "surface string, label string",
    ).write.parquet(path)
    registry: list = []
    out = resolve_entities(
        spark.read.parquet(path), alias_dict_df(spark), persist_registry=registry
    )
    try:
        assert "LogicalRDD" not in _plan(out, "extended")
        scans = re.findall(r"^\(\d+\) Scan parquet", _plan(out), re.M)
        assert len(scans) == 1, scans
    finally:
        for df in registry:
            df.unpersist()
