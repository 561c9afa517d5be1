"""The benchmark's workloads: inputs, one timed run, output checks and
one traced run each.

A workload object is created per process. ``prepare`` writes one
seeded input set to parquet and computes what the checks compare
against; ``run`` is the timed unit (one batch run, parquet in → every
output committed); ``check`` verifies a run's outputs against the
serial oracles; ``traced`` calls each layer's public function
separately, each under a span and a Spark job group.
"""

from __future__ import annotations

import os
import shutil
import time
from types import SimpleNamespace

from pyspark.sql import functions as F

from portuguese_pt_legal_ner_spark import cache
from portuguese_pt_legal_ner_spark.operators import canonicalize, dedup
from portuguese_pt_legal_ner_spark.operators.graph import (
    edges_table,
    entities_table,
    resolve_entities,
)
from portuguese_pt_legal_ner_spark.operators.linking import (
    link_surfaces,
    normalize_surface_col,
)
from portuguese_pt_legal_ner_spark.operators.mentions import detect_mentions
from portuguese_pt_legal_ner_spark.operators.triples import lift_triples
from portuguese_pt_legal_ner_spark.plans.pipeline import KGPipeline
from portuguese_pt_legal_ner_spark.sources.tables import alias_dict_df, load_table
from portuguese_pt_legal_ner_spark.synth import generate_alias_dict

import inputs
import oracles
from tracing import Tracer

HUB = ("Tribunal de Justiça", "ORG")
KG_STAGES = ("mentions", "triples", "resolution", "entities", "edges")
# the layer span that replays each pipeline stage's operator on its own
STAGE_LAYER = {
    "mentions": "mentions", "triples": "triples", "resolution": "graph.resolve",
    "entities": "graph.entities", "edges": "graph.edges",
}
SALT_BUCKETS = 16


def noop(df) -> None:
    """Force a DataFrame's full evaluation without storing it."""
    df.write.format("noop").mode("overwrite").save()


class KGWorkload:
    """transcripts parquet → ``KGPipeline.run`` with the builtin alias
    dictionary: mentions, triples, resolution, entities and edges."""

    sample_conversations = 150

    def __init__(self, n_conversations: int):
        self.n_conversations = n_conversations

    def prepare(self, inputs_dir: str, seed: int):
        rows = inputs.dense_transcripts(self.n_conversations, seed)
        data = SimpleNamespace(dir=inputs_dir, n_turns=len(rows))
        inputs.write_table(
            rows, inputs.TRANSCRIPTS_ARROW, os.path.join(inputs_dir, "transcripts.parquet")
        )
        data.sample = oracles.sample_conversations(
            [r["conv_id"] for r in rows], seed, self.sample_conversations
        )
        wanted = set(data.sample)
        turns = [r for r in rows if r["conv_id"] in wanted]
        data.want_mentions = oracles.mention_rows(turns)
        data.want_triples = oracles.triple_rows(turns)
        data.resolution_oracle = {}
        return data

    def open(self, spark) -> None:
        self.alias = alias_dict_df(spark)
        self.alias_rows = generate_alias_dict()

    @staticmethod
    def transcripts(spark, data):
        return load_table(spark, data.dir, "transcripts")

    def _pipeline_run(self, spark, data, pipeline: KGPipeline) -> dict:
        return pipeline.run(
            self.transcripts(spark, data), alias_dict=self.alias,
            transcripts_path=data.dir, salt_buckets=SALT_BUCKETS,
        )

    # -- the timed unit -------------------------------------------------------

    def run(self, spark, data, rundir: str) -> dict:
        t0 = time.perf_counter()
        out = self._pipeline_run(spark, data, KGPipeline(spark, rundir))
        return {"wall_s": time.perf_counter() - t0, "out": out}

    def rate(self, result: dict, quality: dict) -> float:
        """Triples per second of wall time."""
        return quality["n_triples"] / result["wall_s"]

    # -- checks ---------------------------------------------------------------

    def check(self, spark, data, result: dict) -> dict:
        out = result["out"]
        in_sample = F.col("conv_id").isin(data.sample)
        got_m = [
            tuple(r[c] for c in oracles.MENTION_COLS) + (round(r["score"], 6),)
            for r in out["mentions"].filter(in_sample).collect()
        ]
        got_t = [
            tuple(r[c] for c in oracles.TRIPLE_COLS)
            for r in out["triples"].filter(in_sample).collect()
        ]
        mp, mr = oracles.precision_recall(got_m, data.want_mentions)
        tp, tr = oracles.precision_recall(got_t, data.want_triples)
        mention_keys = {
            (r[0], r[1])
            for r in out["mentions"].select("surface", "label").distinct().collect()
        }
        resolution = [
            tuple(r) for r in out["resolution"]
            .select("surface", "label", "canonical", "entity_id").collect()
        ]
        keys = frozenset((r[0], r[1]) for r in resolution)
        if keys not in data.resolution_oracle:
            data.resolution_oracle = {
                keys: oracles.resolution_oracle(sorted(keys), self.alias_rows)
            }
        agreement = oracles.entity_agreement(
            resolution, mention_keys, data.resolution_oracle[keys]
        )
        n_triples = out["triples"].count()
        n_entities = out["entities"].count()
        total_weight = out["edges"].agg(F.sum("weight")).collect()[0][0] or 0
        quality = {
            "mention_precision": mp, "mention_recall": mr,
            "triple_precision": tp, "triple_recall": tr,
            "entity_agreement": agreement, "n_triples": n_triples,
        }
        # graph invariants: one entity row per entity id, and every
        # triple adds weight 1 to exactly one edge
        quality["ok"] = (
            min(mp, mr, tp, tr, agreement) == 1.0
            and n_entities == len({r[3] for r in resolution})
            and total_weight == n_triples
        )
        return quality

    def resume_check(self, spark, data, rundir: str) -> bool:
        """Delete the last three stage outputs of a completed run and
        re-run on the same workdir: the resumed tables must hold the
        same rows as the uninterrupted run's."""

        def tables() -> dict:
            return {
                s: sorted(map(tuple, spark.read.parquet(os.path.join(rundir, s)).collect()),
                          key=repr)
                for s in ("resolution", "entities", "edges")
            }

        before = tables()
        for stage in before:
            shutil.rmtree(os.path.join(rundir, stage))
        self._pipeline_run(spark, data, KGPipeline(spark, rundir))
        return tables() == before

    # -- traced run -------------------------------------------------------------

    def traced(self, spark, data, rundir: str, tracer: Tracer) -> dict:
        """A pipeline run with a span per stage, then each layer's
        public function replayed on the stage outputs and forced by a
        noop write."""
        pipeline = KGPipeline(spark, rundir)
        run_stage = pipeline.run_stage

        def traced_stage(stage, fn, *args, **kwargs):
            with tracer.span(f"pipeline.{stage}", job_group=True):
                return run_stage(stage, fn, *args, **kwargs)

        pipeline.run_stage = traced_stage
        stage = lambda s: spark.read.parquet(os.path.join(rundir, s))  # noqa: E731
        links_path = os.path.join(rundir, "_trace_links")
        counts: dict = {}
        with tracer.span("traced_run"):
            with tracer.span("pipeline"):
                self._pipeline_run(spark, data, pipeline)
            with tracer.span("sources.scan", job_group=True):
                noop(self.transcripts(spark, data))
            with tracer.span("mentions", job_group=True):
                noop(detect_mentions(self.transcripts(spark, data), passthrough=("role", "tool")))
            with tracer.span("triples", job_group=True):
                noop(lift_triples(stage("mentions")))
            with tracer.span("linking", job_group=True):
                # written, not noop'd: the canonicalize call reads it
                link_surfaces(stage("mentions"), self.alias).write.parquet(links_path)
            with tracer.span("canonicalize", job_group=True):
                edges, n_edges = self._cc_edges(stage("mentions"), spark.read.parquet(links_path))
                noop(canonicalize.components_auto(edges, n_edges))
                counts["canonicalize.edges_in"] = n_edges
            with tracer.span("graph.resolve", job_group=True):
                registry: list = []
                noop(resolve_entities(stage("mentions"), self.alias, persist_registry=registry))
                for df in registry:
                    df.unpersist()
            with tracer.span("graph.entities", job_group=True):
                noop(entities_table(stage("resolution")))
            with tracer.span("graph.edges", job_group=True):
                noop(edges_table(stage("triples"), stage("resolution"), salt_buckets=SALT_BUCKETS))
            with tracer.span("cache.release"):
                cache.release_tracked()
        counts.update(self._layer_counts(spark, data, rundir, links_path, tracer))
        return counts

    @staticmethod
    def _cc_edges(mentions, links):
        """The co-reference edge set resolve_entities hands to
        connected components: surface node → canonical node."""
        surfaces = (
            mentions.select("surface", "label").dropDuplicates(["surface", "label"])
            .withColumn("surface_norm", normalize_surface_col(F.col("surface")))
        )
        resolved = surfaces.join(
            links.select("surface", "label", "canonical"), ["surface", "label"], "left"
        ).withColumn("canonical", F.coalesce(F.col("canonical"), F.col("surface_norm")))
        edges = resolved.select(
            F.concat_ws("", F.lit("s"), F.col("label"), F.col("surface_norm")).alias("src"),
            F.concat_ws("", F.lit("c"), F.col("label"), F.col("canonical")).alias("dst"),
        ).localCheckpoint()
        return edges, edges.count()

    def _layer_counts(self, spark, data, rundir: str, links_path: str, tracer: Tracer) -> dict:
        read = lambda s: spark.read.parquet(os.path.join(rundir, s))  # noqa: E731
        tiers = dict(spark.read.parquet(links_path).groupBy("tier").count().collect())
        linked = tiers.get("exact", 0) + tiers.get("lsh", 0)
        surfaces = read("mentions").select("surface", "label").distinct().count()
        hub = read("resolution").filter(
            (F.col("surface") == HUB[0]) & (F.col("label") == HUB[1])
        ).select("entity_id").collect()
        edges = read("edges")
        total = edges.agg(F.sum("weight")).collect()[0][0] or 0
        hub_weight = 0
        if hub:
            hid = hub[0][0]
            hub_weight = edges.filter(
                (F.col("src_id") == hid) | (F.col("dst_id") == hid)
            ).agg(F.sum("weight")).collect()[0][0] or 0
        return {
            "mentions.rows_out": read("mentions").count(),
            "mentions.turns_per_s": data.n_turns / tracer.find("mentions").self_time,
            "triples.rows_out": read("triples").count(),
            "linking.surfaces_in": surfaces,
            "linking.exact_hits": tiers.get("exact", 0),
            "linking.lsh_hits": tiers.get("lsh", 0),
            "linking.link_ratio": linked / max(surfaces, 1),
            "graph.edges_out": edges.count(),
            "graph.hub_weight_share": hub_weight / total if total else 0.0,
            "pipeline.stage_overhead_s": sum(
                tracer.find(f"pipeline.{s}").duration - tracer.find(STAGE_LAYER[s]).duration
                for s in KG_STAGES
            ),
        }

    def traced_wall(self, tracer: Tracer) -> float:
        return tracer.find("pipeline").duration


class NearDupWorkload:
    """Corpus parquet → ``minhash_index`` → ``MinHashIndex.save`` (the
    write path), then ``load_minhash_index`` → ``minhash_assign_new``
    on an increment (the read/probe path)."""

    threshold = 0.8
    # planted near-dups sit at word-3-gram Jaccard > 0.92, where the
    # 8 bands x 4 rows miss a pair with probability < 1e-4
    min_dup_recall = 0.99

    def __init__(self, n_corpus: int, n_increment: int):
        self.n_corpus = n_corpus
        self.n_increment = n_increment

    def prepare(self, inputs_dir: str, seed: int):
        corpus, increment, planted = inputs.neardup_docs(
            self.n_corpus, self.n_increment, seed
        )
        for name, rows in (("corpus", corpus), ("increment", increment)):
            inputs.write_table(rows, inputs.DOCS_ARROW, os.path.join(inputs_dir, f"{name}.parquet"))
        return SimpleNamespace(
            dir=inputs_dir, n_corpus=len(corpus), n_increment=len(increment),
            grams={r["doc_id"]: oracles.word_grams(r["text"]) for r in corpus + increment},
            planted=planted,
        )

    def open(self, spark) -> None:
        pass

    @staticmethod
    def table(spark, data, name: str):
        return load_table(spark, data.dir, name)

    def _assign(self, spark, data, index_path: str):
        return dedup.minhash_assign_new(
            dedup.load_minhash_index(spark, index_path), self.table(spark, data, "increment"),
            threshold=self.threshold, corpus_docs=self.table(spark, data, "corpus"),
        )

    def run(self, spark, data, rundir: str) -> dict:
        index_path = os.path.join(rundir, "index")
        t0 = time.perf_counter()
        dedup.minhash_index(
            self.table(spark, data, "corpus"), threshold=self.threshold
        ).save(index_path)
        t1 = time.perf_counter()
        self._assign(spark, data, index_path).write.parquet(os.path.join(rundir, "assignments"))
        t2 = time.perf_counter()
        return {"wall_s": t2 - t0, "assign_s": t2 - t1, "rundir": rundir}

    def rate(self, result: dict, quality: dict) -> float:
        """Increment documents assigned per second of assign time."""
        return self.n_increment / result["assign_s"]

    def check(self, spark, data, result: dict) -> dict:
        rundir = result["rundir"]
        read = lambda p: dict(map(tuple, spark.read.parquet(os.path.join(rundir, p)).collect()))  # noqa: E731
        clusters = read("index/clusters")
        assigned = read("assignments")
        members: dict[int, list[int]] = {}
        for doc, cid in clusters.items():
            members.setdefault(cid, []).append(doc)
        claimed = {d: c for d, c in assigned.items() if d != c}
        verified = sum(
            1
            for d, c in claimed.items()
            if any(
                oracles.jaccard(data.grams[d], data.grams[m]) >= self.threshold
                for m in members.get(c, ())
            )
        )
        precision = verified / len(claimed) if claimed else 1.0
        recall = sum(
            1 for d, src in data.planted.items() if assigned.get(d) == clusters[src]
        ) / max(len(data.planted), 1)
        # every doc is covered, and a cluster id is its smallest member
        ids_ok = (
            len(clusters) == data.n_corpus
            and len(assigned) == data.n_increment
            and all(clusters.get(c) == c and c <= d for d, c in clusters.items())
        )
        return {
            "assign_precision": precision, "dup_recall": recall,
            "ok": precision == 1.0 and recall >= self.min_dup_recall and ids_ok,
        }

    def traced(self, spark, data, rundir: str, tracer: Tracer) -> dict:
        index_path = os.path.join(rundir, "index")
        with tracer.span("traced_run"):
            with tracer.span("sources.scan", job_group=True):
                noop(self.table(spark, data, "corpus"))
                noop(self.table(spark, data, "increment"))
            with tracer.span("dedup.index_build", job_group=True):
                index = dedup.minhash_index(
                    self.table(spark, data, "corpus"), threshold=self.threshold
                )
                noop(index.bands)
                noop(index.clusters)
            with tracer.span("dedup.index_save", job_group=True):
                index.save(index_path)
            with tracer.span("cache.release"):
                cache.release_tracked()
            with tracer.span("dedup.assign", job_group=True):
                noop(self._assign(spark, data, index_path))
        candidates = self._candidate_pairs(spark, data, index_path)
        verified = sum(
            1 for a, b in candidates
            if oracles.jaccard(data.grams[a], data.grams[b]) >= self.threshold
        )
        return {
            "dedup.index_bytes": sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(index_path) for f in files
            ),
            "dedup.candidate_pairs": len(candidates),
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / len(candidates) if candidates else 0.0,
        }

    def _candidate_pairs(self, spark, data, index_path: str) -> list[tuple[int, int]]:
        """(new doc, corpus doc) pairs sharing at least one LSH band:
        the candidates minhash_assign_new has to verify."""
        new_bands = dedup._bands_from_sig(
            dedup.minhash_signature_table(self.table(spark, data, "increment"))
        )
        corpus_bands = dedup.load_minhash_index(spark, index_path).bands
        pairs = (
            new_bands.select(F.col("doc_id").alias("a"), "band_idx", "band_hash")
            .join(
                corpus_bands.select(F.col("doc_id").alias("b"), "band_idx", "band_hash"),
                ["band_idx", "band_hash"],
            )
            .select("a", "b").distinct().collect()
        )
        return [tuple(r) for r in pairs]

    def traced_wall(self, tracer: Tracer) -> float:
        return sum(
            tracer.find(n).duration
            for n in ("dedup.index_build", "dedup.index_save", "dedup.assign")
        )


# Sizes keep one process (session start, input generation, warm-up,
# two timed runs and their checks) near one minute on 4 cores.
WORKLOADS = {
    "kg_dense": lambda: KGWorkload(n_conversations=1000),
    "neardup_incremental": lambda: NearDupWorkload(n_corpus=2000, n_increment=500),
}
