"""Canonicalization: connected components over co-reference edges.

GraphFrames is not assumed (no extra jars in the sandbox, and the
north_star explicitly allows "iterative DataFrame joins" instead).
This is the alternating large-star / small-star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14), expressed as DataFrame joins:

  large-star: for each edge (u, v), attach every neighbor that is
              LARGER than u to u's current minimum neighbor;
  small-star: attach all smaller-or-equal neighbors to the minimum.

Each iteration is two self-joins + aggregations; the driver loop
persists each round's edge set to cut lineage — Catalyst cannot
optimize across iterations (SURVEY §4) — and stops when the edge set
reaches a fixpoint (the convergence aggregate is a count+checksum of
edges, the reference's early-stopping analog, src/training.py:268-272),
costing exactly one Spark job per iteration.

Converges in O(log n) rounds; our co-reference graphs are star-like
(surfaces around canonicals) so 2-4 rounds in practice. Node ids are
strings; ordering is lexicographic, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_table


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected edge list (u, v), deduped, self-loops dropped."""
    e = edges.toDF("u", "v").filter(F.col("u") != F.col("v"))
    return (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .dropDuplicates(["u", "v"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star (Kiveris alg. 2): over the SYMMETRIC edge set,
    m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for every neighbor v > u."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    )
    out = (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    # no dropDuplicates here: duplicates cannot change small-star's
    # min-aggregates and ITS trailing dedup feeds the convergence
    # checksum — skipping the dedup removes one exchange per iteration
    return out.filter(F.col("u") != F.col("v"))


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star (Kiveris alg. 3): orient each edge toward the larger
    endpoint, m(u) = min(Γ(u) ∪ {u}) over the smaller neighbors; emit
    (v, m(u)) for every smaller neighbor plus (u, m(u))."""
    oriented = edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))  # m ≤ all v ≤ u
    nbrs = (
        oriented.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfs = m.select("u", F.col("m").alias("v"))
    return (
        nbrs.unionByName(selfs)
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def union_find_components(edges: DataFrame) -> DataFrame:
    """Driver-side union-find over a SMALL edge set → (node, component)
    DataFrame, component = min node id (same contract as
    connected_components).

    The bounded fast path: a thresholded near-dup pair set is usually
    orders of magnitude smaller than the corpus (bench sf0.1: 256
    pairs from 5k docs), and the distributed CC loop's per-iteration
    stage scheduling + codegen compile (~2.3 s here) dwarfs the actual
    work. Callers gate on a COUNTED edge bound (the pair set is
    already materialized/checkpointed when this is called) and fall
    back to the distributed algorithm beyond it — collect() here is
    bounded by that gate, never by corpus size. The result is a
    JVM-local table (`local_table`): no Python-worker task re-runs
    when a later plan reads it."""
    parent: dict[str, str] = {}
    nodes: set[str] = set()

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.collect():
        a0, b0 = str(row[0]), str(row[1])
        nodes.add(a0)
        nodes.add(b0)
        a, b = find(a0), find(b0)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    return local_table(
        edges.sparkSession,
        [(n, find(n)) for n in sorted(nodes)],
        "node string, component string",
    )


DRIVER_CC_MAX_EDGES = 100_000


def _driver_cc_max_edges() -> int:
    """The union-find gate, env-overridable
    (SPARK_GRAFT_DRIVER_CC_MAX_EDGES): ops tuning for drivers with
    less headroom, and 0 forces the distributed path — which is also
    how the e2e config test exercises reliable checkpoints on a
    small graph."""
    import os  # noqa: PLC0415

    raw = os.environ.get("SPARK_GRAFT_DRIVER_CC_MAX_EDGES")
    return int(raw) if raw else DRIVER_CC_MAX_EDGES


def components_auto(
    edges: DataFrame, n_edges: int, checkpoint_dir: str | None = None
) -> DataFrame:
    """Pick the clustering engine by MEASURED edge count (callers have
    the edge set materialized, so the count is cheap): ≤
    DRIVER_CC_MAX_EDGES → driver union-find (a few MB; the iterative
    distributed loop's per-round stage scheduling + codegen compile
    dwarfs the actual work — measured ~2.3 s for a 256-edge graph);
    beyond → Kiveris large/small-star. The gate is on the EDGE SET
    (post-threshold pairs / distinct surfaces), never the corpus — a
    boilerplate-heavy 100-TB corpus can exceed the bound, and then the
    distributed path runs."""
    if n_edges <= _driver_cc_max_edges():
        return union_find_components(edges)
    return connected_components(edges, checkpoint_dir=checkpoint_dir)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """edges(src, dst) → (node, component) with component = min node
    id (lexicographic) in the component — matching the serial
    union-find oracle (oracle_kg.connected_components). Callers whose
    contract is NUMERIC min (minhash_dedup, embedding_neardup_clusters)
    zero-pad ids before calling (dedup._pad_id).

    `checkpoint_dir`: when set, each iteration's edge set is RELIABLY
    checkpointed there (HDFS/object store) so a cluster run survives
    executor loss mid-iteration; the default lazy localCheckpoint cuts
    the logical plan equally well but its blocks die with their
    executor — fine on local[N], not durable at 1000 executors."""
    def _cut(df: DataFrame) -> DataFrame:
        if checkpoint_dir:
            df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    e = _cut(_symmetrize(edges.select(
        F.col(edges.columns[0]).cast("string"),
        F.col(edges.columns[1]).cast("string"),
    )))

    # One Spark job per iteration (round-1 ran two per round —
    # eager checkpoint, then the convergence collect — pure scheduler
    # overhead on the small post-threshold graphs): a LAZY
    # localCheckpoint truncates the LOGICAL plan immediately (the
    # self-joins otherwise nest the tree exponentially across
    # iterations — plain persist() OOMs on plan stringification by
    # ~iteration 8) while deferring materialization, so the
    # convergence aggregate's collect is the only action per round.
    # Convergence: edge-set signature (count + checksum) fixpoint.
    # bit_xor: order-independent and overflow-free (ANSI mode rejects
    # a bigint sum of hashes); edges are deduped so xor cancellation
    # of duplicates cannot occur.
    prev_sig = None
    for _ in range(max_iterations):
        e = _cut(_small_star(_large_star(e)))
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig

    # after convergence every node points at its component minimum
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    comp = comp.groupBy("node").agg(F.min("component").alias("component"))
    # the minima themselves are their own component
    roots = comp.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return (
        comp.unionByName(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
