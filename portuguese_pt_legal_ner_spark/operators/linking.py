"""Entity linking: surface → canonical entity.

Two-tier candidate generation per the north_star:

  1. exact tier — normalize the surface and broadcast-left-join the
     alias dictionary (small side by construction; the canonical-ID
     dictionary broadcast is also the skew tactic SURVEY §4 mandates);
     the same join yields the unmatched remainder;
  2. LSH tier — surfaces missed by tier 1 go through hand-rolled
     MinHash-LSH blocking over character 3-gram shingles (banding →
     band-hash equi-join → exact Jaccard verification → best match).
     Hand-rolled in pure DataFrame ops (xxhash64/array functions)
     rather than pyspark.ml so there is no Vector conversion detour.
     The shingle and signature expressions are higher-order functions,
     which are CodegenFallback: they run interpreted inside an
     otherwise codegen'd stage. That is cheap here because the input
     is the distinct-surface set, not the mention rows.

Scale notes:
  * the alias dict stays broadcastable (it is the *canonicalized*
    dictionary, orders of magnitude smaller than mentions);
  * LSH candidate blow-up is bounded: band join is on
    (band_idx, band_hash, label); oversized buckets are capped by
    distinct-surface dedup before the join (mentions dedup to unique
    surfaces first — the 10^12-turn table has far fewer distinct
    surfaces than rows);
  * everything is deterministic: xxhash64 seeds are literal ints.

Normalization must stay bit-identical to synth.normalize_surface
(the oracle's python: ``" ".join(s.lower().split())``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# LSH parameters: 24 hashes in 8 bands of 3 rows → s-curve threshold
# (1/8)^(1/3) ≈ 0.50 Jaccard; verification threshold keeps precision.
N_HASHES = 24
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_MIN = 0.40


def normalize_surface_col(col: Column) -> Column:
    """lower + trim + collapse whitespace — mirrors synth.normalize_surface."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def char_shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams; whole string when len < n."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1))),
            lambda i: col.substr(i, F.lit(n)),
        )
    )


def distinct_surfaces(mentions: DataFrame) -> DataFrame:
    """Distinct (surface, label) pairs of `mentions` plus surface_norm:
    the input of both linking tiers."""
    return (
        mentions.select("surface", "label")
        .dropDuplicates(["surface", "label"])
        .withColumn("surface_norm", normalize_surface_col(F.col("surface")))
    )


def link_exact(
    surfaces: DataFrame, alias_dict: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Tier 1: one broadcast left join on (normalized surface, label).

    `surfaces`: distinct (surface, label) pairs with surface_norm.
    Returns (exact, unmatched): the linked rows as (surface, label,
    surface_norm, canonical, sim=1.0, tier='exact'), and the
    (surface, label, surface_norm) rows that matched no alias.
    """
    alias = F.broadcast(
        alias_dict.select("alias_norm", "canonical", F.col("label").alias("_al"))
    )
    tagged = surfaces.join(
        alias,
        (F.col("surface_norm") == F.col("alias_norm")) & (F.col("label") == F.col("_al")),
        "left",
    )
    matched = F.col("alias_norm").isNotNull()
    exact = tagged.filter(matched).select(
        "surface", "label", "surface_norm", "canonical",
        F.lit(1.0).alias("sim"), F.lit("exact").alias("tier"),
    )
    unmatched = tagged.filter(~matched).select("surface", "label", "surface_norm")
    return exact, unmatched


# MinHash h_i(S) = min over shingles x of xxhash64(x, i); a band's key
# hashes its ROWS_PER_BAND signature slots together. Each is one SQL
# string parsed once: the same lambdas and structs built through the
# Column API cost thousands of py4j round trips per plan.
_SIGNATURE_SQL = "array({})".format(", ".join(
    f"array_min(transform(_sh, x -> xxhash64(x, {i})))" for i in range(N_HASHES)
))
_BANDS_SQL = "array({})".format(", ".join(
    "named_struct('band_idx', {}, 'band_hash', xxhash64({}))".format(
        b, ", ".join(f"_sig[{b * ROWS_PER_BAND + r}]" for r in range(ROWS_PER_BAND))
    )
    for b in range(N_BANDS)
))


def _with_minhash_bands(df: DataFrame, text_col: str) -> DataFrame:
    """Add the shingle array `_sh` and exploded (band_idx, band_hash)
    per row."""
    return (
        df.withColumn("_sh", char_shingles(F.col(text_col)))
        .withColumn("_sig", F.expr(_SIGNATURE_SQL))
        .withColumn("_band", F.explode(F.expr(_BANDS_SQL)))
        .select("*", "_band.*")
        .drop("_band", "_sig")
    )


def link_lsh(
    unmatched: DataFrame,
    alias_dict: DataFrame,
    jaccard_min: float = JACCARD_MIN,
) -> DataFrame:
    """Tier 2: MinHash-LSH blocking + exact-Jaccard verify + best-match.

    `unmatched`: distinct (surface, label, surface_norm) not linked by
    tier 1. Returns the shape of link_exact's exact rows with tier='lsh'.
    """
    left = _with_minhash_bands(
        unmatched.select("surface", "label", "surface_norm"), "surface_norm"
    ).withColumnRenamed("_sh", "sh_l")
    right = _with_minhash_bands(
        alias_dict.select("alias_norm", "canonical", F.col("label").alias("r_label")),
        "alias_norm",
    ).withColumnRenamed("_sh", "sh_r")

    candidates = (
        left.join(
            right,
            (left.band_idx == right.band_idx)
            & (left.band_hash == right.band_hash)
            & (left.label == right.r_label),
        )
        .select("surface", "label", "surface_norm", "alias_norm", "canonical",
                "sh_l", "sh_r")
        .dropDuplicates(["surface_norm", "label", "alias_norm", "canonical"])
    )

    inter = F.size(F.array_intersect(F.col("sh_l"), F.col("sh_r")))
    union = F.size(F.array_union(F.col("sh_l"), F.col("sh_r")))
    scored = candidates.withColumn(
        "sim", F.round(inter.cast("double") / union, 6)
    ).filter(F.col("sim") >= jaccard_min)

    w = Window.partitionBy("surface_norm", "label").orderBy(
        F.desc("sim"), F.asc("canonical")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "surface", "label", "surface_norm", "canonical", "sim",
            F.lit("lsh").alias("tier"),
        )
    )


def link_tiers(surfaces: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Exact tier, then the LSH tier on its remainder, over a
    `distinct_surfaces` table."""
    exact, unmatched = link_exact(surfaces, alias_dict)
    return exact.unionByName(link_lsh(unmatched, alias_dict))


def link_surfaces(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Full linking: distinct surfaces → exact tier → LSH tier on the
    remainder → union. Returns (surface, label, surface_norm,
    canonical, sim, tier); surfaces matching nothing are absent
    (callers left-join and treat null canonical as a new entity)."""
    return link_tiers(distinct_surfaces(mentions), alias_dict)
