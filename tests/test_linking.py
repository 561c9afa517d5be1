"""Linking tests: normalization parity, exact tier, LSH recall on
planted near-duplicates, tier precedence, and determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from portuguese_pt_legal_ner_spark.operators.linking import (
    _with_minhash_bands,
    char_shingles,
    link_surfaces,
    normalize_surface_col,
)
from portuguese_pt_legal_ner_spark.oracle_kg import link_surfaces as oracle_link
from portuguese_pt_legal_ner_spark.sources.tables import alias_dict_df
from portuguese_pt_legal_ner_spark.synth import generate_alias_dict, normalize_surface


# link_surfaces rows of `mentions_df`, pinned for bit-identity of both
# tiers (sim is rounded to 6 places, so exact floats compare)
PINNED_LINKS = [
    ("  joão   silva ", "PER", "joão silva", "João Silva", 1.0, "exact"),
    ("Antonio Costta", "PER", "antonio costta", "António Costa", 0.769231, "lsh"),
    ("Coimbraa", "LOC", "coimbraa", "Coimbra", 0.833333, "lsh"),
    ("Joao Silva", "PER", "joao silva", "João Silva", 1.0, "exact"),
    ("Joao Silvaa", "PER", "joao silvaa", "João Silva", 0.888889, "lsh"),
    ("João Silva", "PER", "joão silva", "João Silva", 1.0, "exact"),
    ("Lisboa", "LOC", "lisboa", "Lisboa", 1.0, "exact"),
    ("Maria Santoss", "PER", "maria santoss", "Maria Santos", 0.909091, "lsh"),
    ("Ministerio Publico", "ORG", "ministerio publico", "Ministério Público",
     0.454545, "lsh"),
    ("Supremo Tribunal Administrativ", "ORG", "supremo tribunal administrativ",
     "Supremo Tribunal Administrativo", 0.965517, "lsh"),
    ("TJ Lisboa", "ORG", "tj lisboa", "Tribunal de Justiça de Lisboa", 1.0, "exact"),
    ("Tech Solution Ltda", "ORG", "tech solution ltda", "Tech Solutions Ltda.",
     0.7, "lsh"),
    ("Tribunal de Justica", "ORG", "tribunal de justica",
     "Tribunal de Justiça de Lisboa", 0.789474, "lsh"),
    ("Tribunal de Justica de Lisboa", "ORG", "tribunal de justica de lisboa",
     "Tribunal de Justiça de Lisboa", 0.785714, "lsh"),
    ("Tribunal de Justiça", "ORG", "tribunal de justiça",
     "Tribunal de Justiça de Lisboa", 1.0, "exact"),
]

# band_hash by band_idx of `_with_minhash_bands`, pinned for three
# normalized surfaces
PINNED_BANDS = {
    "joão silva": [
        -5132374418510765851, -116849265111074425, -1279926986087631809,
        269321999298500498, -7966628163640844707, -8596866367472957686,
        -605262926466370338, 4609811299228110221,
    ],
    "ministério público": [
        -1450013115087734583, -467032672333586622, 5738897341427009007,
        8477256180899163208, -78275529353280391, -7151314421211263009,
        6877438084617093931, -7184372154210199966,
    ],
    "tribunal de justiça de lisboa": [
        -8850121459404030814, -2645036188777547870, -2263058352506500122,
        5791061853085293943, 8537980480964927711, 2655424680415312804,
        4515612211188212278, 4947487359713992041,
    ],
}


@pytest.fixture()
def mentions_df(spark):
    rows = [
        ("João Silva", "PER"),
        ("  joão   silva ", "PER"),      # whitespace/case → exact tier
        ("Joao Silva", "PER"),           # missing diacritic → LSH tier
        ("Tribunal de Justiça", "ORG"),
        ("TJ Lisboa", "ORG"),
        ("Tribunal de Justica", "ORG"),  # missing cedilla → LSH tier
        ("Lisboa", "LOC"),
        ("Completely Unknown Zzz", "PER"),  # no match at all
        # noisy variants: no alias matches, the LSH tier links them
        ("Ministerio Publico", "ORG"),
        ("Joao Silvaa", "PER"),
        ("Tribunal de Justica de Lisboa", "ORG"),
        ("Antonio Costta", "PER"),
        ("Supremo Tribunal Administrativ", "ORG"),
        ("Maria Santoss", "PER"),
        ("Tech Solution Ltda", "ORG"),
        ("Coimbraa", "LOC"),
    ]
    return spark.createDataFrame(rows, "surface string, label string")


def test_normalization_matches_python_oracle(spark):
    surfaces = ["  João   SILVA ", "TJ  Lisboa", " united\tstates\nof brazil"]
    df = spark.createDataFrame([(s,) for s in surfaces], "s string").select(
        normalize_surface_col(F.col("s")).alias("n")
    )
    got = [r["n"] for r in df.collect()]
    want = [normalize_surface(s) for s in surfaces]
    assert got == want


def test_char_shingles_short_strings(spark):
    df = spark.createDataFrame([("ab",), ("abcd",)], "s string").select(
        char_shingles(F.col("s")).alias("sh")
    )
    got = [sorted(r["sh"]) for r in df.collect()]
    assert got[0] == ["ab"]            # len < 3 → whole string
    assert got[1] == ["abc", "bcd"]


def test_exact_tier_links_normalized_variants(spark, mentions_df):
    links = link_surfaces(mentions_df, alias_dict_df(spark))
    by_surface = {(r["surface"], r["label"]): r for r in links.collect()}
    assert by_surface[("João Silva", "PER")]["canonical"] == "João Silva"
    assert by_surface[("João Silva", "PER")]["tier"] == "exact"
    assert by_surface[("  joão   silva ", "PER")]["canonical"] == "João Silva"
    assert (
        by_surface[("TJ Lisboa", "ORG")]["canonical"]
        == "Tribunal de Justiça de Lisboa"
    )


def test_lsh_tier_catches_near_duplicates(spark, mentions_df):
    links = link_surfaces(mentions_df, alias_dict_df(spark))
    by_surface = {(r["surface"], r["label"]): r for r in links.collect()}
    joao = by_surface[("Joao Silva", "PER")]
    assert joao["canonical"] == "João Silva"
    assert joao["tier"] in ("exact", "lsh")
    trib = by_surface[("Tribunal de Justica", "ORG")]
    assert trib["canonical"] in (
        "Tribunal de Justiça de Lisboa",  # via 'tribunal de justiça' alias
        "Tribunal de Justiça",
    )
    assert trib["tier"] == "lsh"
    assert sorted(map(tuple, links.collect())) == PINNED_LINKS


def test_unknown_surface_not_linked(spark, mentions_df):
    links = link_surfaces(mentions_df, alias_dict_df(spark))
    surfaces = {r["surface"] for r in links.collect()}
    assert "Completely Unknown Zzz" not in surfaces


def test_exact_tier_agrees_with_serial_oracle(spark, mentions_df):
    links = link_surfaces(mentions_df, alias_dict_df(spark))
    exact = {
        (r["surface"], r["label"]): r["canonical"]
        for r in links.collect()
        if r["tier"] == "exact"
    }
    pairs = [(r["surface"], r["label"]) for r in mentions_df.collect()]
    want = oracle_link(pairs, generate_alias_dict())
    assert exact == want


def test_linking_deterministic(spark, mentions_df):
    d = alias_dict_df(spark)
    a = sorted(map(tuple, link_surfaces(mentions_df, d).collect()))
    b = sorted(map(tuple, link_surfaces(mentions_df, d).collect()))
    assert a == b
    strings = spark.createDataFrame([(s,) for s in PINNED_BANDS], "s string")
    bands: dict[str, list] = {s: [None] * 8 for s in PINNED_BANDS}
    rows = _with_minhash_bands(strings, "s").collect()
    assert len(rows) == 8 * len(PINNED_BANDS)
    for r in rows:
        bands[r["s"]][r["band_idx"]] = r["band_hash"]
    assert bands == PINNED_BANDS
