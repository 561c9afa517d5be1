"""Serial reference checks for the benchmark's outputs.

The KG checks run the package's serial oracles
(``reference_path.mentions_for_turn``, ``oracle_kg.triples_for_corpus``,
``oracle_kg.link_surfaces``, ``oracle_kg.connected_components``) on a
fixed seeded sample of conversations, or on the whole resolution
table; the near-dup checks recompute exact word-3-gram Jaccard in
plain Python.
"""

from __future__ import annotations

import random
from collections import Counter

from portuguese_pt_legal_ner_spark import oracle_kg
from portuguese_pt_legal_ner_spark.reference_path import mentions_for_turn
from portuguese_pt_legal_ner_spark.synth import normalize_surface

MENTION_COLS = ("conv_id", "turn_idx", "para_idx", "start", "end", "label", "surface")
TRIPLE_COLS = (
    "subj", "subj_label", "pred", "obj", "obj_label", "conv_id", "turn_idx",
    "para_idx", "obj_start", "role", "tool",
)
# linking.JACCARD_MIN: the LSH tier's verification threshold
LSH_JACCARD_MIN = 0.40


def sample_conversations(conv_ids: list[str], seed: int, k: int) -> list[str]:
    ids = sorted(set(conv_ids))
    return sorted(random.Random(f"sample:{seed}").sample(ids, min(k, len(ids))))


def precision_recall(got: list[tuple], want: list[tuple]) -> tuple[float, float]:
    """Multiset precision and recall; 1.0 for an empty side."""
    hit = sum((Counter(got) & Counter(want)).values())
    return (hit / len(got) if got else 1.0, hit / len(want) if want else 1.0)


def mention_rows(turns: list[dict]) -> list[tuple]:
    out = []
    for t in turns:
        for m in mentions_for_turn(t["conv_id"], t["turn_idx"], t["text"]):
            out.append(tuple(m[c] for c in MENTION_COLS) + (round(m["score"], 6),))
    return out


def triple_rows(turns: list[dict]) -> list[tuple]:
    return [tuple(t[c] for c in TRIPLE_COLS) for t in oracle_kg.triples_for_corpus(turns)]


def _shingles(s: str, n: int = 3) -> set[str]:
    """linking.char_shingles: distinct character n-grams, whole string
    when shorter than n."""
    return {s[i : i + n] for i in range(max(len(s) - (n - 1), 1))}


def resolution_oracle(
    keys: list[tuple[str, str]], alias_rows: list[dict]
) -> dict[tuple[str, str], str]:
    """(surface, label) → canonical, the way resolve_entities defines
    it: exact alias link, else the best alias of the same label at
    char-3-gram Jaccard ≥ 0.4 (ties → smaller canonical), else the
    normalized surface; surfaces and canonicals then merge by
    connected components, and each component takes the canonical
    most surfaces resolved to (ties → smaller canonical)."""
    exact = oracle_kg.link_surfaces(keys, alias_rows)
    by_label: dict[str, list[tuple[set[str], str]]] = {}
    for row in alias_rows:
        by_label.setdefault(row["label"], []).append(
            (_shingles(row["alias_norm"]), row["canonical"])
        )
    canonical: dict[tuple[str, str], str] = {}
    for surface, label in keys:
        norm = normalize_surface(surface)
        best = exact.get((surface, label))
        if best is None and label in by_label:
            sh = _shingles(norm)
            scored = [
                (-round(len(sh & a) / len(sh | a), 6), c) for a, c in by_label[label]
            ]
            top = min(scored)
            if -top[0] >= LSH_JACCARD_MIN:
                best = top[1]
        canonical[(surface, label)] = best if best is not None else norm
    edges = [
        ("s" + label + normalize_surface(surface), "c" + label + canonical[(surface, label)])
        for surface, label in keys
    ]
    comp = oracle_kg.connected_components(edges)
    votes: Counter = Counter()
    for (surface, label), canon in canonical.items():
        votes[(comp["c" + label + canon], canon)] += 1
    winner: dict[str, tuple[int, str]] = {}
    for (c, canon), n in votes.items():
        if c not in winner or (-n, canon) < (-winner[c][0], winner[c][1]):
            winner[c] = (n, canon)
    return {
        (surface, label): winner[comp["c" + label + canon]][1]
        for (surface, label), canon in canonical.items()
    }


def entity_agreement(
    resolution: list[tuple[str, str, str, str]],
    mention_keys: set[tuple[str, str]],
    oracle: dict[tuple[str, str], str],
) -> float:
    """Share of (surface, label) keys that the Spark resolution table
    resolves exactly as the oracle does. A key counts as a miss when
    it is missing on either side, when its canonical differs, or when
    its entity id is shared with another (label, canonical)."""
    ids: dict[str, set[tuple[str, str]]] = {}
    got: dict[tuple[str, str], tuple[str, str]] = {}
    for surface, label, canon, entity_id in resolution:
        got[(surface, label)] = (canon, entity_id)
        ids.setdefault(entity_id, set()).add((label, canon))
    keys = set(got) | set(oracle) | mention_keys
    agree = sum(
        1
        for k in keys
        if k in got and k in oracle and k in mention_keys
        and got[k][0] == oracle[k] and len(ids[got[k][1]]) == 1
    )
    return agree / len(keys) if keys else 1.0


# -- near-dup ----------------------------------------------------------------


def word_grams(text: str, n: int = 3) -> set[str]:
    """dedup.word_ngrams: distinct word n-grams, whole text when shorter."""
    toks = text.strip().split()
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - (n - 1), 1))}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if (a or b) else 1.0
