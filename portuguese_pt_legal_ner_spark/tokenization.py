"""Deterministic word-level tokenizer with character offsets.

The sandbox has no HF tokenizer weights, so the mock model operates on
a simple, fully deterministic tokenization: maximal runs of
word-characters (unicode letters/digits, plus a few in-token joiners
that the entity patterns need: '@' '.' '-' '+' '/' when glued to word
chars) or single punctuation marks. Offsets are half-open character
spans into the original string — the same contract HF fast tokenizers
expose via offset_mapping and that the reference's span output relies
on (src/inference.py:204-210: entity start/end are char offsets).

Shared verbatim by the serial reference-path oracle and the Spark
mapInPandas detector so span parity is structural, not statistical.
"""

from __future__ import annotations

import re
from typing import NamedTuple

# A token is: a run of word chars possibly containing internal
# @ . - + / (so 'maria@exemplo.pt', '12/02/1990', '1000-001', 'AB-12-34',
# '+351' stay single tokens), OR any single non-space symbol.
_TOKEN_RE = re.compile(
    r"[+]?[\w](?:[\w@.\-/+]*[\w])?|[^\w\s]",
    re.UNICODE,
)


class Token(NamedTuple):
    text: str
    start: int  # char offset, inclusive
    end: int    # char offset, exclusive


# Reference sequence cap: the HF tokenizer is called with
# truncation=True, max_length=512 (ref src/data.py:179-186, default at
# src/config.py:61-62) — tokens past the cap never reach the model, so
# entities there are silently lost. The mock analog truncates at 512
# word-level tokens; the NER paths (serial oracle AND the Spark
# detector, which share this module) apply it identically, so the
# entity-loss-past-512 contract holds structurally on both sides.
MAX_SEQ_LENGTH = 512


def tokenize_with_offsets(text: str, max_length: int | None = None) -> list[Token]:
    """Tokenize `text` into Tokens with half-open char spans; with
    `max_length`, truncate like the reference tokenizer call."""
    toks = [Token(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]
    return toks[:max_length] if max_length else toks

