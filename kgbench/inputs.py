"""Seeded benchmark inputs, written to parquet before any timing.

Everything here is plain Python + pyarrow: the program under test
only ever sees the parquet files, and the same seed always yields the
same rows (``random.Random`` seeded with strings hashes via SHA-512,
so the output does not depend on PYTHONHASHSEED).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from portuguese_pt_legal_ner_spark.synth import generate_conversation

TRANSCRIPTS_ARROW = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# parquet files per table: one per core, so the scan feeds every
# local[4] slot without the reader having to split files
FILES_PER_TABLE = 4


def write_table(rows: list[dict], schema: pa.Schema, path: str) -> None:
    """Write `rows` as a parquet directory of FILES_PER_TABLE files."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        part = rows[i * step : (i + 1) * step]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


# -- kg_dense ----------------------------------------------------------------


def dense_transcripts(n_conversations: int, seed: int) -> list[dict]:
    """The rows ``sources.tables.distributed_transcripts`` produces:
    the same per-conversation generator, run in this process so input
    generation needs no Spark job. Carries the planted
    ``Tribunal de Justiça`` hub."""
    rows: list[dict] = []
    for c in range(n_conversations):
        rows.extend(generate_conversation(c, seed=seed))
    return rows


# -- neardup_incremental -----------------------------------------------------

_LEGAL_WORDS = (
    "acórdão tribunal recurso sentença réu autor processo juiz relator "
    "mandatário procuração notificação citação prazo audiência julgamento "
    "prova testemunha perito contrato cláusula indemnização dano culpa "
    "responsabilidade civil penal administrativo fiscal laboral execução "
    "penhora hipoteca arrendamento despejo herança partilha divórcio "
    "alimentos tutela menor interdição insolvência credor devedor "
    "liquidação sociedade gerente administrador assembleia deliberação "
    "nulidade anulabilidade caducidade prescrição revogação resolução "
    "rescisão denúncia incumprimento mora juros custas taxa justiça "
    "apoio judiciário patrocínio oficioso arguido assistente ofendido "
    "queixa acusação pronúncia instrução inquérito medida coação prisão "
    "preventiva caução termo identidade residência pena multa suspensão "
    "execução liberdade condicional cúmulo jurídico reincidência "
    "atenuação especial agravante dolo negligência tentativa "
    "cumplicidade coautoria legítima defesa estado necessidade erro "
    "ilicitude tipicidade norma artigo alínea número lei decreto "
    "regulamento portaria código constituição república direito dever "
    "garantia princípio legalidade igualdade proporcionalidade boa fé "
    "abuso venire factum proprium ónus alegação impugnação reclamação "
    "oposição embargos terceiro apelação revista uniformização "
    "jurisprudência conflito competência território matéria valor causa "
    "instância primeira segunda supremo relação comarca secção central "
    "local cível criminal família trabalho comércio propriedade "
    "intelectual marca patente registo predial comercial automóvel "
    "notário escritura testamento doação compra venda permuta mútuo "
    "comodato depósito mandato empreitada prestação serviço seguro "
    "sinistro apólice tomador segurado beneficiário capital prémio"
).split()


def _doc_text(rng: random.Random) -> list[str]:
    return [rng.choice(_LEGAL_WORDS) for _ in range(rng.randint(80, 120))]


def _near_dup(words: list[str], rng: random.Random) -> list[str]:
    """One substituted word: at 80-120 words the word-3-gram Jaccard
    with the source stays above 0.92, well over the 0.8 threshold, so
    the 8x4 MinHash bands find the pair with probability > 0.9999."""
    out = list(words)
    pos = rng.randrange(len(out))
    out[pos] = rng.choice([w for w in _LEGAL_WORDS if w != out[pos]])
    return out


# shares of planted near-duplicates: in the corpus (so the built index
# has real clusters) and in the increment (so assignment has work)
CORPUS_DUP_SHARE = 0.10
INCREMENT_DUP_SHARE = 0.25


def neardup_docs(
    n_corpus: int, n_increment: int, seed: int
) -> tuple[list[dict], list[dict], dict[int, int]]:
    """(corpus rows, increment rows, planted increment dup → source).

    Each planted corpus near-duplicate copies an earlier corpus
    document; each planted increment near-duplicate copies a corpus
    document; the rest are fresh."""
    rng = random.Random(f"neardup:{seed}")
    corpus: list[list[str]] = []
    for i in range(n_corpus):
        if i > 0 and rng.random() < CORPUS_DUP_SHARE:
            corpus.append(_near_dup(corpus[rng.randrange(i)], rng))
        else:
            corpus.append(_doc_text(rng))
    increment: list[dict] = []
    planted: dict[int, int] = {}
    for j in range(n_increment):
        doc_id = n_corpus + j
        if rng.random() < INCREMENT_DUP_SHARE:
            src = rng.randrange(n_corpus)
            planted[doc_id] = src
            words = _near_dup(corpus[src], rng)
        else:
            words = _doc_text(rng)
        increment.append({"doc_id": doc_id, "text": " ".join(words)})
    corpus_rows = [{"doc_id": i, "text": " ".join(w)} for i, w in enumerate(corpus)]
    return corpus_rows, increment, planted
