"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
gives the same rows. Inputs are built in the benchmark process and
written with pyarrow, so no Spark job runs before the first timed
operation and that operation stays cold.

* ``legal_transcripts`` — the package's own synthetic transcripts, the
  same rows ``sources.tables.distributed_transcripts`` makes (both call
  ``synth.generate_conversation`` once per conversation id).
* ``high_card_transcripts`` — transcripts whose e-mails, process
  numbers, plates, phones and postal codes are near-unique, as case
  identifiers are in real legal transcripts; the package synth repeats
  about 40 surfaces.
* ``neardup_corpus`` — documents where about a quarter belong to
  planted near-duplicate families (a few token edits each) plus one
  boilerplate flood bucket.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

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
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
DOCS_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
STREAM_DOCS_ARROW = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("text", pa.string()),
    ]
)

# stream event time of document d is STREAM_EPOCH + d seconds
STREAM_EPOCH = datetime(2024, 1, 1)


def write_parquet(rows: list[dict], schema: pa.Schema, path: str, n_files: int) -> None:
    """Write `rows` as `n_files` parquet files under directory `path`
    (one scan split per file, so the first stage fans out over cores)."""
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(rows)))
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step : (i + 1) * step]
        table = pa.Table.from_pylist(chunk, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def legal_transcripts(n_conversations: int, seed: int) -> list[dict]:
    rows: list[dict] = []
    for c in range(n_conversations):
        rows.extend(generate_conversation(c, seed=seed))
    return rows


_PER = ("João Silva", "Maria Santos", "António Costa", "Ana Pereira", "Carlos Mendes")
_ORG = (
    "Tribunal de Justiça", "Ministério Público", "Supremo Tribunal Administrativo",
    "TJ Lisboa", "Tribunal de Justiça de Lisboa",
)
_LOC = ("Lisboa", "Porto", "Coimbra", "Braga")
_MAILBOXES = ("geral", "secretaria", "maria", "joao", "advogado", "juizo")
_DOMAINS = ("tribunal.pt", "advogados.pt", "exemplo.pt", "correio.pt")
_ROLES = ("user", "assistant", "tool", "system")
_TOOLS = ("case_lookup", "doc_search", "citation_check")
_LETTERS = "ABCDEFGHIJLMNOPRSTUVXZ"
_TEMPLATES = (
    "{per} enviou o email {email} sobre o processo {proc} em {dat}.",
    "A viatura com matrícula {mat} pertence a {per}, contacto {tel}.",
    "O {org} julgou o processo número {proc} e notificou {email}.",
    "{per} reside em {loc}, código postal {cep}, email {email}.",
    "O {org} apreendeu a viatura {mat} no processo {proc}.",
    "Sem entidades relevantes nesta intervenção processual.",
)


def _fill_high_card(template: str, rng: random.Random) -> str:
    return template.format(
        per=rng.choice(_PER),
        org=rng.choice(_ORG),
        loc=rng.choice(_LOC),
        email=f"{rng.choice(_MAILBOXES)}.{rng.randrange(10**7)}@{rng.choice(_DOMAINS)}",
        proc=f"{rng.randrange(100, 1_000_000)}/{rng.randrange(1990, 2026)}",
        dat=f"{rng.randrange(1, 29):02d}/{rng.randrange(1, 13):02d}/{rng.randrange(1990, 2026)}",
        mat=(
            f"{rng.choice(_LETTERS)}{rng.choice(_LETTERS)}-"
            f"{rng.randrange(100):02d}-{rng.randrange(100):02d}"
        ),
        tel=(
            f"+351 9{rng.randrange(10, 100)} {rng.randrange(100, 1000)} "
            f"{rng.randrange(100, 1000)}"
        ),
        cep=f"{rng.randrange(1000, 10000)}-{rng.randrange(100, 1000)}",
    )


def high_card_transcripts(n_conversations: int, seed: int) -> list[dict]:
    rows: list[dict] = []
    for c in range(n_conversations):
        rng = random.Random(f"high_card:{seed}:{c}")
        base_ts = datetime(2024, 1, 1, 8) + timedelta(hours=c)
        for t in range(rng.randint(3, 12)):
            role = rng.choice(_ROLES) if t else "user"
            text = _fill_high_card(rng.choice(_TEMPLATES), rng)
            if rng.random() < 0.15:
                text += "\n" + _fill_high_card(rng.choice(_TEMPLATES), rng)
            rows.append(
                {
                    "conv_id": f"conv_{c:06d}",
                    "turn_idx": t,
                    "role": role,
                    "text": text,
                    "tool": rng.choice(_TOOLS) if role == "tool" else None,
                    "ts": base_ts + timedelta(seconds=30 * t),
                }
            )
    return rows


_SYLLABLES = (
    "ca de pro ces so ju ri di co men to ra li sa ver tri bu nal le gal "
    "mo ta ne vi da po ar ti go cum pri sen ten ca pe na re cur"
).split()


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _edit(tokens: list[str], vocab: list[str], rng: random.Random, n_edits: int) -> list[str]:
    out = list(tokens)
    for _ in range(n_edits):
        pos = rng.randrange(len(out))
        op = rng.random()
        if op < 0.5:
            out[pos] = rng.choice(vocab)
        elif op < 0.75:
            out.insert(pos, rng.choice(vocab))
        elif len(out) > 10:
            del out[pos]
    return out


def neardup_corpus(n_docs: int, seed: int, flood_docs: int) -> list[dict]:
    """(doc_id, text) rows. About 25% of the documents are members of
    near-duplicate families of 2-5 (each member 1-3 token edits off a
    shared base); `flood_docs` more are one boilerplate notice with a
    single-token change each, so they land in one LSH bucket. Ids are
    shuffled so families are spread over the id range."""
    rng = random.Random(f"neardup:{seed}")
    vocab = _vocabulary(rng, 3000)
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(vocab))]

    def base() -> list[str]:
        return rng.choices(vocab, weights=weights, k=rng.randint(30, 60))

    texts: list[str] = []
    boiler = base()
    for _ in range(flood_docs):
        texts.append(" ".join(_edit(boiler, vocab, rng, 1)))
    family_target = n_docs // 4
    while len(texts) < flood_docs + family_target:
        root = base()
        for _ in range(rng.randint(2, 5)):
            texts.append(" ".join(_edit(root, vocab, rng, rng.randint(1, 3))))
    while len(texts) < n_docs:
        texts.append(" ".join(base()))
    texts = texts[:n_docs]
    rng.shuffle(texts)
    return [{"doc_id": i, "text": t} for i, t in enumerate(texts)]


def stream_rows(docs: list[dict]) -> list[dict]:
    """Documents as stream events: ts = STREAM_EPOCH + doc_id seconds."""
    return [
        {"doc_id": d["doc_id"], "ts": STREAM_EPOCH + timedelta(seconds=d["doc_id"]),
         "text": d["text"]}
        for d in docs
    ]
