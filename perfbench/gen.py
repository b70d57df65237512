"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical parquet files. The base corpus follows the shape of
the repository's synthetic documents table (30 lowercase words drawn
uniformly, 10-100 tokens per document, 5 languages, 20 sources, a few
near-duplicates tagged `dup`), so the package's default models apply.

Inputs are written under the benchmark's work directory and cached per
(workload, seed, size); generation is never timed.
"""

from __future__ import annotations

import hashlib
import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
N_SOURCES = 20

#: the package's default gazetteer: the words the kg_build rewrite replaces
GAZETTEER_WORDS = {
    "spark": "ENGINE",
    "hash": "ALGO",
    "merge": "ALGO",
    "sort": "ALGO",
    "scan": "OP",
    "join": "OP",
    "filter": "OP",
    "customer": "ACTOR",
    "supplier": "ACTOR",
}

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _rng(seed: int, salt: str) -> random.Random:
    digest = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def base_docs(seed: int, n_docs: int) -> list[dict]:
    """sf0.1-shaped documents: doc_id, text, lang, source."""
    rng = _rng(seed, "docs")
    docs: list[dict] = []
    for i in range(n_docs):
        if docs and rng.random() < 0.02:
            text = rng.choice(docs)["text"] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        docs.append(
            {"doc_id": i, "text": text, "lang": rng.choice(LANGS), "source": f"src{i % N_SOURCES}"}
        )
    return docs


def entity_families(seed: int, n_families: int) -> dict[str, list[list[str]]]:
    """label -> families of entity surfaces. A family is a random 9-14 letter
    name plus 0-2 one-character variants (last letter dropped, or one letter
    appended), each within 3-shingle Jaccard >= 0.8 of the name."""
    rng = _rng(seed, "families")
    labels = sorted(set(GAZETTEER_WORDS.values()))
    used = set(VOCAB)
    out: dict[str, list[list[str]]] = {lab: [] for lab in labels}
    for f in range(n_families):
        while True:
            name = "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(9, 14)))
            variants = [name]
            for _ in range(rng.randint(0, 2)):
                variants.append(
                    name[:-1] if rng.random() < 0.5 else name + rng.choice(string.ascii_lowercase)
                )
            variants = list(dict.fromkeys(variants))
            if not used.intersection(variants):
                used.update(variants)
                break
        out[labels[f % len(labels)]].append(variants)
    return out


def entity_docs(seed: int, n_docs: int, n_families: int) -> tuple[list[dict], dict[str, str]]:
    """kg_build input: base documents with every gazetteer word replaced by a
    same-label entity surface. Returns (docs, gazetteer surface -> label)."""
    families = entity_families(seed, n_families)
    rng = _rng(seed, "entities")
    docs = []
    for d in base_docs(seed, n_docs):
        words = []
        for w in d["text"].split(" "):
            label = GAZETTEER_WORDS.get(w)
            words.append(rng.choice(rng.choice(families[label])) if label else w)
        docs.append({**d, "text": " ".join(words)})
    gazetteer = {s: lab for lab, fams in families.items() for fam in fams for s in fam}
    return docs, gazetteer


def replicated_docs(seed: int, n_docs: int, copies: int) -> list[dict]:
    """`copies` seeded variants of the base corpus: copy k > 0 shuffles the
    word order of every document, so each copy is new text with the same
    token distribution."""
    base = base_docs(seed, n_docs)
    rng = _rng(seed, "replicate")
    out = list(base)
    for k in range(1, copies):
        for d in base:
            words = d["text"].split(" ")
            rng.shuffle(words)
            out.append({**d, "doc_id": k * n_docs + d["doc_id"], "text": " ".join(words)})
    return out


def perturbed_docs(seed: int, n_docs: int, n_copies: int) -> list[dict]:
    """near_dup input: base documents plus `n_copies` perturbed copies of
    randomly chosen originals (1-3 word substitutions, insertions or
    deletions each)."""
    docs = base_docs(seed, n_docs)
    rng = _rng(seed, "perturb")
    for j in range(n_copies):
        words = rng.choice(docs[:n_docs])["text"].split(" ")
        for _ in range(rng.randint(1, 3)):
            op, pos = rng.random(), rng.randrange(len(words))
            if op < 0.4:
                words[pos] = rng.choice(VOCAB)
            elif op < 0.7:
                words.insert(pos, rng.choice(VOCAB))
            elif len(words) > 10:
                del words[pos]
        docs.append(
            {
                "doc_id": n_docs + j,
                "text": " ".join(words),
                "lang": rng.choice(LANGS),
                "source": f"src{(n_docs + j) % N_SOURCES}",
            }
        )
    return docs


def split_increments(seed: int, docs: list[dict], n_parts: int) -> list[list[dict]]:
    """Seeded hash split of the corpus into `n_parts` increments."""
    parts: list[list[dict]] = [[] for _ in range(n_parts)]
    for d in docs:
        h = hashlib.sha256(f"{seed}:{d['doc_id']}".encode()).digest()
        parts[int.from_bytes(h[:4], "big") % n_parts].append(d)
    return parts


def write_docs(docs: list[dict], out_dir: str) -> str:
    """Write `documents.parquet` under `out_dir` (the layout the package's
    `source_files_from_documents` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = {
        "doc_id": [d["doc_id"] for d in docs],
        "text": [d["text"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "source": [d["source"] for d in docs],
        "n_chars": [len(d["text"]) for d in docs],
    }
    path = os.path.join(out_dir, "documents.parquet")
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols, schema=DOC_SCHEMA), tmp)
    os.replace(tmp, path)
    return out_dir


def source_doc_id(d: dict) -> str:
    """The doc_id the package derives for a documents-table row:
    `repo/path@commit`, with repo = source, path = doc_<id>.txt and
    commit = md5(text)."""
    md5 = hashlib.md5(d["text"].encode()).hexdigest()
    return f"{d['source']}/doc_{d['doc_id']}.txt@{md5}"
