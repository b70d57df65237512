"""Independent expected outputs, computed in pure Python (numpy for the
all-pairs Jaccard), never through Spark or the package under test.

Each function restates the documented contract of the stage it checks:

- `extract_triples`: gazetteer tagging of `\\w+|[^\\w\\s]` tokens, ordered
  mention pairs with inner char gap <= max_distance, the cooccurrence
  (head_label, tail_label) rule table, triples deduped on
  (subj, pred, obj, doc_id);
- `entity_ids`: exact 3-shingle Jaccard >= threshold between the distinct
  mention surfaces, connected components, id = 'sf:' + min surface;
- `near_dup_pairs`: exact 5-shingle Jaccard >= threshold between documents,
  connected components, reported as same-component pairs.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np

from gen import source_doc_id

TOKEN_RE = re.compile(r"\w+|[^\w\s]")

#: the package's cooccurrence relation rules (head_label, tail_label) -> pred
RULES = {
    ("ENGINE", "OP"): "engine:supports_op",
    ("OP", "ALGO"): "op:uses_algo",
    ("ACTOR", "ENGINE"): "actor:uses_engine",
}


def doc_mentions(text: str, gazetteer: dict[str, str]) -> list[tuple[int, int, str, str]]:
    """(start, end, label, surface) of every gazetteer token."""
    return [
        (m.start(), m.end(), gazetteer[m.group(0)], m.group(0))
        for m in TOKEN_RE.finditer(text)
        if m.group(0) in gazetteer
    ]


def extract_triples(
    docs: list[dict], gazetteer: dict[str, str], max_distance: int, entity=None
) -> set:
    """Triples (subj, pred, obj, doc_id). `entity` maps a surface to its
    entity id (default: the surface itself)."""
    entity = entity or {}
    triples: set = set()
    for d in docs:
        doc_id = source_doc_id(d)
        ms = doc_mentions(d["text"], gazetteer)
        for i, (hs, he, hl, hsurf) in enumerate(ms):
            for j, (ts, te, tl, tsurf) in enumerate(ms):
                if i == j or max(0, max(hs, ts) - min(he, te)) > max_distance:
                    continue
                pred = RULES.get((hl, tl))
                if pred is not None:
                    triples.add(
                        (entity.get(hsurf, hsurf), pred, entity.get(tsurf, tsurf), doc_id)
                    )
    return triples


def shingles(text: str, k: int) -> frozenset:
    if len(text) < k:
        return frozenset([text])
    return frozenset(text[i : i + k] for i in range(len(text) - k + 1))


def _components(nodes, edges) -> dict:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def entity_ids(surfaces, threshold: float, k: int = 3) -> dict:
    """surface -> 'sf:' + min surface of its exact-Jaccard component."""
    surfaces = sorted(set(surfaces))
    sh = {s: shingles(s, k) for s in surfaces}
    index = defaultdict(list)
    for s in surfaces:
        for g in sh[s]:
            index[g].append(s)
    edges = set()
    for s in surfaces:
        seen = {t for g in sh[s] for t in index[g] if t > s}
        for t in seen:
            inter = len(sh[s] & sh[t])
            if inter / (len(sh[s]) + len(sh[t]) - inter) >= threshold:
                edges.add((s, t))
    comp = _components(surfaces, edges)
    members = defaultdict(list)
    for s, c in comp.items():
        members[c].append(s)
    canon = {c: min(ms) for c, ms in members.items()}
    return {s: "sf:" + canon[comp[s]] for s in surfaces}


def kg_triples(docs, gazetteer, max_distance: int, threshold: float) -> set:
    surfaces = {m[3] for d in docs for m in doc_mentions(d["text"], gazetteer)}
    return extract_triples(docs, gazetteer, max_distance, entity_ids(surfaces, threshold))


def normalize_text(text: str) -> str:
    return " ".join(text.lower().split())


def near_dup_pairs(docs: list[dict], threshold: float, k: int = 5) -> set:
    """Same-component document pairs (a < b) under exact Jaccard >= threshold.
    Intersections come from one boolean matrix product."""
    sets = [shingles(normalize_text(d["text"]), k) for d in docs]
    vocab = {g: i for i, g in enumerate(sorted(set().union(*sets)))}
    x = np.zeros((len(docs), len(vocab)), dtype=np.float32)
    for r, s in enumerate(sets):
        x[r, [vocab[g] for g in s]] = 1.0
    inter = x @ x.T
    sizes = x.sum(axis=1)
    union = sizes[:, None] + sizes[None, :] - inter
    hit = np.triu(inter >= threshold * union, k=1)
    ids = [d["doc_id"] for d in docs]
    edges = [(ids[a], ids[b]) for a, b in zip(*np.nonzero(hit))]
    comp = _components({n for e in edges for n in e}, edges)
    members = defaultdict(list)
    for n, c in comp.items():
        members[c].append(n)
    return {
        (a, b) for ms in members.values() for a in ms for b in ms if a < b
    }


def f1(pred: set, ref: set) -> float:
    if not pred and not ref:
        return 1.0
    hit = len(pred & ref)
    if hit == 0:
        return 0.0
    p, r = hit / len(pred), hit / len(ref)
    return 2 * p * r / (p + r)
