"""Pluggable inference models for the mention / relation stages.

The reference runs transformer inference inside its pipeline
(src/pytorch_ie/pipeline.py:409-417 model.predict under inference_mode;
src/pytorch_ie/model.py:37-40). This container ships no `transformers`, so:

  - the *plumbing* (per-worker singleton load, Arrow-batched inference inside
    mapInPandas, in-batch token-length sorting, collate/unbatch) is real and
    exercised by every test, and
  - the default models are deterministic rule models that exactly reproduce
    the reference fixture annotations (tests/conftest.py corpus), standing in
    for encoder logits. A real HF checkpoint plugs in via
    ``HFTokenClassificationModel`` (import-gated).

Models are resolved lazily *inside* the Python worker from a (name, config)
pair so only small picklable specs cross the driver->executor boundary and
each worker process loads its model once (reference's DataLoader worker
model-broadcast pattern, SURVEY.md §2.10).
"""

from __future__ import annotations

from typing import Any, Callable

# per-python-worker model cache: (name, frozen_config) -> model instance
_MODEL_CACHE: dict[tuple, Any] = {}
_REGISTRY: dict[str, Callable[..., Any]] = {}


def register_model(name: str):
    def deco(cls):
        _REGISTRY[name] = cls
        return cls

    return deco


def resolve_model(name: str, config: dict | None = None):
    # repr-key: config values may be unhashable (nested dicts like gazetteers)
    key = (name, repr(sorted((config or {}).items())))
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = _REGISTRY[name](**(config or {}))
    return _MODEL_CACHE[key]


def save_pretrained(path: str, name: str, config: dict | None = None) -> str:
    """Persist a (name, config) model spec as a config.json artifact dir —
    the reference's save_pretrained surface (model.py:9-20: config +
    weights; rule models have no weights, HF-backed models store the
    checkpoint id in config). Driver-side write; executors later resolve
    lazily from the spec, never from the artifact path."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "config.json"), "w") as f:
        json.dump({"model_type": name, "config": config or {}}, f, indent=2)
    return path


def from_pretrained(path: str):
    """Load a model from a save_pretrained artifact dir (reference
    model.py:17-32 from_pretrained; registry lookup = Auto* by config)."""
    import json
    import os

    with open(os.path.join(path, "config.json")) as f:
        spec = json.load(f)
    return resolve_model(spec["model_type"], spec.get("config") or {})


def load_spec(path: str) -> tuple[str, dict]:
    """(name, config) from an artifact dir — the picklable form shipped to
    executors (only the spec crosses the driver->worker boundary)."""
    import json
    import os

    with open(os.path.join(path, "config.json")) as f:
        spec = json.load(f)
    return spec["model_type"], spec.get("config") or {}


@register_model("rule_ner")
class RuleNerModel:
    """Deterministic BIO tagger reproducing the reference fixture entities.

    Patterns (derived from tests/fixtures/datasets/json/train.json):
      'Entity' followed by a single capital  -> B-PER I-PER
      standalone single capital letter B..Z  -> B-ORG
      pronoun 'it'                            -> B-PER (doc8 coreference)
    """

    def predict_tags(self, batch_tokens: list[list[str]]) -> list[list[str]]:
        out = []
        for tokens in batch_tokens:
            tags = ["O"] * len(tokens)
            i = 0
            while i < len(tokens):
                tok = tokens[i]
                if (
                    tok == "Entity"
                    and i + 1 < len(tokens)
                    and len(tokens[i + 1]) == 1
                    and tokens[i + 1].isupper()
                ):
                    tags[i] = "B-PER"
                    tags[i + 1] = "I-PER"
                    i += 2
                    continue
                if len(tok) == 1 and tok.isupper() and tok != "A":
                    tags[i] = "B-ORG"
                elif tok == "it":
                    tags[i] = "B-PER"
                i += 1
            out.append(tags)
        return out


@register_model("gazetteer_ner")
class GazetteerNerModel:
    """Dictionary tagger for the synthetic lowercase corpus; the gazetteer is
    the broadcast 'label vocabulary' analog of taskmodule._prepare
    (SURVEY.md §2.4)."""

    #: default gazetteer over the synthetic testdata vocabulary
    DEFAULT = {
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

    def __init__(self, gazetteer: dict[str, str] | None = None):
        self.gazetteer = dict(gazetteer) if gazetteer else dict(self.DEFAULT)

    def predict_tags(self, batch_tokens: list[list[str]]) -> list[list[str]]:
        gaz = self.gazetteer
        return [
            [f"B-{gaz[t]}" if t in gaz else "O" for t in tokens]
            for tokens in batch_tokens
        ]


@register_model("hf_token_classification")
class HFTokenClassificationModel:
    """Real transformer token-classification NER (requires
    `transformers`+`torch`, imported lazily at construction so the
    per-worker singleton in `resolve_model` loads the checkpoint exactly
    once per python worker).

    Reference inference contract:
      - pipeline.py:409-417: batched forward under no-grad, then
        taskmodule.unbatch_output per batch,
      - model.py:37-40: predict = forward + decode,
      - transformer_token_classification.py:288-292 (taskmodule):
        tags = id_to_label[argmax(logits, -1)].

    Word alignment: the taskmodule feeds pre-split words
    (`is_split_into_words=True`); a word's tag is read from its FIRST
    subword position (continuation subwords are ignored), padding/special
    positions have word_id None. Padding is dynamic to the
    longest-in-batch (transformer_token_classification.py:331-349), which
    is what the mention stage's in-batch length sort keeps cheap.

    The sandbox ships no torch/transformers: construction raises
    NotImplementedError THEN, but the full load->tokenize->forward->
    argmax->align path below is exercised in tests against a fake
    transformers/torch module pair (tests/fake_hf/) shipped to Spark
    workers with addPyFile."""

    def __init__(
        self,
        model_name_or_path: str,
        batch_size: int = 32,
        device: str = "cpu",
    ):
        try:
            import torch
            from transformers import (
                AutoModelForTokenClassification,
                AutoTokenizer,
            )
        except ImportError as e:
            raise NotImplementedError(
                "transformers/torch not available in this environment; "
                "use 'rule_ner' or 'gazetteer_ner'"
            ) from e
        self._torch = torch
        self.batch_size = int(batch_size)
        self.device = device
        # word_ids() below only exists on fast tokenizers; require one up
        # front so a slow-tokenizer checkpoint fails at construction with a
        # clear message instead of at predict time
        self.tokenizer = AutoTokenizer.from_pretrained(
            model_name_or_path, use_fast=True
        )
        if not getattr(self.tokenizer, "is_fast", True):
            raise ValueError(
                f"checkpoint {model_name_or_path!r} resolved to a slow "
                "tokenizer; HFTokenClassificationModel needs a fast "
                "tokenizer for word_ids()-based subword alignment"
            )
        self.model = AutoModelForTokenClassification.from_pretrained(
            model_name_or_path
        )
        self.model.eval()
        if hasattr(self.model, "to"):
            self.model.to(device)
        self.id2label = {
            int(k): v for k, v in self.model.config.id2label.items()
        }

    def predict_tags(self, batch_tokens: list[list[str]]) -> list[list[str]]:
        torch = self._torch
        out: list[list[str]] = []
        for i in range(0, len(batch_tokens), self.batch_size):
            chunk = batch_tokens[i : i + self.batch_size]
            enc = self.tokenizer(
                chunk,
                is_split_into_words=True,
                padding=True,  # dynamic: longest-in-batch
                truncation=True,
                return_tensors="pt",
            )
            inputs = {
                k: (v.to(self.device) if hasattr(v, "to") else v)
                for k, v in enc.items()
            }
            with torch.inference_mode():
                logits = self.model(**inputs).logits
            pred_ids = logits.argmax(-1)
            for row, tokens in enumerate(chunk):
                word_ids = enc.word_ids(row)
                tags = ["O"] * len(tokens)
                seen: set[int] = set()
                for pos, wid in enumerate(word_ids):
                    # first-subword tag wins; specials/padding are None
                    if wid is None or wid in seen:
                        continue
                    seen.add(wid)
                    tags[wid] = self.id2label[int(pred_ids[row][pos])]
                out.append(tags)
        return out


@register_model("crf_ner")
class CrfNerModel:
    """Linear-chain CRF tagger: real max-sum Viterbi decode with
    backtracking over deterministic mock potentials (functions/crf.py) —
    the decoder of the reference's CRF head
    (models/token_classification_with_seq2seq_encoder_and_crf.py) with
    md5-derived emissions standing in for the encoder logits. Plugs into
    the same mention stage as every other tagger; the forward-pass score
    has a JVM twin (viterbi_score_col) and a DuckDB oracle
    (q:crf_viterbi)."""

    def predict_tags(self, batch_tokens: list[list[str]]) -> list[list[str]]:
        from ..functions.crf import viterbi_decode

        return [viterbi_decode(list(toks))[0] for toks in batch_tokens]


@register_model("doc_mock_classifier")
class DocMockClassifierModel:
    """Document-level text-classification head analog (reference
    models/transformer_text_classification.py: encoder -> pooled logits;
    the taskmodule softmaxes + argmaxes in unbatch_output,
    simple_transformer_text_classification.py:177-205).

    No torch in the container, so the encoder is a deterministic md5 mock:
    logit(label) = int(md5(enc_text + '|' + label)[:8], 16) % 1000 / 100.0
    — engine-portable (identical hex-slice arithmetic in Spark and DuckDB),
    which is what gives the stage a value-level oracle. The model returns
    LOGITS only; softmax/argmax belong to the taskmodule (same split as the
    reference)."""

    def __init__(self, labels: list[str] | None = None):
        from ..operators.doc_classify import DOC_LABELS

        self.labels = list(labels) if labels else list(DOC_LABELS)

    def predict_logits(self, batch_texts: list[str]) -> list[list[float]]:
        import hashlib

        return [
            [
                int(
                    hashlib.md5(f"{text}|{lab}".encode()).hexdigest()[:8], 16
                )
                % 1000
                / 100.0
                for lab in self.labels
            ]
            for text in batch_texts
        ]


def relation_rules_for_doc(
    text: str, mentions: list[tuple[int, int, str]]
) -> set[tuple[tuple[int, int], tuple[int, int], str]]:
    """Deterministic relation extraction reproducing the reference fixture
    relations (tests/fixtures/datasets/json). Returns {(head_span, tail_span,
    label)} with end-exclusive char spans.

    Connective rules (derived from the fixture gold):
      'works at': head = nearest preceding PER, tail = first following ORG
                  -> per:employee_of
      'founded':  head = nearest preceding PER, tail = first following ORG
                  -> per:founder; additionally the founded ORG relates back
                  to the mention immediately preceding it
                  -> org:founded_by(founded_org, previous_mention)
    """
    ms = sorted(mentions)
    rels: set[tuple[tuple[int, int], tuple[int, int], str]] = set()

    def nearest_per_before(pos: int):
        cands = [m for m in ms if m[1] <= pos and m[2] == "PER"]
        return cands[-1] if cands else None

    def first_after(pos: int, label: str | None = None):
        cands = [m for m in ms if m[0] >= pos and (label is None or m[2] == label)]
        return cands[0] if cands else None

    import re as _re

    for m in _re.finditer(r"works at", text):
        head = nearest_per_before(m.start())
        tail = first_after(m.end(), "ORG")
        if head and tail:
            rels.add(((head[0], head[1]), (tail[0], tail[1]), "per:employee_of"))
    for m in _re.finditer(r"founded", text):
        head = nearest_per_before(m.start())
        tail = first_after(m.end(), "ORG")
        if head and tail:
            rels.add(((head[0], head[1]), (tail[0], tail[1]), "per:founder"))
        if tail:
            before = [x for x in ms if x[0] < tail[0]]
            if before:
                prev = before[-1]
                rels.add(((tail[0], tail[1]), (prev[0], prev[1]), "org:founded_by"))
    return rels


@register_model("rule_re")
class RuleRelationModel:
    """Pair classifier over candidates: looks up the rule-extracted relation
    set for the document; everything else is `no_relation` (the reference's
    none_label, re_text_classification_with_indices.py:1369-1381)."""

    none_label = "no_relation"

    def predict_pairs(
        self,
        texts: list[str],
        mentions_per_row: list[list[tuple[int, int, str]]],
        heads: list[tuple[int, int]],
        tails: list[tuple[int, int]],
        **_: object,
    ) -> list[tuple[str, float]]:
        out = []
        cache: dict[str, set] = {}
        for text, ms, h, t in zip(texts, mentions_per_row, heads, tails):
            rels = cache.get(text)
            if rels is None:
                rels = relation_rules_for_doc(text, ms)
                cache[text] = rels
            label = self.none_label
            for (hs, he), (ts, te), lab in rels:
                if (hs, he) == h and (ts, te) == t:
                    label = lab
                    break
            out.append((label, 1.0))
        return out


@register_model("cooccurrence_re")
class CooccurrenceRelationModel:
    """Relation labeling for the synthetic corpus: a (head_label, tail_label)
    rule table over distance-bounded co-occurring mentions. Fully
    SQL-expressible, which is what gives the relation stage a DuckDB oracle."""

    RULES = {
        ("ENGINE", "OP"): "engine:supports_op",
        ("OP", "ALGO"): "op:uses_algo",
        ("ACTOR", "ENGINE"): "actor:uses_engine",
    }
    none_label = "no_relation"

    def predict_pairs(self, texts, mentions_per_row, heads, tails, head_labels=None, tail_labels=None):
        out = []
        for hl, tl in zip(head_labels or [], tail_labels or []):
            out.append((self.RULES.get((hl, tl), self.none_label), 1.0))
        return out
