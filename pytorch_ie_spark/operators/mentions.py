"""Mention detection stage: documents -> LabeledSpan mentions.

Spark realization of the reference inference path (SURVEY.md §3.1), one
Python pass per Arrow batch of documents:

    read -> mapInPandas(tokenize + enumerate_windows   # encode_input
                        -> sort windows by length      # collate locality
                        -> model.predict -> BIO decode) # forward + decode
         -> dropDuplicates(mention_id)                  # window dedup

Every heavy step is Arrow-batched (no per-row Python); the model is loaded
once per python worker (operators/models.py). The in-batch length sort gives
the model length-homogeneous windows without a shuffle. Windowing semantics
follow src/pytorch_ie/utils/window.py:4-27 so every token is labeled in
exactly one window; BIO decode follows src/pytorch_ie/utils/span.py:41-118.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.span import label_slice_spans
from ..functions.tokenize import tokenize_with_offsets
from ..functions.window import enumerate_windows
from ..functions.hashing import mention_id
from .models import resolve_model

ENCODINGS_SCHEMA = (
    "doc_id string, window_idx int, tokens array<string>, "
    "token_starts array<int>, token_ends array<int>, "
    "label_offset_start int, label_offset_end int, n_tokens int, "
    "content_sha256 string"
)

MENTIONS_SCHEMA = (
    "doc_id string, mention_id string, start int, end int, label string, "
    "surface string, score double, source string, content_sha256 string"
)


def _windows(text: str | None, max_window: int, window_overlap: int):
    """(tokens, starts, ends, label_start, label_end) per window of one
    document; no windows for an empty or token-less text."""
    toks = tokenize_with_offsets(text or "")
    if not toks:
        return
    tokens = [t[0] for t in toks]
    starts = [t[1] for t in toks]
    ends = [t[2] for t in toks]
    for (ts, te), (ls, le) in enumerate_windows(
        len(tokens), max_window, window_overlap
    ):
        yield tokens[ts:te], starts[ts:te], ends[ts:te], ls, le


def encode_documents(
    documents: DataFrame, max_window: int = 128, window_overlap: int = 16
) -> DataFrame:
    """Tokenize + window each document into TaskEncoding rows (1 -> N flatmap,
    reference taskmodule.encode_input)."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (doc_id, w_idx, tokens, starts, ends, ls, le, len(tokens), sha)
                for doc_id, text, sha in zip(
                    pdf["doc_id"], pdf["text"], pdf["content_sha256"]
                )
                for w_idx, (tokens, starts, ends, ls, le) in enumerate(
                    _windows(text, max_window, window_overlap)
                )
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "window_idx",
                    "tokens",
                    "token_starts",
                    "token_ends",
                    "label_offset_start",
                    "label_offset_end",
                    "n_tokens",
                    "content_sha256",
                ],
            )

    return documents.select("doc_id", "text", "content_sha256").mapInPandas(
        encode, schema=ENCODINGS_SCHEMA
    )




def _mentions_of_batch(
    pdf: pd.DataFrame, model, max_window: int, window_overlap: int
) -> pd.DataFrame:
    """One Arrow batch of documents -> its mention rows. The model sees
    every window of the batch in ONE predict_tags call, shortest window
    first (dynamic padding to the longest in a model batch stays bounded,
    reference transformer_token_classification.py:331-349); the tags are
    put back in window order for the decode. Only tags inside each
    window's label slice are decoded, so overlapping windows never
    double-report (window.py:4-27 contract)."""
    windows = [
        (doc_id, sha, *w)
        for doc_id, text, sha in zip(
            pdf["doc_id"], pdf["text"], pdf["content_sha256"]
        )
        for w in _windows(text, max_window, window_overlap)
    ]
    order = sorted(range(len(windows)), key=lambda i: len(windows[i][2]))
    tags_batch = [None] * len(windows)
    for i, tags in zip(order, model.predict_tags([windows[i][2] for i in order])):
        tags_batch[i] = tags
    rows = []
    for (doc_id, sha, tokens, starts, ends, ls, le), tags in zip(
        windows, tags_batch
    ):
        for label, (s_tok, e_tok) in label_slice_spans(tags, ls, le):
            cs, ce = starts[s_tok], ends[e_tok]
            rows.append(
                (
                    doc_id,
                    mention_id(doc_id, cs, ce, label),
                    cs,
                    ce,
                    label,
                    " ".join(tokens[s_tok : e_tok + 1]),
                    1.0,
                    "pred",
                    sha,
                )
            )
    return pd.DataFrame(
        rows,
        columns=[
            "doc_id",
            "mention_id",
            "start",
            "end",
            "label",
            "surface",
            "score",
            "source",
            "content_sha256",
        ],
    )


def detect_mentions(
    documents: DataFrame,
    model_name: str = "rule_ner",
    model_config: dict | None = None,
    max_window: int = 128,
    window_overlap: int = 16,
) -> DataFrame:
    """End-to-end mention stage: tokenize, window, tag and BIO-decode in ONE
    mapInPandas over the documents (see _mentions_of_batch). Note `surface`
    is token-joined text; for exact substring surfaces join back to
    documents.text downstream."""

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = resolve_model(model_name, model_config)
        for pdf in batches:
            yield _mentions_of_batch(pdf, model, max_window, window_overlap)

    mentions = documents.select("doc_id", "text", "content_sha256").mapInPandas(
        detect, schema=MENTIONS_SCHEMA
    )
    # cross-window safety dedup (annotation equality-by-value:
    # utils/document.py:18-36)
    return mentions.dropDuplicates(["mention_id"])
