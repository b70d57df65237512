"""Mention detection stage: documents -> LabeledSpan mentions.

Spark realization of the reference inference path (SURVEY.md §3.1):

    read -> mapInPandas(tokenize + enumerate_windows)   # encode_input
         -> token-length bucketing repartition           # collate locality
         -> mapInPandas(model.predict -> BIO decode)     # forward + decode
         -> dropDuplicates(mention_id)                   # window dedup

Every heavy step is Arrow-batched (no per-row Python); the model is loaded
once per python worker (operators/models.py). Windowing semantics follow
src/pytorch_ie/utils/window.py:4-27 so every token is labeled in exactly one
window; BIO decode follows src/pytorch_ie/utils/span.py:41-118.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def encode_documents(
    documents: DataFrame, max_window: int = 128, window_overlap: int = 16
) -> DataFrame:
    """Tokenize + window each document into TaskEncoding rows (1 -> N flatmap,
    reference taskmodule.encode_input)."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text, sha in zip(
                pdf["doc_id"], pdf["text"], pdf["content_sha256"]
            ):
                toks = tokenize_with_offsets(text or "")
                if not toks:
                    continue
                tokens = [t[0] for t in toks]
                starts = [t[1] for t in toks]
                ends = [t[2] for t in toks]
                for w_idx, ((ts, te), (ls, le)) in enumerate(
                    enumerate_windows(len(tokens), max_window, window_overlap)
                ):
                    rows.append(
                        (
                            doc_id,
                            w_idx,
                            tokens[ts:te],
                            starts[ts:te],
                            ends[ts:te],
                            ls,
                            le,
                            te - ts,
                            sha,
                        )
                    )
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


def bucket_by_length(encodings: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Dynamic token-length bucketing (north_rule): co-locate similar-length
    windows so each Arrow batch holds similar-length sequences and padding
    waste inside the model UDF is bounded (reference analog: dynamic padding
    to longest-in-batch, transformer_token_classification.py:331-349).

    Hash-partition on (length_bucket, bounded deterministic salt) + local
    sort — the plans/skew.size_bucketed pattern — NOT repartitionByRange:
    the RangePartitioner runs a separate sampling job over the child plan,
    i.e. a SECOND execution of the tokenize+window UDF upstream (a full
    extra pass at 100 TB), and the low-cardinality bucket value would
    collapse the model stage to #distinct-buckets tasks. One shuffle, no
    sampling; the salt spreads each bucket across partitions and the local
    sort restores batch homogeneity."""
    bucketed = encodings.withColumn(
        "length_bucket", (F.col("n_tokens") / F.lit(16)).cast("int")
    )
    parts = (
        num_partitions
        or encodings.sparkSession.sparkContext.defaultParallelism * 2
    )
    salt = F.pmod(F.xxhash64("doc_id", "window_idx"), F.lit(parts))
    return (
        bucketed.repartition(parts, F.col("length_bucket"), salt)
        .sortWithinPartitions("length_bucket", "n_tokens")
        .drop("length_bucket")
    )


def infer_mentions(
    encodings: DataFrame,
    model_name: str = "rule_ner",
    model_config: dict | None = None,
) -> DataFrame:
    """Run the NER model over windows and decode BIO tags to char-span
    mentions. Only tags inside the window's label slice are decoded, so
    overlapping windows never double-report (window.py:4-27 contract)."""

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = resolve_model(model_name, model_config)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            batch_tokens = [list(t) for t in pdf["tokens"]]
            tags_batch = model.predict_tags(batch_tokens)
            rows = []
            # column zips, not iterrows() — row-wise pandas iteration is the
            # slow path inside an otherwise Arrow-vectorized stage
            for doc_id, tokens, starts, ends, ls, le, sha, tags in zip(
                pdf["doc_id"],
                batch_tokens,
                pdf["token_starts"],
                pdf["token_ends"],
                pdf["label_offset_start"],
                pdf["label_offset_end"],
                pdf["content_sha256"],
                tags_batch,
            ):
                for label, (s_tok, e_tok) in label_slice_spans(tags, ls, le):
                    cs, ce = int(starts[s_tok]), int(ends[e_tok])
                    surface = " ".join(tokens[s_tok : e_tok + 1])
                    rows.append(
                        (
                            doc_id,
                            mention_id(doc_id, cs, ce, label),
                            cs,
                            ce,
                            label,
                            surface,
                            1.0,
                            "pred",
                            sha,
                        )
                    )
            yield pd.DataFrame(
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

    return encodings.mapInPandas(infer, schema=MENTIONS_SCHEMA)


def detect_mentions(
    documents: DataFrame,
    model_name: str = "rule_ner",
    model_config: dict | None = None,
    max_window: int = 128,
    window_overlap: int = 16,
    bucket_partitions: int | None = None,
) -> DataFrame:
    """End-to-end mention stage. Note `surface` is token-joined text; for
    exact substring surfaces join back to documents.text downstream."""
    enc = encode_documents(documents, max_window, window_overlap)
    enc = bucket_by_length(enc, bucket_partitions)
    mentions = infer_mentions(enc, model_name, model_config)
    # cross-window safety dedup (annotation equality-by-value:
    # utils/document.py:18-36)
    return mentions.dropDuplicates(["mention_id"])
