"""Fully fused single-pass extraction: documents -> relation/triple rows in
ONE mapInPandas stage (tokenize -> window -> NER -> decode -> candidate
pairs -> RE -> none-suppression), no shuffle until the output aggregation.

This is the exact shape of the reference pipeline — each document flows
through taskmodule.encode -> model -> taskmodule.decode in-process
(src/pytorch_ie/pipeline.py:309-431) — and the preferred 10^12-file plan:
the staged operators (operators/mentions.py, relations.py) exist for when
the mention layer itself must be materialized/queried; when only triples
are needed, staging them through shuffles buys nothing.

Per-batch vectorization notes: one python loop per document (not per pair
— pair enumeration is numpy-masked), one pandas DataFrame per Arrow batch
(not per group — this is mapInPandas, not the per-key applyInPandas).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.span import label_slice_spans
from ..functions.tokenize import tokenize_with_offsets
from ..functions.window import enumerate_windows
from ..functions.hashing import mention_id
from .candidates import ordered_pair_indices
from .models import resolve_model
from .triples import dedupe_triples

TRIPLE_ROWS_SCHEMA = (
    "doc_id string, subj string, pred string, obj string, "
    "head_mention_id string, tail_mention_id string, score double, "
    "content_sha256 string"
)


def extract_triples_fused(
    documents: DataFrame,
    ner_model: str = "gazetteer_ner",
    ner_config: dict | None = None,
    re_model: str = "cooccurrence_re",
    re_config: dict | None = None,
    max_window: int = 128,
    window_overlap: int = 16,
    max_distance: int | None = 40,
    none_label: str = "no_relation",
) -> DataFrame:
    """documents(doc_id, text, content_sha256) -> raw triple rows."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ner = resolve_model(ner_model, ner_config)
        rel = resolve_model(re_model, re_config)
        for pdf in batches:
            out = {
                "doc_id": [],
                "subj": [],
                "pred": [],
                "obj": [],
                "head_mention_id": [],
                "tail_mention_id": [],
                "score": [],
                "content_sha256": [],
            }
            for doc_id, text, sha in zip(
                pdf["doc_id"], pdf["text"], pdf["content_sha256"]
            ):
                toks = tokenize_with_offsets(text or "")
                if not toks:
                    continue
                tokens = [t[0] for t in toks]
                starts = [t[1] for t in toks]
                ends = [t[2] for t in toks]
                # windowed NER with label-slice masking (exactly-once labels)
                spans: set[tuple[int, int, str]] = set()
                windows = enumerate_windows(len(tokens), max_window, window_overlap)
                tags_batch = ner.predict_tags(
                    [tokens[ts:te] for (ts, te), _ in windows]
                )
                for ((ts, te), (ls, le)), tags in zip(windows, tags_batch):
                    for label, (s_tok, e_tok) in label_slice_spans(tags, ls, le):
                        spans.add(
                            (starts[ts + s_tok], ends[ts + e_tok], label)
                        )
                if len(spans) < 2:
                    continue
                ms = sorted(spans)
                # ordered pairs in BOTH directions, like the staged
                # candidate_pairs operator — reversed relations such as
                # org:founded_by need head-after-tail
                h_idx, t_idx = ordered_pair_indices(
                    [m[0] for m in ms], [m[1] for m in ms], max_distance
                )
                if len(h_idx) == 0:
                    continue
                heads = [(ms[i][0], ms[i][1]) for i in h_idx]
                tails = [(ms[i][0], ms[i][1]) for i in t_idx]
                preds = rel.predict_pairs(
                    [text] * len(heads),
                    [ms] * len(heads),
                    heads,
                    tails,
                    head_labels=[ms[i][2] for i in h_idx],
                    tail_labels=[ms[i][2] for i in t_idx],
                )
                for hi, ti, (label, score) in zip(h_idx, t_idx, preds):
                    if label == none_label:
                        continue
                    hs, he, hl = ms[hi]
                    ts_, te_, tl = ms[ti]
                    out["doc_id"].append(doc_id)
                    out["subj"].append(text[hs:he])
                    out["pred"].append(label)
                    out["obj"].append(text[ts_:te_])
                    out["head_mention_id"].append(mention_id(doc_id, hs, he, hl))
                    out["tail_mention_id"].append(mention_id(doc_id, ts_, te_, tl))
                    out["score"].append(float(score))
                    out["content_sha256"].append(sha)
            yield pd.DataFrame(out)

    from ..plans.skew import ensure_parallelism

    # project to the three consumed columns BEFORE the opaque Python stage
    # (mapInPandas defeats column pruning), and fan the scan out: a small
    # corpus parquet plans as 1-2 splits, which would run the whole
    # NER+RE Python stage on 1-2 workers; on a real cluster the scan
    # already yields thousands of partitions and this is a no-op. A
    # STREAMING source cannot be partition-probed (no .rdd on an unstarted
    # stream) — micro-batch parallelism is the source's job there.
    projected = documents.select("doc_id", "text", "content_sha256")
    if not documents.isStreaming:
        projected = ensure_parallelism(projected)
    return projected.mapInPandas(process, schema=TRIPLE_ROWS_SCHEMA)



# raw rows -> deduped triples: the staged path's equality-by-value dedup,
# under the name the fused-extract callers import
fused_triples = dedupe_triples
