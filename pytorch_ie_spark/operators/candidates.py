"""Candidate relation-pair generation: the within-document mention self-join.

Reference semantics (re_text_classification_with_indices.py:646-728 and
transformer_re_text_classification.py:301-326): all ordered mention pairs
(head, tail), head != tail, filtered by

  - argument-distance bound (span_distance inner/outer mode, :702-728),
  - argument-type whitelist on (head.label, tail.label) tuples (:634-644),
  - optional sentence/partition containment (:753-758),
  - gold-pair anti-join when building `none` negatives (:662-676).

Spark realization: an equi-join on doc_id with theta predicates — Catalyst
plans it as a shuffle join keyed by doc_id, so pairs never leave their
document's partition. The distance bound keeps the per-doc blowup linear in
practice (it's the same pruning the reference applies *before* encoding,
SURVEY.md §4 row 1 — predicate placed before the expensive UDF on purpose).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ordered_pair_indices(
    starts, ends, max_distance: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(head_idx, tail_idx) of every ordered pair of one document's spans:
    no self-pair, inner gap max(0, max(starts) - min(ends)) <= max_distance
    (None = unbounded). Head-major order. The in-process twin of
    `candidate_pairs` for the fused extractors, numpy-masked so a
    document costs one vectorized call instead of a Python double loop."""
    s = np.asarray(starts)
    e = np.asarray(ends)
    mask = ~np.eye(len(s), dtype=bool)
    if max_distance is not None:
        inner_gap = np.maximum(
            0,
            np.maximum(s[:, None], s[None, :]) - np.minimum(e[:, None], e[None, :]),
        )
        mask &= inner_gap <= max_distance
    return np.nonzero(mask)


def candidate_pairs(
    mentions: DataFrame,
    max_distance: int | None = None,
    distance_mode: str = "inner",
    argument_whitelist: list[tuple[str, str]] | None = None,
    directed: bool = True,
) -> DataFrame:
    """Ordered (head, tail) candidate pairs within each document.

    Returns columns: doc_id, head_* (mention_id,start,end,label,surface),
    tail_*, distance, content_sha256.
    """
    h = mentions.select(
        "doc_id",
        "content_sha256",
        F.col("mention_id").alias("head_mention_id"),
        F.col("start").alias("head_start"),
        F.col("end").alias("head_end"),
        F.col("label").alias("head_label"),
        F.col("surface").alias("head_surface"),
    )
    t = mentions.select(
        F.col("doc_id").alias("t_doc_id"),
        F.col("mention_id").alias("tail_mention_id"),
        F.col("start").alias("tail_start"),
        F.col("end").alias("tail_end"),
        F.col("label").alias("tail_label"),
        F.col("surface").alias("tail_surface"),
    )
    pairs = h.join(
        t,
        (h.doc_id == t.t_doc_id)
        & (F.col("head_mention_id") != F.col("tail_mention_id")),
        "inner",
    ).drop("t_doc_id")

    # inner distance: gap between closer edges, 0 when overlapping
    # (span_distance semantics, re_text_classification_with_indices.py:702-728)
    inner_dist = F.greatest(
        F.lit(0),
        F.greatest(F.col("head_start"), F.col("tail_start"))
        - F.least(F.col("head_end"), F.col("tail_end")),
    )
    outer_dist = F.greatest(F.col("head_end"), F.col("tail_end")) - F.least(
        F.col("head_start"), F.col("tail_start")
    )
    pairs = pairs.withColumn(
        "distance", inner_dist if distance_mode == "inner" else outer_dist
    )
    if max_distance is not None:
        pairs = pairs.filter(F.col("distance") <= max_distance)
    if argument_whitelist is not None:
        allowed = [f"{a}|{b}" for a, b in argument_whitelist]
        pairs = pairs.filter(
            F.concat_ws("|", F.col("head_label"), F.col("tail_label")).isin(allowed)
        )
    if not directed:
        pairs = pairs.filter(F.col("head_start") <= F.col("tail_start"))
    return pairs


def label_gold_pairs(
    pairs: DataFrame, gold_relations: DataFrame, none_label: str = "no_relation"
) -> DataFrame:
    """Attach gold labels to candidates; unmatched pairs get the none label
    (training-target construction, re_text_classification_with_indices.py:662-700)."""
    # Rename EVERY gold key (doc_id included). When gold_relations is derived
    # from `pairs` itself, `pairs.doc_id == gold.doc_id` resolves both sides to
    # the same attribute and Catalyst folds the predicate to `true` (the join
    # then silently keys on mention ids alone) — renamed columns cannot alias.
    gold = gold_relations.select(
        F.col("doc_id").alias("g_doc_id"),
        F.col("head_mention_id").alias("g_head"),
        F.col("tail_mention_id").alias("g_tail"),
        F.col("label").alias("gold_label"),
    )
    joined = pairs.join(
        gold,
        (F.col("doc_id") == F.col("g_doc_id"))
        & (F.col("head_mention_id") == F.col("g_head"))
        & (F.col("tail_mention_id") == F.col("g_tail")),
        "left",
    )
    return joined.withColumn(
        "gold_label", F.coalesce(F.col("gold_label"), F.lit(none_label))
    ).drop("g_doc_id", "g_head", "g_tail")


def resolve_duplicate_candidates(
    pairs: DataFrame, policy: str = "keep_first"
) -> DataFrame:
    """Duplicate-argument resolution per (doc, head-span, tail-span) group
    (re_text_classification_with_indices.py:760-843):
      keep_first -> first by deterministic order, keep_none -> drop groups
      with >1 distinct candidate."""
    from pyspark.sql import Window as W

    key = ["doc_id", "head_mention_id", "tail_mention_id"]
    w = W.partitionBy(*key).orderBy("head_start", "tail_start")
    if policy == "keep_first":
        return (
            pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if policy == "keep_none":
        return (
            pairs.withColumn("_cnt", F.count(F.lit(1)).over(W.partitionBy(*key)))
            .filter(F.col("_cnt") == 1)
            .drop("_cnt")
        )
    raise ValueError(f"unknown policy {policy}")
