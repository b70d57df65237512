"""BIO/IO tag-sequence <-> span codecs.

Reimplements the *semantics* of the reference decoders
(reference: src/pytorch_ie/utils/span.py:41-118 bio_tags_to_spans,
:121-165 io_tags_to_spans, :168-216 convert_span_annotations_to_tag_sequence)
from scratch. Contract notes preserved exactly:

  - token spans returned are **inclusive** (start_tok, end_tok) pairs,
  - ill-formed spans (an I-X with no open X span) are *included* by default
    so a model can't score perfect F1 while emitting garbage,
  - results are a set (order-free, deduplicated).

These are pure functions used inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from typing import Optional


class InvalidTagSequence(Exception):
    pass


def bio_tags_to_spans(
    tags: list[str],
    classes_to_ignore: Optional[list[str]] = None,
    include_ill_formed: bool = True,
) -> list[tuple[str, tuple[int, int]]]:
    """Decode a BIO tag sequence into (label, (start_tok, end_tok_inclusive))."""
    ignore = set(classes_to_ignore or [])
    out: set[tuple[str, tuple[int, int]]] = set()
    open_label: Optional[str] = None
    open_start = open_end = 0

    def close():
        nonlocal open_label
        if open_label is not None:
            out.add((open_label, (open_start, open_end)))
        open_label = None

    for i, tag in enumerate(tags):
        prefix = tag[0]
        if prefix not in ("B", "I", "O"):
            raise InvalidTagSequence(" ".join(tags))
        label = tag[2:]
        if prefix == "O" or label in ignore:
            close()
        elif prefix == "B":
            close()
            open_label, open_start, open_end = label, i, i
        elif label == open_label:  # I continuing the open span
            open_end = i
        else:  # ill-formed I: closes previous, optionally opens new
            close()
            if include_ill_formed:
                open_label, open_start, open_end = label, i, i
    close()
    return list(out)


def label_slice_spans(
    tags: list[str], label_start: int, label_end: int
) -> list[tuple[str, tuple[int, int]]]:
    """BIO-decode one window's tags, keeping only its label slice
    [label_start, label_end): context tokens are masked to 'O', so
    overlapping windows never double-report a span (the exactly-once
    contract of src/pytorch_ie/utils/window.py:4-27)."""
    masked = [
        tag if label_start <= i < label_end else "O" for i, tag in enumerate(tags)
    ]
    return bio_tags_to_spans(masked)


def io_tags_to_spans(
    tags: list[str],
    classes_to_ignore: Optional[list[str]] = None,
) -> list[tuple[str, tuple[int, int]]]:
    """Decode an IO tag sequence: maximal runs of the SAME RAW TAG become
    spans (reference: src/pytorch_ie/utils/span.py:121-165). Tags are
    compared verbatim — IO encoding has no prefixes, so 'B-PER' and 'I-PER'
    (if fed in by mistake) are distinct runs, and `classes_to_ignore`
    matches whole tag strings, exactly like the reference."""
    ignore = set(classes_to_ignore or [])
    out: set[tuple[str, tuple[int, int]]] = set()
    open_label: Optional[str] = None
    open_start = open_end = 0
    for i, tag in enumerate(tags):
        label = None if tag == "O" or tag in ignore else tag
        if label == open_label and label is not None:
            open_end = i
            continue
        if open_label is not None:
            out.add((open_label, (open_start, open_end)))
        open_label = label
        open_start = open_end = i
    if open_label is not None:
        out.add((open_label, (open_start, open_end)))
    return list(out)


def spans_to_bio_tags(
    spans: list[tuple[str, tuple[int, int]]],
    length: int,
    strict: bool = False,
) -> Optional[list[str]]:
    """Encode (label, (start_tok, end_tok_inclusive)) spans as BIO tags.

    Overlapping spans make the encoding undefined: return None (the
    reference returns None on overlap,
    src/pytorch_ie/utils/span.py:168-216) or raise when strict.
    """
    tags = ["O"] * length
    for label, (s, e) in sorted(spans, key=lambda x: (x[1][0], x[1][1])):
        if s < 0 or e >= length or s > e:
            if strict:
                raise ValueError(f"span out of range: {(label, (s, e))}")
            return None
        if any(t != "O" for t in tags[s : e + 1]):
            if strict:
                raise ValueError(f"overlapping span: {(label, (s, e))}")
            return None
        tags[s] = f"B-{label}"
        for i in range(s + 1, e + 1):
            tags[i] = f"I-{label}"
    return tags


def bio_encode_int(
    spans: list[tuple[str, tuple[int, int]]],
    length: int,
    label_to_id: dict[str, int],
) -> list[int]:
    """Integer BIO encoding: O=0, B-label=2*id+1, I-label=2*id+2
    (reference: re_text_classification_with_indices.py:279-290)."""
    out = [0] * length
    for label, (s, e) in spans:
        lid = label_to_id[label]
        out[s] = lid * 2 + 1
        for i in range(s + 1, e + 1):
            out[i] = lid * 2 + 2
    return out


def combine_span_score(token_scores: list[float], mode: str = "mean") -> float:
    """Combine per-token probabilities into one span score: mean/max/min/
    product (reference:
    labeled_span_extraction_by_token_classification.py:374-389)."""
    if not token_scores:
        return 0.0
    if mode == "mean":
        return sum(token_scores) / len(token_scores)
    if mode == "max":
        return max(token_scores)
    if mode == "min":
        return min(token_scores)
    if mode == "product":
        out = 1.0
        for s in token_scores:
            out *= s
        return out
    raise ValueError(f"unknown span score combination mode: {mode}")


def majority_label(labels: list[str]) -> str:
    """Most-common label with first-seen tie-break (reference decode vote:
    pointer_network_for_end2end_re.py:598-606, Counter.most_common)."""
    counts: dict[str, int] = {}
    for lab in labels:
        counts[lab] = counts.get(lab, 0) + 1
    best = labels[0]
    for lab in labels:
        if counts[lab] > counts[best]:
            best = lab
    return best


def find_sublist(haystack: list, needle: list) -> int:
    """First index of `needle` inside `haystack`, -1 if absent (reference:
    re_text_classification_with_indices.py:119-132 — locating the rebuilt
    special-token prefix)."""
    if not needle:
        return 0
    n, m = len(haystack), len(needle)
    for i in range(n - m + 1):
        if haystack[i : i + m] == needle:
            return i
    return -1


def insert_markers(
    tokens: list[str],
    head: tuple[int, int],
    tail: tuple[int, int],
    head_labels: tuple[str, str] = ("[H]", "[/H]"),
    tail_labels: tuple[str, str] = ("[T]", "[/T]"),
) -> tuple[list[str], tuple[int, int], tuple[int, int]]:
    """Insert argument markers around the head/tail token slices (inclusive
    token spans), returning the new token list and the shifted spans —
    markers inserted in ascending position with a running offset
    (reference: re_text_classification_with_indices.py:1119-1140)."""
    inserts = sorted(
        [
            (head[0], head_labels[0], "h_start"),
            (head[1] + 1, head_labels[1], "h_end"),
            (tail[0], tail_labels[0], "t_start"),
            (tail[1] + 1, tail_labels[1], "t_end"),
        ],
        key=lambda x: x[0],
    )
    out = list(tokens)
    shifted = {"h_start": head[0], "h_end": head[1], "t_start": tail[0], "t_end": tail[1]}
    offset = 0
    for pos, marker, kind in inserts:
        at = pos + offset
        out.insert(at, marker)
        # span content sits right after an opening marker / right before a
        # closing one; later inserts land at strictly later positions, so
        # these indices are final once computed
        if kind in ("h_start", "t_start"):
            shifted[kind] = at + 1
        else:
            shifted[kind] = at - 1
        offset += 1
    new_head = (shifted["h_start"], shifted["h_end"])
    new_tail = (shifted["t_start"], shifted["t_end"])
    return out, new_head, new_tail


def iob2_tags_to_spans(
    tags: list[str],
    classes_to_ignore: Optional[list[str]] = None,
) -> list[tuple[str, tuple[int, int]]]:
    """STRICT IOB2 decoder: every span must open with B-; an I- that does
    not continue an open span of the same label raises InvalidTagSequence
    (the external tag_sequence_to_token_spans contract the reference
    delegates to — the tolerant variant is bio_tags_to_spans above).
    Token spans are inclusive (start_tok, end_tok)."""
    ignore = set(classes_to_ignore or [])
    out: list[tuple[str, tuple[int, int]]] = []
    open_label: Optional[str] = None
    open_start = open_end = 0

    def close():
        nonlocal open_label
        if open_label is not None and open_label not in ignore:
            out.append((open_label, (open_start, open_end)))
        open_label = None

    for i, tag in enumerate(tags):
        prefix = tag[0]
        if prefix == "O" and tag == "O":
            close()
        elif prefix == "B" and tag[1:2] == "-":
            close()
            open_label, open_start, open_end = tag[2:], i, i
        elif prefix == "I" and tag[1:2] == "-":
            if open_label != tag[2:]:
                raise InvalidTagSequence(" ".join(tags))
            open_end = i
        else:
            raise InvalidTagSequence(" ".join(tags))
    close()
    return out


def get_special_token_mask(
    token_ids: list[int], special_ids: set[int], unk_id: Optional[int] = None
) -> list[int]:
    """1 for special tokens, 0 for content. The unk id is excluded from the
    special set because an unk indicates a REAL input token
    (reference: src/pytorch_ie/utils/span.py:263-269 — tokenizer-free here:
    pass the id sets explicitly)."""
    specials = set(special_ids) - ({unk_id} if unk_id is not None else set())
    return [1 if t in specials else 0 for t in token_ids]


def tokens_and_tags_to_text_and_labeled_spans(
    tokens: list[str], tags: list[str]
) -> tuple[str, list[tuple[str, tuple[int, int]]]]:
    """(space-joined text, [(label, (char_start, char_end))]) from a token
    list + BIO tags — the fixture-bootstrap tool the reference tests lean
    on (src/pytorch_ie/utils/span.py:272-291). Char ends are exclusive;
    spans come from the tolerant BIO decoder, ordered by offset."""
    starts: list[int] = []
    ends: list[int] = []
    pos = 0
    for tok in tokens:
        starts.append(pos)
        ends.append(pos + len(tok))
        pos += len(tok) + 1
    text = " ".join(tokens)
    spans = [
        (label, (starts[ts], ends[te]))
        for label, (ts, te) in bio_tags_to_spans(tags)
    ]
    spans.sort(key=lambda x: (x[1][0], x[1][1], x[0]))
    return text, spans


def has_overlap(a: tuple[int, int], b: tuple[int, int]) -> bool:
    """End-exclusive interval overlap (pie_documents.utils.span.have_overlap)."""
    return a[0] < b[1] and b[0] < a[1]


def is_contained_in(inner: tuple[int, int], outer: tuple[int, int]) -> bool:
    """inner fully inside outer, end-exclusive
    (used by the partition containment filter,
    reference: src/pytorch_ie/taskmodules/re_text_classification_with_indices.py:753-758)."""
    return inner[0] >= outer[0] and inner[1] <= outer[1]


def span_distance(
    head: tuple[int, int], tail: tuple[int, int], mode: str = "inner"
) -> int:
    """Distance between two end-exclusive spans.

    inner: gap between the closer edges (0 if overlapping);
    outer: span of the farther edges
    (reference: src/pytorch_ie/taskmodules/re_text_classification_with_indices.py:702-728).
    """
    if mode == "inner":
        return max(0, max(head[0], tail[0]) - min(head[1], tail[1]))
    if mode == "outer":
        return max(head[1], tail[1]) - min(head[0], tail[0])
    raise ValueError(f"unknown span distance mode: {mode}")
