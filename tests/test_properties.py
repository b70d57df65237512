"""Property-based tests (hypothesis) for the pure-function core — mirrors
the reference's round-trip test family (SURVEY.md §5 layer 3)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from pytorch_ie_spark.operators.candidates import ordered_pair_indices
from pytorch_ie_spark.functions.span import (
    bio_tags_to_spans,
    span_distance,
    spans_to_bio_tags,
)
from pytorch_ie_spark.functions.tokenize import (
    char_span_to_token_span,
    token_span_to_char_span,
    tokenize_with_offsets,
)
from pytorch_ie_spark.functions.window import enumerate_windows
from pytorch_ie_spark.functions.seq2seq import linearize_triplets, parse_triplets


@st.composite
def non_overlapping_spans(draw):
    n = draw(st.integers(min_value=0, max_value=5))
    length = draw(st.integers(min_value=max(1, 2 * n), max_value=40))
    positions = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=length - 1),
                min_size=2 * n,
                max_size=2 * n,
                unique=True,
            )
        )
    )
    labels = draw(
        st.lists(
            st.sampled_from(["PER", "ORG", "MISC"]), min_size=n, max_size=n
        )
    )
    spans = [
        (labels[i], (positions[2 * i], positions[2 * i + 1])) for i in range(n)
    ]
    return spans, length


@given(non_overlapping_spans())
@settings(max_examples=200, deadline=None)
def test_bio_round_trip_property(case):
    spans, length = case
    tags = spans_to_bio_tags(spans, length)
    assert tags is not None
    assert sorted(bio_tags_to_spans(tags)) == sorted(spans)


@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=2, max_value=64),
    st.integers(min_value=0, max_value=20),
)
@settings(max_examples=200, deadline=None)
def test_window_coverage_property(seq_len, max_size, overlap):
    if max_size <= 2 * overlap:
        return
    ws = enumerate_windows(seq_len, max_size, overlap)
    covered = set()
    n_labeled = 0
    for (ts, te), (ls, le) in ws:
        assert 0 <= ts <= te <= seq_len
        assert te - ts <= max_size
        assert 0 <= ls <= le <= te - ts
        covered.update(range(ts + ls, ts + le))
        n_labeled += le - ls
    # exactly-once: full coverage AND no position labeled twice
    assert covered == set(range(seq_len))
    assert n_labeled == seq_len


@given(st.text(alphabet=" abcXYZ.,!德языки", max_size=80))
@settings(max_examples=200, deadline=None)
def test_tokenize_offsets_property(text):
    toks = tokenize_with_offsets(text)
    for tok, s, e in toks:
        assert text[s:e] == tok
    # offsets strictly increase and never overlap
    for (_, _, e1), (_, s2, _) in zip(toks, toks[1:]):
        assert e1 <= s2


@given(st.text(alphabet="ab c.", min_size=1, max_size=60))
@settings(max_examples=100, deadline=None)
def test_char_token_alignment_round_trip(text):
    toks = tokenize_with_offsets(text)
    if not toks:
        return
    starts = [t[1] for t in toks]
    ends = [t[2] for t in toks]
    for i, (tok, s, e) in enumerate(toks):
        got = char_span_to_token_span(starts, ends, s, e)
        assert got == (i, i + 1)
        assert token_span_to_char_span(starts, ends, i, i + 1) == (s, e)


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcABC", min_size=1, max_size=8),
            st.text(alphabet="abcABC", min_size=1, max_size=8),
            st.text(alphabet="abc:_", min_size=1, max_size=10),
        ),
        max_size=6,
    )
)
@settings(max_examples=200, deadline=None)
def test_seq2seq_round_trip_property(triples):
    s = linearize_triplets(triples)
    assert parse_triplets(s) == triples


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=1, max_value=8),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=1, max_value=8),
            st.booleans(),
        ),
        max_size=6,
    )
)
@settings(max_examples=150, deadline=None)
def test_pointer_codec_round_trip_property(raw):
    from pytorch_ie_spark.functions.pointer_codec import (
        PointerVocab,
        linearize_relations,
        parse_relation_sequence,
    )

    vocab = PointerVocab(
        span_labels=("PER", "ORG"), relation_labels=("r1", "r2")
    )
    rels = []
    for hs, hw, ts, tw, flip in raw:
        head = (hs, hs + hw, "PER" if flip else "ORG")
        tail = (ts, ts + tw, "ORG")
        rels.append((head, tail, "r1" if flip else "r2"))
    ids = linearize_relations(rels, vocab)
    decoded, errors, rest = parse_relation_sequence(ids, vocab)
    assert rest == [vocab.eos_id] if rels else rest == ids
    assert errors.get("correct", 0) == len(rels)
    assert sorted(decoded) == sorted(rels)


# ------------------- trie-constrained generative decode (GENRE analog)


@st.composite
def entity_kbs(draw):
    toks = st.sampled_from(["a", "b", "c", "spark", "sql", "join", "x"])
    names = draw(
        st.lists(
            st.lists(toks, min_size=1, max_size=3).map(" ".join),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    return names


@settings(max_examples=60, deadline=None)
@given(entity_kbs(), st.integers(min_value=0, max_value=10**6))
def test_greedy_decode_always_in_kb(kb, seed):
    from pytorch_ie_spark.operators.entity_linking_gen import (
        EntityTrie,
        constrained_greedy_decode,
    )

    entity, score = constrained_greedy_decode(f"k{seed}", EntityTrie(kb))
    assert entity in kb
    assert score >= 0


@settings(max_examples=40, deadline=None)
@given(entity_kbs(), st.integers(min_value=0, max_value=10**6))
def test_wide_beam_is_exact_argmax(kb, seed):
    from pytorch_ie_spark.operators.entity_linking_gen import (
        EOS,
        EntityTrie,
        constrained_beam_decode,
        md5_step_score,
    )

    key = f"k{seed}"

    def brute(name):
        toks = name.split(" ")
        total = sum(md5_step_score(key, toks[:i], t) for i, t in enumerate(toks))
        return total + md5_step_score(key, toks, EOS)

    best_score = max(brute(n) for n in kb)
    entity, score = constrained_beam_decode(
        key, EntityTrie(kb), beam_size=len(kb) + 1
    )
    assert score == best_score
    assert brute(entity) == best_score


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.floats(min_value=-20, max_value=20, allow_nan=False),
             min_size=1, max_size=8),
)
def test_softmax_argmax_properties(logits):
    from pytorch_ie_spark.operators.doc_classify import softmax_argmax

    idx, prob = softmax_argmax(logits)
    assert idx == logits.index(max(logits))  # first max index
    assert 0.0 < prob <= 1.0
    assert prob >= 1.0 / len(logits) - 1e-12  # argmax prob is at least uniform


@st.composite
def span_lists(draw):
    """0..8 spans, freely overlapping, nested or identical."""
    n = draw(st.integers(min_value=0, max_value=8))
    spans = []
    for _ in range(n):
        start = draw(st.integers(min_value=0, max_value=60))
        spans.append((start, start + draw(st.integers(min_value=0, max_value=15))))
    return spans


@given(
    span_lists(),
    st.one_of(st.none(), st.integers(min_value=0, max_value=40)),
)
@settings(max_examples=300, deadline=None)
def test_ordered_pair_indices_match_double_loop(spans, max_distance):
    """The fused extractors' numpy pair rule equals the reference double
    loop: every ordered (head, tail) with head != tail whose inner
    span_distance is within max_distance, head-major."""
    expected = [
        (h, t)
        for h, head in enumerate(spans)
        for t, tail in enumerate(spans)
        if h != t
        and (max_distance is None or span_distance(head, tail) <= max_distance)
    ]
    h_idx, t_idx = ordered_pair_indices(
        [s for s, _ in spans], [e for _, e in spans], max_distance
    )
    assert list(zip(h_idx.tolist(), t_idx.tolist())) == expected
