"""The fused mention stage (one mapInPandas: tokenize -> window -> tag ->
label-slice decode) against a pure-Python per-document reference."""

import pandas as pd

from pytorch_ie_spark.functions.hashing import mention_id
from pytorch_ie_spark.functions.span import label_slice_spans
from pytorch_ie_spark.functions.tokenize import tokenize_with_offsets
from pytorch_ie_spark.functions.window import enumerate_windows
from pytorch_ie_spark.operators.mentions import _mentions_of_batch, detect_mentions
from pytorch_ie_spark.operators.models import RuleNerModel

MAX_WINDOW, OVERLAP = 8, 3

# "Entity X" is a two-token PER span, single capitals are ORG: with 8-token
# windows overlapping by 3, several spans straddle a label-slice edge
TEXTS = {
    "long": " ".join(
        ["Entity G met B and C at the lab .", "then Entity H left ,",
         "x y Entity M z D w", "Entity N Entity Q it was E ."] * 3
    ),
    "edge": "a b c d Entity G e f g Entity H i j k l Entity M",
    "short": "Entity K works at L",
    "one": "B",
    "empty": "",
    "blank": "   ",
    "none": None,
}


def _reference(texts):
    """Per document, per window: tag the window alone, decode its label
    slice — the textbook composition the fused batch must reproduce."""
    model = RuleNerModel()
    rows = set()
    for doc_id, text in texts.items():
        toks = tokenize_with_offsets(text or "")
        for (ts, te), (ls, le) in enumerate_windows(len(toks), MAX_WINDOW, OVERLAP):
            window = toks[ts:te]
            tags = model.predict_tags([[t[0] for t in window]])[0]
            for label, (s, e) in label_slice_spans(tags, ls, le):
                start, end = window[s][1], window[e][2]
                surface = " ".join(t[0] for t in window[s : e + 1])
                rows.add((doc_id, mention_id(doc_id, start, end, label),
                          start, end, label, surface))
    return rows


def _docs_pdf(texts):
    return pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "content_sha256": [f"sha-{d}" for d in texts],
        }
    )


class RecordingModel(RuleNerModel):
    """rule_ner that records the window lengths of every predict_tags call
    and requires them in nondecreasing order."""

    def __init__(self):
        self.calls = []

    def predict_tags(self, batch_tokens):
        lengths = [len(t) for t in batch_tokens]
        assert lengths == sorted(lengths), lengths
        self.calls.append(lengths)
        return super().predict_tags(batch_tokens)


def test_fused_detect_mentions_matches_python_reference(spark):
    want = _reference(TEXTS)
    # the fixture really has spans across window edges: a label-slice edge
    # splits "Entity G" into an "Entity" piece and a "G" piece
    assert {(d, s) for d, _, _, _, lbl, s in want if lbl == "PER"} >= {
        ("edge", "Entity"),
        ("edge", "G"),
    }
    docs = spark.createDataFrame(
        _docs_pdf(TEXTS), "doc_id string, text string, content_sha256 string"
    )
    got = detect_mentions(
        docs, model_name="rule_ner", max_window=MAX_WINDOW, window_overlap=OVERLAP
    ).collect()
    cols = ["doc_id", "mention_id", "start", "end", "label", "surface"]
    assert {tuple(r[c] for c in cols) for r in got} == want
    assert all(r["content_sha256"] == f"sha-{r['doc_id']}" for r in got)


def test_batch_tags_every_window_once_in_length_order():
    model = RecordingModel()
    out = _mentions_of_batch(_docs_pdf(TEXTS), model, MAX_WINDOW, OVERLAP)
    n_windows = sum(
        len(enumerate_windows(len(tokenize_with_offsets(t or "")), MAX_WINDOW, OVERLAP))
        for t in TEXTS.values()
    )
    # one model call for the whole batch, covering every window once
    assert len(model.calls) == 1 and len(model.calls[0]) == n_windows
    assert len(set(model.calls[0])) > 1  # ragged lengths really got sorted
    cols = ["doc_id", "mention_id", "start", "end", "label", "surface"]
    assert set(map(tuple, out[cols].itertuples(index=False))) == _reference(TEXTS)
