"""BIO mention-tagger tests: distant supervision, span decoding,
distributed-vs-golden parity, and detection F1 against the gazetteer.
"""

import os

import numpy as np
import pytest

from deepie_spark.datagen.catalog import ENTITY_CATALOG, build_alias_trie
from deepie_spark.datagen.pages import pages_from_documents
from deepie_spark.model.tagger import (
    LABELS,
    LABEL_ID,
    build_vocab,
    decode_spans,
    detect_mentions_tagger,
    distant_bio_labels,
    tag_tokens,
    tagger_feature_rows,
    train_tagger,
)
from deepie_spark.operators.mentions import greedy_match


def test_distant_labels_from_gazetteer():
    trie = build_alias_trie(ENTITY_CATALOG)
    toks = "the hash join beats the table scan today".split()
    y = distant_bio_labels(toks, trie)
    assert LABELS[y[1]] == "B-ORG" and LABELS[y[2]] == "I-ORG"
    assert LABELS[y[5]] == "B-FAC" and LABELS[y[6]] == "I-FAC"
    assert LABELS[y[0]] == "O" and LABELS[y[7]] == "O"


def test_decode_spans_bio_rules():
    ids = [
        LABEL_ID[l]
        for l in ["O", "B-ORG", "I-ORG", "O", "B-FAC", "B-PER", "I-ORG"]
    ]
    spans = decode_spans(np.array(ids))
    # B-FAC closes at B-PER; orphan I-ORG after B-PER opens a new span
    assert spans == [(1, 2, "ORG"), (4, 4, "FAC"), (5, 5, "PER"), (6, 6, "ORG")]


def test_feature_rows_layout():
    vocab = {"a": 1, "b": 2}
    rows = tagger_feature_rows(["a", "b", "c"], vocab)  # c is OOV → PAD
    V = 3
    assert rows[0].tolist() == [3, 1, V + 0, 2 * V + 2]
    assert rows[1].tolist() == [3, 2, V + 1, 2 * V + 0]
    assert rows[2].tolist() == [3, 0, V + 2, 2 * V + 0]


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    token_seqs = [r["text"].split() for r in docs.select("text").collect()]
    trie = build_alias_trie(ENTITY_CATALOG)
    weights, vocab = train_tagger(token_seqs, trie)
    return {
        "weights": weights,
        "vocab": vocab,
        "trie": trie,
        "token_seqs": token_seqs,
        "docs": docs,
    }


def test_tagger_learns_gazetteer(trained):
    """On the training distribution the tagger must reproduce the
    distant labels almost perfectly (token identity + neighbors make the
    problem nearly separable)."""
    correct = total = 0
    for toks in trained["token_seqs"][:200]:
        want = distant_bio_labels(toks, trained["trie"])
        got = tag_tokens(toks, trained["weights"], trained["vocab"])
        correct += int((want == got).sum())
        total += len(toks)
    assert correct / total > 0.99


def test_distributed_tagger_matches_golden_and_gazetteer(spark, trained):
    pages = pages_from_documents(trained["docs"]).limit(300)
    tagged = detect_mentions_tagger(
        pages, trained["weights"], trained["vocab"]
    ).collect()
    texts = {
        r["url"]: r["text"] for r in pages.select("url", "text").collect()
    }
    assert len(tagged) == len(texts)
    tp = fp = fn = 0
    for row in tagged:
        toks = texts[row["url"]].split()
        # parity: distributed spans == driver-side golden spans
        ids = tag_tokens(toks, trained["weights"], trained["vocab"])
        want_spans = {
            (s, e, ty) for s, e, ty in decode_spans(ids)
        }
        got_spans = {
            (m["start"], m["pos"], m["entity_type"]) for m in row["mentions"]
        }
        assert got_spans == want_spans, row["url"]
        # detection quality vs the gazetteer truth
        gaz = {
            (s, p, ty)
            for s, p, _eid, _a, ty, *_ in greedy_match(toks, trained["trie"])
        }
        tp += len(got_spans & gaz)
        fp += len(got_spans - gaz)
        fn += len(gaz - got_spans)
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    assert precision >= 0.95, (precision, recall)
    assert recall >= 0.95, (precision, recall)


def test_tagger_mentions_feed_pair_generation(spark, trained):
    """Tagger output drops into the standard pair generator unchanged
    (same mention-struct shape; unresolved link fields are null; each
    row's mentions sorted by pos with distinct positions, which the
    banded pair scan requires)."""
    from deepie_spark.operators.pairs import mention_pairs

    pages = pages_from_documents(trained["docs"]).limit(100)
    tagged = detect_mentions_tagger(
        pages, trained["weights"], trained["vocab"]
    )
    rows = tagged.collect()
    for row in rows:
        pos = [m["pos"] for m in row["mentions"]]
        assert pos == sorted(set(pos)), row["url"]
    mentions = [m for row in rows[:20] for m in row["mentions"]]
    assert mentions
    for m in mentions:
        # linking resolves these later
        assert (m["entity_id"], m["subtype"], m["prior"]) == (None,) * 3
    pairs = mention_pairs(tagged, max_distance=10)
    rows = pairs.limit(20).collect()
    assert pairs.count() > 0
    for r in rows:
        assert r["pos1"] < r["pos2"]
        assert r["type1"] in ("PER", "ORG", "GPE", "LOC", "FAC", "VEH")
