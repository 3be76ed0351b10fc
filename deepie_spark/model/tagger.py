"""Model-based mention detection: token-level BIO tagging.

The north star's mention-detection stage as a *model* rather than a
gazetteer: a per-token classifier over sparse (token, prev, next)
identity features predicts BIO labels (``O`` / ``B-TYPE`` / ``I-TYPE``
over the ACE types), and contiguous ``B-x I-x…`` runs decode to typed
mention spans with the reference's last-token-position rule
(data/readMe.md:31).  This is the log-linear member of the
detector-model family (the BiGRU tagger swaps the forward pass, not the
plan); it trains with the existing M18/M21 driver-side machinery —
supervision comes *distantly* from the alias gazetteer (greedy trie
matches become BIO labels), the standard web-scale bootstrap where no
token-labeled corpus exists.

Distributed inference is one ``mapInPandas`` pass with weights + vocab
broadcast; output is the same mentions-array shape the pair generator
consumes, so the tagger drops into the flagship pipeline unchanged.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from deepie_spark.functions.text import py_tokenize
from deepie_spark.model.train import predict_loglinear, train_loglinear
from deepie_spark.operators.mentions import greedy_match

#: ACE entity types observed in the reference corpus
TYPES = ("PER", "ORG", "GPE", "LOC", "FAC", "VEH")

#: label id 0 = O (outside), then B-*/I-* pairs
LABELS = ["O"] + [f"B-{t}" for t in TYPES] + [f"I-{t}" for t in TYPES]
LABEL_ID = {l: i for i, l in enumerate(LABELS)}

PAD = 0  # reserved vocab id for sentence boundaries / OOV


def build_vocab(token_seqs: Iterable[list[str]]) -> dict[str, int]:
    """First-encounter token ids from 1 (0 reserved for boundary/OOV)."""
    vocab: dict[str, int] = {}
    for toks in token_seqs:
        for t in toks:
            if t not in vocab:
                vocab[t] = len(vocab) + 1
    return vocab


def tagger_feature_rows(
    toks: list[str], vocab: dict[str, int]
) -> np.ndarray:
    """Per-token sparse feature rows [count, tok, V+prev, 2V+next, -1]
    — token identity plus both neighbors (boundaries → PAD)."""
    V = len(vocab) + 1
    ids = [vocab.get(t, PAD) for t in toks]
    n = len(ids)
    rows = np.full((n, 4), -1, dtype=np.int64)
    rows[:, 0] = 3
    for i in range(n):
        rows[i, 1] = ids[i]
        rows[i, 2] = V + (ids[i - 1] if i > 0 else PAD)
        rows[i, 3] = 2 * V + (ids[i + 1] if i + 1 < n else PAD)
    return rows


def distant_bio_labels(toks: list[str], trie: dict) -> np.ndarray:
    """Gazetteer matches → BIO label ids (distant supervision)."""
    y = np.zeros(len(toks), dtype=np.int64)
    for start, pos, _eid, _alias, etype, *_ in greedy_match(toks, trie):
        y[start] = LABEL_ID[f"B-{etype}"]
        for j in range(start + 1, pos + 1):
            y[j] = LABEL_ID[f"I-{etype}"]
    return y


def train_tagger(
    token_seqs: list[list[str]],
    trie: dict,
    vocab: dict[str, int] | None = None,
    epochs: int = 12,
    lr: float = 0.5,
) -> tuple[dict[str, np.ndarray], dict[str, int]]:
    """Distantly-supervised tagger training (driver-side, seeded)."""
    vocab = vocab or build_vocab(token_seqs)
    rows = np.concatenate(
        [tagger_feature_rows(t, vocab) for t in token_seqs]
    )
    labels = np.concatenate([distant_bio_labels(t, trie) for t in token_seqs])
    V = len(vocab) + 1
    weights = train_loglinear(
        rows, labels, len(LABELS), 3 * V, epochs=epochs, lr=lr
    )
    return weights, vocab


def decode_spans(label_ids: np.ndarray) -> list[tuple[int, int, str]]:
    """BIO → (start, last_pos, type) spans.  A ``B-x`` opens a span;
    following ``I-x`` of the same type extend it; anything else closes
    it (orphan ``I-x`` is treated as ``B-x``, the usual repair)."""
    spans = []
    start, cur = -1, None
    for i, lid in enumerate(label_ids):
        lab = LABELS[lid]
        if lab == "O":
            if cur is not None:
                spans.append((start, i - 1, cur))
                cur = None
            continue
        kind, typ = lab.split("-", 1)
        if kind == "B" or cur != typ:
            if cur is not None:
                spans.append((start, i - 1, cur))
            start, cur = i, typ
    if cur is not None:
        spans.append((start, len(label_ids) - 1, cur))
    return spans


def tag_tokens(
    toks: list[str], weights: dict[str, np.ndarray], vocab: dict[str, int]
) -> np.ndarray:
    rows = tagger_feature_rows(toks, vocab)
    ids, _ = predict_loglinear(rows, weights)
    return ids


#: same struct shape as operators.mentions.MENTION_STRUCT so the tagger
#: output drops into mention_pairs unchanged; decode_spans emits each
#: row's mentions left to right with distinct positions, the sort order
#: mention_pairs requires; entity_id/subtype/prior are unresolved at
#: detection time (linking fills them) → null
TAGGED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField(
            "mentions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.IntegerType()),
                        T.StructField("pos", T.IntegerType()),
                        T.StructField("entity_id", T.LongType()),
                        T.StructField("alias", T.StringType()),
                        T.StructField("entity_type", T.StringType()),
                        T.StructField("subtype", T.StringType()),
                        T.StructField("prior", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def detect_mentions_tagger(
    pages: DataFrame,
    weights: dict[str, np.ndarray],
    vocab: dict[str, int],
) -> DataFrame:
    """pages(url, text) → (url, mentions[]) via the trained tagger,
    batched in ``mapInPandas`` with weights + vocab on one broadcast."""
    bc = pages.sparkSession.sparkContext.broadcast(
        {"w": weights, "vocab": vocab}
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value
        for pdf in batches:
            out = []
            for text in pdf["text"]:
                toks = py_tokenize(text)
                if not toks:
                    out.append([])
                    continue
                ids = tag_tokens(toks, v["w"], v["vocab"])
                out.append(
                    [
                        (s, e, None, " ".join(toks[s : e + 1]), ty, None, None)
                        for s, e, ty in decode_spans(ids)
                    ]
                )
            yield pd.DataFrame({"url": pdf["url"], "mentions": out})

    return pages.select("url", "text").mapInPandas(run, TAGGED_SCHEMA)
