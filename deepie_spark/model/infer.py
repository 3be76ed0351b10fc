"""Distributed batched model inference (north-star stage 5).

``mapInPandas`` over the parsed relation-mention DataFrame: weights and
dictionaries ride a ``SparkContext.broadcast`` handle, deserialized once
per python worker (iterator form amortizes it across Arrow batches —
SURVEY.md §2.10), and each batch is classified with the numpy zoo.
This is the Spark re-expression of ``predict()`` (rnnRE.py:512-562):
the reference pads corpora to batch multiples and recycles head rows
(:516-523); Arrow batches need no such padding.  The one-feature
type-pair expert needs no per-row pass: it is compiled to a rule dict
(:func:`compile_type_pair_expert`).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepie_spark.datagen.catalog import directed_triple_columns
from deepie_spark.model.encoder import (
    binary_feature_rows,
    encode_batch,
    encode_dep_record,
)
from deepie_spark.model.zoo import (
    bidirectional,
    conv_maxpool,
    embed_concat,
    head_pool,
    rnn_gru,
    softmax,
    softmax_classifier,
    sparse_loglinear_logits,
)

PRED_SCHEMA = (
    "rel_id string, corpus string, gold string, pred string,"
    " prob double, pos1 int, pos2 int, subj string, obj string,"
    " line_no long"
)


def classify_mentions(
    mentions: DataFrame,
    weights: dict[str, np.ndarray],
    bin_dict: dict[str, int],
    label_names: list[str],
    max_bin: int,
) -> DataFrame:
    """Parsed mentions → per-record predictions.

    ``label_names[i]`` is the label with dictionary id i (A2 order).
    Output keeps gold + pred label strings, the classifier probability of
    the argmax, and the head surface forms for triple emission.
    """
    spark = mentions.sparkSession
    bc = spark.sparkContext.broadcast(
        {
            "W": weights["W"],
            "b": weights["b"],
            "bin_dict": bin_dict,
            "labels": label_names,
            "max_bin": max_bin,
        }
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value
        labels = v["labels"]
        for pdf in batches:
            recs = [
                {"bin_feats": list(bf)} for bf in pdf["bin_feats"]
            ]
            rows = binary_feature_rows(recs, v["bin_dict"], v["max_bin"])
            p = softmax(
                sparse_loglinear_logits(rows, v["W"], v["b"]), axis=1
            )
            pred_ids = p.argmax(axis=1)
            probs = p[np.arange(len(pred_ids)), pred_ids]
            subj = [
                toks[int(p1)]
                for toks, p1 in zip(pdf["tokens"], pdf["pos1"])
            ]
            obj = [
                toks[int(p2)]
                for toks, p2 in zip(pdf["tokens"], pdf["pos2"])
            ]
            yield pd.DataFrame(
                {
                    "rel_id": pdf["rel_id"],
                    "corpus": pdf["corpus"],
                    "gold": pdf["label"],
                    "pred": [labels[i] for i in pred_ids],
                    "prob": probs,
                    "pos1": pdf["pos1"],
                    "pos2": pdf["pos2"],
                    "subj": subj,
                    "obj": obj,
                    "line_no": pdf["line_no"],
                }
            )

    cols = [
        "rel_id", "corpus", "label", "bin_feats", "tokens", "pos1",
        "pos2", "line_no",
    ]
    return mentions.select(cols).mapInPandas(run, PRED_SCHEMA)


# ---------------------------------------------------------------------------
# neural path: M1 embed-concat → M7 multi-window CNN or M4/M5/M10 biGRU-head
# → M17 softmax, batched per Arrow batch with every table broadcast

#: channels fed to the neural input, in concat order (reference
#: expected_features1 defaults, evaluate.py:59-83: word + relative
#: positions + entity type/subtype as embedding channels)
NEURAL_CHANNELS = ("word", "dist1", "dist2", "type", "subtype")


def init_neural_weights(
    dict_sizes: dict[str, int],
    num_position: int,
    word_dim: int = 32,
    feat_dim: int = 8,
    hidden: int = 24,
    windows: tuple[int, ...] = (2, 3),
    maps: int = 16,
    n_classes: int = 2,
    model: str = "convolute",
    seed: int = 8989,
) -> dict[str, np.ndarray]:
    """Seeded random init of every table/filter the forward pass needs.

    Mirrors the reference's init scheme: uniform(-0.25, 0.25) embedding
    tables with row 0 zeroed as the pad vector
    (rnn_process_onlyExtra.py:687-733, :567), small-uniform conv/dense
    weights.  The same dict drives both the distributed path and the
    golden generator, which is what makes the parity test exact.
    """
    rng = np.random.RandomState(seed)

    def table(n, d):
        t = rng.uniform(-0.25, 0.25, (n, d)).astype(np.float32)
        t[0] = 0.0
        return t

    dims = {
        "word": word_dim, "dist1": feat_dim, "dist2": feat_dim,
        "type": feat_dim, "subtype": feat_dim,
    }
    sizes = {
        "word": dict_sizes["word"] + 1,
        "dist1": num_position + 1,
        "dist2": num_position + 1,
        "type": dict_sizes["type"] + 1,
        "subtype": dict_sizes["subtype"] + 1,
    }
    w: dict[str, np.ndarray] = {
        f"T_{ch}": table(sizes[ch], dims[ch]) for ch in NEURAL_CHANNELS
    }
    in_dim = sum(dims.values())
    if model == "convolute":
        for win in windows:
            w[f"conv_W{win}"] = rng.uniform(
                -0.1, 0.1, (maps, win, in_dim)
            ).astype(np.float32)
            w[f"conv_b{win}"] = np.zeros(maps, dtype=np.float32)
        feat_out = maps * len(windows)
    elif model == "gruHead":
        def gru_params():
            return [
                rng.uniform(-0.1, 0.1, (in_dim, 2 * hidden)).astype(np.float32),
                np.zeros(2 * hidden, dtype=np.float32),
                rng.uniform(-0.1, 0.1, (hidden, 2 * hidden)).astype(np.float32),
                rng.uniform(-0.1, 0.1, (in_dim, hidden)).astype(np.float32),
                rng.uniform(-0.1, 0.1, (hidden, hidden)).astype(np.float32),
                np.zeros(hidden, dtype=np.float32),
            ]
        for side in ("fwd", "bwd"):
            for i, p in enumerate(gru_params()):
                w[f"gru_{side}_{i}"] = p
        feat_out = 4 * hidden  # biGRU(2h) × two heads
    else:
        raise ValueError(f"unknown neural model {model!r}")
    w["cls_W"] = rng.uniform(-0.1, 0.1, (feat_out, n_classes)).astype(
        np.float32
    )
    w["cls_b"] = np.zeros(n_classes, dtype=np.float32)
    w["_model"] = np.array(model)
    w["_windows"] = np.array(windows)
    return w


def neural_forward(
    records: list[dict],
    dicts: dict[str, dict[str, int]],
    weights: dict[str, np.ndarray],
    m_len: int,
    num_position: int,
    seq: str = "surface",
) -> tuple[np.ndarray, np.ndarray]:
    """Shared forward pass (driver golden AND executor UDF run this):
    encode → M1 embed-concat → M7 conv-pool or M5+M10 biGRU-head → M17.
    ``seq`` is the reference's sequence-rep dispatch (F3,
    generateDataInstance rnnRE.py:374-387): ``surface`` encodes the
    sentence (F1), ``dep`` the dependency path (F2, head positions at
    the path ends).  Returns (pred ids, probability matrix)."""
    if seq == "surface":
        enc = encode_batch(records, dicts, m_len, num_position)
        pos1 = np.array([r["pos1"] for r in records])
        pos2 = np.array([r["pos2"] for r in records])
    elif seq == "dep":
        encs = [
            encode_dep_record(r, dicts, m_len, num_position)
            for r in records
        ]
        enc = {k: np.stack([e[k] for e in encs]) for k in encs[0]}
        pos1 = np.zeros(len(records), dtype=np.int64)
        pos2 = np.array(
            [len(r["dep_tokens"]) - 1 for r in records], dtype=np.int64
        )
    else:
        raise ValueError(f"unknown sequence rep {seq!r}")
    x = embed_concat(
        [enc[ch] for ch in NEURAL_CHANNELS],
        [weights[f"T_{ch}"] for ch in NEURAL_CHANNELS],
    )
    model = str(weights["_model"])
    if model == "convolute":
        feats = np.concatenate(
            [
                conv_maxpool(
                    x, weights[f"conv_W{w}"], weights[f"conv_b{w}"]
                )
                for w in weights["_windows"].tolist()
            ],
            axis=1,
        )
    else:
        fwd = [weights[f"gru_fwd_{i}"] for i in range(6)]
        bwd = [weights[f"gru_bwd_{i}"] for i in range(6)]
        h = bidirectional(x, tuple(fwd), tuple(bwd), cell=rnn_gru)
        feats = head_pool(h, pos1, pos2)
    p = softmax_classifier(feats, weights["cls_W"], weights["cls_b"])
    return p.argmax(axis=1), p


_NEURAL_COLS = [
    "rel_id", "corpus", "label", "tokens", "governors", "cons1", "cons2",
    "preter", "prepreter", "dep_idx", "dep_tokens", "grammar", "type1",
    "subtype1", "type2", "subtype2", "pos1", "pos2", "line_no",
]


def classify_mentions_neural(
    mentions: DataFrame,
    weights: dict[str, np.ndarray],
    dicts: dict[str, dict[str, int]],
    label_names: list[str],
    m_len: int,
    num_position: int,
    seq: str = "surface",
) -> DataFrame:
    """North-star stage 5, neural flavor: the full embed→CNN/biGRU→
    softmax forward pass runs batched inside ``mapInPandas``; weight
    tables and dictionaries ride one broadcast, deserialized once per
    worker.  The Spark re-expression of ``predict()`` (rnnRE.py:512-562)
    with real model semantics (M1+M7 / M4+M5+M10 + M17 + M20)."""
    spark = mentions.sparkSession
    bc = spark.sparkContext.broadcast(
        {"w": weights, "dicts": dicts, "labels": label_names,
         "m_len": m_len, "num_position": num_position, "seq": seq}
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value
        labels = v["labels"]
        for pdf in batches:
            if pdf.empty:
                continue
            records = [
                {
                    "tokens": list(r.tokens),
                    "governors": list(r.governors),
                    "cons1": list(r.cons1),
                    "cons2": list(r.cons2),
                    "preter": list(r.preter),
                    "prepreter": list(r.prepreter),
                    "dep_idx": list(r.dep_idx),
                    "dep_tokens": list(r.dep_tokens),
                    "grammar": [list(g) for g in r.grammar],
                    "type1": r.type1, "subtype1": r.subtype1,
                    "type2": r.type2, "subtype2": r.subtype2,
                    "pos1": int(r.pos1), "pos2": int(r.pos2),
                }
                for r in pdf.itertuples()
            ]
            pred_ids, p = neural_forward(
                records, v["dicts"], v["w"], v["m_len"],
                v["num_position"], v["seq"],
            )
            probs = p[np.arange(len(pred_ids)), pred_ids]
            yield pd.DataFrame(
                {
                    "rel_id": pdf["rel_id"],
                    "corpus": pdf["corpus"],
                    "gold": pdf["label"],
                    "pred": [labels[i] for i in pred_ids],
                    "prob": probs.astype(float),
                    "pos1": pdf["pos1"],
                    "pos2": pdf["pos2"],
                    "subj": [r["tokens"][r["pos1"]] for r in records],
                    "obj": [r["tokens"][r["pos2"]] for r in records],
                    "line_no": pdf["line_no"],
                }
            )

    return mentions.select(_NEURAL_COLS).mapInPandas(run, PRED_SCHEMA)


def compile_type_pair_expert(
    weights: dict[str, np.ndarray],
    label_names: list[str],
    feat_ids: dict[str, int],
) -> dict[tuple[str, str], str]:
    """The type-pair expert compiled to ``{(type1, type2): label}``, the
    rule dict operators.pairs.label_table addresses.

    The expert is M18 on the ``TYPE1@TYPE2`` feature family (reference
    field 3 / parseLine rnn_process_onlyExtra.py:339-340), one feature
    per pair, so its forward pass (``W[fid] + b`` → softmax → argmax)
    depends on the type pair alone: it runs here once per feature id,
    and the pairs it labels ``NONE`` are left out.  A pair whose type is
    null or named by no feature id gets the bias-only row ``b``, which
    the label table treats as no label; raises ``ValueError`` unless
    ``b`` alone predicts ``NONE``.
    """
    W, b = weights["W"], weights["b"]
    if label_names[int(softmax(b[None, :], axis=1).argmax())] != "NONE":
        raise ValueError("the bias-only row must predict NONE")
    feats, fids = zip(*feat_ids.items())
    ids = softmax(W[list(fids)] + b, axis=1).argmax(axis=1)
    return {
        tuple(f.split("@")): label_names[i]
        for f, i in zip(feats, ids.tolist())
        if label_names[i] != "NONE"
    }


def triples_from_predictions(preds: DataFrame) -> DataFrame:
    """Predictions → directed (subj, pred, obj) triples, NONE excluded.

    Direction from the (e2,e1) suffix as in plans.pipeline
    (catalog.directed_triple_columns); subject/object are the entity
    head tokens (last-token rule positions)."""
    t = preds.filter(F.col("pred") != "NONE")
    return t.select(
        *directed_triple_columns(F.col("pred"), F.col("subj"), F.col("obj")),
        "prob",
        "corpus",
        "rel_id",
        "pos1",
        "pos2",
    )
