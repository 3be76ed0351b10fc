"""Log-linear inference, the type-pair expert, and triple emission
(north-star stage 5).

:func:`classify_mentions` runs the sparse log-linear expert (M18) in
``mapInPandas`` over the parsed relation-mention DataFrame: weights and
dictionaries ride a ``SparkContext.broadcast`` handle, deserialized once
per python worker (iterator form amortizes it across Arrow batches —
SURVEY.md §2.10).  This is the Spark re-expression of ``predict()``
(rnnRE.py:512-562): the reference pads corpora to batch multiples and
recycles head rows (:516-523); Arrow batches need no such padding.
Every neural model runs through ``model.menu`` (``menu_forward`` /
``classify_mentions_menu``), which shares :data:`PRED_SCHEMA` and
:func:`triples_from_predictions`.  The one-feature type-pair expert
needs no per-row pass: it is compiled to a rule dict
(:func:`compile_type_pair_expert`).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepie_spark.datagen.catalog import directed_triple_columns
from deepie_spark.model.encoder import binary_feature_rows
from deepie_spark.model.zoo import softmax, sparse_loglinear_logits

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
