"""Prediction schema, the type-pair expert, and triple emission
(north-star stage 5).

Every relation classifier, the sparse log-linear expert (M18) included,
runs through ``model.menu``: ``menu_forward`` on the driver and
``classify_mentions_menu``'s ``mapInArrow`` kernel, which yields
:data:`PRED_SCHEMA` batches.  The log-linear expert is the menu's
``#MultiNN`` spec, and ``model.train`` trains its ``bin_W``/``bin_b``
weights under those names.  :func:`triples_from_predictions` turns the
predictions into directed triples.  The one-feature type-pair expert
needs no per-row pass: it is compiled to a rule dict
(:func:`compile_type_pair_expert`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepie_spark.datagen.catalog import directed_triple_columns
from deepie_spark.model.zoo import softmax

#: one row per relation mention: gold and predicted label names (label
#: id i is ``label_names[i]``, A2 order), the argmax probability, and the
#: head tokens for triple emission
PRED_SCHEMA = (
    "rel_id string, corpus string, gold string, pred string,"
    " prob double, pos1 int, pos2 int, subj string, obj string,"
    " line_no long"
)


def compile_type_pair_expert(
    weights: dict[str, np.ndarray],
    label_names: list[str],
    feat_ids: dict[str, int],
) -> dict[tuple[str, str], str]:
    """The type-pair expert compiled to ``{(type1, type2): label}``, the
    rule dict operators.pairs.label_table addresses.

    The expert is M18 on the ``TYPE1@TYPE2`` feature family (reference
    field 3 / parseLine rnn_process_onlyExtra.py:339-340), one feature
    per pair, so its forward pass (``bin_W[fid] + bin_b`` → softmax →
    argmax) depends on the type pair alone: it runs here once per
    feature id, and the pairs it labels ``NONE`` are left out.  A pair
    whose type is null or named by no feature id gets the bias-only row
    ``bin_b``, which the label table treats as no label; raises
    ``ValueError`` unless ``bin_b`` alone predicts ``NONE``.
    """
    W, b = weights["bin_W"], weights["bin_b"]
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

    Direction from the (e2,e1) suffix by the column form of the rule
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
