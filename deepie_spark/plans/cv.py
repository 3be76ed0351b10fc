"""5-fold cross-validation driver (the reference's in-domain protocol).

``data/readMe.md:9-15``: for fold i ∈ 0..4, train on ``bn_nw_train{i}``,
develop on ``bc0``, test on ``bn_nw_test{i}`` — the five test folds
partition ``bn_nw``.  The evaluation-set wiring mirrors the
``fold != 'all'`` branch of the reference train loop (rnnRE.py:888-899).

The per-fold model is the sparse log-linear expert (M18,
rnnReModels.py:772-833) trained with best-valid-F1 epoch selection
(A9, rnnRE.py:904,970-994); its binary-feature dictionary (A6, cutoff 2
— evaluate.py:112) is built from the SAME fold's training rows, exactly
as ``makeBinaryDictionary`` runs over the training corpus
(rnnRE.py:452-482).  Scoring is the reference micro P/R/F1 excluding
NONE (rnnRE.py:564-581).

Corpus scanning and fold selection are Spark-side (one ``read_corpus``
scan + ``corpus`` filters = partition pruning at scale, P7); training is
the one-time driver-side step of SURVEY.md §2.6 — the fixture corpus is
tiny and the produced weights are broadcast artifacts.
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepie_spark.model.encoder import binary_feature_rows, records_batch
from deepie_spark.model.train import (
    predict_loglinear,
    score_py,
    train_loglinear_best_epoch,
)
from deepie_spark.operators.dictionary import (
    binary_feature_dictionary,
    build_reference_dictionaries,
)
from deepie_spark.sources.tsv_corpus import read_corpus

FOLDS = (0, 1, 2, 3, 4)


def fold_corpora(fold: int) -> tuple[str, str, str]:
    """(train, valid, test) corpus names of one fold
    (rnnRE.py:889-893)."""
    return (f"bn_nw_train{fold}", "bc0", f"bn_nw_test{fold}")


def cross_validate(
    spark: SparkSession,
    data_dir: str,
    folds: tuple[int, ...] = FOLDS,
    epochs: int = 12,
    cutoff: int = 2,
    mentions: DataFrame | None = None,
) -> DataFrame:
    """Replay the 5-fold CV protocol end-to-end; one metrics row per
    (fold, role) with role ∈ {train, valid, test}.

    Returns DataFrame(fold, role, corpus, n_records, precision, recall,
    f1, best_epoch) — the relational form of the reference's per-run
    console metrics (rnnRE.py:970-994).
    """
    if mentions is None:
        mentions = read_corpus(spark, data_dir)
    mentions = mentions.cache()
    # label ids are GLOBAL first-encounter ids over the full scan
    # (dictionaries are built once in preprocessing over all 15 files,
    # rnn_process_onlyExtra.py:653), NONE = 0 (scorer semantics)
    label_dict = {
        r["value"]: r["id"]
        for r in build_reference_dictionaries(mentions)["label"].collect()
    }
    needed = sorted({c for f in folds for c in fold_corpora(f)})
    pulled = sorted(
        mentions.filter(F.col("corpus").isin(needed))
        .select("corpus", "line_no", "rel_id", "label", "bin_feats")
        .collect(),
        key=lambda r: (r["corpus"], r["line_no"]),
    )
    batches = {  # one Arrow batch per corpus, in line order
        c: records_batch([r.asDict() for r in pulled if r["corpus"] == c])
        for c in needed
    }

    out_rows = []
    for fold in folds:
        train_c, valid_c, test_c = fold_corpora(fold)
        bin_dict = {
            r["value"]: r["id"]
            for r in binary_feature_dictionary(
                mentions, cutoff=cutoff, train_corpora=[train_c]
            ).collect()
        }
        max_bin = max(
            pc.max(pc.list_value_length(batches[c].column("bin_feats")))
            .as_py() or 0
            for c in (train_c, valid_c, test_c)
        ) or 1
        sets = {}
        for role, c in (
            ("train", train_c), ("valid", valid_c), ("test", test_c)
        ):
            labels = batches[c].column("label").to_pylist()
            rows = binary_feature_rows(batches[c], bin_dict, max_bin)
            sets[role] = (c, rows, np.array([label_dict[x] for x in labels]))
        n_feat = max(len(bin_dict), 1)
        best, history = train_loglinear_best_epoch(
            sets["train"][1], sets["train"][2],
            sets["valid"][1], sets["valid"][2],
            n_classes=max(label_dict.values()) + 1,
            n_features=n_feat,
            epochs=epochs,
        )
        best_epoch = int(
            max(range(len(history)), key=lambda i: history[i]["valid_f1"])
        )
        for role in ("train", "valid", "test"):
            c, rows, y = sets[role]
            pred, _ = predict_loglinear(rows, best)
            p, r, f1 = score_py(pred, y)
            out_rows.append(
                (fold, role, c, len(y), float(p), float(r), float(f1),
                 best_epoch)
            )
    return spark.createDataFrame(
        out_rows,
        "fold int, role string, corpus string, n_records long,"
        " precision double, recall double, f1 double, best_epoch int",
    )
