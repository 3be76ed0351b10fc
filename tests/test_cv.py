"""5-fold CV driver (data/readMe.md:9-15, rnnRE.py:888-899)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from deepie_spark.plans.cv import FOLDS, cross_validate, fold_corpora
from deepie_spark.sources.tsv_corpus import parse_line, read_corpus

DATA_DIR = "/root/reference/rnnRE/data"


@pytest.fixture(scope="module")
def cv(spark):
    mentions = read_corpus(spark, DATA_DIR)
    df = cross_validate(spark, DATA_DIR, epochs=6, mentions=mentions)
    return {"df": df, "rows": df.collect(), "mentions": mentions}


def _pure_python_counts():
    """Twin: parse the fixture files directly with the pure parser."""
    counts = {}
    for fold in FOLDS:
        for c in fold_corpora(fold):
            if c in counts:
                continue
            path = os.path.join(DATA_DIR, c + ".full.txt")
            n = 0
            with open(path) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        parse_line(c, line)  # must parse cleanly
                        n += 1
            counts[c] = n
    return counts


def test_fold_selection_counts_match_pure_parser(cv):
    """Spark fold filters select exactly the file's records."""
    want = _pure_python_counts()
    got = {
        (r["fold"], r["role"]): (r["corpus"], r["n_records"])
        for r in cv["rows"]
    }
    assert len(cv["rows"]) == len(FOLDS) * 3
    for fold in FOLDS:
        train_c, valid_c, test_c = fold_corpora(fold)
        assert got[(fold, "train")] == (train_c, want[train_c])
        assert got[(fold, "valid")] == (valid_c, want[valid_c])
        assert got[(fold, "test")] == (test_c, want[test_c])


def test_fold_files_all_parse_with_shifted_layout(cv):
    """readMe.md:15 says the real test folds partition bn_nw; the
    release fixtures are 10-line samples so only the per-file protocol
    shape is checkable here: every fold file parses under the shifted
    11/12-field layout (parseLine corpus branch,
    rnn_process_onlyExtra.py:285-310) and contributes its full 10
    records to the fold selection."""
    m = cv["mentions"]
    per_corpus = {
        r["corpus"]: r["n"]
        for r in m.groupBy("corpus").agg(F.count("*").alias("n")).collect()
    }
    for fold in FOLDS:
        for c in fold_corpora(fold):
            assert per_corpus[c] == 10
    # fold records must carry the sparse binary features despite the
    # field shift (field 2 instead of 4, data/readMe.md:41)
    with_feats = (
        m.filter(F.col("corpus") == "bn_nw_train0")
        .filter(F.size("bin_feats") > 0)
        .count()
    )
    assert with_feats == 10


def test_scorer_output_matches_spark_twin(cv, spark):
    """The driver-side score_py metrics equal the distributed A8 scorer
    (score_df) on the same (pred, gold) pairs — checked by re-deriving
    one fold's metrics through the Spark operator."""
    from deepie_spark.model.encoder import binary_feature_rows, records_batch
    from deepie_spark.model.train import (
        predict_loglinear,
        train_loglinear_best_epoch,
    )
    from deepie_spark.operators.dictionary import (
        binary_feature_dictionary,
        build_reference_dictionaries,
    )
    from deepie_spark.operators.scorer import score_df

    m = cv["mentions"]
    label_dict = {
        r["value"]: r["id"]
        for r in build_reference_dictionaries(m)["label"].collect()
    }
    train_c, valid_c, test_c = fold_corpora(0)
    bin_dict = {
        r["value"]: r["id"]
        for r in binary_feature_dictionary(
            m, cutoff=2, train_corpora=[train_c]
        ).collect()
    }

    def prep(c):
        recs = sorted(
            (
                r.asDict()
                for r in m.filter(F.col("corpus") == c)
                .select("line_no", "label", "bin_feats")
                .collect()
            ),
            key=lambda d: d["line_no"],
        )
        max_bin = max(len(r["bin_feats"] or []) for r in recs)
        return recs, max_bin

    recs_tr, mb1 = prep(train_c)
    recs_va, mb2 = prep(valid_c)
    recs_te, mb3 = prep(test_c)
    max_bin = max(mb1, mb2, mb3)

    def xy(recs):
        return (
            binary_feature_rows(records_batch(recs), bin_dict, max_bin),
            np.array([label_dict[r["label"]] for r in recs]),
        )

    xtr, ytr = xy(recs_tr)
    xva, yva = xy(recs_va)
    xte, yte = xy(recs_te)
    best, _ = train_loglinear_best_epoch(
        xtr, ytr, xva, yva,
        n_classes=max(label_dict.values()) + 1,
        n_features=max(len(bin_dict), 1),
        epochs=6,
    )
    pred, _ = predict_loglinear(xte, best)
    pairs = spark.createDataFrame(
        [(int(p), int(g)) for p, g in zip(pred, yte)], "pred int, gold int"
    )
    spark_row = score_df(pairs).collect()[0]
    cv_row = next(
        r for r in cv["rows"] if r["fold"] == 0 and r["role"] == "test"
    )
    assert spark_row["precision"] == pytest.approx(cv_row["precision"])
    assert spark_row["recall"] == pytest.approx(cv_row["recall"])
    assert spark_row["f1"] == pytest.approx(cv_row["f1"])


def test_cv_is_deterministic(spark, cv):
    again = cross_validate(
        spark, DATA_DIR, epochs=6, mentions=cv["mentions"]
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, cv["rows"]))
