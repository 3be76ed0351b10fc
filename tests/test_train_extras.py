"""A9 best-epoch selection, S6 weight persistence, P8 label collapse."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deepie_spark.model.train import (
    load_weights,
    predict_loglinear,
    save_weights,
    train_loglinear_best_epoch,
)
from deepie_spark.operators.dictionary import (
    collapse_labels,
    collapsed_label_dict,
)


def _toy(n, n_classes, rng, noise=0.0):
    labels = rng.randint(0, n_classes, n)
    rows = np.full((n, 3), -1, dtype=np.int64)
    rows[:, 0] = 1
    rows[:, 1] = labels
    if noise:
        flip = rng.rand(n) < noise
        rows[flip, 1] = rng.randint(0, n_classes, int(flip.sum()))
    return rows, labels


def test_best_epoch_training_tracks_validation():
    rng = np.random.RandomState(5)
    rows, labels = _toy(300, 4, rng)
    vrows, vlabels = _toy(100, 4, rng)
    best, history = train_loglinear_best_epoch(
        rows, labels, vrows, vlabels, 4, 4, epochs=8
    )
    assert len(history) == 8
    assert all("valid_f1" in h for h in history)
    best_hist = max(h["valid_f1"] for h in history)
    pred, _ = predict_loglinear(vrows, best)
    from deepie_spark.model.train import score_py

    _, _, f1 = score_py(pred, vlabels)
    # snapshot corresponds to the best epoch seen
    assert f1 == pytest.approx(best_hist)
    assert f1 > 90.0  # separable toy must be learned


def test_weight_save_load_roundtrip(tmp_path):
    w = {
        "bin_W": np.random.RandomState(0).randn(5, 3),
        "bin_b": np.zeros(3),
    }
    path = str(tmp_path / "weights.npz")
    save_weights(w, path)
    got = load_weights(path)
    assert set(got) == {"bin_W", "bin_b"}
    assert np.array_equal(got["bin_W"], w["bin_W"])
    assert np.array_equal(got["bin_b"], w["bin_b"])


def test_collapse_labels_column(spark):
    df = spark.createDataFrame(
        [("ORG-AFF(e1,e2)",), ("ORG-AFF(e2,e1)",), ("PER-SOC",), ("NONE",)],
        "label string",
    )
    got = {r["label"] for r in collapse_labels(df).collect()}
    assert got == {"ORG-AFF", "PER-SOC", "NONE"}


def test_collapsed_label_dict_remap(spark):
    """New ids assigned in order of minimum old id (collapseTypes
    rnnRE.py:642-647): NONE stays 0."""
    old = spark.createDataFrame(
        [
            ("NONE", 0),
            ("PHYS", 1),
            ("ORG-AFF(e1,e2)", 2),
            ("PART-WHOLE(e1,e2)", 3),
            ("ORG-AFF(e2,e1)", 4),
            ("PART-WHOLE(e2,e1)", 5),
        ],
        "value string, id int",
    )
    got = {r["value"]: r["id"] for r in collapsed_label_dict(old).collect()}
    assert got == {"NONE": 0, "PHYS": 1, "ORG-AFF": 2, "PART-WHOLE": 3}
