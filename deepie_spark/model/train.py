"""Driver-side one-time training of the log-linear relation classifier.

The reference trains ~25 Theano model variants (rnnReModels.py); the
engine's distributed concern is *inference* (M21 gradients/optimizers are
out of scope per SURVEY.md §2.6).  This module trains the sparse
log-linear expert — MultiNN with no hidden layer: logits = Σ W[feature
ids] + b, softmax (rnnReModels.py:772-833) — with plain seeded SGD on
NLL, matching the reference's training protocol shape (epochs over
shuffled minibatches, best-valid-F1 selection, rnnRE.py:907-1000).

The weights carry the menu's MultiNN names (``bin_W``, ``bin_b``), so a
trained expert is a ``model.menu`` ``#MultiNN`` weight dict as it
stands: ``classify_mentions_menu`` broadcasts it to executors, and the
golden generator (tests) applies the *same* weights through
:func:`predict_loglinear`, the same numpy arithmetic, which is what
makes the triple P/R gate exact.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from deepie_spark.model.zoo import softmax, sparse_loglinear_logits


def _sgd_epochs(
    bin_rows: np.ndarray,
    labels: np.ndarray,
    n_classes: int,
    n_features: int,
    epochs: int,
    lr: float,
    batch: int,
    seed: int,
    l2: float,
) -> Iterator[dict[str, np.ndarray]]:
    """Seeded minibatch SGD on mean NLL.  Yields the ``{"bin_W", "bin_b"}``
    weight dict at init and again after every epoch; each epoch updates
    it in place."""
    rng = np.random.RandomState(seed)
    w = {
        "bin_W": 0.01 * rng.randn(n_features, n_classes),
        "bin_b": np.zeros(n_classes),
    }
    W, b = w["bin_W"], w["bin_b"]
    yield w
    n = len(labels)
    for _ in range(epochs):
        perm = rng.permutation(n)
        for s in range(0, n, batch):
            idx = perm[s : s + batch]
            rows = bin_rows[idx]
            y = labels[idx]
            p = softmax(sparse_loglinear_logits(rows, W, b), axis=1)
            p[np.arange(len(y)), y] -= 1.0
            p /= len(y)
            b -= lr * p.sum(axis=0)
            for r, g in zip(rows, p):
                k = int(r[0])
                if k > 0:
                    ids = r[1 : k + 1]
                    W[ids] -= lr * (g + l2 * W[ids])
        yield w


def train_loglinear(
    bin_rows: np.ndarray,
    labels: np.ndarray,
    n_classes: int,
    n_features: int,
    epochs: int = 20,
    lr: float = 0.5,
    batch: int = 50,
    seed: int = 8989,
    l2: float = 1e-4,
) -> dict[str, np.ndarray]:
    """bin_rows: (n, 1+maxlen) [count, ids…, -1]; labels: (n,) ids."""
    *_, w = _sgd_epochs(
        bin_rows, labels, n_classes, n_features, epochs, lr, batch, seed, l2
    )
    return w


def predict_loglinear(
    bin_rows: np.ndarray, weights: dict[str, np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """→ (pred ids, probability matrix); M18 + M20."""
    p = softmax(
        sparse_loglinear_logits(bin_rows, weights["bin_W"], weights["bin_b"]),
        axis=1,
    )
    return p.argmax(axis=1), p


def train_loglinear_best_epoch(
    bin_rows: np.ndarray,
    labels: np.ndarray,
    valid_rows: np.ndarray,
    valid_labels: np.ndarray,
    n_classes: int,
    n_features: int,
    epochs: int = 20,
    lr: float = 0.5,
    batch: int = 50,
    seed: int = 8989,
    l2: float = 1e-4,
) -> tuple[dict[str, np.ndarray], list[dict]]:
    """A9 model selection: per-epoch validation scoring, snapshot the
    weights of the best-valid-F1 epoch (reference epoch loop
    rnnRE.py:904,970-994).  Returns (best weights, per-epoch history)."""
    it = _sgd_epochs(
        bin_rows, labels, n_classes, n_features, epochs, lr, batch, seed, l2
    )
    w = next(it)
    best = {k: v.copy() for k, v in w.items()}
    best_f1 = -1.0
    history = []
    for epoch, w in enumerate(it):
        vpred, _ = predict_loglinear(valid_rows, w)
        vp, vr, vf1 = score_py(vpred, valid_labels)
        history.append(
            {"epoch": epoch, "valid_p": vp, "valid_r": vr, "valid_f1": vf1}
        )
        if vf1 > best_f1:
            best_f1 = vf1
            best = {k: v.copy() for k, v in w.items()}
    return best, history


def save_weights(weights: dict[str, np.ndarray], path: str) -> None:
    """S6 model-param sink (the reference writes one .npy per named
    parameter, rnnReModels.py:725-727; one .npz archive is its
    single-file equivalent)."""
    np.savez(path, **weights)


def load_weights(path: str) -> dict[str, np.ndarray]:
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


def train_type_pair_expert(
    types: tuple[str, ...] = ("PER", "ORG", "GPE", "LOC", "FAC", "VEH"),
    rules: dict | None = None,
    epochs: int = 400,
    lr: float = 1.0,
) -> tuple[dict[str, np.ndarray], list[str], dict[str, int]]:
    """Train the M18 log-linear expert to internalize the type-pair rule
    table (the M1 classifier stub, SURVEY.md §7.2) from one one-hot
    feature per ordered type pair.

    Separable by construction, so the trained expert reproduces the rule
    table *exactly* (asserted) — which is what lets the model-inference
    pipeline path share a relational DuckDB oracle with the rule path.
    Returns (weights, label_names, feature_ids).
    """
    if rules is None:
        from deepie_spark.datagen.catalog import RELATION_RULES

        rules = RELATION_RULES
    label_names = ["NONE"] + sorted(set(rules.values()))
    lid = {l: i for i, l in enumerate(label_names)}
    feats = [f"{t1}@{t2}" for t1 in types for t2 in types]
    fid = {f: i for i, f in enumerate(feats)}
    rows = np.full((len(feats), 2), -1, dtype=np.int64)
    rows[:, 0] = 1
    rows[:, 1] = [fid[f] for f in feats]
    y = np.array(
        [lid[rules.get(tuple(f.split("@")), "NONE")] for f in feats]
    )
    w = train_loglinear(
        rows, y, len(label_names), len(feats), epochs=epochs, lr=lr, batch=8
    )
    pred, _ = predict_loglinear(rows, w)
    assert (pred == y).all(), "expert failed to internalize the rule table"
    return w, label_names, fid


def score_py(pred: np.ndarray, gold: np.ndarray) -> tuple[float, float, float]:
    """Pure-python twin of operators.scorer (rnnRE.py:564-581) for
    driver-side epoch evaluation."""
    num_pred = int((pred != 0).sum())
    num_key = int((gold != 0).sum())
    correct = int(((pred != 0) & (pred == gold)).sum())
    p = 100.0 * correct / num_pred if num_pred else 0.0
    r = 100.0 * correct / num_key if num_key else 0.0
    f1 = 2 * p * r / (p + r) if p + r > 0 else 0.0
    return p, r, f1
