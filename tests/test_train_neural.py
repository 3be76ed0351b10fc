"""Neural training (M21): gradient correctness, reference-exact
optimizer semantics, and the trained-model e2e P/R gate.

The backprop is hand-derived — the only acceptable proof is a numerical
gradient check on every parameter of both trainable menu graphs; it and
the other driver-side tests run on seeded synthetic records
(tests/synthetic_records.py).  The e2e test then trains on the
reference fixture corpus and requires the *distributed* menu inference
(``classify_mentions_menu``, broadcast trained weights) to reach triple
P/R ≥ 0.95 against the gold labels — the VERDICT round-1 gap: the P/R
gate previously only ever exercised seeded-random neural weights.
"""

import numpy as np
import pytest

from deepie_spark.model.infer import triples_from_predictions
from deepie_spark.model.menu import (
    classify_mentions_menu,
    init_menu_weights,
    make_spec,
    menu_forward,
)
from deepie_spark.model.train_neural import (
    adadelta_step,
    adadelta_state,
    forward_backward,
    train_neural,
)
from deepie_spark.operators.dictionary import build_reference_dictionaries
from deepie_spark.sources.tsv_corpus import (
    main_corpus_records,
    parse_line,
    read_corpus,
)
from tests.conftest import REFERENCE_DATA
from tests.synthetic_records import model_inputs, synthetic_records
from tests.test_parser import all_lines

MODELS = ["convolute", "rnnHead"]
BASE_MODES = {"dist1": 0, "dist2": 0, "type": 0, "subtype": 0}
#: BASE_MODES plus one-hot, multi-hot and word-table-shared channels
TRAIN_MODES = {**BASE_MODES, "preter": 1, "grammar": 1, "gov": 0}


@pytest.fixture(scope="module")
def synth():
    return model_inputs(*synthetic_records())


@pytest.fixture(scope="module")
def setup(spark):
    mentions = read_corpus(spark, REFERENCE_DATA).cache()
    dicts = {
        name: {r["value"]: r["id"] for r in df.collect()}
        for name, df in build_reference_dictionaries(mentions).items()
    }
    records = [
        parse_line(c, line)
        for c, _, line in all_lines()
        if c in ("bn_nw", "bc0", "bc1", "cts", "wl")
    ]
    return {**model_inputs(records, dicts), "mentions": mentions}


def _spec(s, model, **kw):
    dict_sizes = {k: max(d.values()) for k, d in s["dicts"].items()}
    kw.setdefault("modes1", TRAIN_MODES)
    return make_spec(
        model,
        dict_sizes,
        s["num_position"],
        s["num_dep_position"],
        s["m_len"],
        s["m_dep_len"],
        n_classes=len(s["labels"]),
        **kw,
    )


def _tiny(s, model, float64=False, **kw):
    spec = _spec(
        s, model, word_dim=5, feat_dim=3, nh=(4, 4), windows=(2,), maps=3,
        **kw,
    )
    w = init_menu_weights(spec)
    if float64:  # float64 copies for a clean numerical check
        w = {k: v.astype(np.float64) for k, v in w.items()}
    return spec, w


def _gradcheck(fb, w, grads, n_pick):
    """Central differences on sampled entries of every gradient."""
    rng = np.random.RandomState(0)
    h = 1e-6
    for name, g in grads.items():
        flat = w[name].reshape(-1)
        gflat = np.asarray(g).reshape(-1)
        # check entries that actually receive gradient, plus randoms
        cand = np.nonzero(np.abs(gflat) > 1e-12)[0]
        pick = cand[rng.permutation(len(cand))[:n_pick]] if len(cand) else []
        for i in list(pick) + [rng.randint(len(flat))]:
            orig = flat[i]
            flat[i] = orig + h
            lp, _, _ = fb()
            flat[i] = orig - h
            lm, _, _ = fb()
            flat[i] = orig
            num = (lp - lm) / (2 * h)
            assert num == pytest.approx(gflat[i], rel=2e-3, abs=1e-7), (
                name, i
            )


@pytest.mark.parametrize("model", MODELS)
def test_gradcheck(synth, model):
    """Analytic grads match central-difference numericals on every
    parameter family (sampled entries; float64 math)."""
    recs, y = synth["records"][:5], synth["y"][:5]
    spec, w = _tiny(synth, model, float64=True)

    def fb():
        return forward_backward(recs, synth["dicts"], w, spec, y)

    _, grads, _ = fb()
    assert "f1_T_word" in grads and "f1_T_dist2" in grads
    _gradcheck(fb, w, grads, 4)


@pytest.mark.parametrize("model", MODELS)
def test_forward_matches_inference_path(synth, model):
    """The training forward must be the graph ``menu_forward`` runs at
    inference — otherwise trained weights drive a different graph."""
    recs = synth["records"][:12]
    spec, w = _tiny(synth, model)
    _, _, p_train = forward_backward(
        recs, synth["dicts"], w, spec, synth["y"][:12]
    )
    _, p_infer = menu_forward(recs, synth["dicts"], w, spec)
    assert np.allclose(p_train, p_infer, rtol=0, atol=1e-6)


@pytest.mark.parametrize(
    "model,kw",
    [
        ("rnnMax", {}),
        ("convolute-rnnHead", {}),
        ("convolute_rnnHead", {}),
        ("#rnnHead", {}),
        ("convolute", {"seq": ("dep", "surface")}),
        ("rnnHead", {"multilayer1": [6]}),
        ("convolute", {"outer": True}),
    ],
)
def test_untrainable_spec_raises(synth, model, kw):
    spec, w = _tiny(synth, model, **kw)
    recs, y = synth["records"][:4], synth["y"][:4]
    with pytest.raises(ValueError, match="cannot train"):
        forward_backward(recs, synth["dicts"], w, spec, y)
    with pytest.raises(ValueError, match="cannot train"):
        train_neural(recs, synth["dicts"], w, spec, y, epochs=1)


def test_adadelta_semantics():
    """Max-norm applies to the UPDATED 2-D params (not word tables),
    pad row of every embedding table resets to zero."""
    w = {
        "f1_T_word": np.ones((4, 3), np.float32),
        "f1_T_dist1": np.ones((4, 3), np.float32),
        "cls_W": np.full((3, 2), 10.0, np.float32),
        "cls_b": np.zeros(2, np.float32),
    }
    g = {k: np.ones_like(v, dtype=np.float64) for k, v in w.items()}
    st = adadelta_state(w)
    adadelta_step(w, g, st, norm_lim=9.0)
    # cls_W columns projected to norm <= 3.0
    assert np.all(np.sqrt((w["cls_W"] ** 2).sum(axis=0)) <= 3.0 + 1e-5)
    # word table NOT projected (columns stay ~sqrt(4)*1 > would-be cap
    # only if cap applied; just assert unchanged except the tiny update)
    assert np.all(np.abs(w["f1_T_word"][1:] - 1.0) < 0.1)
    # pad rows reset
    assert not w["f1_T_word"][0].any()
    assert not w["f1_T_dist1"][0].any()


@pytest.mark.parametrize("model", MODELS)
def test_training_reduces_loss(synth, model):
    spec, w = _tiny(synth, model)
    losses = train_neural(
        synth["records"], synth["dicts"], w, spec, synth["y"], epochs=8,
    )
    assert losses[-1] < losses[0]


@pytest.mark.parametrize("model", MODELS)
def test_e2e_trained_neural_pr(spark, setup, model):
    """The north-rule P/R gate with a TRAINED neural model: fit the
    fixture corpus driver-side (adadelta), broadcast the weights, run
    the distributed mapInPandas inference, emit triples, and score
    against the gold-label triples — P/R ≥ 0.95 (BASELINE.json)."""
    spec = _spec(setup, model, modes1=BASE_MODES)
    w = init_menu_weights(spec)
    losses = train_neural(
        setup["records"], setup["dicts"], w, spec, setup["y"],
        epochs=200 if model == "convolute" else 120,
        batch=25,
    )
    assert losses[-1] < 0.1, f"underfit: {losses[-5:]}"

    preds = classify_mentions_menu(
        main_corpus_records(setup["mentions"]),
        w,
        setup["dicts"],
        spec,
        setup["labels"],
    )
    got = {
        (r["rel_id"], r["corpus"], r["subj"], r["pred"], r["obj"])
        for r in triples_from_predictions(preds).select(
            "rel_id", "corpus", "subj", "pred", "obj"
        ).collect()
    }
    # gold triples from the gold labels through the same emission rule
    want = set()
    for r in setup["records"]:
        lab = r["label"]
        if lab == "NONE":
            continue
        subj = r["tokens"][r["pos1"]]
        obj = r["tokens"][r["pos2"]]
        if lab.endswith("(e2,e1)"):
            subj, obj = obj, subj
        pred = lab.replace("(e1,e2)", "").replace("(e2,e1)", "")
        want.add((r["rel_id"], r["corpus"], subj, pred, obj))
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision >= 0.95 and recall >= 0.95, (
        model, precision, recall, len(got), len(want)
    )


@pytest.mark.parametrize("model", MODELS)
def test_gradcheck_with_fixed_dropout_mask(synth, model):
    """Backprop stays exact under dropout when the binomial mask is held
    fixed (the train-time graph of mainModel rnnReModels.py:743-766)."""
    recs, y = synth["records"][:5], synth["y"][:5]
    spec, w = _tiny(synth, model, float64=True, dropout=0.5)
    mask = np.random.RandomState(7).binomial(
        1, 0.5, size=(len(recs), w["cls_W"].shape[0])
    ).astype(np.float64)
    assert (mask == 0).any() and (mask == 1).any()

    def fb():
        return forward_backward(
            recs, synth["dicts"], w, spec, y, dropout_mask=mask
        )

    _, grads, _ = fb()
    _gradcheck(fb, w, grads, 3)


def test_dropout_train_vs_inference_scaling(synth):
    """Pin the reference's train/inference consistency (rnnReModels.py
    :766-768): E[mask] = (1−p), so the mask-averaged train logits equal
    the inference logits ``menu_forward`` computes from the same spec
    with (1−p)-scaled classifier weights."""
    recs, y = synth["records"][:6], synth["y"][:6]
    p_drop = 0.4
    spec, w = _tiny(synth, "convolute", float64=True, dropout=p_drop)
    # exact expectation: mask == (1-p) everywhere gives the scaled path
    mask = np.full((len(recs), w["cls_W"].shape[0]), 1.0 - p_drop)
    _, _, p_scaled = forward_backward(
        recs, synth["dicts"], w, spec, y, dropout_mask=mask
    )
    _, p_clean = menu_forward(recs, synth["dicts"], w, spec)
    assert np.allclose(p_scaled, p_clean, atol=1e-6)
    # and the scaling is real: the unscaled forward differs
    spec0 = dict(spec, dropout=0.0)
    _, p_unscaled = menu_forward(recs, synth["dicts"], w, spec0)
    assert not np.allclose(p_unscaled, p_clean)


def test_sgd_training_reduces_loss_under_dropout(synth):
    """SGD + binomial dropout still learns the synthetic task."""
    spec, w = _tiny(synth, "convolute", dropout=0.5)
    losses = train_neural(
        synth["records"], synth["dicts"], w, spec, synth["y"],
        epochs=8, batch=10, optimizer="sgd", lr=0.1,
    )
    assert len(losses) == 8
    assert losses[-1] < losses[0]


def test_sgd_decay_halves_lr_and_stops(monkeypatch, synth):
    """decay (rnnRE.py:999-1000): once the best epoch is ≥10 behind,
    lr halves each epoch and training breaks below 1e-5.  A constant
    loss pins best_epoch at 0: halving starts at epoch 10
    (16e-5 → 8,4,2,1,0.5e-5) so exactly 15 epochs run."""
    import deepie_spark.model.train_neural as tn

    def fake_fb(recs, dicts, w, spec, labels, drop_rng=None,
                dropout_mask=None):
        return 1.0, {}, None

    monkeypatch.setattr(tn, "forward_backward", fake_fb)
    spec, w = _tiny(synth, "convolute")
    recs, y = synth["records"][:4], synth["y"][:4]
    losses = tn.train_neural(
        recs, synth["dicts"], w, spec, y,
        epochs=60, batch=4, optimizer="sgd", lr=16e-5, decay=True,
    )
    assert len(losses) == 15
    # without decay the run goes the full distance
    losses2 = tn.train_neural(
        recs, synth["dicts"], w, spec, y,
        epochs=20, batch=4, optimizer="sgd", lr=16e-5, decay=False,
    )
    assert len(losses2) == 20
