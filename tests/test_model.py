"""Model-zoo (M1–M18), menu-composition and log-linear trainer tests.

Each kernel is checked against an independent naive implementation
(explicit loops) on small random inputs — the zoo's vectorized numpy must
reproduce the cited recurrence/convolution semantics, not merely run.
The embedding gather, multi-window conv, CNN/RNN stacks, MLP chain,
dropout scaling, softmax classifier, argmax, expert product and name
dispatch are checked as ``model.menu`` composes them, against the
weight tables and the same zoo kernels chained by hand (forward passes
on seeded synthetic records).
"""

import numpy as np
import pytest

from deepie_spark.model import zoo
from deepie_spark.model.encoder import records_batch
from deepie_spark.model.menu import (
    _COMPONENTS,
    _family_encode,
    _family_x,
    component_features,
    init_menu_weights,
    make_spec,
    menu_forward,
)
from deepie_spark.model.train import (
    predict_loglinear,
    score_py,
    train_loglinear,
)
from tests.synthetic_records import model_inputs, synthetic_records

RNG = np.random.RandomState(1234)


def rand(*shape, scale=0.5):
    return (RNG.randn(*shape) * scale).astype(np.float64)


# ---------------------------------------------------------------------------
# M1/M2

def test_embed_concat_gather_and_pad_row():
    """M1 as ``model.menu._family_x`` runs it on a two-embedding-channel
    spec (word, dist1): each channel gathers its own table's rows, the
    channels concat on the feature axis, and the pad id 0 is an all-zero
    position."""
    spec = _menu_spec("convolute")
    w = init_menu_weights(spec)
    ids1 = np.array([[1, 2, 0], [3, 0, 0]])
    ids2 = np.array([[2, 1, 0], [1, 0, 0]])
    out = _family_x(
        {"word": ids1, "dist1": ids2}, w, spec, spec["families"][0]
    )
    assert out.shape == (2, 3, 5)
    assert np.allclose(out[0, 0, :3], w["f1_T_word"][1])
    assert np.allclose(out[0, 0, 3:], w["f1_T_dist1"][2])
    assert np.allclose(out[1, 0, :3], w["f1_T_word"][3])
    assert np.allclose(out[1, 0, 3:], w["f1_T_dist1"][1])
    assert np.allclose(out[0, 2], 0.0)  # pad position is all-zero


def test_outer_rep():
    a, b = rand(2, 3, 4), rand(2, 3, 5)
    out = zoo.outer_rep(a, b)
    assert out.shape == (2, 3, 20)
    assert np.allclose(out[1, 2], np.outer(a[1, 2], b[1, 2]).ravel())


# ---------------------------------------------------------------------------
# M3/M4/M5 — recurrences vs naive step-by-step loops

def test_rnn_ff_matches_naive():
    b, t, d, h = 3, 5, 4, 6
    x, Wx, Wh, bh = rand(b, t, d), rand(d, h), rand(h, h), rand(h)
    got = zoo.rnn_ff(x, Wx, Wh, bh)
    prev = np.zeros((b, h))
    for i in range(t):
        prev = 1 / (1 + np.exp(-(x[:, i] @ Wx + prev @ Wh + bh)))
        assert np.allclose(got[:, i], prev)


def test_rnn_gru_matches_naive():
    b, t, d, h = 2, 4, 3, 5
    x = rand(b, t, d)
    Wc, bc = rand(d, 2 * h), rand(2 * h)
    U = rand(h, 2 * h)
    Wx, Ux, bx = rand(d, h), rand(h, h), rand(h)
    got = zoo.rnn_gru(x, Wc, bc, U, Wx, Ux, bx)
    prev = np.zeros((b, h))
    for i in range(t):
        pre = prev @ U + x[:, i] @ Wc + bc
        r = 1 / (1 + np.exp(-pre[:, :h]))
        u = 1 / (1 + np.exp(-pre[:, h:]))
        hbar = np.tanh((prev @ Ux) * r + x[:, i] @ Wx + bx)
        prev = u * prev + (1 - u) * hbar
        assert np.allclose(got[:, i], prev)


def test_bidirectional_concat_and_reversal():
    b, t, d, h = 2, 4, 3, 5
    x = rand(b, t, d)
    fwd = (rand(d, h), rand(h, h), rand(h))
    bwd = (rand(d, h), rand(h, h), rand(h))
    out = zoo.bidirectional(x, fwd, bwd, cell=zoo.rnn_ff)
    assert out.shape == (b, t, 2 * h)
    assert np.allclose(out[:, :, :h], zoo.rnn_ff(x, *fwd))
    # backward half: run on reversed input, re-reversed in time
    back = zoo.rnn_ff(x[:, ::-1], *bwd)[:, ::-1]
    assert np.allclose(out[:, :, h:], back)


# ---------------------------------------------------------------------------
# M6/M7 — convolutions vs naive loops

def naive_conv_valid(x, W):
    """Theano conv2d semantics: correlation with doubly-flipped filters."""
    b, t, d = x.shape
    maps, window, dim = W.shape
    out_t = t - window + 1
    out = np.zeros((b, out_t, maps))
    Wf = W[:, ::-1, ::-1]
    for bi in range(b):
        for ti in range(out_t):
            for m in range(maps):
                out[bi, ti, m] = (x[bi, ti : ti + window] * Wf[m]).sum()
    return out


@pytest.mark.parametrize("window", [2, 3, 4])
def test_conv_same_tanh_matches_naive(window):
    b, t, d, maps = 2, 7, 3, 4
    x, W, bb = rand(b, t, d), rand(maps, window, d), rand(maps)
    got = zoo.conv_same_tanh(x, W, bb)
    assert got.shape == (b, t, maps)
    down = window // 2
    up = window - down - 1
    xp = np.concatenate(
        [np.zeros((b, up, d)), x, np.zeros((b, down, d))], axis=1
    )
    want = np.tanh(naive_conv_valid(xp, W) + bb)
    assert np.allclose(got, want)


@pytest.mark.parametrize("window", [2, 3, 5])
def test_conv_maxpool_matches_naive(window):
    b, t, d, maps = 3, 8, 4, 5
    x, W, bb = rand(b, t, d), rand(maps, window, d), rand(maps)
    got = zoo.conv_maxpool(x, W, bb)
    want = np.tanh(naive_conv_valid(x, W) + bb).max(axis=1)
    assert got.shape == (b, maps)
    assert np.allclose(got, want)


def _menu_spec(model, **kw):
    """A small hand-sized spec: word (3) + dist1 (2) → in_dim 5."""
    sizes = {
        "word": 9, "type": 3, "subtype": 3, "constit": 3, "preter": 3,
        "prepreter": 3, "deprel": 3, "label": 3,
    }
    kw.setdefault("windows", (2, 3))
    return make_spec(
        model, sizes, num_position=12, num_dep_position=8, m_len=9,
        m_dep_len=5, n_classes=4, modes1={"dist1": 0}, word_dim=3,
        feat_dim=2, nh=(5, 5), maps=4, **kw,
    )


def _features(spec, w, x, pos1=None, pos2=None):
    b = x.shape[0]
    pos1 = np.zeros(b, int) if pos1 is None else pos1
    pos2 = np.zeros(b, int) if pos2 is None else pos2
    return component_features(
        spec["families"][0], x, w, spec, pos1, pos2, np.ones(x.shape[:2])
    )


def _filters(w, prefix, windows):
    return [(w[f"f1_{prefix}_W{k}"], w[f"f1_{prefix}_b{k}"]) for k in windows]


def test_multi_window_conv_concat():
    """convContext / convContextLs (rnnReModels.py:431-441,478-489):
    one conv per window size, concatenated — max-pooled for
    ``convolute``, same-length (then mean-pooled) for ``convoluteSum``."""
    x = rand(2, 9, 5)
    windows = (2, 3, 4, 5)
    spec = _menu_spec("convolute", windows=windows)
    w = init_menu_weights(spec)
    pooled = _features(spec, w, x)
    assert pooled.shape == (2, 16)
    want = np.concatenate(
        [zoo.conv_maxpool(x, W, b) for W, b in _filters(w, "pconv", windows)],
        axis=1,
    )
    assert np.allclose(pooled, want)
    spec = _menu_spec("convoluteSum", windows=windows)
    w = init_menu_weights(spec)
    seq = np.concatenate(
        [zoo.conv_same_tanh(x, W, b)
         for W, b in _filters(w, "pconv", windows)],
        axis=2,
    )
    assert seq.shape == (2, 9, 16)
    assert np.allclose(_features(spec, w, x), seq.mean(axis=1))


# ---------------------------------------------------------------------------
# M8–M15

@pytest.fixture(scope="module")
def synth():
    s = model_inputs(*synthetic_records())
    s["dict_sizes"] = {k: max(d.values()) for k, d in s["dicts"].items()}
    return s


def _synth_forward(s, model, **kw):
    """(spec, weights, per-family features, menu_forward output) on the
    first 6 synthetic records."""
    spec = make_spec(
        model, s["dict_sizes"], s["num_position"], s["num_dep_position"],
        s["m_len"], s["m_dep_len"], len(s["labels"]),
        modes1={"dist1": 0, "dist2": 0, "type": 0}, word_dim=4,
        feat_dim=3, nh=(5, 5), maps=3, **kw,
    )
    w = init_menu_weights(spec)
    recs = s["records"][:6]
    feats = []
    for f in spec["families"]:
        enc, pos1, pos2 = _family_encode(
            records_batch(recs), s["dicts"], spec, f
        )
        x = _family_x(enc, w, spec, f)
        feats.append(
            component_features(f, x, w, spec, pos1, pos2, enc.get("iidep"))
        )
    return spec, w, feats, menu_forward(recs, s["dicts"], w, spec)


def test_mlp_and_dropout_scale(synth):
    """M8 sigmoid MLP chain (multilayerNN1) and M9 inference-side
    dropout: only the classifier weights are scaled, by (1-p)
    (rnnReModels.py:768)."""
    spec, w, (feats,), (_, p) = _synth_forward(
        synth, "rnnMax", multilayer1=[6, 3], dropout=0.25
    )
    h = zoo.hidden_layer(feats, w["mlp1_W0"], w["mlp1_b0"])
    h = zoo.hidden_layer(h, w["mlp1_W1"], w["mlp1_b1"])
    assert h.shape == (6, 3)
    assert ((h > 0) & (h < 1)).all()  # sigmoid range
    want = zoo.softmax(h @ (0.75 * w["cls_W"]) + w["cls_b"], axis=1)
    assert np.allclose(p, want, atol=1e-6)
    unscaled = zoo.softmax(h @ w["cls_W"] + w["cls_b"], axis=1)
    assert not np.allclose(p, unscaled)


def test_pooling_heads():
    h = rand(3, 6, 4)
    pos1 = np.array([0, 2, 5])
    pos2 = np.array([3, 4, 1])
    hp = zoo.head_pool(h, pos1, pos2)
    assert hp.shape == (3, 8)
    assert np.allclose(hp[1, :4], h[1, 2])
    assert np.allclose(hp[1, 4:], h[1, 4])
    assert np.allclose(zoo.max_pool(h), h.max(axis=1))
    assert np.allclose(zoo.mean_pool(h), h.mean(axis=1))
    mask = (RNG.rand(3, 6) > 0.5).astype(float)
    ms = zoo.masked_sum_pool(h, mask)
    assert np.allclose(ms[0], (h[0] * mask[0][:, None]).sum(axis=0))


def test_attention_pool_is_convex_combination():
    h = rand(2, 5, 3)
    IW, Ib = rand(3, 1), rand(1)
    out = zoo.attention_pool(h, IW, Ib)
    assert out.shape == (2, 3)
    # output lies inside the convex hull per dim: between min and max
    assert (out <= h.max(axis=1) + 1e-12).all()
    assert (out >= h.min(axis=1) - 1e-12).all()


def test_dynamic_pool3_segments():
    h = rand(1, 6, 2)
    pos1, pos2 = np.array([1]), np.array([4])
    out = zoo.dynamic_pool3(h, pos1, pos2)[0]
    # segment maxes clamp at 0: the reference pools a zeroed full-length
    # copy with only the segment filled (rnnReModels.py:1509-1569)
    segs = [
        np.maximum(h[0, :1].max(0), 0),      # before
        h[0, 1],                             # [pos1] (unclamped gather)
        np.maximum(h[0, 2:4].max(0), 0),     # between
        h[0, 4],                             # [pos2]
        np.maximum(h[0, 5:].max(0), 0),      # after
    ]
    assert np.allclose(out, np.concatenate(segs))
    # empty segments (adjacent heads at the edges) pool to zero
    out2 = zoo.dynamic_pool3(h, np.array([0]), np.array([5]))[0]
    assert np.allclose(out2[:2], 0.0)
    assert np.allclose(out2[-2:], 0.0)


# ---------------------------------------------------------------------------
# M17–M20

def test_softmax_classifier_and_argmax(synth):
    """M17 p(y|x) = softmax(f·W + b) and M20 argmax decoding
    (mainModel rnnReModels.py:687,729-770)."""
    _, w, (feats,), (ids, p) = _synth_forward(synth, "convolute")
    logits = feats @ w["cls_W"] + w["cls_b"]
    assert np.allclose(p, zoo.softmax(logits, axis=1), atol=1e-6)
    assert np.allclose(p.sum(axis=1), 1.0)
    assert np.array_equal(ids, logits.argmax(axis=1))


def test_sparse_loglinear_logits():
    W, b = rand(6, 3), rand(3)
    rows = np.array(
        [
            [2, 1, 4, -1, -1],
            [0, -1, -1, -1, -1],
            [3, 0, 2, 5, -1],
        ]
    )
    out = zoo.sparse_loglinear_logits(rows, W, b)
    assert np.allclose(out[0], W[1] + W[4] + b)
    assert np.allclose(out[1], b)
    assert np.allclose(out[2], W[0] + W[2] + W[5] + b)


def test_product_of_experts(synth):
    """M19: an ``a_b`` ensemble's p ∝ exp(sum of expert logits),
    renormalized (ensembleModel rnnReModels.py:938-1048)."""
    _, w, (f1, fs), (ids, p) = _synth_forward(synth, "rnnHead_convolute")
    l1 = f1 @ w["f1_exp_W"] + w["f1_exp_b"]
    l2 = fs @ w["fs_exp_W"] + w["fs_exp_b"]
    assert np.allclose(p, zoo.softmax(l1 + l2, axis=-1), atol=1e-6)
    assert np.allclose(p.sum(axis=1), 1.0)
    assert np.array_equal(ids, (l1 + l2).argmax(axis=1))


# ---------------------------------------------------------------------------
# trainer (driver-side M18 fit) + scorer twin

def test_train_loglinear_fits_separable_data():
    """Feature id == class id: a trivially separable sparse problem the
    log-linear expert must learn perfectly."""
    n, n_classes = 200, 4
    labels = RNG.randint(0, n_classes, n)
    rows = np.full((n, 3), -1, dtype=np.int64)
    rows[:, 0] = 1
    rows[:, 1] = labels  # single feature identifying the class
    w = train_loglinear(rows, labels, n_classes, n_features=n_classes)
    pred, p = predict_loglinear(rows, w)
    assert (pred == labels).all()
    assert np.allclose(p.sum(axis=1), 1.0)


def test_alternate_stacks_shapes_and_composition():
    """M16 CNN→RNN / RNN→CNN stacks (rnnReModels.py:1148-1313), each
    equal to its stages chained by hand."""
    b, hid = 2, 5
    x = rand(b, 7, 5)
    pos1, pos2 = np.array([0, 3]), np.array([6, 5])

    def gru(w, prefix):
        return [
            tuple(w[f"f1_{prefix}_{side}_{i}"] for i in range(6))
            for side in ("fwd", "bwd")
        ]

    spec = _menu_spec("alternateHead")
    w = init_menu_weights(spec)
    out = _features(spec, w, x, pos1, pos2)
    assert out.shape == (b, 4 * hid)  # biGRU(2h) heads concat
    h = np.concatenate(
        [zoo.conv_same_tanh(x, W, bb)
         for W, bb in _filters(w, "conv", (2, 3))],
        axis=2,
    )  # 8 maps total
    h = zoo.bidirectional(h, *gru(w, "gru"), cell=zoo.rnn_gru)
    assert np.allclose(out, zoo.head_pool(h, pos1, pos2))

    spec = _menu_spec("alternateMax")
    assert np.allclose(_features(spec, w, x), zoo.max_pool(h))

    spec = _menu_spec("alternateConv", windows=(2, 3, 4))
    w = init_menu_weights(spec)
    out = _features(spec, w, x)
    assert out.shape == (b, 12)
    h = zoo.bidirectional(x, *gru(w, "gru"), cell=zoo.rnn_gru)
    want = np.concatenate(
        [zoo.conv_maxpool(h, W, bb)
         for W, bb in _filters(w, "pconv", (2, 3, 4))],
        axis=1,
    )
    assert np.allclose(out, want)


def test_model_registry_dispatch():
    """The reference's ``eval(model_name)`` menu (rnnRE.py:874-885):
    model strings resolve through ``model.menu``'s one component table;
    unknown names fail fast."""
    spec = _menu_spec("alternateHead")
    assert spec["kind"] == "main"
    assert [f["component"] for f in spec["families"]] == ["alternateHead"]
    assert _COMPONENTS["alternateHead"] == ("convThenGruBi", "head")
    assert _COMPONENTS["rnnMax"] == ("gruBi", "max")
    kinds = {
        "rnnHead-convolute": ("main", ["f1", "f2"]),
        "rnnHead_convolute": ("ensemble", ["f1", "fs"]),
        "#rnnHead": ("hybrid", ["f1"]),
        "#MultiNN": ("multinn", []),
        "dynamicPooling": ("dynpool", ["f1"]),
    }
    for model, (kind, fams) in kinds.items():
        spec = _menu_spec(model)
        assert (spec["kind"], [f["fam"] for f in spec["families"]]) == (
            kind, fams
        ), model
    with pytest.raises(KeyError, match="unknown model component"):
        _menu_spec("notAModel")
    with pytest.raises(KeyError, match="unknown model component"):
        _menu_spec("rnnHead-notAModel")


def test_score_py_reference_semantics():
    # pred/gold with id 0 = NONE: P over predicted-nonzero, R over gold-nonzero
    pred = np.array([1, 2, 0, 3, 1, 0])
    gold = np.array([1, 0, 2, 3, 2, 0])
    p, r, f1 = score_py(pred, gold)
    # num_pred=4, num_key=4, correct=2
    assert p == pytest.approx(50.0)
    assert r == pytest.approx(50.0)
    assert f1 == pytest.approx(50.0)
    assert score_py(np.zeros(3, int), np.zeros(3, int)) == (0.0, 0.0, 0.0)
