"""Driver-side neural training (M21) of model-menu weights.

The reference trains every model with Theano autodiff + ``adadelta``
(rnnReModels.py:38-57), per-column max-norm projection of the *updated*
2-D parameters (``clipGradient`` :74-85 — note it runs on the
``(param, param + update)`` pairs, so it is a max-norm constraint, not
gradient clipping), and an embedding pad-row reset after every update
(``setZero`` :715-723).  Loss is mean NLL (``buildFunctions`` :676-682).

Here the gradients are hand-derived numpy backprop for the two flagship
graphs of ``model.menu`` — one ``f1`` family of ``convolute``
(embed-concat → multi-window valid conv + tanh + max-pool → softmax) or
``rnnHead`` (embed-concat → biGRU → head-pool → softmax) on the surface
sequence, with no MLP and no ``outer`` — verified against numerical
gradients in tests, and the optimizer reproduces the reference's
adadelta/max-norm/pad-reset semantics exactly.  The trainer reads and
updates the same spec and weight dict (``make_spec`` /
``init_menu_weights``) that ``menu_forward`` runs, so the trained
weights go straight to ``classify_mentions_menu``.  Training is a
one-time driver-side step (SURVEY.md §2.6): gradient descent itself has
no distributed leg (at 10^12 documents the *inference* is the scaled
stage, the classifier fits on one box).
"""

from __future__ import annotations

import numpy as np

from deepie_spark.model.encoder import lookups, records_batch
from deepie_spark.model.menu import (
    CHANNELS,
    _family_encode,
    _family_x,
    family_widths,
)
from deepie_spark.model.zoo import sigmoid, softmax

# ---------------------------------------------------------------------------
# forward passes with caches (the menu_forward graph in float64; parity
# with it is asserted in tests)


def _trained_family(spec: dict) -> dict:
    """The spec's one trainable family; ``ValueError`` for any other
    spec."""
    fams = spec["families"]
    if (
        spec["kind"] != "main"
        or len(fams) != 1
        or fams[0]["component"] not in ("convolute", "rnnHead")
        or fams[0]["seq"] != "surface"
        or spec["multilayer1"]
        or spec["outer"]
    ):
        raise ValueError(
            f"cannot train {spec['model']!r}: training covers one f1"
            " family of convolute or rnnHead on surface, with no MLP and"
            " no outer"
        )
    return fams[0]


def _embed_forward(enc, weights, spec, f):
    """The family's input rep (menu ``_family_x``) in float64, plus the
    ``(table, ids, offset)`` slots of its embedding channels."""
    fam = f["fam"]
    widths = family_widths(spec, f)
    slots, off = [], 0
    for ch in CHANNELS:
        m = f["modes"].get(ch, -1)
        if m == 0:
            key = f"{fam}_T_word" if ch in ("word", "gov") else f"{fam}_T_{ch}"
            slots.append((key, enc[ch], off))
            off += weights[key].shape[1]
        elif m > 0:
            off += enc[ch].shape[2] if ch == "grammar" else widths[ch]
    return _family_x(enc, weights, spec, f).astype(np.float64), slots


def _embed_backward(dx, slots, weights, grads):
    for key, ids, off in slots:
        g = grads.setdefault(
            key, np.zeros_like(weights[key], dtype=np.float64)
        )
        dim = g.shape[1]
        np.add.at(g, ids, dx[:, :, off : off + dim])


def _conv_forward(x, W, b):
    """Valid conv (Theano filter flip) + tanh + max-pool, with caches."""
    maps, window, dim = W.shape
    windows = np.lib.stride_tricks.sliding_window_view(
        x, (window, dim), axis=(1, 2)
    )[:, :, 0]  # (b, t', window, dim)
    Wf = W[:, ::-1, ::-1]
    out = np.tanh(np.einsum("btwd,mwd->btm", windows, Wf) + b)
    arg = out.argmax(axis=1)  # (b, maps)
    pooled = out.max(axis=1)
    return pooled, (windows, Wf, out, arg)


def _conv_backward(dpooled, cache, x_shape):
    windows, Wf, out, arg = cache
    b, tp, maps = out.shape
    dout = np.zeros_like(out, dtype=np.float64)
    bi = np.arange(b)[:, None]
    mi = np.arange(maps)[None, :]
    dout[bi, arg, mi] = dpooled
    dpre = dout * (1.0 - out.astype(np.float64) ** 2)
    dWf = np.einsum("btwd,btm->mwd", windows, dpre)
    db = dpre.sum(axis=(0, 1))
    dwin = np.einsum("btm,mwd->btwd", dpre, Wf)
    dx = np.zeros(x_shape, dtype=np.float64)
    window = Wf.shape[1]
    for woff in range(window):
        dx[:, woff : woff + tp] += dwin[:, :, woff, :]
    dW = dWf[:, ::-1, ::-1]
    return dW, db, dx


def _gru_forward(x, params):
    """rnn_gru with per-step caches for BPTT (zoo.rnn_gru semantics)."""
    Wc, bc, U, Wx, Ux, bx = params
    b, t, _ = x.shape
    hid = Wx.shape[1]
    xc = x @ Wc + bc
    xx = x @ Wx + bx
    h = np.zeros((b, t, hid), dtype=np.float64)
    caches = []
    prev = np.zeros((b, hid), dtype=np.float64)
    for i in range(t):
        preact = prev @ U + xc[:, i]
        r = sigmoid(preact[:, :hid])
        u = sigmoid(preact[:, hid:])
        prevUx = prev @ Ux
        hbar = np.tanh(prevUx * r + xx[:, i])
        new = u * prev + (1.0 - u) * hbar
        caches.append((prev, r, u, prevUx, hbar))
        h[:, i] = new
        prev = new
    return h, caches


def _gru_backward(dh, x, params, caches):
    """BPTT through zoo.rnn_gru.  dh: (b, t, hid) upstream grads."""
    Wc, bc, U, Wx, Ux, bx = params
    b, t, _ = x.shape
    hid = Wx.shape[1]
    dxc = np.zeros((b, t, 2 * hid), dtype=np.float64)
    dxx = np.zeros((b, t, hid), dtype=np.float64)
    dU = np.zeros_like(U, dtype=np.float64)
    dUx = np.zeros_like(Ux, dtype=np.float64)
    dprev = np.zeros((b, hid), dtype=np.float64)
    for i in range(t - 1, -1, -1):
        prev, r, u, prevUx, hbar = caches[i]
        d = dh[:, i] + dprev
        du = d * (prev - hbar)
        dprev = d * u
        dhbar = d * (1.0 - u)
        dpre_h = dhbar * (1.0 - hbar ** 2)
        dxx[:, i] = dpre_h
        dprevUx = dpre_h * r
        dr = dpre_h * prevUx
        dUx += prev.T @ dprevUx
        dprev += dprevUx @ Ux.T
        dpre = np.concatenate(
            [dr * r * (1.0 - r), du * u * (1.0 - u)], axis=1
        )
        dU += prev.T @ dpre
        dprev += dpre @ U.T
        dxc[:, i] = dpre
    dWc = np.einsum("btd,bth->dh", x, dxc)
    dbc = dxc.sum(axis=(0, 1))
    dWx = np.einsum("btd,bth->dh", x, dxx)
    dbx = dxx.sum(axis=(0, 1))
    dx = dxc @ Wc.T + dxx @ Wx.T
    return (dWc, dbc, dU, dWx, dUx, dbx), dx


def forward_backward(
    records, dicts, weights, spec, labels, drop_rng=None, dropout_mask=None,
):
    """Mean-NLL loss + full gradient dict for a ``convolute`` or
    ``rnnHead`` menu spec (``ValueError`` for any other spec).

    Returns (loss, grads, p) — with ``spec["dropout"] == 0`` p is the
    probability matrix ``menu_forward`` produces (parity asserted in
    tests).

    ``spec["dropout"] > 0`` reproduces the reference's training path
    (mainModel rnnReModels.py:729-770): a binomial keep-mask
    (``_dropout_from_layer`` :89-99, keep prob 1−p) is applied to the
    POOLED representation, the train softmax and the NLL run on the
    masked branch (buildFunctions :675-685), and gradients flow only
    through it.  The clean inference branch scales the classifier
    weights by (1−p) instead (:768), which ``menu_forward`` does from
    the same ``spec["dropout"]``.  ``dropout_mask`` pins the mask (for
    gradcheck); otherwise it is drawn from ``drop_rng``."""
    f = _trained_family(spec)
    fam = f["fam"]
    enc, pos1, pos2 = _family_encode(records_batch(records), dicts, spec, f)
    x64, slots = _embed_forward(enc, weights, spec, f)
    B = len(records)
    grads: dict[str, np.ndarray] = {}
    if f["component"] == "convolute":
        caches = {}
        feats_parts = []
        for win in spec["windows"]:
            pooled, cache = _conv_forward(
                x64, weights[f"{fam}_pconv_W{win}"].astype(np.float64),
                weights[f"{fam}_pconv_b{win}"].astype(np.float64),
            )
            caches[win] = cache
            feats_parts.append(pooled)
        feats = np.concatenate(feats_parts, axis=1)
    else:
        fwd = [
            weights[f"{fam}_gru_fwd_{i}"].astype(np.float64) for i in range(6)
        ]
        bwd = [
            weights[f"{fam}_gru_bwd_{i}"].astype(np.float64) for i in range(6)
        ]
        h_f, cache_f = _gru_forward(x64, fwd)
        h_b_rev, cache_b = _gru_forward(x64[:, ::-1], bwd)
        h_b = h_b_rev[:, ::-1]
        h = np.concatenate([h_f, h_b], axis=2)
        bi = np.arange(B)
        feats = np.concatenate([h[bi, pos1], h[bi, pos2]], axis=1)

    mask = None
    if dropout_mask is not None:
        mask = np.asarray(dropout_mask, dtype=np.float64)
    elif spec["dropout"] > 0.0:
        if drop_rng is None:
            raise ValueError("dropout > 0 needs drop_rng or a mask")
        mask = drop_rng.binomial(
            1, 1.0 - spec["dropout"], size=feats.shape
        ).astype(np.float64)
    if mask is not None:
        feats = feats * mask

    W = weights["cls_W"].astype(np.float64)
    bcls = weights["cls_b"].astype(np.float64)
    p = softmax(feats @ W + bcls, axis=1)
    eps = 1e-12
    loss = -np.mean(np.log(p[np.arange(B), labels] + eps))

    dlogits = p.copy()
    dlogits[np.arange(B), labels] -= 1.0
    dlogits /= B
    grads["cls_W"] = feats.T @ dlogits
    grads["cls_b"] = dlogits.sum(axis=0)
    dfeats = dlogits @ W.T
    if mask is not None:
        dfeats = dfeats * mask  # dropped units carry no gradient

    if f["component"] == "convolute":
        dx = np.zeros_like(x64)
        off = 0
        for win in spec["windows"]:
            maps = weights[f"{fam}_pconv_W{win}"].shape[0]
            dW, db, dxw = _conv_backward(
                dfeats[:, off : off + maps], caches[win], x64.shape
            )
            grads[f"{fam}_pconv_W{win}"] = dW
            grads[f"{fam}_pconv_b{win}"] = db
            dx += dxw
            off += maps
    else:
        hid = fwd[3].shape[1]
        dh = np.zeros_like(h)
        dh[bi, pos1] += dfeats[:, : 2 * hid]
        dh[bi, pos2] += dfeats[:, 2 * hid :]
        dh_f = dh[:, :, :hid]
        dh_b = dh[:, :, hid:]
        g_f, dx_f = _gru_backward(dh_f, x64, fwd, cache_f)
        g_b, dx_b_rev = _gru_backward(
            dh_b[:, ::-1], x64[:, ::-1], bwd, cache_b
        )
        dx = dx_f + dx_b_rev[:, ::-1]
        for i, g in enumerate(g_f):
            grads[f"{fam}_gru_fwd_{i}"] = g
        for i, g in enumerate(g_b):
            grads[f"{fam}_gru_bwd_{i}"] = g

    _embed_backward(dx, slots, weights, grads)
    return loss, grads, p


# ---------------------------------------------------------------------------
# optimizer — reference-exact adadelta + max-norm + pad reset


def adadelta_state(weights) -> dict:
    return {
        k: {
            "g2": np.zeros_like(v, dtype=np.float64),
            "u2": np.zeros_like(v, dtype=np.float64),
        }
        for k, v in weights.items()
    }


def _store(w: np.ndarray, name: str, new: np.ndarray, norm_lim: float):
    """Write an updated parameter back in place: the reference's
    post-update column max-norm (clipGradient rnnReModels.py:74-85, 2-D
    params other than the word table) and the embedding pad-row reset
    (setZero :715-723)."""
    if norm_lim > 0 and new.ndim == 2 and not name.endswith("_T_word"):
        col = np.sqrt((new ** 2).sum(axis=0))
        desired = np.clip(col, 0, np.sqrt(norm_lim))
        new = new * (desired / (1e-7 + col))
    w[...] = new.astype(w.dtype)
    if "_T_" in name:
        w[0] = 0.0  # pad row stays the zero vector


def adadelta_step(
    weights: dict[str, np.ndarray],
    grads: dict[str, np.ndarray],
    state: dict,
    rho: float = 0.95,
    eps: float = 1e-6,
    norm_lim: float = 9.0,
) -> None:
    """One in-place adadelta update (rnnReModels.py:38-57), then
    :func:`_store`'s max-norm and pad-row reset."""
    for name, g in grads.items():
        st = state[name]
        st["g2"] = rho * st["g2"] + (1.0 - rho) * g * g
        ud = -np.sqrt(st["u2"] + eps) / np.sqrt(st["g2"] + eps) * g
        st["u2"] = rho * st["u2"] + (1.0 - rho) * ud * ud
        w = weights[name]
        _store(w, name, w.astype(np.float64) + ud, norm_lim)


def sgd_step(
    weights: dict[str, np.ndarray],
    grads: dict[str, np.ndarray],
    lr: float,
    norm_lim: float = 9.0,
) -> None:
    """One in-place SGD update (sgd rnnReModels.py:58-71): p −= lr·g,
    then :func:`_store`'s max-norm and pad-row reset."""
    for name, g in grads.items():
        w = weights[name]
        _store(w, name, w.astype(np.float64) - lr * g, norm_lim)


def train_neural(
    records: list[dict],
    dicts: dict[str, dict[str, int]],
    weights: dict[str, np.ndarray],
    spec: dict,
    labels: np.ndarray,
    epochs: int = 30,
    batch: int = 50,
    norm_lim: float = 9.0,
    seed: int = 3435,
    optimizer: str = "adadelta",
    lr: float = 0.01,
    decay: bool = False,
) -> list[float]:
    """Mini-batch training of ``spec``'s menu weights in place; returns
    per-epoch mean loss.  ``ValueError`` for a spec
    :func:`forward_backward` cannot train.

    Batch size 50 and the seeded shuffle mirror the reference protocol
    (evaluate.py:111, rnnRE.py:855-866).  ``spec["dropout"]`` applies
    the reference's binomial keep-mask to the pooled representation
    during training (default 0.5 in the reference, evaluate.py:107;
    ``menu_forward`` compensates with (1−p) weight scaling).  The mask
    RNG is seeded like the reference's (RandomState(3435) →
    srng seeded randint(999999), rnnReModels.py:89-90,533).

    ``decay`` reproduces rnnRE.py:999-1000: when the best epoch is ≥10
    epochs behind the current one, the learning rate halves, and
    training stops once it falls below 1e-5.  It acts on the SGD path
    (``optimizer='sgd'``); the reference's adadelta update ignores the
    learning rate entirely (f_param_update takes lr as an unused input,
    rnnReModels.py:54 on_unused_input='ignore'), which is reproduced
    here: decay bookkeeping runs but does not alter adadelta steps.
    Best epoch = lowest training loss so far (this driver-side trainer
    has no held-out fold; the reference tracks best valid F1)."""
    _trained_family(spec)
    dicts = lookups(dicts)  # lookup arrays built once, not per minibatch
    rng = np.random.RandomState(seed)
    drop_rng = np.random.RandomState(
        np.random.RandomState(seed).randint(999999)
    )
    n = len(records)
    losses: list[float] = []
    state = adadelta_state(weights)
    clr = lr
    best_epoch, best_loss = 0, float("inf")
    for e in range(epochs):
        perm = rng.permutation(n)
        total = 0.0
        for s in range(0, n, batch):
            idx = perm[s : s + batch]
            recs = [records[i] for i in idx]
            loss, grads, _ = forward_backward(
                recs, dicts, weights, spec, labels[idx], drop_rng=drop_rng,
            )
            if optimizer == "sgd":
                sgd_step(weights, grads, clr, norm_lim=norm_lim)
            else:
                adadelta_step(weights, grads, state, norm_lim=norm_lim)
            total += loss * len(idx)
        losses.append(total / n)
        if losses[-1] < best_loss:
            best_loss, best_epoch = losses[-1], e
        if decay and abs(best_epoch - e) >= 10:
            clr *= 0.5
        if clr < 1e-5:
            break
    return losses
