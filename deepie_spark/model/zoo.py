"""Numpy forward-pass building blocks (reference operators M2–M18).

The reference compiles these as Theano graph ops (rnnReModels.py); in the
Spark engine they run as batched numpy inside Arrow UDFs with weights
broadcast.  ``model.menu`` composes them into every model of the
reference's menu (its ``_COMPONENTS`` table is the one name → graph
dispatch), the sparse log-linear expert (``#MultiNN``) included.
Training is a one-time driver-side step (``model.train`` for the
log-linear expert, ``model.train_neural`` for the neural models,
SURVEY.md §2.6 M21).

Every function is a *new* numpy implementation of the cited semantics;
shapes follow the engine convention (batch, time, dim) throughout (the
reference scans over time-major tensors; time-major vs batch-major is an
implementation detail, the recurrences are identical).
"""

from __future__ import annotations

import numpy as np


def sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


# ---------------------------------------------------------------------------
# M2 — outer product (the M1 embedding gather and concat is
# model.menu._family_x)

def outer_rep(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """M2: token-wise outer product, flattened (getOuter
    rnnReModels.py:103-113)."""
    return np.einsum("bti,btj->btij", a, b).reshape(
        a.shape[0], a.shape[1], -1
    )


# ---------------------------------------------------------------------------
# M3/M4/M5 — recurrences

def rnn_ff(x: np.ndarray, Wx: np.ndarray, Wh: np.ndarray, bh: np.ndarray) -> np.ndarray:
    """M3: h_t = sigmoid(x_t·Wx + h_{t-1}·Wh + bh), h_0 = 0
    (rnn_ff rnnReModels.py:213-230).  x: (b, t, d) → (b, t, hidden)."""
    b, t, _ = x.shape
    hid = Wx.shape[1]
    h = np.zeros((b, t, hid), dtype=x.dtype)
    prev = np.zeros((b, hid), dtype=x.dtype)
    xw = x @ Wx + bh  # precompute input contribution for all steps
    for i in range(t):
        prev = sigmoid(xw[:, i] + prev @ Wh)
        h[:, i] = prev
    return h


def rnn_gru(
    x: np.ndarray,
    Wc: np.ndarray,
    bc: np.ndarray,
    U: np.ndarray,
    Wx: np.ndarray,
    Ux: np.ndarray,
    bx: np.ndarray,
) -> np.ndarray:
    """M4: GRU recurrence exactly as rnn_gru (rnnReModels.py:232-270):

        preact = h_{t-1}·U + x_t·Wc + bc
        r = sigmoid(preact[:, :H]);  u = sigmoid(preact[:, H:])
        hbar = tanh((h_{t-1}·Ux) * r + x_t·Wx + bx)
        h_t = u * h_{t-1} + (1-u) * hbar
    """
    b, t, _ = x.shape
    hid = Wx.shape[1]
    h = np.zeros((b, t, hid), dtype=x.dtype)
    prev = np.zeros((b, hid), dtype=x.dtype)
    xc = x @ Wc + bc
    xx = x @ Wx + bx
    for i in range(t):
        preact = prev @ U + xc[:, i]
        r = sigmoid(preact[:, :hid])
        u = sigmoid(preact[:, hid:])
        hbar = np.tanh((prev @ Ux) * r + xx[:, i])
        prev = u * prev + (1.0 - u) * hbar
        h[:, i] = prev
    return h


def bidirectional(
    x: np.ndarray, fwd_params: tuple, bwd_params: tuple, cell=rnn_gru
) -> np.ndarray:
    """M5: forward pass + backward pass over reversed input, backward
    output re-reversed, concat on features (gruBidirectCore
    rnnReModels.py:284-294)."""
    fwd = cell(x, *fwd_params)
    bwd = cell(x[:, ::-1], *bwd_params)[:, ::-1]
    return np.concatenate([fwd, bwd], axis=2)


def bidirectional_outer(
    x: np.ndarray, fwd_params: tuple, bwd_params: tuple, cell=rnn_gru
) -> np.ndarray:
    """M5×M2: forward and (re-reversed) backward hidden states combined
    by per-token OUTER PRODUCT instead of concat — gruBidirectOuterCore
    (rnnReModels.py:296-308): bi_rep_t = outer(h_fwd_t, h_bwd_t).flatten,
    output dim = hidden²."""
    fwd = cell(x, *fwd_params)
    bwd = cell(x[:, ::-1], *bwd_params)[:, ::-1]
    return outer_rep(fwd, bwd)


# ---------------------------------------------------------------------------
# M6/M7 — convolutions

def conv_same_tanh(
    x: np.ndarray, W: np.ndarray, b_: np.ndarray
) -> np.ndarray:
    """M6: same-length 'valid after zero-pad' convolution + tanh
    (convolutionalLayer rnnReModels.py:392-429).  Padding: ``up`` zeros
    before and ``down`` zeros after with down = window // 2,
    up = window - down - 1 (matching the reference's zoup/zodown
    concat order).  W: (maps, window, dim) → (b, t, maps)."""
    maps, window, dim = W.shape
    down = window // 2
    up = window - down - 1
    b, t, _ = x.shape
    xp = np.concatenate(
        [
            np.zeros((b, up, dim), x.dtype),
            x,
            np.zeros((b, down, dim), x.dtype),
        ],
        axis=1,
    )
    windows = np.lib.stride_tricks.sliding_window_view(
        xp, (window, dim), axis=(1, 2)
    )[:, :, 0]  # (b, t, window, dim)
    # conv2d correlates with flipped filters in Theano's conv.conv2d
    Wf = W[:, ::-1, ::-1]
    out = np.einsum("btwd,mwd->btm", windows, Wf)
    return np.tanh(out + b_)


def conv_maxpool(
    x: np.ndarray, W: np.ndarray, b_: np.ndarray
) -> np.ndarray:
    """M7: valid convolution + tanh + max-pool over time → one vector
    per filter window (LeNetConvPoolLayer rnnReModels.py:443-476).
    W: (maps, window, dim) → (b, maps)."""
    maps, window, dim = W.shape
    windows = np.lib.stride_tricks.sliding_window_view(
        x, (window, dim), axis=(1, 2)
    )[:, :, 0]
    Wf = W[:, ::-1, ::-1]
    out = np.tanh(np.einsum("btwd,mwd->btm", windows, Wf) + b_)
    return out.max(axis=1)


# ---------------------------------------------------------------------------
# M8 — MLP layer

def hidden_layer(x: np.ndarray, W: np.ndarray, b_: np.ndarray) -> np.ndarray:
    """M8: sigmoid dense layer (HiddenLayer rnnReModels.py:493-505)."""
    return sigmoid(x @ W + b_)


# ---------------------------------------------------------------------------
# M10–M15 — pooling heads

def head_pool(h: np.ndarray, pos1: np.ndarray, pos2: np.ndarray) -> np.ndarray:
    """M10: gather hidden states at the two entity head positions, concat
    (rnnHeadIn rnnReModels.py:1377-1388)."""
    b = np.arange(h.shape[0])
    return np.concatenate([h[b, pos1], h[b, pos2]], axis=1)


def max_pool(h: np.ndarray) -> np.ndarray:
    """M11 (rnnMaxIn rnnReModels.py:1414-1419)."""
    return h.max(axis=1)


def mean_pool(h: np.ndarray) -> np.ndarray:
    """M12 (rnnSum rnnReModels.py:1421-1428) — mean over time."""
    return h.mean(axis=1)


def masked_sum_pool(h: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """M13: sum of states where the dep-path mask is 1 (rnnSumDep
    rnnReModels.py:1430-1442)."""
    return (h * mask[:, :, None]).sum(axis=1)


def attention_pool(h: np.ndarray, IW: np.ndarray, Ib: np.ndarray) -> np.ndarray:
    """M14: alpha = softmax(h·IW + Ib) over time; weighted sum (rnnAtt
    rnnReModels.py:1444-1465)."""
    scores = (h @ IW + Ib).squeeze(-1)  # (b, t)
    alpha = softmax(scores, axis=1)
    return (h * alpha[:, :, None]).sum(axis=1)


def dynamic_pool3(
    h: np.ndarray, pos1: np.ndarray, pos2: np.ndarray
) -> np.ndarray:
    """M15: 3-segment dynamic max pooling — max over [0,pos1), [pos1],
    (pos1,pos2), [pos2], (pos2,end) → 5 concatenated pieces
    (dynamicpooling rnnReModels.py:1509-1569).

    Reference-exact detail: each segment max is taken over a *zeroed
    full-length copy* with only the segment filled in
    (``T.set_subtensor(zeros[a:b], x[a:b])`` then ``T.max(axis=0)``), so
    the pooled value is elementwise ``max(segment ∪ {0})`` — all-negative
    segments clamp to 0, and empty segments pool to 0.  pos1/pos2 are
    used as given (the reference assumes pos1 ≤ pos2; a reversed pair
    yields empty before/between slices exactly as Theano's would)."""
    b, t, d = h.shape
    out = np.zeros((b, 5 * d), dtype=h.dtype)

    def seg_max(s: np.ndarray) -> np.ndarray:
        if s.size == 0:
            return np.zeros(d, h.dtype)
        return np.maximum(s.max(axis=0), 0)

    for i in range(b):
        p1, p2 = int(pos1[i]), int(pos2[i])
        out[i] = np.concatenate(
            [
                seg_max(h[i, :p1]),
                h[i, p1],
                seg_max(h[i, p1 + 1 : p2]),
                h[i, p2],
                seg_max(h[i, p2 + 1 :]),
            ]
        )
    return out


# ---------------------------------------------------------------------------
# M18 — sparse log-linear logits

def sparse_loglinear_logits(
    bin_rows: np.ndarray, W: np.ndarray, b_: np.ndarray
) -> np.ndarray:
    """M18: sum of weight rows indexed by sparse binary features + bias
    (MultiNN recurrence rnnReModels.py:790-794).  ``bin_rows`` is the
    reference's [count, id1, id2, …, -1 pad] layout (rnnRE.py:484-510)."""
    out = np.tile(b_, (bin_rows.shape[0], 1))
    for i, row in enumerate(bin_rows):
        k = int(row[0])
        if k > 0:
            out[i] += W[row[1 : k + 1]].sum(axis=0)
    return out
