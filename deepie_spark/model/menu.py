"""The reference's full model menu as a spec-driven distributed engine.

The reference dispatches ~25 model shapes by name through ``eval``
(rnnRE.py:874-885, evaluate.py:56): single feature extractors
(rnnReModels.py:1315-1505), hyphen combos through ``mainModel``
(:729-770, component i reads channel family i), underscore ensembles
(``ensembleModel`` :938-1048, expert products), the standalone
``dynamicpooling`` class (:1509-1569), the sparse log-linear ``MultiNN``
(:772-855), and the ``#``-prefixed ``hybridModel`` (:1049-1146) that
multiplies the neural expert, the log-linear expert, and optionally the
kernel-score expert (:1135-1137).

Here the same menu is a *spec*: a plain broadcastable dict resolved once
on the driver (``make_spec``), a flat numpy weight dict
(``init_menu_weights``), and one forward over an Arrow mention batch
(``batch_forward``) that runs identically on the driver (golden,
``menu_forward`` of parsed records) and inside ``mapInArrow``
(``classify_mentions_menu``) — the parity contract of the engine.
``_COMPONENTS`` is the engine's one table from model name to graph, and
``batch_forward`` its one forward, neural and log-linear alike:
``model.train_neural`` trains the weights of a ``convolute`` or
``rnnHead`` spec in place, ``model.train`` trains the log-linear expert
as a ``#MultiNN`` weight dict (``bin_W``, ``bin_b``), and the same spec
and weights run here at inference.  ``classify_mentions_menu`` is the
engine's one relation classifier.

Channel families:

* family ``f1`` — sequence rep ``seq[0]`` (surface or dep path), tables
  ``embs1`` (rnnRE.py:713-727);
* family ``f2`` — second component of an ``a-b`` combo, sequence rep
  ``seq[1]``, shadow tables ``embs2`` (rnn_process_onlyExtra.py:736-782);
  the word table is shared with f1 when ``sharedEmbs['word']`` (the
  reference default, evaluate.py:88 / rnnReModels.py:566-571);
* family ``fs`` — second expert of an ``a_b`` ensemble: the SAME encoded
  inputs as f1 (``vars-1`` aliases ``vars1``, rnnReModels.py:545-600)
  with its own shadow tables (except shared word).

Feature modes per channel follow expected_features semantics
(evaluate.py:59-83): -1 off, 0 embedding lookup, 1 one-hot/multi-hot
fed raw into the concat (_getConcatenation rnnReModels.py:119-137);
``grammar`` is forced to mode 1 and ``gov`` to mode 0 when enabled
(rnnRE.py:745-749); ``word`` is always mode 0 and ``gov`` shares the
word table (rnnRE.py:713-715).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from deepie_spark.model.encoder import (
    ARROW_SCHEMA,
    CHANNEL_DICT,
    binary_feature_rows,
    encode_channels,
    encoded_columns,
    head_tokens,
    kernel_score_matrix,
    lookup,
    lookups,
    one_hot_channel,
    records_batch,
)
from deepie_spark.model.infer import PRED_SCHEMA
from deepie_spark.model.zoo import (
    bidirectional,
    bidirectional_outer,
    outer_rep,
    conv_maxpool,
    conv_same_tanh,
    dynamic_pool3,
    head_pool,
    hidden_layer,
    masked_sum_pool,
    attention_pool,
    max_pool,
    mean_pool,
    rnn_ff,
    rnn_gru,
    softmax,
    sparse_loglinear_logits,
)

#: concat order = the reference's features OrderedDict order: word first
#: (rnnRE.py:751), then the expected_features key order (evaluate.py:59)
CHANNELS = (
    "word", "dist1", "dist2", "type", "subtype", "order",
    "constit1", "constit2", "preter", "prepreter", "grammar", "gov",
    "indep",
)

#: components of the menu and their (core, pool) decomposition —
#: rnnReModels.py:1315-1505
_COMPONENTS = {
    "convolute": (None, "convpool"),
    "convoluteSum": (None, "convmean"),
    "convoluteSumDep": (None, "convdep"),
    "rnnHead": ("gruBi", "head"),
    "rnnHeadForward": ("gruF", "head"),
    "rnnHeadBackward": ("gruB", "head"),
    "rnnHeadFf": ("ffBi", "head"),
    "rnnHeadFfForward": ("ffF", "head"),
    "rnnHeadFfBackward": ("ffB", "head"),
    "rnnMax": ("gruBi", "max"),
    "rnnMaxForward": ("gruF", "max"),
    "rnnMaxBackward": ("gruB", "max"),
    "rnnMaxFf": ("ffBi", "max"),
    "rnnMaxFfForward": ("ffF", "max"),
    "rnnMaxFfBackward": ("ffB", "max"),
    "rnnSum": ("gruBi", "mean"),
    "rnnSumDep": ("gruBi", "depsum"),
    "rnnAtt": ("gruBi", "att"),
    "rnnAttHead": ("gruBi", "atthead"),
    "alternateHead": ("convThenGruBi", "head"),
    "alternateHeadForward": ("convThenGruF", "head"),
    "alternateHeadBackward": ("convThenGruB", "head"),
    "alternateHeadDeep": ("convThenGruBiDeep", "head"),
    "alternateMax": ("convThenGruBi", "max"),
    "alternateMaxForward": ("convThenGruF", "max"),
    "alternateMaxBackward": ("convThenGruB", "max"),
    "alternateConv": ("gruBi", "convpool"),
    "alternateConvForward": ("gruF", "convpool"),
    "alternateConvBackward": ("gruB", "convpool"),
    # outer-combined biGRU encoder (gruBiDirectOuter
    # rnnReModels.py:362-366 / gruBidirectOuterCore :296-308): the
    # reference defines it as a first-class encoding but no menu string
    # dispatches it; exposed here under the head/max pooling heads so
    # reference configs with the outer encoder have a path
    "rnnHeadOuter": ("gruBiOuter", "head"),
    "rnnMaxOuter": ("gruBiOuter", "max"),
}


def default_modes(expected: dict[str, int] | None = None) -> dict[str, int]:
    """expected_features → resolved modes (rnnRE.py:745-776): word is
    always an embedding channel; grammar can only be multi-hot; gov can
    only be an embedding (through the word table)."""
    modes = {ch: -1 for ch in CHANNELS}
    modes["word"] = 0
    if expected:
        for ch, m in expected.items():
            if ch not in modes:
                raise KeyError(f"unknown channel {ch!r}")
            modes[ch] = m
    modes["grammar"] = 1 if modes["grammar"] >= 0 else -1
    modes["gov"] = 0 if modes["gov"] >= 0 else -1
    modes["word"] = 0
    return modes


def _component_split(model: str) -> tuple[str, list[tuple[str, str]]]:
    """model string → (kind, [(family, component), ...]).

    kind ∈ {main, ensemble, hybrid, multinn, dynpool}; the family ids
    mirror the reference's container keys (1, 2, -1→'fs')."""
    if model == "#MultiNN":
        return "multinn", []
    if model.startswith("#"):
        return "hybrid", [("f1", model[1:])]
    if model == "dynamicPooling":
        return "dynpool", []
    if "-" in model:
        a, b = model.split("-")
        return "main", [("f1", a), ("f2", b)]
    if "_" in model:
        a, b = model.split("_")
        return "ensemble", [("f1", a), ("fs", b)]
    return "main", [("f1", model)]


def make_spec(
    model: str,
    dict_sizes: dict[str, int],
    num_position: int,
    num_dep_position: int,
    m_len: int,
    m_dep_len: int,
    n_classes: int,
    seq: tuple[str, str] = ("surface", "surface"),
    modes1: dict[str, int] | None = None,
    modes2: dict[str, int] | None = None,
    word_dim: int = 32,
    feat_dim: int = 8,
    nh: tuple[int, int] = (24, 24),
    windows: tuple[int, ...] = (2, 3),
    maps: int = 16,
    multilayer1: list[int] | None = None,
    multilayer2: list[int] | None = None,
    dropout: float = 0.0,
    bin_dim: int = 0,
    max_bin: int = 64,
    kernel_score: bool = False,
    kernel_fill: bool = False,
    use_head_emb: bool = False,
    ensemble_binary: bool = False,
    shared_word: bool = True,
    outer: bool = False,
) -> dict:
    """Resolve a model-menu configuration into a self-contained spec.

    One-hot widths are the table sizes minus the pad row
    (numX = embeddings['X1'].shape[0]-1, rnnRE.py:43-52); the kernel
    flags mirror kernelFets (evaluate.py:101-103) — ``kernel_fill``
    additionally enables the label-indexed score fill that the reference
    documents but comments out (rnn_process_onlyExtra.py:267-273,
    active code pins every score to -1.0 which makes the expert a no-op
    after renormalization).

    ``outer=True`` is the reference's global representation-mode
    hyperparameter ('outer', evaluate.py:54-55): every channel family's
    representation becomes the token-wise outer product of the word
    embedding with the concat of the remaining active channels
    (_getConcatenationOuter rnnReModels.py:140-162), with
    dimIn = (dimIn − d_word) · d_word (rnnReModels.py:605-614)."""
    kind, comps = _component_split(model)
    m1 = default_modes(modes1)
    m2 = default_modes(modes2)
    families = []
    for fam, comp in comps:
        if comp not in _COMPONENTS:
            raise KeyError(f"unknown model component {comp!r}")
        s = seq[1] if fam == "f2" else seq[0]
        # fs (the ensemble shadow) reads the SAME inputs as f1:
        # features-1 = features1, vars-1 = vars1 (rnnReModels.py:549-600)
        families.append(
            {"fam": fam, "component": comp, "seq": s,
             "modes": m2 if fam == "f2" else m1}
        )
    if kind == "dynpool":
        families = [
            {"fam": "f1", "component": "dynamicPooling", "seq": seq[0],
             "modes": m1}
        ]
    # one-hot widths of the channels the families use; dist widths
    # follow each family's sequence (family_widths)
    fixed = {"order": 3, "indep": 2}
    widths = {
        ch: fixed[ch] if ch in fixed else dict_sizes[CHANNEL_DICT[ch]]
        for f in families
        for ch, m in f["modes"].items()
        if m >= 0 and ch not in ("word", "gov", "dist1", "dist2")
    }
    return {
        "model": model,
        "kind": kind,
        "families": families,
        "dict_sizes": dict(dict_sizes),
        "widths": widths,
        "num_position": num_position,
        "num_dep_position": num_dep_position,
        "m_len": m_len,
        "m_dep_len": m_dep_len,
        "n_classes": n_classes,
        "word_dim": word_dim,
        "feat_dim": feat_dim,
        "nh": {"f1": nh[0], "f2": nh[1], "fs": nh[0]},  # nh-1 = nh1
        "windows": tuple(windows),
        "maps": maps,
        "multilayer1": list(multilayer1 or []),
        "multilayer2": list(multilayer2 or []),
        "dropout": float(dropout),
        "bin_dim": int(bin_dim),
        "max_bin": int(max_bin),
        "kernel_score": bool(kernel_score),
        "kernel_fill": bool(kernel_fill),
        "use_head_emb": bool(use_head_emb),
        "ensemble_binary": bool(ensemble_binary),
        "shared_word": bool(shared_word),
        "outer": bool(outer),
    }


def _fam_num_position(spec: dict, f: dict) -> int:
    return (
        spec["num_dep_position"] if f["seq"] == "dep"
        else spec["num_position"]
    )


def family_widths(spec: dict, f: dict) -> dict[str, int]:
    """Mode-1 widths of a family's channels; the dist widths follow its
    sequence rep."""
    w = dict(spec["widths"])
    np_ = _fam_num_position(spec, f)
    w["dist1"] = np_
    w["dist2"] = np_
    return w


def family_in_dim(spec: dict, f: dict) -> int:
    """dimIn of a channel family (rnnReModels.py:583-605); under
    ``outer`` the rep is word ⊗ rest, so dimIn becomes
    (dimIn − d_word) · d_word (rnnReModels.py:605-614)."""
    widths = family_widths(spec, f)
    dim = 0
    for ch in CHANNELS:
        m = f["modes"].get(ch, -1)
        if m < 0:
            continue
        if m == 0:
            dim += (
                spec["word_dim"] if ch in ("word", "gov")
                else spec["feat_dim"]
            )
        else:
            dim += widths[ch]
    if spec.get("outer"):
        if f["modes"].get("word", -1) != 0 or dim <= spec["word_dim"]:
            raise ValueError(
                "outer mode needs an embedded word channel plus at least"
                " one other active channel (_getConcatenationOuter"
                " rnnReModels.py:140-162)"
            )
        return (dim - spec["word_dim"]) * spec["word_dim"]
    return dim


def _component_out_dim(spec: dict, f: dict) -> int:
    comp = f["component"]
    nh = spec["nh"][f["fam"]]
    conv_out = spec["maps"] * len(spec["windows"])
    if comp == "dynamicPooling":
        return 5 * family_in_dim(spec, f)
    core, pool = _COMPONENTS[comp]
    h_dim = {
        None: conv_out if core is None else 0,
        "gruBi": 2 * nh, "ffBi": 2 * nh,
        "gruBiOuter": nh * nh,  # outer(fwd, bwd) per token, hidden²
        "gruF": nh, "gruB": nh, "ffF": nh, "ffB": nh,
        "convThenGruBi": 2 * nh, "convThenGruBiDeep": 2 * nh,
        "convThenGruF": nh, "convThenGruB": nh,
    }[core]
    if pool in ("convpool", "convmean", "convdep"):
        return conv_out
    if pool == "head":
        return 2 * h_dim
    if pool in ("max", "mean", "depsum", "att"):
        return h_dim
    if pool == "atthead":
        return 3 * h_dim
    raise AssertionError(pool)


def init_menu_weights(spec: dict, seed: int = 8989) -> dict[str, np.ndarray]:
    """Seeded init of every table/parameter the spec's forward touches.

    Creation order is fixed (families in spec order: tables in CHANNELS
    order, then core, then pool params; then expert/classifier heads) so
    identical specs yield identical weights.  Embedding tables are
    uniform(-0.25, 0.25) with a zeroed pad row 0
    (rnn_process_onlyExtra.py:687-733); dense/conv params are
    small-uniform like the reference's randomMatrix."""
    rng = np.random.RandomState(seed)
    w: dict[str, np.ndarray] = {}

    def table(n, d):
        t = rng.uniform(-0.25, 0.25, (n, d)).astype(np.float32)
        t[0] = 0.0
        return t

    def mat(nin, nout):
        return rng.uniform(-0.1, 0.1, (nin, nout)).astype(np.float32)

    def gru_params(in_dim, nh):
        return [
            mat(in_dim, 2 * nh), np.zeros(2 * nh, np.float32),
            mat(nh, 2 * nh), mat(in_dim, nh), mat(nh, nh),
            np.zeros(nh, np.float32),
        ]

    def ff_params(in_dim, nh):
        return [mat(in_dim, nh), mat(nh, nh), np.zeros(nh, np.float32)]

    ds = spec["dict_sizes"]
    nc = spec["n_classes"]
    for f in spec["families"]:
        fam = f["fam"]
        widths = family_widths(spec, f)
        for ch in CHANNELS:
            if f["modes"].get(ch, -1) != 0 or ch in ("gov", "grammar"):
                continue  # gov reads the word table; grammar is mode 1
            key = f"{fam}_T_{ch}"
            if (
                ch == "word" and spec["shared_word"]
                and fam in ("f2", "fs") and "f1_T_word" in w
            ):
                w[key] = w["f1_T_word"]  # sharedEmbs['word'] default
                continue
            if ch == "word":
                w[key] = table(ds["word"] + 1, spec["word_dim"])
            else:  # the one-hot width plus the pad row
                w[key] = table(widths[ch] + 1, spec["feat_dim"])
        comp = f["component"]
        if comp == "dynamicPooling":
            continue  # pools raw x, no core params
        core, pool = _COMPONENTS[comp]
        in_dim = family_in_dim(spec, f)
        nh = spec["nh"][fam]
        conv_out = spec["maps"] * len(spec["windows"])

        def conv_set(prefix: str, d: int) -> None:
            for win in spec["windows"]:
                w[f"{fam}_{prefix}_W{win}"] = mat(
                    spec["maps"] * win * d, 1
                ).reshape(spec["maps"], win, d)
                w[f"{fam}_{prefix}_b{win}"] = np.zeros(
                    spec["maps"], np.float32
                )

        def gru_set(prefix: str, d: int, dirs: tuple[str, ...]) -> None:
            for side in dirs:
                for i, p in enumerate(gru_params(d, nh)):
                    w[f"{fam}_{prefix}_{side}_{i}"] = p

        if core == "convThenGruBiDeep":
            # depth-2 conv→biGRU stack (alternateHeadDeep
            # rnnReModels.py:1198-1215): each stage's conv runs over the
            # previous stage's output
            conv_set("conv", in_dim)
            gru_set("gru", conv_out, ("fwd", "bwd"))
            conv_set("conv2", 2 * nh)
            gru_set("gru2", conv_out, ("fwd", "bwd"))
            rnn_in = conv_out
        elif core in ("convThenGruBi", "convThenGruF", "convThenGruB"):
            conv_set("conv", in_dim)
            rnn_in = conv_out
            dirs = ("fwd", "bwd") if core == "convThenGruBi" else (
                ("fwd",) if core.endswith("F") else ("bwd",)
            )
            gru_set("gru", rnn_in, dirs)
        elif core in ("gruBi", "gruF", "gruB", "gruBiOuter"):
            dirs = ("fwd", "bwd") if core in ("gruBi", "gruBiOuter") else (
                ("fwd",) if core == "gruF" else ("bwd",)
            )
            gru_set("gru", in_dim, dirs)
        elif core in ("ffBi", "ffF", "ffB"):
            dirs = ("fwd", "bwd") if core == "ffBi" else (
                ("fwd",) if core == "ffF" else ("bwd",)
            )
            for side in dirs:
                for i, p in enumerate(ff_params(in_dim, nh)):
                    w[f"{fam}_ff_{side}_{i}"] = p
        if pool in ("convpool", "convmean", "convdep"):
            if comp.startswith("alternateConv"):
                conv_d = 2 * nh if comp == "alternateConv" else nh
            else:
                conv_d = in_dim
            conv_set("pconv", conv_d)
        if pool in ("att", "atthead"):
            w[f"{fam}_att_IW"] = mat(2 * nh, 1)
            w[f"{fam}_att_Ib"] = np.zeros(1, np.float32)

    # '#MultiNN' disables every channel but re-enables the word table
    # when useHeadEmbedding is on (rnnRE.py:773-777)
    if spec["use_head_emb"] and "f1_T_word" not in w:
        w["f1_T_word"] = table(ds["word"] + 1, spec["word_dim"])

    def layers(prefix: str, dims: list[int]) -> None:
        for i, (nin, nout) in enumerate(zip(dims, dims[1:])):
            w[f"{prefix}_W{i}"] = mat(nin, nout)
            w[f"{prefix}_b{i}"] = np.zeros(nout, np.float32)

    kind = spec["kind"]
    if kind in ("main", "dynpool"):
        out = sum(_component_out_dim(spec, f) for f in spec["families"])
        dims = [out] + spec["multilayer1"]
        layers("mlp1", dims)
        w["cls_W"] = mat(dims[-1], nc)
        w["cls_b"] = np.zeros(nc, np.float32)
    elif kind == "ensemble":
        for f in spec["families"]:
            d = _component_out_dim(spec, f)
            w[f"{f['fam']}_exp_W"] = mat(d, nc)
            w[f"{f['fam']}_exp_b"] = np.zeros(nc, np.float32)
    elif kind == "hybrid":
        out = _component_out_dim(spec, spec["families"][0])
        dims = [out] + spec["multilayer2"]
        layers("mlp2", dims)
        w["model_fW"] = mat(dims[-1], nc)
        w["model_fb"] = np.zeros(nc, np.float32)
    if _bin_expert(spec):
        # MultiNN expert params (rnnReModels.py:772-855, hids layout
        # [binDim] + multilayerNN1 + [nc])
        hids = [spec["bin_dim"]] + spec["multilayer1"] + [nc]
        w["bin_W"] = mat(hids[0], hids[1])
        w["bin_b"] = np.zeros(hids[1], np.float32)
        if spec["use_head_emb"]:
            w["binhead_W"] = mat(2 * spec["word_dim"], hids[1])
            w["binhead_b"] = np.zeros(hids[1], np.float32)
        if len(hids) > 2:
            layers("binmlp", hids[1:-1])
            w["bin_fW"] = mat(hids[-2], nc)
            w["bin_fb"] = np.zeros(nc, np.float32)
    return w


def _bin_expert(spec: dict) -> bool:
    """Whether the spec runs the MultiNN log-linear expert."""
    kind = spec["kind"]
    return kind in ("multinn", "hybrid") or (
        kind == "ensemble" and spec["ensemble_binary"]
    )


# ---------------------------------------------------------------------------
# forward

def _family_channels(spec: dict, f: dict) -> list[str]:
    """The encoder channels one family reads: its active channels, and
    ``iidep`` under a dep-path-masked pool."""
    chans = [ch for ch in CHANNELS if f["modes"].get(ch, -1) >= 0]
    comp = f["component"]
    if comp in _COMPONENTS and _COMPONENTS[comp][1] in ("depsum", "convdep"):
        chans.append("iidep")
    return chans


def _family_encode(
    batch: pa.RecordBatch, dicts: dict, spec: dict, f: dict
) -> tuple[dict[str, np.ndarray], np.ndarray, np.ndarray]:
    """Encoded channels + head positions for one family."""
    dep = f["seq"] == "dep"
    enc = encode_channels(
        batch, dicts, spec["m_dep_len" if dep else "m_len"],
        _fam_num_position(spec, f), _family_channels(spec, f), dep,
    )
    return enc, enc["pos1"], enc["pos2"]


def _head_dep(spec: dict) -> bool:
    """Whether the head embedding reads the dep path: it reads the
    first family's sequence, the surface when there is none
    (#MultiNN)."""
    return bool(spec["families"]) and spec["families"][0]["seq"] == "dep"


def spec_columns(spec: dict) -> set[str]:
    """The mention columns :func:`batch_forward` reads for ``spec``."""
    cols = set()
    for f in spec["families"]:
        cols |= encoded_columns(_family_channels(spec, f), f["seq"] == "dep")
    if _bin_expert(spec):
        cols.add("bin_feats")
        if spec["use_head_emb"]:
            cols |= encoded_columns(["word"], _head_dep(spec))
    if spec["kind"] == "hybrid" and spec["kernel_score"]:
        if spec["kernel_fill"]:  # an unfilled kernel expert reads nothing
            cols.add("kernel_score")
    return cols


def _family_x(
    enc: dict[str, np.ndarray], w: dict, spec: dict, f: dict
) -> np.ndarray:
    """_getConcatenation (rnnReModels.py:119-137): mode-0 channels gather
    their table rows, mode-1 channels enter as raw one-/multi-hot.
    Under ``outer`` the word channel is held out and the rep is
    word ⊗ concat(rest) per token (_getConcatenationOuter
    rnnReModels.py:140-162; same channel order — the reference's
    features OrderedDict minus 'word')."""
    fam = f["fam"]
    widths = family_widths(spec, f)
    outer = bool(spec.get("outer"))
    xs, wb = [], None
    for ch in CHANNELS:
        m = f["modes"].get(ch, -1)
        if m < 0:
            continue
        if m == 0:
            tab = w[f"{fam}_T_word"] if ch in ("word", "gov") \
                else w[f"{fam}_T_{ch}"]
            if outer and ch == "word":
                wb = tab[enc[ch]]
                continue
            xs.append(tab[enc[ch]])
        elif ch == "grammar":
            xs.append(enc["grammar"])
        else:
            xs.append(one_hot_channel(enc[ch], widths[ch]))
    x = np.concatenate(xs, axis=2).astype(np.float32)
    if outer:
        if wb is None:
            raise ValueError("outer mode requires the word channel")
        return outer_rep(wb.astype(np.float32), x).astype(np.float32)
    return x


def _conv_filters(w: dict, spec: dict, fam: str, prefix: str):
    return [
        (w[f"{fam}_{prefix}_W{win}"], w[f"{fam}_{prefix}_b{win}"])
        for win in spec["windows"]
    ]


def _same_conv(x, w, spec, fam, prefix):
    return np.concatenate(
        [
            conv_same_tanh(x, W, b)
            for W, b in _conv_filters(w, spec, fam, prefix)
        ],
        axis=2,
    )


def _run_core(core, x, w, spec, fam):
    if core is None:
        return x

    def recur(kind, x, pre):
        cell, n = (rnn_gru, 6) if pre.startswith("gru") else (rnn_ff, 3)
        if kind == "Bi":
            fwd = tuple(w[f"{fam}_{pre}_fwd_{i}"] for i in range(n))
            bwd = tuple(w[f"{fam}_{pre}_bwd_{i}"] for i in range(n))
            return bidirectional(x, fwd, bwd, cell=cell)
        if kind == "F":
            params = tuple(w[f"{fam}_{pre}_fwd_{i}"] for i in range(n))
            return cell(x, *params)
        params = tuple(w[f"{fam}_{pre}_bwd_{i}"] for i in range(n))
        return cell(x[:, ::-1], *params)[:, ::-1]

    if core == "convThenGruBiDeep":
        x = _same_conv(x, w, spec, fam, "conv")
        x = recur("Bi", x, "gru")
        x = _same_conv(x, w, spec, fam, "conv2")
        return recur("Bi", x, "gru2")
    if core.startswith("convThenGru"):
        x = _same_conv(x, w, spec, fam, "conv")
        return recur(core[len("convThenGru"):], x, "gru")
    if core == "gruBiOuter":
        fwd = tuple(w[f"{fam}_gru_fwd_{i}"] for i in range(6))
        bwd = tuple(w[f"{fam}_gru_bwd_{i}"] for i in range(6))
        return bidirectional_outer(x, fwd, bwd, cell=rnn_gru)
    if core in ("gruBi", "ffBi"):
        return recur("Bi", x, "gru" if core == "gruBi" else "ff")
    kind = "F" if core.endswith("F") else "B"
    return recur(kind, x, "gru" if core.startswith("gru") else "ff")


def component_features(
    f: dict, x: np.ndarray, w: dict, spec: dict,
    pos1: np.ndarray, pos2: np.ndarray, iidep: np.ndarray,
) -> np.ndarray:
    """One menu component: core recurrence/convolution + pooling head."""
    fam = f["fam"]
    comp = f["component"]
    if comp == "dynamicPooling":
        return dynamic_pool3(x, pos1, pos2)
    core, pool = _COMPONENTS[comp]
    h = _run_core(core, x, w, spec, fam)
    if pool == "convpool":
        return np.concatenate(
            [
                conv_maxpool(h, W, b)
                for W, b in _conv_filters(w, spec, fam, "pconv")
            ],
            axis=1,
        )
    if pool in ("convmean", "convdep"):
        hc = np.concatenate(
            [
                conv_same_tanh(h, W, b)
                for W, b in _conv_filters(w, spec, fam, "pconv")
            ],
            axis=2,
        )
        if pool == "convmean":
            return mean_pool(hc)
        return masked_sum_pool(hc, iidep)
    if pool == "head":
        return head_pool(h, pos1, pos2)
    if pool == "max":
        return max_pool(h)
    if pool == "mean":
        return mean_pool(h)
    if pool == "depsum":
        return masked_sum_pool(h, iidep)
    if pool == "att":
        return attention_pool(h, w[f"{fam}_att_IW"], w[f"{fam}_att_Ib"])
    if pool == "atthead":
        att = attention_pool(h, w[f"{fam}_att_IW"], w[f"{fam}_att_Ib"])
        return np.concatenate([att, head_pool(h, pos1, pos2)], axis=1)
    raise AssertionError(pool)


def _mlp_chain(x: np.ndarray, w: dict, prefix: str, n_layers: int):
    for i in range(n_layers):
        x = hidden_layer(x, w[f"{prefix}_W{i}"], w[f"{prefix}_b{i}"])
    return x


def _multinn_logits(
    bin_rows: np.ndarray, w: dict, spec: dict,
    head_emb: np.ndarray | None = None,
) -> np.ndarray:
    """MultiNN expert logits (rnnReModels.py:772-855): sparse row-sum
    layer, optional head-embedding addend (useHeadEmbedding), optional
    sigmoid+MLP stack when multilayerNN1 is non-empty."""
    first = sparse_loglinear_logits(bin_rows, w["bin_W"], w["bin_b"])
    if head_emb is not None:
        first = first + head_emb @ w["binhead_W"] + w["binhead_b"]
    if not spec["multilayer1"]:
        return first  # hids == [binDim, nc]: logits directly
    h = 1.0 / (1.0 + np.exp(-first))
    h = _mlp_chain(h, w, "binmlp", max(len(spec["multilayer1"]) - 1, 0))
    return h @ w["bin_fW"] + w["bin_fb"]


def menu_forward(
    records: list[dict],
    dicts: dict[str, dict[str, int]],
    weights: dict[str, np.ndarray],
    spec: dict,
    bin_dict: dict[str, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Spec-driven forward pass over parsed records → (pred ids,
    probability matrix): :func:`batch_forward` of their Arrow batch,
    the computation every ``classify_mentions_menu`` batch runs."""
    return batch_forward(
        records_batch(records), dicts, weights, spec, bin_dict
    )


def batch_forward(
    batch: pa.RecordBatch,
    dicts: dict[str, dict[str, int]],
    weights: dict[str, np.ndarray],
    spec: dict,
    bin_dict: dict[str, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Spec-driven forward pass over one mention batch (reading only
    :func:`spec_columns`) → (pred ids, probability matrix).  The
    dictionaries' lookup arrays are built once per call, or once per
    kernel when passed as :func:`~deepie_spark.model.encoder.lookups`."""
    dicts, bin_dict = lookups(dicts), lookup(bin_dict or {})
    w = weights
    kind = spec["kind"]
    scale = 1.0 - spec["dropout"]  # inference-side dropout scaling (M9)
    fams = []
    for f in spec["families"]:
        enc, pos1, pos2 = _family_encode(batch, dicts, spec, f)
        x = _family_x(enc, w, spec, f)
        fams.append(
            component_features(f, x, w, spec, pos1, pos2, enc.get("iidep"))
        )

    logits = 0.0
    if kind in ("main", "dynpool"):
        feats = np.concatenate(fams, axis=1)
        h = _mlp_chain(feats, w, "mlp1", len(spec["multilayer1"]))
        logits = h @ (scale * w["cls_W"]) + w["cls_b"]
    elif kind == "ensemble":  # expert product = sum of logits
        for f, feats in zip(spec["families"], fams):
            fam = f["fam"]
            logits = logits + (
                feats @ (scale * w[f"{fam}_exp_W"]) + w[f"{fam}_exp_b"]
            )
    elif kind == "hybrid":
        h = _mlp_chain(fams[0], w, "mlp2", len(spec["multilayer2"]))
        logits = h @ (scale * w["model_fW"]) + w["model_fb"]
    if _bin_expert(spec):
        rows = binary_feature_rows(batch, bin_dict, spec["max_bin"])
        head = None
        if spec["use_head_emb"]:
            dep = _head_dep(spec)
            enc = encode_channels(
                batch, dicts, spec["m_dep_len" if dep else "m_len"],
                spec["num_dep_position" if dep else "num_position"],
                ["word"], dep,
            )
            b, tab = np.arange(batch.num_rows), w["f1_T_word"]
            head = np.concatenate(
                [tab[enc["word"][b, enc[p]]] for p in ("pos1", "pos2")],
                axis=1,
            )
        logits = logits + _multinn_logits(rows, w, spec, head)
    if kind == "hybrid" and spec["kernel_score"]:
        logits = logits + kernel_score_matrix(
            batch, dicts["label"], spec["n_classes"], spec["kernel_fill"]
        )
    p = softmax(logits, axis=1)
    return p.argmax(axis=1), p


# ---------------------------------------------------------------------------
# distributed wrapper

#: the columns every prediction row carries through from its mention
_PASS_COLS = {"rel_id", "corpus", "label", "tokens", "pos1", "pos2", "line_no"}


def classify_mentions_menu(
    mentions: DataFrame,
    weights: dict[str, np.ndarray],
    dicts: dict[str, dict[str, int]],
    spec: dict,
    label_names: list[str],
    bin_dict: dict[str, int] | None = None,
) -> DataFrame:
    """Distributed inference for ANY menu spec: one broadcast carries
    weights+spec+dicts, deserialized once per python worker; each Arrow
    batch runs the same ``batch_forward`` as the driver golden.

    This is the engine's one relation classifier, a ``mapInArrow``
    kernel over only the columns the spec reads, and the Spark
    re-expression of ``predict()`` (rnnRE.py:512-562): the reference
    pads corpora to batch multiples and recycles head rows (:516-523);
    Arrow batches need no such padding."""
    spark = mentions.sparkSession
    bc = spark.sparkContext.broadcast(
        {"w": weights, "dicts": dicts, "spec": spec,
         "labels": label_names, "bin_dict": bin_dict}
    )
    cols = _PASS_COLS | spec_columns(spec)

    def run(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        v = bc.value
        labels = pa.array(v["labels"], pa.string())
        # one set of lookup arrays per kernel, shared by its batches
        dicts, bin_dict = lookups(v["dicts"]), lookup(v["bin_dict"] or {})
        for rb in batches:
            if not rb.num_rows:
                continue
            pred_ids, p = batch_forward(
                rb, dicts, v["w"], v["spec"], bin_dict
            )
            probs = p[np.arange(len(pred_ids)), pred_ids].astype(float)
            subj, obj = head_tokens(rb)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("rel_id"), rb.column("corpus"),
                    rb.column("label"), labels.take(pred_ids),
                    pa.array(probs), rb.column("pos1"), rb.column("pos2"),
                    subj, obj, rb.column("line_no"),
                ],
                names=["rel_id", "corpus", "gold", "pred", "prob", "pos1",
                       "pos2", "subj", "obj", "line_no"],
            )

    return mentions.select(
        [f.name for f in ARROW_SCHEMA if f.name in cols]
    ).mapInArrow(run, PRED_SCHEMA)
