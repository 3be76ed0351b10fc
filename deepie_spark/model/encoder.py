"""Feature encoding (F1/F5/F6): parsed records → model input channels.

Re-expresses ``_generatePartialDataInstance`` (rnnRE.py:31-210) and
``getBinaryVector`` (rnnRE.py:484-510) as batched numpy over Arrow
record batches — the per-token Python loops of the reference become
array ops; the *values* are reproduced exactly:

* scalar channels (feature mode 0): word id, governor id,
  dist1/dist2 = numPosition//2 + i − pos + 1, type/subtype/order ids
  only at the two head positions (1 = 'Other' elsewhere), constit1/2,
  preter, prepreter ids;
* ``grammar`` multi-hot over dep relations (rnnRE.py:83-85);
* ``iidep`` ∈ {0,1} in-dep-path indicator (rnnRE.py:87-94), and its
  ``indep`` id twin (2 if on path else 1);
* zero padding to ``mLen`` on every channel (rnnRE.py:180-207) — id 0
  is the pad row of every embedding table;
* the ``order`` channel (F6): at inference the gold-label path is a
  leak (SURVEY.md §7.4.2) — we always use the override semantics
  ``rev['order']`` with default 0 (rnnRE.py:37-41);
* out-of-vocabulary words hard-fail like the reference's
  'unrecognized features' exit (rnnRE.py:77-80) — J1 is an inner
  dictionary probe, not a lossy lookup.
"""

from __future__ import annotations

import numpy as np

def norm(w: str) -> str:
    """Reference ' '.join(w.split('_')) (rnnRE.py:74-75)."""
    return " ".join(w.split("_"))


def encode_record(
    rec: dict,
    dicts: dict[str, dict[str, int]],
    m_len: int,
    num_position: int,
    order_override: int = 0,
) -> dict[str, np.ndarray]:
    """One record → channel arrays (scalar/id mode, features=0).

    ``rec`` uses the parsed-table schema (sources.tsv_corpus): string
    arrays + pos1/pos2 + type/subtype strings.
    """
    words = [norm(w) for w in rec["tokens"]]
    govs = [norm(g) for g in rec["governors"]]
    n = len(words)
    if n > m_len:
        raise ValueError("record longer than mLen")
    wd = dicts["word"]
    try:
        x = [wd[w] for w in words]
        gov = [wd[g] for g in govs]
    except KeyError as e:  # rnnRE.py:172-174 'unrecognized features'
        raise KeyError(f"unrecognized word {e}") from e
    cons1 = [dicts["constit"][c] for c in rec["cons1"]]
    cons2 = [dicts["constit"][c] for c in rec["cons2"]]
    preter = [dicts["preter"][p] for p in rec["preter"]]
    prepreter = [dicts["prepreter"][p] for p in rec["prepreter"]]
    ty1 = dicts["type"][rec["type1"]]
    ty2 = dicts["type"][rec["type2"]]
    sty1 = dicts["subtype"][rec["subtype1"]]
    sty2 = dicts["subtype"][rec["subtype2"]]
    pos1, pos2 = rec["pos1"], rec["pos2"]
    dep_set = set(rec["dep_idx"])
    order_id = order_override  # F6: never the gold label at inference

    center = num_position // 2
    i = np.arange(n)
    dist1 = center + i - pos1 + 1
    dist2 = center + i - pos2 + 1

    type_ch = np.ones(n, dtype=np.int32)
    subtype_ch = np.ones(n, dtype=np.int32)
    order_ch = np.full(n, 3, dtype=np.int32)
    # pos2 assigned first, pos1 second: the reference's if/elif makes
    # pos1 win when pos1 == pos2 (rnnRE.py:132-156)
    type_ch[pos2], subtype_ch[pos2] = ty2, sty2
    order_ch[pos2] = 2 - order_id
    type_ch[pos1], subtype_ch[pos1] = ty1, sty1
    order_ch[pos1] = order_id + 1

    iidep = np.array([1 if j in dep_set else 0 for j in range(n)], np.int32)
    indep = iidep + 1

    # multi-hot width = numDeprel = deprel table rows - 1 = len(dict):
    # ids 1..len map to columns 0..len-1 (graFet[gid-1], rnnRE.py:83-85)
    n_deprel = len(dicts["deprel"])
    grammar = np.zeros((m_len, n_deprel), dtype=np.float32)
    for j, gs in enumerate(rec["grammar"]):
        for g in gs:
            grammar[j, dicts["deprel"][g] - 1] = 1.0

    def pad(a, fill=0):
        out = np.zeros(m_len, dtype=np.int32)
        out[:n] = a
        return out

    return {
        "word": pad(x),
        "gov": pad(gov),
        "dist1": pad(dist1),
        "dist2": pad(dist2),
        "type": pad(type_ch),
        "subtype": pad(subtype_ch),
        "order": pad(order_ch),
        "constit1": pad(cons1),
        "constit2": pad(cons2),
        "preter": pad(preter),
        "prepreter": pad(prepreter),
        "indep": pad(indep),
        "iidep": pad(iidep).astype(np.float32),
        "grammar": grammar,
    }


def encode_dep_record(
    rec: dict,
    dicts: dict[str, dict[str, int]],
    m_dep_len: int,
    num_dep_position: int,
    order_override: int = 0,
) -> dict[str, np.ndarray]:
    """F2: the same channel family over the dependency path
    (dep_generatePartialDataInstance rnnRE.py:212-372).

    The sequence is the dep-path tokens; token-aligned features are
    gathered through ``dep_idx`` (retrieveDepFeatures
    rnn_process_onlyExtra.py:474-489), head positions are the path ends
    (dep_pos1=0, dep_pos2=len-1, :489).  Reference quirks reproduced
    exactly: the scalar ``indep`` channel is 0 at every path position
    (rnnRE.py:269-271) and ``iidep`` is 1 everywhere on the path.
    """
    dep = rec["dep_idx"]
    words = [norm(w) for w in rec["dep_tokens"]]
    govs = [norm(rec["governors"][i]) for i in dep]
    n = len(words)
    if n > m_dep_len:
        raise ValueError("dep path longer than mDepLen")
    wd = dicts["word"]
    try:  # rnnRE.py:336-338 'unrecognized dep features' fail-fast
        x = [wd[w] for w in words]
        gov = [wd[g] for g in govs]
        cons1 = [dicts["constit"][rec["cons1"][i]] for i in dep]
        cons2 = [dicts["constit"][rec["cons2"][i]] for i in dep]
        preter = [dicts["preter"][rec["preter"][i]] for i in dep]
        prepreter = [dicts["prepreter"][rec["prepreter"][i]] for i in dep]
        ty1 = dicts["type"][rec["type1"]]
        ty2 = dicts["type"][rec["type2"]]
        sty1 = dicts["subtype"][rec["subtype1"]]
        sty2 = dicts["subtype"][rec["subtype2"]]
    except KeyError as e:
        raise KeyError(f"unrecognized dep features {e}") from e
    pos1, pos2 = 0, n - 1
    order_id = order_override

    center = num_dep_position // 2
    i = np.arange(n)
    dist1 = center + i - pos1 + 1
    dist2 = center + i - pos2 + 1

    type_ch = np.ones(n, dtype=np.int32)
    subtype_ch = np.ones(n, dtype=np.int32)
    order_ch = np.full(n, 3, dtype=np.int32)
    # pos2 first, pos1 second: pos1 wins on a length-1 path (if/elif)
    type_ch[pos2], subtype_ch[pos2] = ty2, sty2
    order_ch[pos2] = 2 - order_id
    type_ch[pos1], subtype_ch[pos1] = ty1, sty1
    order_ch[pos1] = order_id + 1

    n_deprel = len(dicts["deprel"])
    grammar = np.zeros((m_dep_len, n_deprel), dtype=np.float32)
    for j, src in enumerate(dep):
        for g in rec["grammar"][src]:
            grammar[j, dicts["deprel"][g] - 1] = 1.0

    def pad(a):
        out = np.zeros(m_dep_len, dtype=np.int32)
        out[:n] = a
        return out

    iidep = np.zeros(m_dep_len, dtype=np.float32)
    iidep[:n] = 1.0
    return {
        "word": pad(x),
        "gov": pad(gov),
        "dist1": pad(dist1),
        "dist2": pad(dist2),
        "type": pad(type_ch),
        "subtype": pad(subtype_ch),
        "order": pad(order_ch),
        "constit1": pad(cons1),
        "constit2": pad(cons2),
        "preter": pad(preter),
        "prepreter": pad(prepreter),
        "indep": np.zeros(m_dep_len, dtype=np.int32),  # rnnRE.py:269-271
        "iidep": iidep,
        "grammar": grammar,
    }


def encode_batch(
    records: list[dict],
    dicts: dict[str, dict[str, int]],
    m_len: int,
    num_position: int,
) -> dict[str, np.ndarray]:
    """Stack per-record channels into (batch, mLen[, k]) tensors —
    the Arrow-batch analog of make_data's columnarization
    (rnnRE.py:425-438, 844-851)."""
    encs = [encode_record(r, dicts, m_len, num_position) for r in records]
    return {
        k: np.stack([e[k] for e in encs]) for k in encs[0]
    }


def one_hot_channel(ids: np.ndarray, width: int) -> np.ndarray:
    """Feature mode 1 (one-hot) from the scalar id channel.

    The reference's one-hot encodings (rnnRE.py:96-170) all reduce to
    one rule relative to the scalar mode: ``vec[scalar_id - 1] = 1``,
    pad rows (scalar 0) are zero vectors (rnnRE.py:180-207).  Verified
    per channel: dist one-hot index ``lpos`` vs scalar ``lpos+1``
    (:109-118); type/subtype ``[ty-1]`` vs ``ty`` (:123-170, 'Other'
    ``[0]`` vs 1); order ``[orderId]``/``[1-orderId]``/``[2]`` vs
    ``orderId+1``/``2-orderId``/``3``; constit/preter/prepreter
    ``[c-1]`` vs ``c`` (:96-106); indep ``[idid-1]`` vs ``idid``
    (:87-94, dep path: all-zero, :268-271)."""
    out = np.zeros((*ids.shape, width), dtype=np.float32)
    b, t = np.nonzero(ids > 0)
    out[b, t, ids[b, t] - 1] = 1.0
    return out


def binary_feature_rows(
    records: list[dict], bin_dict: dict[str, int], max_len: int
) -> np.ndarray:
    """F5: feature strings → [count, id1, …, -1 pad] int rows
    (convertBinaryFeatures/getBinaryVector rnnRE.py:484-510).
    Unknown features (below cutoff / unseen) are skipped."""
    out = np.full((len(records), max_len + 1), -1, dtype=np.int64)
    for i, rec in enumerate(records):
        ids = [bin_dict[f] for f in rec["bin_feats"] if f in bin_dict]
        out[i, 0] = len(ids)
        if ids:
            out[i, 1 : len(ids) + 1] = ids
    return out
