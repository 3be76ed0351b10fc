"""Feature encoding (F1/F2/F5/F6): relation-mention Arrow batches →
model input channels.

Re-expresses ``_generatePartialDataInstance`` (rnnRE.py:31-210), its
dependency-path twin (:212-372) and ``getBinaryVector`` (:484-510) as
one columnar encoder over a ``RecordBatch`` in ``MENTION_SCHEMA``'s
Spark-Arrow form (a ``mapInArrow`` kernel's input, or
:func:`records_batch` of parsed records): one ``index_in`` dictionary
lookup per channel, every ``(B, mLen[, k])`` channel scattered from the
list offsets.  The values are the reference's, quirks included (cited
where encoded); the ``order`` channel (F6) never reads the gold label
at inference (SURVEY.md §7.4.2).  An unknown value raises ``KeyError``
naming it, like the reference's 'unrecognized features' exit
(rnnRE.py:77-80).  A flattened gather would read a malformed row's
neighbour, so a malformed row raises ``ValueError``: a null list, a
list of the wrong length, a head or ``dep_idx`` entry outside its row,
a row longer than ``mLen``, more known features than ``max_bin``.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import to_arrow_schema

from deepie_spark.datagen.catalog import DIRECTION_SUFFIX_RE
from deepie_spark.sources.tsv_corpus import MENTION_SCHEMA

#: ``MENTION_SCHEMA`` in the Arrow form Spark hands a ``mapInArrow``
#: kernel
ARROW_SCHEMA = to_arrow_schema(MENTION_SCHEMA)

#: the dictionary each id channel looks its values up in
CHANNEL_DICT = {
    "word": "word", "gov": "word", "type": "type", "subtype": "subtype",
    "constit1": "constit", "constit2": "constit", "preter": "preter",
    "prepreter": "prepreter", "grammar": "deprel",
}

#: the columns each channel reads beside its sequence (``tokens``,
#: ``pos1``, ``pos2`` on the surface; ``tokens``, ``dep_idx``,
#: ``dep_tokens`` on the dependency path)
CHANNEL_COLUMNS = {
    "word": (), "dist1": (), "dist2": (), "order": (),
    "type": ("type1", "type2"), "subtype": ("subtype1", "subtype2"),
    "constit1": ("cons1",), "constit2": ("cons2",), "preter": ("preter",),
    "prepreter": ("prepreter",), "grammar": ("grammar",),
    "gov": ("governors",), "indep": ("dep_idx",), "iidep": ("dep_idx",),
}


def records_batch(records: list[dict]) -> pa.RecordBatch:
    """Parsed records (``sources.tsv_corpus.parse_line`` dicts) → one
    batch in :data:`ARROW_SCHEMA`; a key a record lacks is null."""
    return pa.RecordBatch.from_pylist(records, schema=ARROW_SCHEMA)


def encoded_columns(channels, dep: bool = False) -> set[str]:
    """The columns :func:`encode_channels` reads for ``channels``."""
    seq = ("dep_idx", "dep_tokens") if dep else ("pos1", "pos2")
    return {"tokens", *seq, *(c for ch in channels
                              for c in CHANNEL_COLUMNS[ch])}


def _flat(arr: pa.Array, name: str) -> tuple[pa.Array, np.ndarray]:
    """A list (or map) array as its values and 0-based offsets, the
    values cut to the array's own rows (a sliced batch keeps its
    neighbours' values in the child array)."""
    if arr.null_count:
        raise ValueError(f"null {name} list")
    off = np.asarray(arr.offsets, np.int64)
    return arr.values.slice(off[0], off[-1] - off[0]), off - off[0]


def _ints(arr: pa.Array, name: str) -> np.ndarray:
    if arr.null_count:
        raise ValueError(f"null {name}")
    return np.asarray(arr, np.int64)


class Lookup:
    """A dictionary's keys as an ``index_in`` value set and its ids in
    key order, each built on first use and then kept, so the batches of
    one kernel share them (:func:`lookups`).  Reads ``d`` as it is when
    first used: do not mutate it after."""

    def __init__(self, d: dict[str, int]):
        self.d = d

    def __len__(self) -> int:
        return len(self.d)

    @cached_property
    def value_set(self) -> pa.Array:
        return pa.array(list(self.d), pa.string())

    @cached_property
    def ids(self) -> np.ndarray:
        return np.fromiter(self.d.values(), np.int64, len(self.d))


def lookup(d) -> Lookup:
    """``d`` as a :class:`Lookup` (one already is comes back as is)."""
    return d if isinstance(d, Lookup) else Lookup(d)


def lookups(dicts: dict) -> dict[str, Lookup]:
    """Every dictionary of ``dicts`` as a :class:`Lookup`."""
    return {k: lookup(d) for k, d in dicts.items()}


def _ids(values: pa.Array, d: Lookup, what: str) -> np.ndarray:
    """One ``index_in`` lookup of ``values`` in ``d`` → int64 ids."""
    idx = pc.index_in(values, value_set=d.value_set)
    if idx.null_count:
        bad = values.filter(idx.is_null())[0].as_py()
        raise KeyError(f"unrecognized {what} {bad!r}")
    return d.ids[np.asarray(idx)]


def _words(values: pa.Array, d: Lookup) -> np.ndarray:
    """Word ids of ``' '.join(w.split('_'))`` (rnnRE.py:74-75)."""
    return _ids(pc.replace_substring(values, "_", " "), d, "word")


def _path(batch: pa.RecordBatch, n_tok: np.ndarray):
    """``dep_idx`` as (offsets, owner row, token index in that row)."""
    path, off = _flat(batch.column("dep_idx"), "dep_idx")
    row = np.repeat(np.arange(batch.num_rows), np.diff(off))
    at = _ints(path, "dep_idx entry")
    if ((at < 0) | (at >= n_tok[row])).any():
        raise ValueError("dep_idx entry outside its row")
    return off, row, at


def _heads(batch: pa.RecordBatch, n: np.ndarray):
    """(pos1, pos2), each checked to lie in ``[0, n)`` of its row."""
    heads = [_ints(batch.column(p), p) for p in ("pos1", "pos2")]
    if any(((pos < 0) | (pos >= n)).any() for pos in heads):
        raise ValueError("head position outside its row")
    return heads


def head_tokens(batch: pa.RecordBatch) -> tuple[pa.Array, pa.Array]:
    """Every row's entity head tokens ``tokens[pos1]``, ``tokens[pos2]``."""
    toks, off = _flat(batch.column("tokens"), "tokens")
    pos1, pos2 = _heads(batch, np.diff(off))
    return toks.take(off[:-1] + pos1), toks.take(off[:-1] + pos2)


def encode_channels(
    batch: pa.RecordBatch,
    dicts: dict[str, dict[str, int] | Lookup],
    m_len: int,
    num_position: int,
    channels=tuple(CHANNEL_COLUMNS),
    dep: bool = False,
    order_override: int = 0,
) -> dict[str, np.ndarray]:
    """A batch → ``channels`` as ``(B, m_len[, k])`` arrays (scalar/id
    mode, features=0), plus the head positions ``pos1``/``pos2``.

    ``dep=False`` encodes the surface sequence (``tokens``, heads
    ``pos1``/``pos2``); ``dep=True`` the dependency path: sequence
    ``dep_tokens``, token-aligned features gathered through ``dep_idx``,
    heads at the path ends (dep_pos1=0, dep_pos2=len-1,
    rnn_process_onlyExtra.py:489).  Only the columns of
    :func:`encoded_columns` are read.  ``dicts`` may hold
    :class:`Lookup` objects (:func:`lookups`) to share the lookup arrays
    across calls; a plain dictionary is wrapped once per call."""
    dicts = lookups(dicts)
    b = np.arange(batch.num_rows)
    toks, tok_off = _flat(batch.column("tokens"), "tokens")
    n_tok = np.diff(tok_off)
    if dep:
        off, row, src = _path(batch, n_tok)
        src += tok_off[row]
        n = np.diff(off)
        words, w_off = _flat(batch.column("dep_tokens"), "dep_tokens")
        if not np.array_equal(np.diff(w_off), n):
            raise ValueError("dep_idx length differs from dep_tokens")
        if (n < 1).any():
            raise ValueError("empty dep path")
        pos1, pos2 = np.zeros(len(b), np.int64), n - 1
    else:
        n, off, words = n_tok, tok_off, toks
        row = np.repeat(b, n)
        pos1, pos2 = _heads(batch, n)
    if (n > m_len).any():
        raise ValueError("dep path longer than mDepLen" if dep
                         else "record longer than mLen")
    col = np.arange(len(row)) - off[row]
    want = set(channels)

    def grid(values, dtype=np.int32) -> np.ndarray:
        out = np.zeros((len(b), m_len), dtype)  # zero pad, rnnRE.py:180-207
        out[row, col] = values
        return out

    def aligned(name: str) -> pa.Array:
        """A token-aligned list's values at the sequence positions."""
        values, v_off = _flat(batch.column(name), name)
        if not np.array_equal(np.diff(v_off), n_tok):
            raise ValueError(f"{name} length differs from tokens")
        return values.take(src) if dep else values

    enc = {"pos1": pos1, "pos2": pos2}
    if "word" in want:
        enc["word"] = grid(_words(words, dicts["word"]))
    if "gov" in want:
        enc["gov"] = grid(_words(aligned("governors"), dicts["word"]))
    center = num_position // 2  # dist = center + i - pos + 1, rnnRE.py:109
    for ch, pos in (("dist1", pos1), ("dist2", pos2)):
        if ch in want:
            enc[ch] = grid(center + col - pos[row] + 1)
    # pos2 assigned first, pos1 second: the reference's if/elif makes
    # pos1 win when pos1 == pos2 (rnnRE.py:132-156)
    for ch in want & {"type", "subtype"}:
        c1, c2 = CHANNEL_COLUMNS[ch]
        enc[ch] = grid(1)
        enc[ch][b, pos2] = _ids(batch.column(c2), dicts[ch], ch)
        enc[ch][b, pos1] = _ids(batch.column(c1), dicts[ch], ch)
    if "order" in want:
        enc["order"] = grid(3)
        enc["order"][b, pos2] = 2 - order_override
        enc["order"][b, pos1] = order_override + 1
    for ch in want & {"constit1", "constit2", "preter", "prepreter"}:
        d = CHANNEL_DICT[ch]
        enc[ch] = grid(_ids(aligned(CHANNEL_COLUMNS[ch][0]), dicts[d], d))
    if want & {"indep", "iidep"}:
        if dep:  # rnnRE.py:269-271
            iidep = grid(1)
        else:
            iidep = np.zeros((len(b), m_len), np.int32)  # rnnRE.py:87-94
            iidep[_path(batch, n_tok)[1:]] = 1
        enc["indep"] = grid(0 if dep else iidep[row, col] + 1)
        enc["iidep"] = iidep.astype(np.float32)
    if "grammar" in want:
        # multi-hot width = numDeprel = deprel table rows - 1 = len(dict):
        # ids 1..len map to columns 0..len-1 (graFet[gid-1], rnnRE.py:83-85)
        rels, r_off = _flat(aligned("grammar"), "grammar token")
        owner = np.repeat(np.arange(len(row)), np.diff(r_off))
        ids = _ids(rels, dicts["deprel"], "deprel")
        enc["grammar"] = np.zeros(
            (len(b), m_len, len(dicts["deprel"])), np.float32
        )
        enc["grammar"][row[owner], col[owner], ids - 1] = 1.0
    return enc


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
    batch: pa.RecordBatch, bin_dict: dict[str, int] | Lookup, max_len: int
) -> np.ndarray:
    """F5: ``bin_feats`` strings → [count, id1, …, -1 pad] int rows
    (convertBinaryFeatures/getBinaryVector rnnRE.py:484-510).
    Unknown features (below cutoff / unseen) are skipped."""
    bin_dict = lookup(bin_dict)
    feats, off = _flat(batch.column("bin_feats"), "bin_feats")
    idx = pc.index_in(feats, value_set=bin_dict.value_set)
    row = np.repeat(np.arange(batch.num_rows), np.diff(off))
    row = row[np.asarray(idx.is_valid())]
    count = np.bincount(row, minlength=batch.num_rows)
    if (count > max_len).any():
        raise ValueError("more known binary features than max_bin")
    out = np.full((batch.num_rows, max_len + 1), -1, dtype=np.int64)
    out[:, 0] = count
    rank = np.arange(len(row)) - (np.cumsum(count) - count)[row]
    out[row, 1 + rank] = bin_dict.ids[np.asarray(idx.drop_null())]
    return out


def kernel_score_matrix(
    batch: pa.RecordBatch, label_dict: dict[str, int] | Lookup,
    n_classes: int,
    fill: bool = False,
) -> np.ndarray:
    """Per-class kernel scores from the parsed field-13 map.

    ``fill=False`` reproduces the reference's active code — every score
    pinned to -1.0 (rnn_process_onlyExtra.py:267-273), a no-op expert
    after renormalization; ``fill=True`` enables the label-indexed fill
    the same lines document in commented form (a label unknown with its
    ``(e1,e2)``/``(e2,e1)`` suffix is tried without; a row's later entry
    for a class wins)."""
    out = np.full((batch.num_rows, n_classes), -1.0, dtype=np.float32)
    if not fill:
        return out
    entries, off = _flat(batch.column("kernel_score"), "kernel_score")
    labs, scores = entries.flatten()
    base = pc.replace_substring_regex(labs, DIRECTION_SUFFIX_RE, "")
    label_dict = lookup(label_dict)
    idx = pc.coalesce(
        pc.index_in(labs, value_set=label_dict.value_set),
        pc.index_in(base, value_set=label_dict.value_set),
    )
    row = np.repeat(np.arange(batch.num_rows), np.diff(off))
    hit = np.asarray(idx.is_valid())
    flat = row[hit] * n_classes + label_dict.ids[np.asarray(idx.drop_null())]
    scores = scores.to_numpy(zero_copy_only=False)[hit]
    last = len(flat) - 1 - np.unique(flat[::-1], return_index=True)[1]
    out.flat[flat[last]] = scores[last]
    return out
