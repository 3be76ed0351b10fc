"""Feature-encoder (F1/F2/F5/F6) tests.

Channel-exact checks of the columnar encoder against hand-computed
values on a constructed record, malformed rows that must raise rather
than read a neighbouring row, plus fixture-wide invariants (reference
semantics:
_generatePartialDataInstance rnnRE.py:31-210, getBinaryVector
rnnRE.py:484-510, order leak rnnRE.py:33-41 / SURVEY.md §7.4.2).
"""

import numpy as np
import pytest

from deepie_spark.model.encoder import (
    binary_feature_rows,
    encode_channels,
    records_batch,
)
from deepie_spark.sources.tsv_corpus import parse_line
from tests.test_parser import all_lines


DICTS = {
    "word": {"the": 1, "cat": 2, "sat on": 3, "mat": 4},
    "constit": {"Other": 1, "NP": 2, "VP": 3},
    "preter": {"Other": 1, "DT": 2, "NN": 3},
    "prepreter": {"Other": 1, "X": 2},
    "type": {"Other": 1, "PER": 2, "FAC": 3},
    "subtype": {"Other": 1, "NOM": 2},
    "deprel": {"Other": 1, "nsubj": 2, "det": 3},
}


def tiny_record():
    # tokens: the cat sat_on mat ; entities at 1 (cat/PER) and 3 (mat/FAC)
    return {
        "tokens": ["the", "cat", "sat_on", "mat"],
        "governors": ["cat", "sat_on", "sat_on", "sat_on"],
        "cons1": ["NP", "NP", "VP", "NP"],
        "cons2": ["Other", "NP", "VP", "NP"],
        "preter": ["DT", "NN", "Other", "NN"],
        "prepreter": ["X", "X", "Other", "X"],
        "type1": "PER",
        "subtype1": "NOM",
        "type2": "FAC",
        "subtype2": "NOM",
        "pos1": 1,
        "pos2": 3,
        "dep_idx": [1, 2, 3],
        "grammar": [["det"], ["nsubj", "det"], ["Other"], ["nsubj"]],
    }


M_LEN = 6
NUM_POS = 10  # center = 5


def encode_rows(recs, dicts, m_len, num_pos, **kw):
    """Every channel of ``recs`` as ``(B, m_len[, k])`` arrays."""
    return encode_channels(records_batch(recs), dicts, m_len, num_pos, **kw)


def encode_one(rec, dicts, m_len, num_pos, **kw):
    """One record's channels, the batch axis dropped."""
    enc = encode_rows([rec], dicts, m_len, num_pos, **kw)
    return {k: v[0] for k, v in enc.items()}


def encode_one_dep(rec, dicts, m_dep_len, num_dep_pos):
    return encode_one(rec, dicts, m_dep_len, num_dep_pos, dep=True)


@pytest.fixture()
def enc():
    return encode_one(tiny_record(), DICTS, M_LEN, NUM_POS)


def test_word_and_gov_ids_with_underscore_norm(enc):
    # 'sat_on' normalizes to 'sat on' (rnnRE.py:74-75) before lookup
    assert enc["word"].tolist() == [1, 2, 3, 4, 0, 0]
    assert enc["gov"].tolist() == [2, 3, 3, 3, 0, 0]


def test_distance_channels(enc):
    # dist = center + i - pos + 1, center = num_position//2 = 5
    assert enc["dist1"].tolist() == [5, 6, 7, 8, 0, 0]  # pos1 = 1
    assert enc["dist2"].tolist() == [3, 4, 5, 6, 0, 0]  # pos2 = 3


def test_type_subtype_only_at_heads(enc):
    # 'Other'(=1) everywhere except the two head positions
    assert enc["type"].tolist() == [1, 2, 1, 3, 0, 0]
    assert enc["subtype"].tolist() == [1, 2, 1, 2, 0, 0]


def test_order_channel_inference_override(enc):
    # F6: order_override=0 → pos1 gets 1, pos2 gets 2, others 3
    assert enc["order"].tolist() == [3, 1, 3, 2, 0, 0]
    rev = encode_one(tiny_record(), DICTS, M_LEN, NUM_POS, order_override=1)
    assert rev["order"].tolist() == [3, 2, 3, 1, 0, 0]


def test_constit_preter_channels(enc):
    assert enc["constit1"].tolist() == [2, 2, 3, 2, 0, 0]
    assert enc["constit2"].tolist() == [1, 2, 3, 2, 0, 0]
    assert enc["preter"].tolist() == [2, 3, 1, 3, 0, 0]
    assert enc["prepreter"].tolist() == [2, 2, 1, 2, 0, 0]


def test_dep_path_indicators(enc):
    # dep_idx = [1,2,3]: iidep 1 there, 0 elsewhere; indep = iidep+1 then pad
    assert enc["iidep"].tolist() == [0.0, 1.0, 1.0, 1.0, 0.0, 0.0]
    assert enc["indep"].tolist() == [1, 2, 2, 2, 0, 0]
    assert enc["iidep"].dtype == np.float32


def test_grammar_multihot(enc):
    # deprel ids 1..3 → id-1 indexed columns, len(dict) wide (the
    # reference's numDeprel = table rows - 1, rnnRE.py:51,83-85)
    g = enc["grammar"]
    assert g.shape == (M_LEN, 3)
    assert g[0].tolist() == [0.0, 0.0, 1.0]  # det (id 3)
    assert g[1].tolist() == [0.0, 1.0, 1.0]  # nsubj + det
    assert g[2].tolist() == [1.0, 0.0, 0.0]  # Other (id 1)
    assert g[3].tolist() == [0.0, 1.0, 0.0]  # nsubj
    assert not g[4:].any()


def test_same_head_positions_pos1_wins():
    rec = tiny_record()
    rec["pos2"] = 1
    rec["dep_idx"] = [1]
    e = encode_one(rec, DICTS, M_LEN, NUM_POS)
    # reference's elif: when pos1 == pos2 the pos1 assignment stands
    assert e["type"][1] == DICTS["type"]["PER"]
    assert e["order"][1] == 1


def test_oov_hard_fails():
    rec = tiny_record()
    rec["tokens"][0] = "unseen"
    with pytest.raises(KeyError, match="unrecognized"):
        encode_one(rec, DICTS, M_LEN, NUM_POS)


def test_too_long_fails():
    with pytest.raises(ValueError, match="mLen"):
        encode_one(tiny_record(), DICTS, 3, NUM_POS)


def test_encode_batch_stacks():
    recs = [tiny_record(), tiny_record()]
    b = encode_rows(recs, DICTS, M_LEN, NUM_POS)
    assert b["word"].shape == (2, M_LEN)
    assert b["grammar"].shape == (2, M_LEN, 3)
    assert (b["word"][0] == b["word"][1]).all()


def test_binary_feature_rows_layout():
    bd = {"f1": 0, "f2": 1, "f3": 2}
    rows = binary_feature_rows(
        records_batch([
            {"bin_feats": ["f1", "f3", "unknown"]},
            {"bin_feats": []},
        ]),
        bd,
        max_len=4,
    )
    # [count, ids..., -1 pad]; unknown features skipped (below-cutoff path)
    assert rows[0].tolist() == [2, 0, 2, -1, -1]
    assert rows[1].tolist() == [0, -1, -1, -1, -1]


def test_dep_encoder_channels():
    """F2 hand-check: path [1,2,3] of tiny_record; heads at ends;
    gathered features; indep scalar 0 / iidep 1 quirks."""
    rec = tiny_record()
    rec["dep_tokens"] = ["cat", "sat_on", "mat"]
    e = encode_one_dep(rec, DICTS, 5, 8)  # center = 4
    assert e["word"].tolist() == [2, 3, 4, 0, 0]
    # governors gathered via dep_idx [1,2,3]
    assert e["gov"].tolist() == [3, 3, 3, 0, 0]
    # dep_pos1 = 0, dep_pos2 = 2: dist = 4 + i - pos + 1
    assert e["dist1"].tolist() == [5, 6, 7, 0, 0]
    assert e["dist2"].tolist() == [3, 4, 5, 0, 0]
    assert e["type"].tolist() == [2, 1, 3, 0, 0]      # heads at ends
    assert e["order"].tolist() == [1, 3, 2, 0, 0]
    assert e["constit1"].tolist() == [2, 3, 2, 0, 0]  # gathered cons1
    assert e["preter"].tolist() == [3, 1, 3, 0, 0]
    # reference quirks: indep scalar 0 everywhere, iidep 1 on path
    assert not e["indep"].any()
    assert e["iidep"].tolist() == [1.0, 1.0, 1.0, 0.0, 0.0]
    g = e["grammar"]
    assert g[0].tolist() == [0.0, 1.0, 1.0]  # grammar[1] = nsubj+det
    assert g[1].tolist() == [1.0, 0.0, 0.0]  # grammar[2] = Other
    assert not g[3:].any()


def test_dep_encoder_single_token_path():
    rec = tiny_record()
    rec["pos1"] = rec["pos2"] = 1
    rec["dep_idx"] = [1]
    rec["dep_tokens"] = ["cat"]
    e = encode_one_dep(rec, DICTS, 3, 4)
    # length-1 path: pos1 == pos2 == 0 → pos1 wins (if/elif)
    assert e["type"][0] == DICTS["type"]["PER"]
    assert e["order"][0] == 1


def test_dep_encoder_on_all_fixtures():
    from tests.test_dictionary import SEEDS, record_streams

    recs = [parse_line(c, l) for c, _, l in all_lines()]
    dicts = {k: dict(seed) for k, (seed, _) in SEEDS.items()}
    nxt = {k: start for k, (_, start) in SEEDS.items()}
    for rec in recs:
        for name, streams in record_streams(rec).items():
            for stream in streams:
                for v in stream:
                    if v not in dicts[name]:
                        dicts[name][v] = nxt[name]
                        nxt[name] += 1
    m_dep = max(len(r["dep_tokens"]) for r in recs)
    for r in recs:
        e = encode_one_dep(r, dicts, m_dep, 2 * m_dep)
        n = len(r["dep_tokens"])
        assert (e["word"][:n] > 0).all()
        assert e["type"][0] == dicts["type"][r["type1"]] or n == 1
        if n > 1:
            assert e["type"][n - 1] == dicts["type"][r["type2"]]


def test_encoder_runs_on_all_fixtures():
    """Every fixture record encodes without error once dictionaries cover
    it; global mLen from the corpus max (reference two-pass, rnnRE.py:391)."""
    from tests.test_dictionary import SEEDS, record_streams

    recs = [parse_line(c, l) for c, _, l in all_lines()]
    dicts = {k: dict(seed) for k, (seed, _) in SEEDS.items()}
    nxt = {k: start for k, (_, start) in SEEDS.items()}
    for rec in recs:
        for name, streams in record_streams(rec).items():
            for stream in streams:
                for v in stream:
                    if v not in dicts[name]:
                        dicts[name][v] = nxt[name]
                        nxt[name] += 1
    m_len = max(len(r["tokens"]) for r in recs)
    num_pos = 2 * m_len
    b = encode_rows(recs, dicts, m_len, num_pos)
    assert b["word"].shape == (150, m_len)
    for r, row_w, row_t in zip(recs, b["word"], b["type"]):
        n = len(r["tokens"])
        assert (row_w[:n] > 0).all()  # every word resolved
        assert not row_w[n:].any()  # zero padding
        assert row_t[r["pos1"]] == dicts["type"][r["type1"]]


def test_one_hot_mode_exact_channels():
    """Feature mode 1 (expected_features=1): hand-computed one-hot
    vectors for the tiny record, covering the reference's per-channel
    index quirks (rnnRE.py:96-170) and zero pad rows (:180-207)."""
    from deepie_spark.model.encoder import one_hot_channel

    enc = encode_rows([tiny_record()], DICTS, M_LEN, NUM_POS)
    # dist1: one-hot index = center + i - pos1 (no +1), width NUM_POS
    d1 = one_hot_channel(enc["dist1"], NUM_POS)[0]
    center = NUM_POS // 2
    for i in range(4):
        want = np.zeros(NUM_POS)
        want[center + i - 1] = 1.0  # pos1 = 1
        assert np.array_equal(d1[i], want)
    assert not d1[4:].any()  # pad rows are zero vectors
    # type: [ty-1]=1 at heads, [0]=1 ('Other') elsewhere, width numType
    ty = one_hot_channel(enc["type"], len(DICTS["type"]))[0]
    assert np.array_equal(ty[1], [0, 1, 0])   # PER at pos1
    assert np.array_equal(ty[3], [0, 0, 1])   # FAC at pos2
    assert np.array_equal(ty[0], [1, 0, 0])   # Other elsewhere
    # order: pos1 -> [orderId]=1, pos2 -> [1-orderId]=1, else [2]=1
    orv = one_hot_channel(enc["order"], 3)[0]
    assert np.array_equal(orv[1], [1, 0, 0])
    assert np.array_equal(orv[3], [0, 1, 0])
    assert np.array_equal(orv[0], [0, 0, 1])
    # indep: [idid-1]=1 (2 on dep path, 1 off), width 2
    ind = one_hot_channel(enc["indep"], 2)[0]
    assert np.array_equal(ind[0], [1, 0])     # token 0 off-path
    assert np.array_equal(ind[1], [0, 1])     # token 1 on-path


def test_one_hot_mode_dep_family():
    """Dep-path family one-hot quirk: the indep channel is ALL-ZERO on
    the dep sequence (indepFet stays untouched, rnnRE.py:268-271) —
    scalar 0 everywhere -> zero one-hot rows via the universal rule."""
    from deepie_spark.model.encoder import one_hot_channel

    rec = tiny_record()
    rec["dep_tokens"] = [rec["tokens"][i] for i in rec["dep_idx"]]
    e = encode_one_dep(rec, DICTS, M_LEN, NUM_POS)
    ind = one_hot_channel(e["indep"][None, :], 2)[0]
    assert not ind.any()
    # constit gathered through dep_idx then one-hot [c-1]=1
    c1 = one_hot_channel(e["constit1"][None, :], len(DICTS["constit"]))[0]
    assert np.array_equal(c1[0], [0, 1, 0])  # dep token 0 = cons1[1] = NP


# ---------------------------------------------------------------------------
# malformed rows raise: a gather over flattened values must never read a
# neighbouring row's data


def _dep_record():
    rec = tiny_record()
    rec["dep_tokens"] = [rec["tokens"][i] for i in rec["dep_idx"]]
    return rec


@pytest.mark.parametrize(
    "name", ["governors", "cons1", "cons2", "preter", "prepreter", "grammar"]
)
@pytest.mark.parametrize("dep", [False, True], ids=["surface", "dep"])
def test_token_aligned_length_mismatch_raises(name, dep):
    short = _dep_record()
    short[name] = short[name][:-1]
    # the short row sits before a well-formed one, whose values a
    # flattened gather would otherwise shift into it
    with pytest.raises(ValueError, match=f"{name} length"):
        encode_rows([short, _dep_record()], DICTS, M_LEN, NUM_POS, dep=dep)


@pytest.mark.parametrize("key,value", [
    ("pos1", -1), ("pos2", -1), ("pos1", 4), ("pos2", 7),
])
def test_head_outside_row_raises(key, value):
    # a negative head used to wrap silently to the last token
    rec = tiny_record()
    rec[key] = value
    with pytest.raises(ValueError, match="head position"):
        encode_rows([rec, tiny_record()], DICTS, M_LEN, NUM_POS)
    with pytest.raises(ValueError, match="head position"):
        encode_rows(
            [rec], DICTS, M_LEN, NUM_POS, channels=["word"]
        )


@pytest.mark.parametrize("bad", [[1, 2, 4], [-1, 2, 3]])
@pytest.mark.parametrize("dep", [False, True], ids=["surface", "dep"])
def test_dep_idx_outside_row_raises(bad, dep):
    rec = _dep_record()
    rec["dep_idx"] = bad
    with pytest.raises(ValueError, match="dep_idx entry outside"):
        encode_rows([rec, _dep_record()], DICTS, M_LEN, NUM_POS, dep=dep)


def test_dep_idx_length_differs_from_dep_tokens_raises():
    rec = _dep_record()
    rec["dep_tokens"] = rec["dep_tokens"][:-1]
    with pytest.raises(ValueError, match="dep_tokens"):
        encode_rows([rec, _dep_record()], DICTS, M_LEN, NUM_POS, dep=True)


def test_more_known_binary_features_than_max_bin_raises():
    bd = {"f1": 0, "f2": 1, "f3": 2}
    batch = records_batch([{"bin_feats": ["f1", "f2", "f3", "unknown"]}])
    assert binary_feature_rows(batch, bd, 3)[0].tolist() == [3, 0, 1, 2]
    with pytest.raises(ValueError, match="max_bin"):
        binary_feature_rows(batch, bd, 2)


@pytest.mark.parametrize("name,channels", [
    ("governors", ["gov"]), ("cons1", ["constit1"]), ("grammar", ["grammar"]),
    ("dep_idx", ["iidep"]), ("tokens", ["word"]),
])
def test_null_list_in_read_column_raises(name, channels):
    rec = tiny_record()
    rec[name] = None
    with pytest.raises(ValueError, match=f"null {name}"):
        encode_rows([tiny_record(), rec], DICTS, M_LEN, NUM_POS,
                    channels=channels)
    if name != "tokens":  # a column the channels do not read may be null
        encode_rows([tiny_record(), rec], DICTS, M_LEN, NUM_POS,
                    channels=["order"])


def test_null_bin_feats_raises():
    with pytest.raises(ValueError, match="null bin_feats"):
        binary_feature_rows(records_batch([{"bin_feats": None}]), {}, 2)


@pytest.mark.parametrize("key,value,what", [
    ("tokens", ["the", "dog", "sat_on", "mat"], "word 'dog'"),
    ("governors", ["cat", "dog", "sat_on", "sat_on"], "word 'dog'"),
    ("cons1", ["NP", "NP", "ADJP", "NP"], "constit 'ADJP'"),
    ("preter", ["DT", "NN", "JJ", "NN"], "preter 'JJ'"),
    ("prepreter", ["X", "Y", "Other", "X"], "prepreter 'Y'"),
    ("type2", "ORG", "type 'ORG'"),
    ("subtype1", "NAM", "subtype 'NAM'"),
    ("grammar", [["det"], ["amod"], ["Other"], ["nsubj"]], "deprel 'amod'"),
])
def test_unknown_value_keyerror_names_it(key, value, what):
    rec = tiny_record()
    rec[key] = value
    with pytest.raises(KeyError, match=f"unrecognized {what}"):
        encode_rows([rec], DICTS, M_LEN, NUM_POS)


def test_sliced_batch_encodes_the_same_rows():
    """A sliced batch (non-zero list offsets) encodes exactly the rows of
    the same records batched on their own, on both sequences, and its
    binary-feature rows match too."""
    recs = []
    for i in range(6):
        r = _dep_record()
        r["pos1"], r["pos2"] = i % 4, (i + 1) % 4
        r["tokens"] = r["tokens"][: 4]
        r["bin_feats"] = ["f1", "f2", "f3"][: i % 4]
        recs.append(r)
    recs[4]["dep_idx"] = [0, 3]
    recs[4]["dep_tokens"] = ["the", "mat"]
    batch = records_batch(recs)
    for dep in (False, True):
        got = encode_channels(batch.slice(3), DICTS, M_LEN, NUM_POS, dep=dep)
        want = encode_rows(recs[3:], DICTS, M_LEN, NUM_POS, dep=dep)
        assert sorted(got) == sorted(want)
        for k in want:
            assert got[k].dtype == want[k].dtype
            assert np.array_equal(got[k], want[k]), (dep, k)
    bd = {"f1": 0, "f2": 1, "f3": 2}
    assert np.array_equal(
        binary_feature_rows(batch.slice(3), bd, 3),
        binary_feature_rows(records_batch(recs[3:]), bd, 3),
    )
