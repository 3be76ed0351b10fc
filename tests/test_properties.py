"""Property-based tests (hypothesis) for the pure kernels.

The reference has no property tests (SURVEY.md §5); these harden the
parsing/hashing/matching primitives the distributed operators are built
from, without Spark in the loop — except the mention kernel, which is
held to its pure-Python reference on seeded random tries.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deepie_spark.datagen.catalog import build_alias_trie
from deepie_spark.functions.text import BASE, MOD
from deepie_spark.operators.mentions import greedy_match
from deepie_spark.sources.tsv_corpus import analyze_dep_path, parse_score

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)


def py_poly_hash(s: str) -> int:
    h = 0
    for c in s:
        h = (h * BASE + ord(c)) % MOD
    return h


@given(st.lists(words, min_size=1, max_size=12))
@settings(max_examples=200, deadline=None)
def test_dep_path_roundtrip_and_reversal(tokens):
    """Any alternating word-idx/rel path parses; reversal is involutive
    on the index ordering (last >= first always holds after parsing)."""
    idxs = list(range(1, len(tokens) + 1))
    rels = [f"r{i}" for i in range(len(tokens) - 1)]
    parts = []
    for i, (w, x) in enumerate(zip(tokens, idxs)):
        parts.append(f"{w}-{x}")
        if i < len(rels):
            parts.append(rels[i])
    fwd = " ".join(parts)
    w1, r1, i1 = analyze_dep_path(fwd)
    assert i1[0] <= i1[-1]
    assert w1 == tokens and i1 == [x - 1 for x in idxs]
    # reversed textual path parses to the same canonical orientation
    parts_rev = []
    for i, (w, x) in enumerate(zip(tokens[::-1], idxs[::-1])):
        parts_rev.append(f"{w}-{x}")
        if i < len(rels):
            parts_rev.append(rels[::-1][i])
    w2, r2, i2 = analyze_dep_path(" ".join(parts_rev))
    assert (w2, i2) == (w1, i1)
    assert r2 == r1


@given(st.dictionaries(words, st.floats(-100, 100, allow_nan=False), max_size=8))
@settings(max_examples=100, deadline=None)
def test_parse_score_roundtrip(scores):
    if not scores:
        return
    s = " ".join(f"{k}:{v}" for k, v in scores.items())
    got = parse_score(s)
    assert set(got) == set(scores)
    for k in scores:
        assert abs(got[k] - scores[k]) < 1e-6


@given(st.lists(words, min_size=0, max_size=30))
@settings(max_examples=200, deadline=None)
def test_greedy_match_invariants(tokens):
    """Matches never overlap, are in order, and positions obey the
    last-token rule; matched spans reproduce catalog aliases."""
    trie = build_alias_trie()
    out = greedy_match(tokens, trie)
    last_end = -1
    for start, pos, _eid, alias, *_ in out:
        assert start > last_end  # no overlap, left to right
        assert " ".join(tokens[start : pos + 1]) == alias
        last_end = pos


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_py_tokenize_fast_path_equals_regex(s):
    """The ASCII fast path must agree with the canonical ASCII-regex
    split on arbitrary input (incl. unicode whitespace, \\x1c-\\x1f)."""
    import re

    from deepie_spark.functions.text import py_tokenize

    want = [t for t in re.split(r"\s+", s, flags=re.ASCII) if t]
    assert py_tokenize(s) == want


@given(st.text(max_size=64))
@settings(max_examples=200, deadline=None)
def test_poly_hash_range_and_determinism(s):
    h = py_poly_hash(s)
    assert 0 <= h < MOD
    assert h == py_poly_hash(s)


@given(st.lists(st.integers(0, 3), min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_scorer_bounds(ids):
    """P, R in [0, 100]; F1 is the harmonic mean; all 0 when nothing
    predicted AND nothing gold."""
    from deepie_spark.model.train import score_py

    pred = np.array(ids)
    gold = np.roll(pred, 1)
    p, r, f1 = score_py(pred, gold)
    assert 0.0 <= p <= 100.0 and 0.0 <= r <= 100.0
    if p + r > 0:
        assert abs(f1 - 2 * p * r / (p + r)) < 1e-9
    else:
        assert f1 == 0.0


def test_matchers_agree_on_random_deep_tries(spark):
    """The Arrow kernel (detect_mentions) equals the greedy_match
    reference for ARBITRARY tries up to depth 4 (not just the shipped
    catalog) on dense token streams — the property the depth-3 gated
    pipeline relies on.  Every row's mentions are also sorted by ``pos``
    with distinct positions: the pair generator's candidates for a
    mention all sit to its right in the array."""
    from deepie_spark.operators.mentions import detect_mentions

    rng = np.random.default_rng(20261017)
    alphabet = list("abcde")
    for _ in range(6):
        catalog = []
        for _ in range(rng.integers(1, 9)):
            alias = " ".join(rng.choice(alphabet, rng.integers(1, 5)))
            if all(alias != e[1] for e in catalog):
                catalog.append((len(catalog) + 1, alias, "PER", "NOM", 0.5))
        trie = build_alias_trie(catalog)
        streams = [
            [str(t) for t in rng.choice(alphabet, rng.integers(0, 31))]
            for _ in range(200)
        ]
        df = spark.createDataFrame(
            [(str(i), " ".join(t)) for i, t in enumerate(streams)],
            "url string, text string",
        )
        got = {
            int(r["url"]): [tuple(m) for m in r["mentions"]]
            for r in detect_mentions(df, trie).collect()
        }
        for i, toks in enumerate(streams):
            assert got[i] == greedy_match(toks, trie), (catalog, toks)
            pos = [m[1] for m in got[i]]
            assert pos == sorted(set(pos)), (catalog, toks)


def _brute_pairs(batch, max_distance, rules):
    """The O(m²) reference: per row, every (a, b) with pos_a < pos_b ≤
    pos_a + max_distance, a-major; with its rule label (None = NONE)."""
    out, base = [], 0
    for mentions in batch:
        for a, (pa_, ta) in enumerate(mentions):
            for b, (pb, tb) in enumerate(mentions):
                if pa_ < pb <= pa_ + max_distance:
                    out.append((base + a, base + b, rules.get((ta, tb))))
        base += len(mentions)
    return out


def test_pair_index_and_label_table_match_brute_force():
    """pair_index plus the direct-addressed label table equal the O(m²)
    Python reference on seeded random batches: empty and single-mention
    rows, gaps of exactly max_distance and max_distance + 1,
    max_distance 0 and 1, null types and types no rule names."""
    import pyarrow as pa

    from deepie_spark.datagen.catalog import RELATION_RULES
    from deepie_spark.operators.pairs import label_table, pair_index, type_codes

    types, labels, table = label_table(RELATION_RULES)
    type_pool = ["PER", "ORG", "GPE", "FAC", "VEH", "LOC", "XYZ", None]
    rng = np.random.default_rng(20261017)
    for max_distance in (0, 1, 2, 3, 10):
        gaps = [1, 2, max(max_distance, 1), max_distance + 1, max_distance + 7]
        for _ in range(40):
            batch = []
            for _ in range(rng.integers(0, 12)):
                n = int(rng.choice([0, 1, 2, 5, 20]))
                pos = np.cumsum(rng.choice(gaps, n)) + rng.integers(0, 3)
                batch.append(
                    [(int(p), type_pool[rng.integers(len(type_pool))]) for p in pos]
                )
            flat = [m for mentions in batch for m in mentions]
            row = np.repeat(np.arange(len(batch)), [len(m) for m in batch])
            pos = np.array([p for p, _ in flat], np.int64)
            i, j = pair_index(row, pos, max_distance)
            codes = type_codes(pa.array([t for _, t in flat], pa.string()), types)
            lab = table[codes[i], codes[j]]
            got = [
                (a, b, labels[k].as_py() if k >= 0 else None)
                for a, b, k in zip(i.tolist(), j.tolist(), lab.tolist())
            ]
            assert got == _brute_pairs(batch, max_distance, RELATION_RULES), (
                max_distance, batch,
            )


def test_pair_kernel_emits_directed_triples():
    """With rules, the pair kernel emits finished directed triples equal
    to the per-row rule (an (e2,e1) label swaps subject and object; the
    direction suffix is stripped with DIRECTION_SUFFIX_RE) over an
    O(m²) pair scan, on seeded random rule dicts whose labels mix
    (e1,e2), (e2,e1) and suffix-free ones.  The id column is int64 and
    comes out unchanged."""
    import re

    import pyarrow as pa

    from deepie_spark.datagen.catalog import DIRECTION_SUFFIX_RE
    from deepie_spark.operators.pairs import _pair_kernel

    label_pool = ["ORG-AFF(e1,e2)", "ORG-AFF(e2,e1)", "PART-WHOLE(e2,e1)",
                  "ART(e1,e2)", "PER-SOC", "PHYS"]
    rule_types = ["PER", "ORG", "GPE", "FAC", "VEH"]
    type_pool = rule_types + ["LOC", None]
    rng = np.random.default_rng(20261020)
    seen = set()
    for max_distance in (1, 3, 10):
        for _ in range(10):
            rules = {
                (t1, t2): label_pool[rng.integers(len(label_pool))]
                for t1 in rule_types for t2 in rule_types
                if rng.random() < 0.6
            }
            n_payload = int(rng.integers(1, 12))
            alias = [f"a{k}" for k in range(n_payload)]
            etype = [type_pool[rng.integers(len(type_pool))]
                     for _ in range(n_payload)]
            values = pa.StructArray.from_arrays(
                [pa.array(alias, pa.string()), pa.array(etype, pa.string())],
                names=["alias", "entity_type"],
            )
            n_rows = int(rng.integers(1, 8))
            counts = rng.integers(0, 15, n_rows)
            row = np.repeat(np.arange(n_rows), counts)
            pos = np.concatenate(
                [np.cumsum(rng.integers(1, 5, c)) for c in counts]
            ).astype(np.int64)
            ref = rng.integers(0, n_payload, len(pos))
            ids = (2**40 + 7 * np.arange(n_rows)).astype(np.int64)

            emit, schema = _pair_kernel(max_distance, rules)
            batch = emit(pa.array(ids), row, pos, ref, values)
            assert batch.schema.names == [
                "url", "pos1", "pos2", "subj", "pred", "obj",
                "subj_type", "obj_type",
            ]
            assert [c.split()[0] for c in schema.split(",")] == (
                batch.schema.names[1:]
            )
            assert batch.schema.field("url").type == pa.int64()

            want = []
            for i in range(len(pos)):
                for j in range(i + 1, len(pos)):
                    if row[j] != row[i] or pos[j] - pos[i] > max_distance:
                        continue
                    a, b = ref[i], ref[j]
                    label = rules.get((etype[a], etype[b]))
                    if label is None:
                        continue
                    swap = label.endswith("(e2,e1)")
                    pred = re.sub(DIRECTION_SUFFIX_RE, "", label)
                    seen.add((swap, pred != label))
                    s, o = (b, a) if swap else (a, b)
                    want.append({
                        "url": int(ids[row[i]]), "pos1": int(pos[i]),
                        "pos2": int(pos[j]), "subj": alias[s], "pred": pred,
                        "obj": alias[o], "subj_type": etype[s],
                        "obj_type": etype[o],
                    })
            assert batch.to_pylist() == want, (max_distance, rules)
    # swapped, unswapped-with-suffix and suffix-free labels all occurred
    assert seen == {(True, True), (False, True), (False, False)}


def test_compiled_type_pair_expert_equals_forward_pass():
    """The compiled type-pair expert, addressed through label_table,
    labels every (K+1)² type-code pair as the expert's vectorized per-row
    forward pass does: null, an unknown type (XYZ) and a feature type no
    pair of which gets a label (LOC) all land on code 0.  A bias that
    alone predicts a label is rejected."""
    import pandas as pd
    import pyarrow as pa
    import pytest

    from deepie_spark.model.infer import compile_type_pair_expert
    from deepie_spark.model.train import train_type_pair_expert
    from deepie_spark.model.zoo import softmax
    from deepie_spark.operators.pairs import label_table, type_codes

    weights, label_names, fid = train_type_pair_expert()

    def forward(type1, type2):
        # one TYPE1@TYPE2 feature per row; no feature id ⇒ bias-only row
        keys = pd.Series(type1, dtype=object) + "@" + pd.Series(
            type2, dtype=object
        )
        fids = keys.map(fid).to_numpy(dtype=np.int64, na_value=-1)
        logits = np.where(
            (fids >= 0)[:, None], weights["bin_W"][fids], 0.0
        ) + weights["bin_b"]
        return np.array(label_names)[softmax(logits, axis=1).argmax(axis=1)]

    types, labels, table = label_table(
        compile_type_pair_expert(weights, label_names, fid)
    )
    feature_types = sorted({t for f in fid for t in f.split("@")})
    pool = types.to_pylist() + [None, "XYZ"] + [
        t for t in feature_types if t not in types.to_pylist()
    ]
    assert "LOC" in pool[len(types) + 2 :]
    type1 = [a for a in pool for _ in pool]
    type2 = [b for _ in pool for b in pool]
    c1 = type_codes(pa.array(type1, pa.string()), types)
    c2 = type_codes(pa.array(type2, pa.string()), types)
    assert {(a, b) for a, b in zip(c1.tolist(), c2.tolist())} == {
        (a, b) for a in range(len(types) + 1) for b in range(len(types) + 1)
    }
    assert "NONE" not in labels.to_pylist()
    lab = table[c1, c2]
    compiled = np.where(lab >= 0, np.array(labels.to_pylist())[lab], "NONE")
    assert compiled.tolist() == forward(type1, type2).tolist()

    doctored = dict(weights, bin_b=weights["bin_b"].copy())
    doctored["bin_b"][label_names.index("PER-SOC")] += 100.0
    with pytest.raises(ValueError, match="NONE"):
        compile_type_pair_expert(doctored, label_names, fid)


def test_pair_index_rejects_unsorted_or_tied_positions():
    import pytest

    from deepie_spark.operators.pairs import pair_index

    for row, pos in (([0, 0, 0], [1, 5, 3]), ([0, 0], [4, 4]), ([1, 0], [0, 1])):
        with pytest.raises(ValueError, match="sorted"):
            pair_index(np.array(row), np.array(pos), 10)
    # a new row may restart at any position
    i, j = pair_index(np.array([0, 0, 1, 1]), np.array([3, 9, 0, 2]), 10)
    assert list(zip(i.tolist(), j.tolist())) == [(0, 1), (2, 3)]
