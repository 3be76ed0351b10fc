"""Seeded synthetic relation-mention records for the model tests.

``synthetic_records`` returns ``(records, dicts)``: records in
``sources.tsv_corpus.parse_line``'s schema, dictionaries in
``operators.dictionary.build_reference_dictionaries``' id layout
(``label`` seeds NONE = 0 then counts from 1; ``type``, ``subtype``,
``constit``, ``preter``, ``prepreter`` and ``deprel`` seed Other = 1
then count from 2; ``word`` counts from 1; every id by first
encounter).  The label is a function of the type pair, so a model can
learn it.  No Spark and no reference corpus is
needed.
"""

from __future__ import annotations

import numpy as np

TYPES = ("PER", "ORG", "GPE")
SUBTYPES = ("Other", "Individual", "Nation")
LABELS = {
    ("PER", "ORG"): "ORG-AFF(e1,e2)",
    ("ORG", "PER"): "ORG-AFF(e2,e1)",
    ("PER", "GPE"): "PHYS",
    ("GPE", "GPE"): "PART-WHOLE(e1,e2)",
}
WORDS = tuple(f"w{i}" for i in range(24)) + ("New_York", "U.S.")
CONSTIT = ("NP", "VP", "PP", "S")
PRETER = ("NN", "VB", "IN", "DT")
DEPREL = ("nsubj", "dobj", "prep", "det", "amod")


def _record(rng: np.random.RandomState, i: int) -> dict:
    n = int(rng.randint(3, 10))
    tokens = [WORDS[j] for j in rng.randint(len(WORDS), size=n)]
    pos1, pos2 = (int(p) for p in rng.choice(n, size=2, replace=False))
    lo, hi = sorted((pos1, pos2))
    mid = [int(p) for p in range(lo + 1, hi) if rng.rand() < 0.5]
    dep_idx = [pos1] + (mid if pos1 < pos2 else mid[::-1]) + [pos2]
    type1, type2 = (TYPES[j] for j in rng.randint(len(TYPES), size=2))
    label = LABELS.get((type1, type2), "NONE")
    kernel_score = (
        {label: round(float(rng.rand()), 3)} if rng.rand() < 0.5 else {}
    )
    return {
        "rel_id": f"r{i}",
        "label": label,
        "detector_label": "O" if label == "NONE" else "1",
        "qid": f"qid:{i}",
        "bin_feats": [f"f{j}" for j in rng.randint(12, size=3)]
        + [f"{type1}@{type2}"],
        "tokens": tokens,
        "pos1": pos1,
        "pos2": pos2,
        "type1": type1,
        "subtype1": SUBTYPES[rng.randint(len(SUBTYPES))],
        "type2": type2,
        "subtype2": SUBTYPES[rng.randint(len(SUBTYPES))],
        "cons1": [CONSTIT[j] for j in rng.randint(len(CONSTIT), size=n)],
        "cons2": [CONSTIT[j] for j in rng.randint(len(CONSTIT), size=n)],
        "preter": [PRETER[j] for j in rng.randint(len(PRETER), size=n)],
        "prepreter": [PRETER[j] for j in rng.randint(len(PRETER), size=n)],
        "dep_tokens": [tokens[j] for j in dep_idx],
        "dep_rels": [
            DEPREL[j] for j in rng.randint(len(DEPREL), size=len(dep_idx) - 1)
        ],
        "dep_idx": dep_idx,
        "grammar": [
            [DEPREL[j] for j in rng.randint(len(DEPREL), size=1 + k % 2)]
            for k in range(n)
        ],
        "governors": [WORDS[j] for j in rng.randint(len(WORDS), size=n)],
        "dep_triples": [],
        "kernel_pred": label,
        "kernel_score": kernel_score,
        "corpus": "bn_nw",
    }


def _first_encounter(values, start: int, seed: dict[str, int] | None = None):
    ids = dict(seed or {})
    for v in values:
        if v not in ids:
            ids[v] = start + len(ids) - len(seed or {})
    return ids


def synthetic_records(
    n: int = 40, seed: int = 20160601
) -> tuple[list[dict], dict[str, dict[str, int]]]:
    """``n`` seeded records and their reference-layout dictionaries."""
    rng = np.random.RandomState(seed)
    records = [_record(rng, i) for i in range(n)]
    other = {"Other": 1}

    def gathered(key):
        return [
            v for r in records
            for v in r[key] + [r[key][j] for j in r["dep_idx"]]
        ]

    dicts = {
        "label": _first_encounter(
            (r["label"] for r in records), 1, {"NONE": 0}
        ),
        "type": _first_encounter(
            (t for r in records for t in (r["type1"], r["type2"])), 2, other
        ),
        "subtype": _first_encounter(
            (t for r in records for t in (r["subtype1"], r["subtype2"])),
            2, other,
        ),
        "constit": _first_encounter(
            gathered("cons1") + gathered("cons2"), 2, other
        ),
        "preter": _first_encounter(gathered("preter"), 2, other),
        "prepreter": _first_encounter(gathered("prepreter"), 2, other),
        "deprel": _first_encounter(
            (g for gs in gathered("grammar") for g in gs), 2, other
        ),
        "word": _first_encounter(
            (
                w.replace("_", " ") for r in records
                for w in r["tokens"] + r["dep_tokens"] + r["governors"]
            ),
            1,
        ),
    }
    return records, dicts


def model_inputs(records: list[dict], dicts: dict) -> dict:
    """The sizes, label names, label ids and binary-feature dictionary
    the model tests derive from ``(records, dicts)``."""
    m_len = max(len(r["tokens"]) for r in records)
    m_dep_len = max(len(r["dep_tokens"]) for r in records)
    label_names = [None] * len(dicts["label"])
    for k, v in dicts["label"].items():
        label_names[v] = k
    bin_feats = sorted({f for r in records for f in r["bin_feats"]})
    return {
        "dicts": dicts,
        "records": records,
        "m_len": m_len,
        "m_dep_len": m_dep_len,
        "num_position": 2 * m_len + 2,
        "num_dep_position": 2 * m_dep_len + 2,
        "bin_dict": {f: i for i, f in enumerate(bin_feats)},
        "labels": label_names,
        "y": np.array([dicts["label"][r["label"]] for r in records]),
    }
