"""End-to-end triple P/R gate vs reference semantics (BASELINE.json).

The reference (Python2/Theano) cannot run here, so per SURVEY.md §7.4.7
the golden generator is a sequential pure-python pipeline reproducing the
reference semantics end to end — parse (parseLine), dictionaries
(first-encounter A2/A6), binary-feature encoding (F5), the trained sparse
log-linear expert (M18, trained with the reference's protocol shape:
seeded shuffled minibatches), argmax decode (M20), directed-triple
emission (S7/P10 relational form).  The distributed Spark pipeline runs
the SAME stages through its own operators (read_corpus → dictionary
operators → the expert as menu ``#MultiNN`` in ``classify_mentions_menu``)
and must reproduce the golden triples at P/R ≥ 0.95 (BASELINE.json:
"triple P/R≥0.95 vs reference DeepIE outputs ... python -m pytest -x
-q").  Weights are shared; numpy row-wise ops are batch-invariant, so
the match is exact (P = R = 1.0).

The reference-fixture gate needs the DeepIE fixtures at
``tests.conftest.REFERENCE_DATA``; its ``test_synthetic_*`` twin runs
the same gate on 200 seeded synthetic records
(tests/synthetic_records.py), with the distributed side on a
``createDataFrame`` in the parsed-corpus schema.
"""

import numpy as np
import pytest

from deepie_spark.model.encoder import binary_feature_rows, records_batch
from deepie_spark.model.infer import triples_from_predictions
from deepie_spark.model.menu import classify_mentions_menu, make_spec
from deepie_spark.model.train import predict_loglinear, train_loglinear
from deepie_spark.operators.dictionary import (
    binary_feature_dictionary,
    build_reference_dictionaries,
)
from deepie_spark.operators.scorer import precision_recall_f1
from deepie_spark.sources.tsv_corpus import (
    MAIN_CORPORA,
    MENTION_SCHEMA,
    main_corpus_records,
    parse_line,
    read_corpus,
)
from tests.conftest import REFERENCE_DATA
from tests.synthetic_records import model_inputs, synthetic_records
from tests.test_parser import all_lines

TRAIN_CORPUS = "bn_nw"  # fold='all' protocol: train=bn_nw (rnnRE.py:888-899)
CUTOFF = 2              # evaluate.py:112 default


def golden_predictions(records, weights, bin_dict, max_bin, label_names):
    """Sequential M18 + M20 + directed-triple emission:
    ``{"preds": {(corpus, rel_id): (label, prob)}, "triples": {(subj,
    pred, obj, corpus, rel_id)}}``."""
    rows = binary_feature_rows(records_batch(records), bin_dict, max_bin)
    pred_ids, p = predict_loglinear(rows, weights)
    preds = {}
    triples = set()
    for r, pid, probs in zip(records, pred_ids, p):
        name = label_names[pid]
        preds[(r["corpus"], r["rel_id"])] = (name, float(probs[pid]))
        if name == "NONE":
            continue
        subj, obj = r["tokens"][r["pos1"]], r["tokens"][r["pos2"]]
        if name.endswith("(e2,e1)"):
            subj, obj = obj, subj
        bare = name.split("(")[0] if name.endswith(("(e1,e2)", "(e2,e1)")) else name
        triples.add((subj, bare, obj, r["corpus"], r["rel_id"]))
    return {"preds": preds, "triples": triples}


def classify_loglinear(
    mentions, weights, dicts, label_names, bin_dict, max_bin
):
    """The distributed side: the trained expert's weight dict runs as
    menu ``#MultiNN`` in ``classify_mentions_menu``.  ``#MultiNN`` has
    no channel family, so the sequence sizes are never read."""
    spec = make_spec(
        "#MultiNN",
        {k: max(d.values()) for k, d in dicts.items()},
        num_position=0,
        num_dep_position=0,
        m_len=0,
        m_dep_len=0,
        n_classes=len(label_names),
        bin_dim=len(bin_dict),
        max_bin=max_bin,
    )
    return classify_mentions_menu(
        mentions, weights, dicts, spec, label_names, bin_dict
    )


def assert_pr_gate(preds, want):
    """BASELINE.json gate: triple P/R ≥ 0.95 vs the golden generator."""
    got = {
        (r["subj"], r["pred"], r["obj"], r["corpus"], r["rel_id"])
        for r in triples_from_predictions(preds).collect()
    }
    assert want, "golden generator must emit triples"
    inter = len(got & want)
    precision = inter / len(got) if got else 0.0
    recall = inter / len(want)
    assert precision >= 0.95, f"P={precision} got={len(got)} ∩={inter}"
    assert recall >= 0.95, f"R={recall} want={len(want)} ∩={inter}"


def assert_predictions_match(preds, want):
    """Per record: the golden label and its probability."""
    rows = preds.collect()
    assert len(rows) == len(want)
    for r in rows:
        label, prob = want[(r["corpus"], r["rel_id"])]
        assert r["pred"] == label, (r["corpus"], r["rel_id"])
        assert r["prob"] == pytest.approx(prob, rel=1e-12, abs=0)


@pytest.fixture(scope="module")
def golden():
    """Sequential golden pipeline over the 150 fixture lines."""
    records = [parse_line(c, line) for c, _, line in all_lines()]

    # A2 label dictionary: NONE=0, first encounter in scan order
    label_dict = {"NONE": 0}
    for r in records:
        if r["label"] not in label_dict:
            label_dict[r["label"]] = len(label_dict)
    label_names = [None] * len(label_dict)
    for k, v in label_dict.items():
        label_names[v] = k

    # A6 binary-feature dictionary over the training corpus
    from collections import Counter

    counts, first, k = Counter(), {}, 0
    for r in records:
        if r["corpus"] != TRAIN_CORPUS:
            continue
        for f in r["bin_feats"]:
            counts[f] += 1
            if f not in first:
                first[f], k = k, k + 1
    bin_dict = {
        f: i
        for i, f in enumerate(
            sorted(
                (f for f, n in counts.items() if n >= CUTOFF),
                key=first.__getitem__,
            )
        )
    }
    assert bin_dict, "training corpus must yield surviving features"

    # A7 max binary-feature count across all corpora
    max_bin = max(len(r["bin_feats"]) for r in records)

    # M18 training on the train corpus (driver-side, seeded)
    train_recs = [r for r in records if r["corpus"] == TRAIN_CORPUS]
    rows = binary_feature_rows(records_batch(train_recs), bin_dict, max_bin)
    labels = np.array([label_dict[r["label"]] for r in train_recs])
    weights = train_loglinear(
        rows, labels, len(label_dict), len(bin_dict)
    )

    # golden predictions + triples over the 5 main corpora
    main = [r for r in records if r["corpus"] in MAIN_CORPORA]
    return {
        "label_names": label_names,
        "label_dict": label_dict,
        "bin_dict": bin_dict,
        "max_bin": max_bin,
        "weights": weights,
        **golden_predictions(main, weights, bin_dict, max_bin, label_names),
    }


@pytest.fixture(scope="module")
def spark_run(spark, golden):
    """The distributed pipeline with the same broadcast weights."""
    mentions = read_corpus(spark, REFERENCE_DATA).cache()

    # distributed dictionary builds must agree with the golden ones
    bin_df = binary_feature_dictionary(
        mentions, cutoff=CUTOFF, train_corpora=[TRAIN_CORPUS]
    )
    spark_bin = {r["value"]: r["id"] for r in bin_df.collect()}
    dicts = {
        name: {r["value"]: r["id"] for r in df.collect()}
        for name, df in build_reference_dictionaries(mentions).items()
    }
    spark_labels = dicts["label"]

    preds = classify_loglinear(
        main_corpus_records(mentions),
        golden["weights"],
        dicts,
        golden["label_names"],
        spark_bin,
        golden["max_bin"],
    ).cache()
    return {
        "mentions": mentions,
        "bin_dict": spark_bin,
        "label_dict": spark_labels,
        "preds": preds,
    }


def test_distributed_dicts_match_golden(golden, spark_run):
    assert spark_run["bin_dict"] == golden["bin_dict"]
    assert spark_run["label_dict"] == golden["label_dict"]


def test_per_record_predictions_match_golden(golden, spark_run):
    assert len(golden["preds"]) == 50
    assert_predictions_match(spark_run["preds"], golden["preds"])


def test_triple_pr_gate(golden, spark_run):
    """BASELINE.json gate: triple P/R ≥ 0.95 vs the golden generator."""
    assert_pr_gate(spark_run["preds"], golden["triples"])


def test_train_corpus_learnability(golden, spark_run):
    """Sanity on the model itself: on its own training corpus the expert
    must beat the all-NONE baseline (non-zero F1 vs gold labels) — the
    reference's per-epoch train-score print (rnnRE.py:970-972)."""
    from pyspark.sql import functions as F

    df = spark_run["preds"].filter(F.col("corpus") == TRAIN_CORPUS)
    ld = golden["label_dict"]
    to_id = F.udf(lambda s: ld.get(s, 0), "int")
    scored = df.select(
        to_id("pred").alias("pred"), to_id("gold").alias("gold")
    )
    p, r, f1 = precision_recall_f1(scored)
    assert f1 > 0.0


# ---------------------------------------------------------------------------
# the same gate on seeded synthetic records (no reference corpus needed)


@pytest.fixture(scope="module")
def synthetic_run(spark):
    """Golden and distributed sides over 200 seeded synthetic records:
    the expert trains on them all; the distributed side reads a
    ``createDataFrame`` in the parsed-corpus schema."""
    s = model_inputs(*synthetic_records(n=200, seed=3))
    max_bin = max(len(r["bin_feats"]) for r in s["records"])
    weights = train_loglinear(
        binary_feature_rows(
            records_batch(s["records"]), s["bin_dict"], max_bin
        ),
        s["y"], len(s["labels"]), len(s["bin_dict"]),
    )
    mentions = spark.createDataFrame(
        [{**r, "file_order": 0, "line_no": i}
         for i, r in enumerate(s["records"])],
        MENTION_SCHEMA,
    )
    spark_preds = classify_loglinear(
        mentions, weights, s["dicts"], s["labels"], s["bin_dict"], max_bin
    ).cache()
    return {
        "spark_preds": spark_preds,
        **golden_predictions(
            s["records"], weights, s["bin_dict"], max_bin, s["labels"]
        ),
    }


def test_synthetic_per_record_predictions_match_golden(synthetic_run):
    assert len(synthetic_run["preds"]) == 200
    assert_predictions_match(
        synthetic_run["spark_preds"], synthetic_run["preds"]
    )


def test_synthetic_triple_pr_gate(synthetic_run):
    """The BASELINE.json P/R ≥ 0.95 gate on the synthetic records."""
    assert_pr_gate(synthetic_run["spark_preds"], synthetic_run["triples"])
