"""Edge-case behavior pins: empty inputs, degenerate records, and the
documented boundary semantics of the operators.
"""

import pytest
from pyspark.sql import functions as F

from deepie_spark.operators.cc import connected_components
from deepie_spark.operators.dedup import dedup_exact, minhash_signatures
from deepie_spark.operators.mentions import MENTIONS_SCHEMA_SLIM
from deepie_spark.operators.pairs import mention_pairs
from deepie_spark.operators.scorer import precision_recall_f1


def test_cc_empty_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert connected_components(e).count() == 0


def test_cc_only_self_loops(spark):
    e = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    assert connected_components(e).count() == 0


def test_mention_pairs_empty_and_single(spark):
    rows = [
        ("u_empty", []),
        ("u_single", [(0, 0, 1, "a", "PER", "NOM", 0.5)]),
    ]
    df = spark.createDataFrame(rows, MENTIONS_SCHEMA_SLIM)
    assert mention_pairs(df).count() == 0  # no ordered pair exists


def test_mention_pairs_rejects_unsorted_mentions(spark):
    """The banded pair scan relies on pos-sorted mention arrays with
    distinct positions; an array that breaks the convention fails the
    task instead of silently losing pairs."""
    rows = [
        (
            "u",
            [
                (5, 5, 1, "a", "PER", "NOM", 0.5),
                (1, 1, 2, "b", "ORG", "NOM", 0.5),
            ],
        )
    ]
    df = spark.createDataFrame(rows, MENTIONS_SCHEMA_SLIM)
    with pytest.raises(Exception, match="sorted by pos"):
        mention_pairs(df).collect()


def test_scorer_empty_dataframe(spark):
    df = spark.createDataFrame([], "pred int, gold int")
    p, r, f1 = precision_recall_f1(df)
    assert (p, r, f1) == (0.0, 0.0, 0.0)


def test_empty_text_documents(spark):
    """Empty/whitespace-only docs flow through dedup without error; the
    degenerate shingle is the empty string (same on the oracle side)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text here")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, n_hashes=4)
    got = {r["id"]: list(r["sig"]) for r in sigs.collect()}
    assert got[1] == got[2]  # both tokenize to [] → same degenerate sig
    assert got[1] != got[3]
    groups = dedup_exact(df.select("doc_id", F.trim("text").alias("text")))
    keys = {r["dup_key"]: r["n_docs"] for r in groups.collect()}
    assert keys[""] == 2


def test_pipeline_on_empty_pages(spark):
    from deepie_spark.datagen.pages import pages_from_documents
    from deepie_spark.plans.pipeline import extract_triples

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    pages = pages_from_documents(docs)
    assert extract_triples(spark, pages).count() == 0


def test_resume_empty_input(spark, tmp_path):
    from deepie_spark.plans.resume import resume_run

    pages = spark.createDataFrame([], "url string, text string, part_id int")
    res = resume_run(
        spark,
        pages,
        str(tmp_path / "out"),
        str(tmp_path / "manifest"),
        lambda df: df.select(
            F.lit("s").alias("subj"), F.lit("p").alias("pred"),
            F.lit("o").alias("obj"), F.col("part_id"),
        ),
    )
    assert res == {"parts": 0, "n_triples": 0, "skipped": True}


def test_linking_empty_context_and_no_cues(spark):
    from deepie_spark.operators.linking import link_mentions

    cat = spark.createDataFrame(
        [(1, "x", "A", 0.4, [])],
        "entity_id long, alias string, entity_type string, prior double,"
        " cues array<string>",
    )
    occ = spark.createDataFrame(
        [(0, ["x"], 0, "x")],
        "doc_id long, toks array<string>, pos long, token string",
    )
    got = link_mentions(occ, cat).collect()
    assert len(got) == 1
    # no cues → affinity 0 → score = 0.5 * prior
    assert got[0]["score"] == pytest.approx(0.2)


def test_tagger_empty_text(spark):
    from deepie_spark.model.tagger import detect_mentions_tagger, train_tagger
    from deepie_spark.datagen.catalog import build_alias_trie

    weights, vocab = train_tagger([["customer", "spark"]], build_alias_trie())
    pages = spark.createDataFrame(
        [("u1", ""), ("u2", "customer here")], "url string, text string"
    )
    got = {r["url"]: r["mentions"] for r in detect_mentions_tagger(
        pages, weights, vocab
    ).collect()}
    assert got["u1"] == []
    assert len(got["u2"]) >= 1


def test_triples_from_predictions_direction_swap(spark):
    """Classifier predictions → triples: an (e2,e1) label swaps subject
    and object, the direction suffix is stripped from the predicate,
    NONE rows are dropped and the provenance columns pass through."""
    from deepie_spark.model.infer import PRED_SCHEMA, triples_from_predictions

    preds = spark.createDataFrame(
        [
            ("r1", "c", "x", "ORG-AFF(e1,e2)", 0.9, 1, 4, "ann", "acme", 0),
            ("r2", "c", "x", "ORG-AFF(e2,e1)", 0.8, 2, 7, "acme", "bob", 1),
            ("r3", "c", "x", "PER-SOC", 0.7, 3, 5, "ann", "bob", 2),
            ("r4", "c", "x", "NONE", 0.6, 0, 9, "ann", "zed", 3),
        ],
        PRED_SCHEMA,
    )
    out = triples_from_predictions(preds)
    assert out.columns == [
        "subj", "pred", "obj", "prob", "corpus", "rel_id", "pos1", "pos2"
    ]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        ("ann", "ORG-AFF", "acme", 0.9, "c", "r1", 1, 4),
        ("ann", "PER-SOC", "bob", 0.7, "c", "r3", 3, 5),
        ("bob", "ORG-AFF", "acme", 0.8, "c", "r2", 2, 7),  # swapped
    ]
