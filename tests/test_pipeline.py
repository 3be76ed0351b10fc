"""KG pipeline stage tests: extraction invariant, mention detection,
pair generation, and trie-vs-relational equivalence.
"""

import os

import pytest
from pyspark.sql import functions as F

from deepie_spark.datagen.catalog import (
    ENTITY_CATALOG,
    build_alias_trie,
    catalog_df,
    directed_triple_columns,
    relation_rules_df,
)
from deepie_spark.datagen.pages import pages_from_documents
from deepie_spark.functions.text import py_tokenize
from deepie_spark.operators.mentions import (
    detect_mentions,
    detect_mentions_single,
    greedy_match,
    tokenize_arrow,
)
from deepie_spark.operators.pairs import mention_pairs
from deepie_spark.plans.pipeline import (
    N_PARTS,
    extract_stage,
    extract_triples,
    part_id_col,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).cache()


@pytest.fixture(scope="module")
def pages(docs):
    return pages_from_documents(docs).cache()


def test_extract_text_byte_identical_per_url(docs, pages):
    """input_hint per-row invariant: extracted text == golden text for
    EVERY row (not a sample)."""
    extracted = extract_stage(pages).select("url", "text")
    golden = pages_from_documents(docs).select(
        "url", F.col("text").alias("golden")
    )
    joined = extracted.join(golden, "url")
    n_bad = joined.filter(
        F.col("text").cast("binary") != F.col("golden").cast("binary")
    ).count()
    assert n_bad == 0
    assert joined.count() == docs.count()


def test_extract_handles_html_escapes(spark):
    df = spark.createDataFrame(
        [(1, "a < b & c > d", "en", "src0", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    p = pages_from_documents(df)
    out = extract_stage(p).select("text").collect()[0][0]
    assert out == "a < b & c > d"


def test_greedy_match_longest_wins():
    trie = build_alias_trie(ENTITY_CATALOG)
    toks = "the hash join beats the hash every time".split()
    got = greedy_match(toks, trie)
    # 'hash join' (multi-token) matched once; bare 'hash' is no alias
    assert [(m[0], m[1], m[3]) for m in got] == [(1, 2, "hash join")]
    toks2 = "table scan before table after".split()
    got2 = greedy_match(toks2, trie)
    assert [(m[0], m[1], m[3]) for m in got2] == [
        (0, 1, "table scan"),
        (3, 3, "table"),
    ]


def test_arrow_mentions_equals_pandas_twin(spark, pages):
    """The Arrow-native kernel must reproduce the pure-Python reference
    — py_tokenize + greedy_match over the same texts as a pandas frame —
    exactly: tokens (tokenize_arrow, the kernel's tokenizer) AND
    mentions (detect_mentions), including adversarial texts: empty,
    whitespace-only, \\x1c-\\x1f separators, unicode spaces, NULL,
    alias-dense streams, and overlapping hits where greedy consumption
    decides the result."""
    import pyarrow as pa

    def check(df, trie):
        urls, texts = zip(*df.select("url", "text").toPandas().itertuples(
            index=False
        ))
        want = [py_tokenize(t if t is not None else "") for t in texts]
        flat, offsets = tokenize_arrow(pa.array(texts, pa.string()))
        assert [
            flat[a:b].to_pylist() for a, b in zip(offsets[:-1], offsets[1:])
        ] == want
        got = {
            r["url"]: [tuple(m) for m in r["mentions"]]
            for r in detect_mentions(df, trie).collect()
        }
        assert got == {u: greedy_match(t, trie) for u, t in zip(urls, want)}

    def frame(texts):
        return spark.createDataFrame(
            [(f"u{i}", t) for i, t in enumerate(texts)],
            "url string, text string",
        )

    check(pages, build_alias_trie())
    check(frame([
        "", "   ", "\x1c\x1d", "a\x1cspark b", "café table scan",
        "nbsp spark", "spark", "hash join hash join",
        "  lead trail  ", None, "table scan table scan table",
    ]), build_alias_trie())

    aliases = ["a b", "b c", "c d", "b c d e", "d", "x", "y", "x y z"]
    overlap = build_alias_trie(
        [(i, a, "PER", "NOM", 0.5) for i, a in enumerate(aliases)]
    )
    check(frame([
        "a b c",  # `a b` consumes the first token of `b c`
        "x y z",  # `y` nested inside the longer `x y z`
        "a b c d",  # chain `a b`, `b c`, `c d`: the middle one is lost
        "a b c d e",  # the longest hit, `b c d e`, starts inside `a b`
        "b c d q",  # the walk passes `b c` and fails at `q`
        "x y q",  # … and `x y z` fails after the terminal `x`
    ]), overlap)


def test_mention_position_is_last_token():
    trie = build_alias_trie(ENTITY_CATALOG)
    m = greedy_match("a table scan b".split(), trie)[0]
    start, pos = m[0], m[1]
    assert (start, pos) == (1, 2)  # pos = LAST token (data/readMe.md:31)


def test_trie_pipeline_equals_relational_twin(spark, pages):
    """With a single-token-only catalog, the mapInArrow trie path and
    the posexplode+broadcast-join relational path must emit identical
    mention sets, and extract_triples (in-row pairs + rule-map label)
    must emit exactly the triples of the relational self-join twin."""
    single_cat = [e for e in ENTITY_CATALOG if " " not in e[1]]
    trie = build_alias_trie(single_cat)
    trie_mentions = (
        detect_mentions(pages, trie)
        .select("url", F.explode("mentions").alias("m"))
        .select("url", F.col("m.pos").alias("pos"), F.col("m.alias").alias("alias"))
    )
    rel_mentions = detect_mentions_single(
        pages, catalog_df(spark)
    ).select("url", "pos", "alias")
    assert trie_mentions.exceptAll(rel_mentions).isEmpty()
    assert rel_mentions.exceptAll(trie_mentions).isEmpty()

    # full triple path on the single-token catalog
    cols = ["subj", "pred", "obj", "subj_type", "obj_type", "url", "pos1",
            "pos2"]
    t1 = extract_triples(spark, pages, trie=trie).select(cols)
    a = detect_mentions_single(pages, catalog_df(spark))
    b = a.select(
        "url",
        F.col("pos").alias("pos2"),
        F.col("alias").alias("alias2"),
        F.col("entity_type").alias("type2"),
    )
    a = a.select(
        "url",
        F.col("pos").alias("pos1"),
        F.col("alias").alias("alias1"),
        F.col("entity_type").alias("type1"),
    )
    rel_pairs = a.join(b, "url").filter(
        (F.col("pos1") < F.col("pos2"))
        & (F.col("pos2") - F.col("pos1") <= 10)
    )
    joined = rel_pairs.join(
        F.broadcast(relation_rules_df(spark)), ["type1", "type2"]
    ).filter(F.col("label") != "NONE")
    rev = F.col("label").endswith("(e2,e1)")
    bare = F.regexp_replace(F.col("label"), "\\(e[12],e[21]\\)$", "")
    t2 = joined.select(
        F.when(rev, F.col("alias2")).otherwise(F.col("alias1")).alias("subj"),
        bare.alias("pred"),
        F.when(rev, F.col("alias1")).otherwise(F.col("alias2")).alias("obj"),
        F.when(rev, F.col("type2")).otherwise(F.col("type1")).alias("subj_type"),
        F.when(rev, F.col("type1")).otherwise(F.col("type2")).alias("obj_type"),
        "url",
        "pos1",
        "pos2",
    )
    assert t1.exceptAll(t2).isEmpty()
    assert t2.exceptAll(t1).isEmpty()
    assert t1.count() > 0


def test_pair_generation_distance_and_order(spark):
    from deepie_spark.operators.mentions import MENTIONS_SCHEMA_SLIM

    rows = [
        (
            "u1",
            [
                (0, 0, 1, "a", "PER", "NOM", 0.5),
                (3, 3, 2, "b", "ORG", "NOM", 0.5),
                (20, 20, 3, "c", "GPE", "NOM", 0.5),
            ],
        )
    ]
    df = spark.createDataFrame(rows, MENTIONS_SCHEMA_SLIM)
    got = mention_pairs(df, max_distance=10).collect()
    # only (a,b) is within distance 10; pairs are pos1 < pos2 ordered
    assert len(got) == 1
    assert got[0]["alias1"] == "a" and got[0]["alias2"] == "b"
    assert got[0]["pos2"] - got[0]["pos1"] == 3


def test_none_pairs_never_reach_triples(spark, pages):
    triples = extract_triples(spark, pages)
    assert triples.filter(F.col("pred") == "NONE").count() == 0
    assert triples.filter(F.col("subj").isNull()).count() == 0


def test_fused_equals_composed_pipeline(spark, pages):
    """The fused plan (extract_triples: mentions, pairs and the
    direct-addressed rule labels in one kernel) and a plan composed of
    discrete operators — detect_mentions, unlabeled mention_pairs, then
    a broadcast join on the rule table, the independent reference for
    the label table — must emit identical triple rows."""
    fused = extract_triples(spark, pages)
    mentions = detect_mentions(extract_stage(pages), build_alias_trie())
    classified = mention_pairs(mentions, max_distance=10).join(
        F.broadcast(relation_rules_df(spark)), on=["type1", "type2"]
    )
    composed = classified.select(
        *directed_triple_columns(
            F.col("label"), F.col("alias1"), F.col("alias2"),
            F.col("type1"), F.col("type2"),
        ),
        "url",
        "pos1",
        "pos2",
    )
    cols = ["subj", "pred", "obj", "subj_type", "obj_type", "url",
            "pos1", "pos2"]
    f, c = fused.select(cols), composed.select(cols)
    assert f.exceptAll(c).isEmpty()
    assert c.exceptAll(f).isEmpty()
    assert f.count() == c.count() > 0


def test_part_id_deterministic_and_bounded(spark, pages):
    ids = pages.select(part_id_col().alias("p")).distinct().collect()
    vals = {r["p"] for r in ids}
    assert vals <= set(range(N_PARTS))
    # deterministic: same urls → same buckets on recompute
    again = {
        r["p"] for r in pages.select(part_id_col().alias("p")).distinct().collect()
    }
    assert vals == again


def test_triple_direction_swap(spark):
    """(e2,e1) labels swap subject and object (reference directed-label
    convention, collapseTypes rnnRE.py:642-647)."""
    rows = [
        ("u", 1, 2, "x", "y", "ORG", "PER", "ORG-AFF(e2,e1)", 0.9),
        ("u", 1, 2, "x", "y", "PER", "ORG", "ORG-AFF(e1,e2)", 0.9),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, pos1 int, pos2 int, alias1 string, alias2 string,"
        " type1 string, type2 string, label string, prob double",
    )
    cols = directed_triple_columns(
        F.col("label"), F.col("alias1"), F.col("alias2"),
        F.col("type1"), F.col("type2"),
    )
    got = {
        (r["subj"], r["pred"], r["obj"], r["subj_type"], r["obj_type"])
        for r in df.select(*cols).collect()
    }
    assert got == {
        ("y", "ORG-AFF", "x", "PER", "ORG"),
        ("x", "ORG-AFF", "y", "PER", "ORG"),
    }


def test_pipeline_part_metrics_partition_invariant(spark):
    """The per-partition manifest (poly-hash part + order-free
    checksum) must be identical under any physical partitioning."""
    import __spark_entry__ as e

    q = e.queries()["pipeline_part_metrics"]
    base = q(spark, "/root/testdata/sf0.001")
    rows = {r.part: r for r in base.collect()}
    again = {
        r.part: r for r in base.repartition(13).collect()
    }
    assert rows.keys() == again.keys()
    for p in rows:
        assert rows[p] == again[p]
    assert all(0 <= p < 16 for p in rows)
    assert sum(r.n_triples for r in rows.values()) > 0
