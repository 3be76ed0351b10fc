"""The query registry in __spark_entry__.py: one decorated block per
query, from which queries(), oracle_sql() and bench.py's tiers derive.

Spark-free: importing the entry file builds no SparkSession.  The
one-declaration guards also scan the ``deepie_spark`` package source.
"""

import ast
import glob
import inspect
import os
import re

import pytest

import __spark_entry__ as entry
import deepie_spark

ROWS_ONLY = {"mentions_tagged", "embedding_pca", "pipeline_triples"}

#: frozen since round 4 (bench.py's headline_queries_total)
HEADLINE = {
    "pipeline_triples", "pipeline_triples_model", "triples_rules",
    "vocab_df", "first_encounter_ids", "mentions_single",
    "pair_distance_hist", "dedup_exact", "minhash_lsh", "simhash",
    "ann_topk", "doc_fingerprint", "quality_scores", "tpch_pricing",
    "top_orders_per_cust", "events_hourly",
}

#: bench.py's separately timed set (round-3 to round-5 additions)
EXTRA = {
    "ngram_jaccard", "pipeline_triples_deep", "entity_pagerank",
    "doc_perplexity", "url_normalize", "benchmark_contamination",
    "dedup_canonical", "sketch_cardinality", "sketch_quantiles",
    "tagger_gazetteer_gate", "set_ops_sources", "source_lang_rollup",
    "source_lang_cube", "lang_pivot", "doc_quartiles", "event_funnel",
    "doc_zscore", "latest_event", "doc_chunks", "events_hourly_dense",
    "weighted_sample", "dedup_incremental", "gopher_quality",
    "dup_ngram_rate", "kmeans_embeddings", "entity_cooccur_pmi",
    "triple_degree_hist", "triangle_stats", "neighbor_jaccard",
    "bm25_topk", "robust_outliers", "containment_pairs",
    "events_moving_avg", "user_retention", "fuzzy_alias_match",
    "quality_correlation", "lang_confusion", "term_cosine",
    "snapshot_diff", "entity_bfs", "paragraph_dedup", "mixture_plan",
    "table_profile", "oov_rate", "kg_negatives", "entity_ppr",
    "corpus_yield_funnel", "winnow_fingerprints", "user_scd2",
    "dsir_weights", "entity_hits", "sorted_neighborhood", "bpe_vocab",
    "error_window_global", "bloom_prejoin", "media_frames",
    "edge_reciprocity", "mixture_allocation", "prefix_jaccard",
    "embedding_pca", "events_zorder", "heavy_hitters",
    "predicate_profile", "scd2_lookup", "bpe_encode", "semantic_dedup",
    "inverted_postings", "phrase_search", "kcore", "link_graph",
    "random_walks", "triple_confidence", "events_asof",
    "entity_communities", "predicate_inverses", "rule_mining",
    "skipgram_pairs", "event_transitions", "ktruss", "entity_closeness",
    "anchor_text", "predicate_domain_range", "entity_cards",
    "entity_salience", "term_keyness", "skipgram_pmi",
    "graph_assortativity", "boilerplate_rate", "embedding_quantize",
    "entity_mis", "html_density", "alias_resolve", "source_reliability",
    "entity_scc", "event_concurrency", "entity_sssp", "entity_coloring",
    "entity_msf", "entity_slink", "readability", "entity_stress",
    "vocab_growth",
}


def test_names_unique_and_match_builders():
    names = list(entry.queries())
    assert len(names) == len(set(names)) == len(entry.REGISTRY)
    for name, q in entry.REGISTRY.items():
        assert q.build.__name__ == f"q_{name}"
        assert getattr(entry, f"q_{name}") is q.build


def test_registering_a_duplicate_raises():
    def q_vocab_df(spark, sf_dir):
        raise AssertionError("never built")

    before = dict(entry.REGISTRY)
    with pytest.raises(ValueError, match="already registered"):
        entry.query(oracle=None)(q_vocab_df)
    assert entry.REGISTRY == before


def test_oracle_is_required():
    with pytest.raises(TypeError):
        entry.query()  # a forgotten oracle never means rows-only
    with pytest.raises(ValueError, match="unknown tier"):
        entry.query(oracle=None, tier="nightly")


def test_rows_only_queries_are_exactly_the_declared_three():
    for q in entry.REGISTRY.values():
        assert q.oracle is None or isinstance(q.oracle, str) or callable(q.oracle)
    rows_only = {n for n, q in entry.REGISTRY.items() if q.oracle is None}
    assert rows_only == ROWS_ONLY


def test_oracle_sql_keys_are_the_queries_with_oracles():
    oracles = entry.oracle_sql()
    assert set(oracles) == set(entry.REGISTRY) - ROWS_ONLY
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_gate_first_leads_queries():
    assert len(entry.GATE_FIRST) == len(set(entry.GATE_FIRST)) == 50
    assert set(entry.GATE_FIRST) <= set(entry.REGISTRY)
    names = list(entry.queries())
    assert names[:50] == list(entry.GATE_FIRST)
    rest = [n for n in entry.REGISTRY if n not in entry.GATE_FIRST]
    assert names[50:] == rest


def test_bench_tiers():
    assert set(entry.tier("headline")) == HEADLINE
    assert set(entry.tier("extra")) == EXTRA
    assert len(HEADLINE) == 16 and len(EXTRA) == 102
    assert entry.tier("headline") == [
        n for n, q in entry.REGISTRY.items() if q.tier == "headline"
    ]


def test_rule_triples_declared_once():
    """Oracles select the rule-triple relation from the shared fragment's
    ``rt``: the rules table, the pair self-join and the direction swap
    are written once, and the pair window is MAX_DISTANCE, not a
    literal."""
    src = inspect.getsource(entry)
    frag = entry._RULE_TRIPLES_SQL
    rules = "rules(type1, type2, label) AS (VALUES"
    assert src.count(rules) == 1 and rules in frag
    # pair_distance_hist histograms the unlabelled pairs: no rules
    join = "JOIN mentions b"
    assert src.count(join) == 2 and join in frag
    assert join in entry._oracle("pair_distance_hist")
    swap = "LIKE '%(e2,e1)'"
    assert src.count(swap) == 1 and swap in frag
    assert re.findall(r'pos[12]?"?\)?\s*<=\s*\d', src) == []


def test_direction_suffix_declared_once():
    """The swap suffix ``"(e2,e1)"`` is one string constant in the
    package, in ``datagen/catalog.py``: the column form
    (directed_triple_columns) and the array form (directed_label_arrays)
    of the direction rule both read it."""
    import ast
    import pathlib

    from deepie_spark.datagen import catalog

    pkg = pathlib.Path(catalog.__file__).parent.parent
    found = [
        path.relative_to(pkg).as_posix()
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and node.value == "(e2,e1)"
    ]
    assert found == ["datagen/catalog.py"]


def test_graph_orientation_and_edge_symmetrization_declared_once():
    """``operators.graph`` writes the (deg, node) orientation comparison
    once, in ``_rank_below``, and the reverse-direction edge select once,
    in ``_sym_edges``.  The patterns are the lexicographic tie-break
    ``(x < y) | ((x == y) & (…))`` and a select swapping two columns'
    names, whatever the column names."""
    from deepie_spark.operators import graph

    def flat(obj):
        return re.sub(r"\s+", "", inspect.getsource(obj))

    src = flat(graph)
    tie = re.findall(r"\|\(\([^&|]*==[^&|]*\)&\(", src)
    assert len(tie) == 1 and tie[0] in flat(graph._rank_below)
    swap = re.findall(
        r'F\.col\("(\w+)"\)\.alias\("(\w+)"\),'
        r'F\.col\("\2"\)\.alias\("\1"\)',
        src,
    )
    assert swap == [("b", "a")]
    assert 'F.col("b").alias("a"),F.col("a").alias("b")' in flat(
        graph._sym_edges
    )


def test_check_oracle_fails_unknown_names_before_spark(monkeypatch, capsys):
    """``scripts/check_oracle.py`` with a name ``queries()`` lacks exits
    nonzero and names it, without starting Spark: a misspelled query
    must not read as a pass."""
    import importlib.util
    import json

    path = os.path.join(
        os.path.dirname(os.path.abspath(entry.__file__)),
        "scripts", "check_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def no_spark(*a, **k):
        raise AssertionError("Spark started")

    monkeypatch.setattr(mod, "get_spark", no_spark)
    assert mod.main(only=["triangle_stat", "triangle_stats"]) == 2
    lines = capsys.readouterr().out.splitlines()
    assert json.loads(lines[0]) == {
        "name": "triangle_stat", "status": "UNKNOWN QUERY",
    }
    assert lines[-1] == "FAILURES: ['triangle_stat']"


def test_pred_schema_frames_come_from_the_menu_only():
    """``model.menu.classify_mentions_menu`` is the one relation
    classifier: no other function of the package passes ``PRED_SCHEMA``
    to a call (``mapInPandas``, ``createDataFrame``, …), and the schema
    string is declared once, in ``model.infer``."""
    root = os.path.dirname(deepie_spark.__file__)
    head = "rel_id string, corpus string, gold string, pred string,"
    users, decls = [], []
    paths = glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    for path in sorted(paths):
        rel = os.path.relpath(path, root)
        with open(path) as f:
            src = f.read()
        decls += [rel] * src.count(head)
        for stmt in ast.parse(src).body:
            owner = getattr(stmt, "name", "<module>")
            for node in ast.walk(stmt):
                if not isinstance(node, ast.Call):
                    continue
                args = [*node.args, *(k.value for k in node.keywords)]
                if any(
                    getattr(a, "id", getattr(a, "attr", None)) == "PRED_SCHEMA"
                    for a in args
                ):
                    users.append((rel, owner))
    assert users == [("model/menu.py", "classify_mentions_menu")]
    assert decls == ["model/infer.py"]
