"""Deterministic entity-alias catalog and relation rules.

The catalog is the broadcast side of mention detection / entity linking
(FIXTURES.md §2; scaled-up analog of the reference's token→id dictionary
probe, rnnRE.py:77-80).  Aliases are drawn from the closed ~30-word
vocabulary of the driver-provided synthetic ``documents`` table so the
whole KG pipeline is exercised end-to-end on it with predictable output.
Entity types are the ACE types observed in the reference corpus
(PER/ORG/GPE/LOC/FAC/VEH — rnn_process_onlyExtra.py:339-340).

Relation rules map an ordered entity-type pair to a directed label from
the reference label set (NONE/PHYS/PART-WHOLE/ORG-AFF/GEN-AFF/PER-SOC/ART
with (e1,e2)/(e2,e1) direction — data/readMe.md, parse semantics
rnn_process_onlyExtra.py:312-313).  They serve as the deterministic
"model stub" of pipeline milestone M1 (SURVEY.md §7.2); the trained
classifier replaces them without changing the plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: (entity_id, alias, entity_type, subtype, prior); multi-token aliases
#: exercise the longest-match trie path.
ENTITY_CATALOG: list[tuple[int, str, str, str, float]] = [
    (1, "customer", "PER", "NOM", 0.9),
    (2, "spark", "ORG", "NAM", 0.95),
    (3, "table", "FAC", "NOM", 0.6),
    (4, "window", "FAC", "NOM", 0.5),
    (5, "stream", "LOC", "NOM", 0.5),
    (6, "column", "VEH", "NOM", 0.4),
    (7, "row", "PER", "NOM", 0.4),
    (8, "query", "ORG", "NOM", 0.6),
    (9, "data", "GPE", "NOM", 0.7),
    (10, "key", "VEH", "NOM", 0.3),
    (11, "group", "ORG", "NOM", 0.5),
    (12, "part", "VEH", "NOM", 0.4),
    (13, "hash join", "ORG", "NAM", 0.9),
    (14, "table scan", "FAC", "NAM", 0.9),
    (15, "sort merge", "ORG", "NAM", 0.9),
]

#: depth-3 catalog for the deep-trie gated pipeline: the trigram aliases
#: deliberately EXTEND existing aliases ("hash join" ⊂ "hash join key",
#: "sort merge" ⊂ "sort merge join") and collide with the single-token
#: aliases "key"/"join"-adjacent tokens, so greedy longest-match
#: consumption (greedy_match semantics, operators/mentions.py:61-81;
#: reference dict-probe analog rnnRE.py:77-80) is genuinely exercised
#: at depth 3 — a trigram must win over its bigram prefix and suppress
#: the singles it covers.
DEEP_ENTITY_CATALOG: list[tuple[int, str, str, str, float]] = [
    *ENTITY_CATALOG,
    (16, "hash join key", "PER", "NAM", 0.95),
    (17, "sort merge join", "GPE", "NAM", 0.9),
]

#: ordered (type1, type2) → directed relation label; pairs not listed
#: classify as NONE and are excluded from the triple sink (matching the
#: scorer's non-NONE semantics, rnnRE.py:566-573).
RELATION_RULES: dict[tuple[str, str], str] = {
    ("PER", "ORG"): "ORG-AFF(e1,e2)",
    ("ORG", "PER"): "ORG-AFF(e2,e1)",
    ("PER", "GPE"): "GEN-AFF(e1,e2)",
    ("GPE", "PER"): "GEN-AFF(e2,e1)",
    ("PER", "PER"): "PER-SOC",
    ("PER", "FAC"): "PHYS",
    ("FAC", "PER"): "PHYS",
    ("FAC", "GPE"): "PART-WHOLE(e1,e2)",
    ("GPE", "FAC"): "PART-WHOLE(e2,e1)",
    ("ORG", "GPE"): "GEN-AFF(e1,e2)",
    ("GPE", "ORG"): "GEN-AFF(e2,e1)",
    ("PER", "VEH"): "ART(e1,e2)",
    ("VEH", "PER"): "ART(e2,e1)",
}


#: the reference's directed-label convention: one regex, one place
#: (collapseTypes rnnRE.py:642-647 strips it; saving() keeps order)
DIRECTION_SUFFIX_RE = r"\(e[12],e[21]\)$"
#: the suffix of a label whose first argument is the object
SWAP_SUFFIX = "(e2,e1)"


def directed_triple_columns(label, alias1, alias2, type1=None, type2=None):
    """(subj, pred, obj[, subj_type, obj_type]) column list implementing
    the direction swap: an (e2,e1) label swaps the arguments and the
    suffix is stripped from the predicate.  The column form of the rule,
    per row: the classifier's predictions
    (model.infer.triples_from_predictions) and the relational join twin
    (q_triples_rules) select from it.  The fused pair kernels apply the
    array form, :func:`directed_label_arrays`, once per label.  The
    DuckDB oracles' twin is ``__spark_entry__._RULE_TRIPLES_SQL``."""
    from pyspark.sql import functions as F

    rev = label.endswith(SWAP_SUFFIX)
    cols = [
        F.when(rev, alias2).otherwise(alias1).alias("subj"),
        F.regexp_replace(label, DIRECTION_SUFFIX_RE, "").alias("pred"),
        F.when(rev, alias1).otherwise(alias2).alias("obj"),
    ]
    if type1 is not None and type2 is not None:
        cols += [
            F.when(rev, type2).otherwise(type1).alias("subj_type"),
            F.when(rev, type1).otherwise(type2).alias("obj_type"),
        ]
    return cols


def directed_label_arrays(labels: list[str]):
    """The array form of :func:`directed_triple_columns`' rule, per
    label rather than per row: ``labels`` → ``(pred, swap)``, the
    predicate with its direction suffix stripped (a string array) and
    whether the label swaps subject and object (a bool array), both
    indexed like ``labels``."""
    import re

    import numpy as np
    import pyarrow as pa

    pred = [re.sub(DIRECTION_SUFFIX_RE, "", lab) for lab in labels]
    swap = [lab.endswith(SWAP_SUFFIX) for lab in labels]
    return pa.array(pred, pa.string()), np.array(swap, bool)


def catalog_df(spark: SparkSession) -> DataFrame:
    """Catalog as a small DataFrame (broadcast side of the mention join)."""
    return spark.createDataFrame(
        ENTITY_CATALOG,
        "entity_id long, alias string, entity_type string, subtype string,"
        " prior double",
    )


def relation_rules_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(t1, t2, lab) for (t1, t2), lab in RELATION_RULES.items()],
        "type1 string, type2 string, label string",
    )


def build_alias_trie(
    catalog: list[tuple[int, str, str, str, float]] = ENTITY_CATALOG,
) -> dict:
    """Token-level trie: token → {'$': (id, type, subtype, prior)} | deeper.

    Broadcast to executors for greedy longest-match detection (north-star
    'alias dictionary broadcast as a sorted trie').
    """
    trie: dict = {}
    for eid, alias, etype, subtype, prior in catalog:
        node = trie
        for tok in alias.split():
            node = node.setdefault(tok, {})
        node["$"] = (eid, alias, etype, subtype, prior)
    return trie
