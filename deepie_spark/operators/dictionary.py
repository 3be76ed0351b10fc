"""Distributed first-encounter dictionaries and vocabulary counts (A1/A2/A6).

The reference builds eight string→dense-id dictionaries by mutating Python
dicts while scanning the corpus in a fixed file order, assigning
``id = len(dict)`` on first encounter (rnn_process_onlyExtra.py:54-56,
99-205).  That is inherently sequential; the distributed re-expression is:

    explode all candidate strings with their (file_order, line_no,
    stream, pos) coordinates → groupBy(value).agg(min(coordinate)) →
    row_number() over the first-occurrence order.

This yields ids that are *deterministic under any partitioning* — the
ordering key is data, not scan schedule.  Deviation from the reference,
documented: within one record the reference iterates Python-2 ``set()``
objects (unspecified order); we order by token position, which is the
only reproducible choice.  Tests pin determinism, not reference ids.

Vocabulary document-frequency (A1, rnn_process_onlyExtra.py:78-96):
each record contributes the *distinct* words of four streams (sentence,
dep-path words, governors, dep-path governors), with ``_`` → space
normalization; a word appearing in several streams of one record counts
once per stream, exactly like the reference's four separate set loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

def normalize_word(col: Column) -> Column:
    """Reference ``' '.join(word.split('_'))`` (rnnRE.py:74-75 /
    rnn_process_onlyExtra.py:79-95): every underscore becomes exactly one
    space — no collapsing, no trimming (so ``___UNKNOW___`` keeps its
    leading/trailing spaces as a vocab key, matching the reference)."""
    return F.regexp_replace(col, "_", " ")


def gather(arr: Column, idx: Column) -> Column:
    """P3 array gather: project token-aligned features onto dep-path
    indices (retrieveDepFeatures rnn_process_onlyExtra.py:474-489) —
    a pure ``transform`` + ``element_at``, no join, no shuffle."""
    return F.transform(idx, lambda i: F.element_at(arr, i + 1))


def vocab_document_frequency(mentions: DataFrame) -> DataFrame:
    """A1: document frequency over the four word streams.

    Returns (word, df_count) — reference semantics: per record, distinct
    words per stream, normalized, each stream counted independently.
    Shuffle-wise this is one explode + one hash aggregation with map-side
    partial aggregation; at 100 TB the explode is the dominant cost and
    the agg output is vocabulary-sized (small).
    """
    dep_gov = gather(F.col("governors"), F.col("dep_idx"))
    streams = F.concat(
        F.array_distinct(F.col("tokens")),
        F.array_distinct(F.col("dep_tokens")),
        F.array_distinct(F.col("governors")),
        F.array_distinct(dep_gov),
    )
    return (
        mentions.select(F.explode(streams).alias("raw"))
        .select(normalize_word(F.col("raw")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df_count"))
    )


def rank_in_order(
    df: DataFrame,
    order_col: str,
    start_id: int = 0,
    id_col: str = "id",
    buckets: int | None = None,
) -> DataFrame:
    """Global dense rank by a unique ``order_col`` WITHOUT a global sort.

    Exactly ``row_number() OVER (ORDER BY order_col) + start_id - 1``,
    but scale-safe: an unpartitioned window serializes the whole input
    through one task, which at a web-scale vocabulary (10⁹+ distinct
    tokens) is the plan's only non-distributed stage.  Two-level scheme
    instead (round-3 verdict item 2):

      1. ``repartitionByRange(buckets, order_col)`` — bucket *b* holds
         keys strictly below bucket *b+1*, equal keys co-located;
      2. per-bucket ``row_number`` (partitioned window, distributed);
      3. per-bucket counts → prefix offsets via a ≤buckets²-row
         triangular broadcast join (no window at all on that path);
      4. ``id = offset + local_rank``.

    Ids are invariant to bucket boundaries, so the boundary choice
    never affects results — PROVIDED every plan branch computes the
    same bucket for the same key.  The original sampled
    ``repartitionByRange`` + ``spark_partition_id()`` formulation
    violated that silently: column pruning specializes the count
    branch and the rank branch into different subplans, ReusedExchange
    fails to deduplicate them, each branch re-samples its own
    boundaries, and the offsets no longer match the local ranks
    (observed as nondeterministically wrong rank sets at 8 cores on a
    15k-row input).  Buckets therefore come from
    ``sweep.pinned_range_bucket`` — driver-pinned literal quantile
    boundaries (first numeric field for struct keys), or a
    localCheckpoint-pinned sampled partitioning for non-numeric keys.
    Ties in ``order_col`` would be bucket-local but order-unspecified —
    callers must pass a unique key (all ours are: min-struct /
    min-ordinal per value).
    """
    from deepie_spark.operators.sweep import pinned_range_bucket

    spark = df.sparkSession
    if buckets is None:
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucketed = pinned_range_bucket(df, order_col, buckets)
    counts = bucketed.groupBy("_bkt").agg(F.count("*").alias("_cnt"))
    lower = counts.select(
        F.col("_bkt").alias("_lo_bkt"), F.col("_cnt").alias("_lo_cnt")
    )
    offsets = (
        counts.join(F.broadcast(lower), F.col("_lo_bkt") < F.col("_bkt"), "left")
        .groupBy("_bkt")
        .agg(F.coalesce(F.sum("_lo_cnt"), F.lit(0)).alias("_off"))
    )
    w = W.partitionBy("_bkt").orderBy(order_col)
    return (
        bucketed.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "_bkt")
        .withColumn(
            id_col,
            # long, not int: the 10⁹+-vocabulary motivation would wrap
            # a non-ANSI int cast negative past 2³¹−1 rows
            (F.col("_off") + F.col("_rn") + F.lit(start_id - 1)).cast("long"),
        )
        .drop("_bkt", "_rn", "_off")
    )


def first_encounter_ids(
    occurrences: DataFrame,
    start_id: int = 0,
    seed: dict[str, int] | None = None,
) -> DataFrame:
    """A2 core: (value, file_order, line_no, stream, pos) → (value, id).

    ``seed`` pre-assigns ids (e.g. ``{'NONE': 0}`` for the label dict,
    ``{'Other': 1}`` for the feature dicts whose id 0 is the pad row);
    remaining values get ``start_id, start_id+1, …`` in order of first
    occurrence.  Ranking is the bucketed prefix-offset scheme
    (``rank_in_order``) — no single-partition window even at web-scale
    vocabularies.
    """
    seed = seed or {}
    firsts = occurrences.groupBy("value").agg(
        F.min(
            F.struct(
                F.col("file_order"),
                F.col("line_no"),
                F.col("stream"),
                F.col("pos"),
            )
        ).alias("first_seen")
    )
    if seed:
        firsts = firsts.filter(~F.col("value").isin(list(seed.keys())))
    ranked = rank_in_order(firsts, "first_seen", start_id=start_id).select(
        "value", "id"
    )
    if seed:
        seed_df = occurrences.sparkSession.createDataFrame(
            sorted(seed.items(), key=lambda kv: kv[1]), "value string, id long"
        )
        ranked = seed_df.unionByName(ranked)
    return ranked


def occurrences_from_arrays(
    mentions: DataFrame, arrays: list[Column]
) -> DataFrame:
    """Explode several array columns into first-encounter coordinates.

    ``stream`` is the index of the array column (reference code order:
    e.g. cons1 before cons2 before their dep-path gathers —
    rnn_process_onlyExtra.py:99-124), ``pos`` the element index.
    """
    parts = []
    for i, arr in enumerate(arrays):
        parts.append(
            mentions.select(
                F.col("file_order"),
                F.col("line_no"),
                F.lit(i).alias("stream"),
                F.posexplode(arr).alias("pos", "value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def occurrences_from_scalars(
    mentions: DataFrame, cols: list[Column]
) -> DataFrame:
    """Scalar-column variant (labels, type1/type2, subtype1/subtype2)."""
    return occurrences_from_arrays(
        mentions, [F.array(c) for c in cols]
    )


def build_reference_dictionaries(mentions: DataFrame) -> dict[str, DataFrame]:
    """All eight reference dictionaries as small DataFrames.

    Mirrors rnn_process_onlyExtra.py:
      * ``label``   — seed NONE=0, then first-encounter (:54-56)
      * ``type``/``subtype`` — seed Other=1, ids from 2 (:189-205)
      * ``constit`` — cons1, cons2, dep gathers of both (:99-124)
      * ``preter``/``prepreter`` — surface then dep gather (:128-154)
      * ``deprel``  — grammar lists then dep-gathered grammar (:157-179)
      * ``word``    — vocabulary with df counts (A1), id by first
        encounter for embedding-row alignment (get_W :666-669 analog).
    """
    dep_idx = F.col("dep_idx")
    dicts: dict[str, DataFrame] = {}
    dicts["label"] = first_encounter_ids(
        occurrences_from_scalars(mentions, [F.col("label")]),
        start_id=1,
        seed={"NONE": 0},
    )
    dicts["type"] = first_encounter_ids(
        occurrences_from_scalars(mentions, [F.col("type1"), F.col("type2")]),
        start_id=2,
        seed={"Other": 1},
    )
    dicts["subtype"] = first_encounter_ids(
        occurrences_from_scalars(
            mentions, [F.col("subtype1"), F.col("subtype2")]
        ),
        start_id=2,
        seed={"Other": 1},
    )
    dicts["constit"] = first_encounter_ids(
        occurrences_from_arrays(
            mentions,
            [
                F.col("cons1"),
                F.col("cons2"),
                gather(F.col("cons1"), dep_idx),
                gather(F.col("cons2"), dep_idx),
            ],
        ),
        start_id=2,
        seed={"Other": 1},
    )
    dicts["preter"] = first_encounter_ids(
        occurrences_from_arrays(
            mentions, [F.col("preter"), gather(F.col("preter"), dep_idx)]
        ),
        start_id=2,
        seed={"Other": 1},
    )
    dicts["prepreter"] = first_encounter_ids(
        occurrences_from_arrays(
            mentions,
            [F.col("prepreter"), gather(F.col("prepreter"), dep_idx)],
        ),
        start_id=2,
        seed={"Other": 1},
    )
    dicts["deprel"] = first_encounter_ids(
        occurrences_from_arrays(
            mentions,
            [
                F.flatten(F.col("grammar")),
                F.flatten(gather(F.col("grammar"), dep_idx)),
            ],
        ),
        start_id=2,
        seed={"Other": 1},
    )
    word_occ = occurrences_from_arrays(
        mentions,
        [
            F.col("tokens"),
            F.col("dep_tokens"),
            F.col("governors"),
            gather(F.col("governors"), dep_idx),
        ],
    ).withColumn("value", normalize_word(F.col("value")))
    dicts["word"] = first_encounter_ids(word_occ, start_id=1)
    return dicts


def collapse_labels(df: DataFrame, label_col: str = "label") -> DataFrame:
    """P8 projection: strip the (e1,e2)/(e2,e1) direction suffix
    (collapseTypes rnnRE.py:642-647 / applied :693-695,430)."""
    return df.withColumn(
        label_col,
        F.regexp_replace(F.col(label_col), "\\(e[12],e[21]\\)$", ""),
    )


def collapsed_label_dict(label_dict: DataFrame) -> DataFrame:
    """P8 id remap: collapsed labels get dense new ids in order of their
    minimum old id — exactly the reference's iteration over the old dict
    in id order (collapseTypes rnnRE.py:642-647)."""
    stripped = label_dict.select(
        F.regexp_replace(F.col("value"), "\\(e[12],e[21]\\)$", "").alias(
            "value"
        ),
        F.col("id").alias("old_id"),
    )
    firsts = stripped.groupBy("value").agg(F.min("old_id").alias("first_id"))
    return rank_in_order(firsts, "first_id", start_id=0).select("value", "id")


def binary_feature_dictionary(
    mentions: DataFrame, cutoff: int = 2, train_corpora: list[str] | None = None
) -> DataFrame:
    """A6: sparse binary-feature frequency + cutoff (makeBinaryDictionary
    rnnRE.py:452-482; default cutoff=2, evaluate.py:112).

    Counted over training rows only; features below the cutoff are
    dropped; surviving features get first-encounter ids from 0.

    Documented deviation: the reference assigns ids by iterating its
    Python-2 ``defaultdict`` counter (rnnRE.py:462-464) — dict-HASH
    order, unspecified and build-dependent.  First-encounter order is
    the only reproducible choice; id *values* therefore differ from any
    particular reference run, which is irrelevant downstream (ids only
    index weight rows trained against the same dictionary).
    """
    df = mentions
    if train_corpora:
        df = df.filter(F.col("corpus").isin(train_corpora))
    occ = occurrences_from_arrays(df, [F.col("bin_feats")])
    counts = occ.groupBy("value").agg(
        F.count("*").alias("n"),
        F.min(
            F.struct("file_order", "line_no", "stream", "pos")
        ).alias("first_seen"),
    )
    kept = counts.filter(F.col("n") >= cutoff)
    return rank_in_order(kept, "first_seen", start_id=0).select(
        "value", "id", "n"
    )
