"""Within-page mention-pair generation and rule labelling (north-star stage 3).

The reference's unit of work is a pre-built (e1, e2) pair per record; the
pipeline must *generate* those pairs from detected mentions.  A pair is
two mentions of one page at most ``max_distance`` tokens apart
(|pos2 − pos1| ≤ maximumDistance, rnn_process_onlyExtra.py:10,59-61);
at 100 TB this bound is what keeps hot (mention-dense) pages from
dominating task time.  :data:`MAX_DISTANCE` is that window: the default
of every pair generator here and of plans.pipeline.extract_triples, and
the bound the relational twins and DuckDB oracles in
``__spark_entry__`` are built from.

Pairing is numpy inside an Arrow ``mapInArrow`` kernel, shuffle-free:

* :func:`pair_index` — the one pairing core.  A row's mentions are
  sorted by ``pos`` with distinct positions, so the candidates of the
  n-th mention are only mentions n+1 … n+``max_distance``: a banded
  scan over shifted arrays, not the m² candidate space.
* :func:`label_table` — a rule table as direct addressing: a type code
  per entity type indexes a ``(K+1)²`` label array; no string key, no
  hash probe (PAPERS, "Analyzing Vectorized Hash Tables Across CPU
  Architectures", VLDB 2023, on small dense key domains).  Each label
  also carries its stripped predicate and swap flag
  (catalog.directed_label_arrays), so a labelled pair leaves the kernel
  as a finished directed triple: the direction rule runs once per
  label on the driver, not once per row in the JVM.
* :func:`detect_mention_pairs` — text → directed triples in the
  mentions kernel itself (operators.mentions.trie_matcher, one
  int-coded trie walk for every alias length), the pipeline path:
  the mention arrays never leave Python, and no interpreted JVM
  higher-order function, ``explode`` or string match runs per
  candidate.
* :func:`mention_pairs` — the same core over existing mention arrays
  (e.g. the tagger's), and the composed reference the fused path is
  tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from deepie_spark.datagen.catalog import directed_label_arrays
from deepie_spark.operators.mentions import trie_matcher

#: the pair window in tokens (the reference's maximumDistance)
MAX_DISTANCE = 10


def pair_index(row, pos, max_distance: int):
    """Mentions sorted by ``(row, pos)`` → ``(i, j)``: every ordered pair
    of one row with ``pos[i] < pos[j] ≤ pos[i] + max_distance``, in
    ``(i, j)`` order — the order ``explode`` over per-row pair arrays
    gives.

    Raises ``ValueError`` unless each row's mentions are sorted by
    ``pos`` with distinct positions.  That convention is what bounds
    the scan: positions are distinct integers, so a partner of mention
    n sits at most ``max_distance`` slots to its right, and the partners
    of n are exactly n+1 … n+c[n] for a per-mention count c.
    """
    import numpy as np

    row = np.asarray(row, np.int64)
    pos = np.asarray(pos, np.int64)
    if np.any(row[1:] < row[:-1]) or np.any(
        (row[1:] == row[:-1]) & (pos[1:] <= pos[:-1])
    ):
        raise ValueError(
            "mentions must be sorted by pos with distinct positions per row"
        )
    n = len(pos)
    count = np.zeros(n, np.int64)
    for d in range(1, max_distance + 1):
        ok = (row[d:] == row[:-d]) & (pos[d:] - pos[:-d] <= max_distance)
        if not ok.any():
            break  # no partner at distance d in the slots ⇒ none beyond
        count[: n - d] += ok
    i = np.repeat(np.arange(n), count)
    first = np.cumsum(count) - count  # each mention's first output slot
    j = i + 1 + np.arange(len(i)) - np.repeat(first, count)
    return i, j


def label_table(rules: dict[tuple[str, str], str]):
    """``{(type1, type2): label}`` → ``(types, labels, table)``.

    ``types`` lists the K entity types the rules name; code ``k + 1``
    stands for ``types[k]`` and code 0 for a null type or one no rule
    names.  ``table[c1, c2]`` indexes ``labels``, or is -1 where no rule
    applies (the pair is NONE).
    """
    import numpy as np
    import pyarrow as pa

    types = sorted({t for pair in rules for t in pair})
    labels = sorted(set(rules.values()))
    table = np.full((len(types) + 1,) * 2, -1, np.int64)
    for (t1, t2), lab in rules.items():
        table[types.index(t1) + 1, types.index(t2) + 1] = labels.index(lab)
    return pa.array(types, pa.string()), pa.array(labels, pa.string()), table


def type_codes(entity_type, types):
    """Entity-type strings → ``label_table`` codes (0: null or unknown)."""
    import numpy as np
    import pyarrow.compute as pc

    found = pc.index_in(entity_type, value_set=types)
    return np.asarray(pc.fill_null(found, -1), np.int64) + 1


def _pair_kernel(max_distance: int, rules):
    """The per-batch pair emitter both operators share, and its Spark
    schema after ``url``: ``emit(url, row, pos, ref, values)`` → one
    ``RecordBatch`` of pairs.  Mention k has its row, its position and
    ``ref[k]``, an index into ``values`` (a struct array with ``alias``
    and ``entity_type``); ``url`` passes through as it comes, whatever
    its type.

    Without ``rules`` a pair is ``(url, pos1, pos2, alias1, alias2,
    type1, type2)``.  With ``rules``, pairs no rule labels are dropped
    and the rest come out as finished directed triples, ``(url, pos1,
    pos2, subj, pred, obj, subj_type, obj_type)``: the label table also
    carries each label's stripped predicate and swap flag
    (catalog.directed_label_arrays), so the direction rule is one
    lookup per pair, not a per-row string match."""
    import numpy as np
    import pyarrow as pa

    if rules is None:
        schema = ("pos1 int, pos2 int, alias1 string, alias2 string,"
                  " type1 string, type2 string")
    else:
        schema = ("pos1 int, pos2 int, subj string, pred string, obj string,"
                  " subj_type string, obj_type string")
        types, labels, table = label_table(rules)
        pred, swap = directed_label_arrays(labels.to_pylist())
    names = ["url"] + [col.split()[0] for col in schema.split(",")]

    def emit(url, row, pos, ref, values):
        i, j = pair_index(row, pos, max_distance)
        a, b = ref[i], ref[j]
        alias, etype = values.field("alias"), values.field("entity_type")
        if rules is not None:
            codes = type_codes(etype, types)
            lab = table[codes[a], codes[b]]
            keep = lab >= 0
            i, j, a, b, lab = i[keep], j[keep], a[keep], b[keep], lab[keep]
            s = swap[lab]
            a, b = np.where(s, b, a), np.where(s, a, b)  # subject, object
        a, b = pa.array(a), pa.array(b)
        cols = [
            url.take(pa.array(row[i])),
            pa.array(pos[i].astype(np.int32)),
            pa.array(pos[j].astype(np.int32)),
            alias.take(a),
            *([] if rules is None else [pred.take(pa.array(lab))]),
            alias.take(b),
            etype.take(a),
            etype.take(b),
        ]
        return pa.RecordBatch.from_arrays(cols, names=names)

    return emit, schema


def _map_pairs(frame: DataFrame, column: str, mentions_of, max_distance, rules):
    """``frame(url, column)`` → the pairs of ``mentions_of(batch
    column)``'s ``(row, pos, ref, values)``, one ``mapInArrow`` pass;
    ``url`` keeps the frame's type."""
    emit, schema = _pair_kernel(max_distance, rules)

    def run(batches):
        for rb in batches:
            yield emit(rb.column("url"), *mentions_of(rb.column(column)))

    url = frame.schema["url"].dataType.simpleString()
    return frame.select("url", column).mapInArrow(run, f"url {url}, {schema}")


def mention_pairs(
    mentions: DataFrame,
    max_distance: int = MAX_DISTANCE,
    rules: dict[tuple[str, str], str] | None = None,
) -> DataFrame:
    """(url, mentions[], …) → one row per ordered mention pair:
    ``(url, pos1, pos2, alias1, alias2, type1, type2)``; with ``rules``,
    one directed triple per labelled pair: ``(url, pos1, pos2, subj,
    pred, obj, subj_type, obj_type)``.  ``url`` keeps its type.

    Pairs are ordered left-to-right (pos1 < pos2 ≤ pos1 + max_distance,
    positions being the last-token rule positions); both directions of a
    relation are expressed by the label's (e1,e2)/(e2,e1) suffix,
    mirroring the reference's directed-label convention rather than
    emitting mirrored pairs.

    ``rules`` (``{(type1, type2): label}``: RELATION_RULES, or the
    trained type-pair expert compiled by
    model.infer.compile_type_pair_expert) labels each pair from the
    direct-addressed :func:`label_table`; pairs no rule names are
    dropped, and an (e2,e1) label swaps subject and object and loses
    its suffix (catalog.directed_triple_columns' rule).  Each row's
    mention array must be sorted by ``pos`` with distinct, non-null
    positions (what both mention detectors emit); otherwise the task
    fails with ``ValueError``.
    """
    import numpy as np
    import pyarrow.compute as pc

    def mentions_of(lists):
        values = lists.flatten()
        pos = values.field("pos")
        if values.null_count or pos.null_count:
            raise ValueError("mention arrays must not hold null positions")
        return (
            np.asarray(pc.list_parent_indices(lists)),
            np.asarray(pos),
            np.arange(len(values)),
            values,
        )

    return _map_pairs(mentions, "mentions", mentions_of, max_distance, rules)


def detect_mention_pairs(
    pages: DataFrame,
    trie: dict,
    max_distance: int = MAX_DISTANCE,
    rules: dict[tuple[str, str], str] | None = None,
) -> DataFrame:
    """pages(url, text, …) → the pairs (with ``rules``, the directed
    triples) :func:`mention_pairs` would give over
    ``detect_mentions(pages, trie)``, in one ``mapInArrow`` pass.

    The kernel matches the text with the same compiled trie walk
    (operators.mentions.trie_matcher: the token stream coded once, every
    alias length walked in lockstep), whose mentions come out in ``(row,
    start)`` order, and pairs and labels them in place: a mention is its
    payload index, so a pair's aliases and types are ``take``s on the
    catalog's payload and its label, predicate and direction one lookup
    in the label table by the payload's type code.  ``rules`` is
    RELATION_RULES on the rule pipeline and the compiled type-pair
    expert on the model path, as in :func:`mention_pairs`.
    """
    match, payload = trie_matcher(trie)

    def mentions_of(text):
        rows, _, pos, pidx = match(text)
        return rows, pos, pidx, payload

    return _map_pairs(pages, "text", mentions_of, max_distance, rules)
