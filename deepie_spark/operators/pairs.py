"""Within-page mention-pair generation (north-star stage 3).

The reference's unit of work is a pre-built (e1, e2) pair per record; the
pipeline must *generate* those pairs from detected mentions.  Pairing is
shuffle-free: mentions arrive as an array per page, and ordered pairs are
produced with nested array ``filter`` + ``transform`` + ``flatten`` — the
data never leaves its partition.  The P5 distance predicate
(|pos2 − pos1| ≤ maximumDistance, rnn_process_onlyExtra.py:10,59-61)
prunes the quadratic blowup; at 100 TB this bound is what keeps hot
(mention-dense) pages from dominating task time.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def mention_pairs(
    mentions: DataFrame,
    max_distance: int = 10,
    label: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """(url, mentions[], …) → one row per ordered mention pair:
    ``(url, pos1, pos2, alias1, alias2, type1, type2[, label])``.

    Pairs are ordered left-to-right (pos1 < pos2 ≤ pos1 + max_distance,
    positions being the last-token rule positions); both directions of a
    relation are expressed by the label's (e1,e2)/(e2,e1) suffix,
    mirroring the reference's directed-label convention rather than
    emitting mirrored pairs.

    ``label(a, b)`` — a column expression over two mention structs — is
    an in-row classifier: pairs it maps to null are dropped, and the
    survivors carry it as ``label``.  Order of operations matters: the
    cheap pos/distance predicate prunes the m² candidate space first,
    then the label predicate, and only then is a pair struct built, so
    the string-carrying structs exist only for survivors.  The label is
    evaluated twice per surviving pair (filter + projection); a lookup is
    far cheaper than materializing the dropped structs.
    """
    m = F.col("mentions")

    def keep(a, b):
        cond = (a["pos"] < b["pos"]) & ((b["pos"] - a["pos"]) <= max_distance)
        return cond if label is None else cond & label(a, b).isNotNull()

    def pair(a, b):
        fields = [
            a["pos"].alias("pos1"),
            b["pos"].alias("pos2"),
            a["alias"].alias("alias1"),
            b["alias"].alias("alias2"),
            a["entity_type"].alias("type1"),
            b["entity_type"].alias("type2"),
        ]
        if label is not None:
            fields.append(label(a, b).alias("label"))
        return F.struct(*fields)

    pair_structs = F.flatten(
        F.transform(
            m,
            lambda a: F.transform(
                F.filter(m, lambda b: keep(a, b)), lambda b: pair(a, b)
            ),
        )
    )
    exploded = mentions.select("url", F.explode(pair_structs).alias("p"))
    return exploded.select("url", "p.*")
