"""Mention detection against a broadcast alias catalog.

North-star stage 2: BIO-style mention tagging via an alias dictionary
broadcast as a sorted trie — the web-scale analog of the reference's
dictionary probe per token (rnnRE.py:77-80) and of its entity-tag parsing
(``B-PER.NAM#1`` markers, rnn_process_onlyExtra.py:346-396).  The
*last-token-position rule* is preserved: a mention's position is the
index of its final token (data/readMe.md:31).

* :func:`detect_mentions` — the one matcher on the pipeline path:
  greedy longest-match over the token stream in an Arrow ``mapInArrow``
  kernel, the compiled trie riding the task closure.  No shuffle, no
  join: each page is processed where it was read.  This is the scale
  path (catalog ≪ data).  Its trie walk, :func:`trie_matcher`, is also
  the front half of ``operators.pairs.detect_mention_pairs``.
* :func:`greedy_match` — the pure-Python trie walk that defines the
  semantics; tests hold the kernel to it.
* :func:`detect_mentions_single` — the single-token special case as a
  pure relational plan (posexplode + broadcast hash join), used for the
  DuckDB-oracle correctness gate.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepie_spark.datagen.catalog import ENTITY_CATALOG, build_alias_trie
from deepie_spark.functions.text import tokenize

MENTION_STRUCT = T.StructType(
    [
        T.StructField("start", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),  # last token (readMe.md:31)
        T.StructField("entity_id", T.LongType()),
        T.StructField("alias", T.StringType()),
        T.StructField("entity_type", T.StringType()),
        T.StructField("subtype", T.StringType()),
        T.StructField("prior", T.DoubleType()),
    ]
)

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("mentions", T.ArrayType(MENTION_STRUCT)),
    ]
)

MENTIONS_SCHEMA_SLIM = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("mentions", T.ArrayType(MENTION_STRUCT)),
    ]
)


def greedy_match(tokens: list[str], trie: dict) -> list[tuple]:
    """Greedy longest-match scan; a token consumed by a longer alias is
    not re-matched as a shorter one (standard gazetteer semantics)."""
    out = []
    i, n = 0, len(tokens)
    while i < n:
        node = trie
        j = i
        best = None  # (end_exclusive, payload)
        while j < n and tokens[j] in node:
            node = node[tokens[j]]
            j += 1
            if "$" in node:
                best = (j, node["$"])
        if best is not None:
            end, (eid, alias, etype, subtype, prior) = best
            out.append((i, end - 1, eid, alias, etype, subtype, prior))
            i = end
        else:
            i += 1
    return out


#: the ASCII \s class shared by Spark (Java regex), DuckDB (RE2 via
#: explicit class), and py_tokenize — NOT unicode whitespace, NOT
#: \x1c-\x1f (see functions.text)
_WS_CHARS = "\t\n\x0b\f\r "
_WS_PATTERN = "[\t\n\x0b\f\r ]+"


def _split_trie(trie: dict) -> tuple[dict, dict]:
    """trie → (single-token payload dict, first-token→candidates dict,
    candidates longest-first) — the kernel's compiled form of the trie."""
    single: dict = {}
    multi: dict = {}

    def walk(node, path):
        for tok, child in node.items():
            if tok == "$":
                if len(path) == 1:
                    single[path[0]] = child
                else:
                    multi.setdefault(path[0], []).append((path, child))
            else:
                walk(child, path + [tok])

    walk(trie, [])
    for cands in multi.values():
        cands.sort(key=lambda c: len(c[0]), reverse=True)
    return single, multi


def trie_matcher(trie: dict):
    """Compile a trie into the Arrow kernel's matcher: ``(match, payload)``.

    ``payload`` is a ``StructArray`` of the aliases' ``(entity_id,
    alias, entity_type, subtype, prior)``, one per alias.  ``match(text)``
    takes a string column and returns ``(toks, rows, starts, ends,
    pidx)``: the token lists, and per mention its row, first and last
    token index and payload index, as int64 arrays sorted by
    ``(row, start)``.  Greedy-consumption semantics are those of
    :func:`greedy_match`, so each row's mentions have distinct,
    increasing positions.  The one trie walk behind
    :func:`detect_mentions` and ``operators.pairs.detect_mention_pairs``.
    """
    import numpy as np
    import pyarrow as pa

    single, multi = _split_trie(trie)
    skeys = list(single)
    payloads = [single[k] for k in skeys]
    multi_cands: dict[str, list] = {}
    for first, cands in multi.items():
        lst = []
        for parts, pay in cands:
            lst.append((parts, len(payloads)))
            payloads.append(pay)
        multi_cands[first] = lst
    svals = pa.array(skeys, pa.string())
    mvals = pa.array(list(multi_cands.keys()), pa.string())
    payload = pa.StructArray.from_arrays(
        [
            pa.array([p[0] for p in payloads], pa.int64()),
            pa.array([p[1] for p in payloads], pa.string()),
            pa.array([p[2] for p in payloads], pa.string()),
            pa.array([p[3] for p in payloads], pa.string()),
            pa.array([p[4] for p in payloads], pa.float64()),
        ],
        names=["entity_id", "alias", "entity_type", "subtype", "prior"],
    )
    have_multi = bool(multi_cands)

    def match(text: pa.Array):
        import pyarrow.compute as pc

        n_rows = len(text)
        trimmed = pc.utf8_trim(pc.fill_null(text, ""), _WS_CHARS)
        toks = pc.split_pattern_regex(trimmed, _WS_PATTERN)
        flat = toks.values
        offsets = np.asarray(toks.offsets)
        # whitespace-only rows split to [""] where py_tokenize gives
        # []: drop the lone empty token and close the offset gap
        empty_rows = np.asarray(pc.equal(trimmed, "")).nonzero()[0]
        if len(empty_rows):
            keep = np.ones(len(flat), dtype=bool)
            keep[offsets[empty_rows]] = False
            flat = flat.filter(pa.array(keep))
            counts = np.diff(offsets).astype(np.int64)
            counts[empty_rows] -= 1
            offsets = np.zeros(n_rows + 1, dtype=np.int32)
            np.cumsum(counts, out=offsets[1:])
            toks = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), flat)

        total = len(flat)
        empty = np.zeros(0, np.int64)
        rows_parts = [empty]
        starts_parts = [empty]
        ends_parts = [empty]
        pidx_parts = [empty]
        covered = None
        if have_multi and total:
            mhit = np.asarray(
                pc.is_valid(pc.index_in(flat, value_set=mvals))
            ).nonzero()[0]
            if len(mhit):
                covered = np.zeros(total, dtype=bool)
                hrows = np.searchsorted(offsets, mhit, side="right") - 1
                m_rows, m_starts, m_ends, m_pidx = [], [], [], []
                next_free: dict[int, int] = {}
                # python strings only for the candidate windows —
                # never the full token stream
                firsts = flat.take(pa.array(mhit)).to_pylist()
                for p_abs, row, ftok in zip(mhit.tolist(), hrows.tolist(), firsts):
                    if p_abs < next_free.get(row, 0):
                        continue
                    start = p_abs - int(offsets[row])
                    end_row = int(offsets[row + 1])
                    for parts, pid in multi_cands[ftok]:
                        L = len(parts)
                        if (
                            p_abs + L <= end_row
                            and flat[p_abs : p_abs + L].to_pylist() == parts
                        ):
                            m_rows.append(row)
                            m_starts.append(start)
                            m_ends.append(start + L - 1)
                            m_pidx.append(pid)
                            covered[p_abs : p_abs + L] = True
                            next_free[row] = p_abs + L
                            break
                rows_parts.append(np.array(m_rows, np.int64))
                starts_parts.append(np.array(m_starts, np.int64))
                ends_parts.append(np.array(m_ends, np.int64))
                pidx_parts.append(np.array(m_pidx, np.int64))

        if total:
            sid = pc.index_in(flat, value_set=svals)
            s_mask = np.asarray(pc.is_valid(sid))
            if covered is not None:
                s_mask &= ~covered
            s_hits = s_mask.nonzero()[0]
            s_rows = np.searchsorted(offsets, s_hits, side="right") - 1
            s_starts = (s_hits - offsets[s_rows]).astype(np.int64)
            rows_parts.append(s_rows.astype(np.int64))
            starts_parts.append(s_starts)
            ends_parts.append(s_starts)
            pidx_parts.append(
                np.asarray(pc.fill_null(sid, -1), dtype=np.int64)[s_hits]
            )

        rows = np.concatenate(rows_parts)
        starts = np.concatenate(starts_parts)
        order = np.lexsort((starts, rows))
        return (
            toks,
            rows[order],
            starts[order],
            np.concatenate(ends_parts)[order],
            np.concatenate(pidx_parts)[order],
        )

    return match, payload


def detect_mentions(
    pages: DataFrame, trie: dict | None = None, include_tokens: bool = False
) -> DataFrame:
    """pages(url, text, …) → (url[, tokens], mentions[]) via broadcast trie.

    Arrow-native hot path (``mapInArrow`` + ``pyarrow.compute``): the
    text column is tokenized by a C-side regex split over the exact
    ASCII \\s class (bit-identical to :func:`py_tokenize` on ALL input —
    property-tested), single-token aliases match via one ``index_in``
    hash join over the flattened token stream, and the mention column is
    assembled as a ``ListArray<StructArray>`` with ``take`` on prebuilt
    payload arrays.  Python object materialization happens ONLY at
    multi-token candidate windows (a sliver of a web token stream) — the
    url column passes through untouched, with no per-batch Arrow↔pandas
    string conversion.  Greedy-consumption semantics are identical to
    :func:`greedy_match` (property-tested on random tries): multi spans
    consume, singles inside a consumed span are masked, and each row's
    mentions are sorted by ``pos`` with distinct positions.

    The compiled alias indexes ride the task closure (the catalog is
    tiny); for a large catalog, broadcast them.
    """
    import numpy as np
    import pyarrow as pa

    match, payload = trie_matcher(trie or build_alias_trie(ENTITY_CATALOG))
    mention_type = pa.list_(
        pa.struct([("start", pa.int32()), ("pos", pa.int32()), *payload.type])
    )
    fields = [("url", pa.string())]
    if include_tokens:
        fields.append(("tokens", pa.list_(pa.string())))
    fields.append(("mentions", mention_type))
    out_schema = pa.schema(fields)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            toks, rows, starts, ends, pidx = match(rb.column("text"))
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(starts.astype(np.int32)),
                    pa.array(ends.astype(np.int32)),
                    *payload.take(pa.array(pidx)).flatten(),
                ],
                fields=list(mention_type.value_type),
            )
            m_offsets = np.zeros(rb.num_rows + 1, dtype=np.int32)
            np.cumsum(np.bincount(rows, minlength=rb.num_rows), out=m_offsets[1:])
            mentions = pa.ListArray.from_arrays(pa.array(m_offsets), struct)
            cols = [rb.column("url")]
            if include_tokens:
                cols.append(toks)
            cols.append(mentions)
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    schema = MENTIONS_SCHEMA if include_tokens else MENTIONS_SCHEMA_SLIM
    return pages.select("url", "text").mapInArrow(run, schema)


def detect_mentions_single(pages: DataFrame, catalog: DataFrame) -> DataFrame:
    """Single-token mention detection as a relational plan.

    posexplode(tokens) ⋈ broadcast(catalog) — Catalyst keeps the scan
    pruned to (url, text) and the join build side is the tiny catalog.
    Returns one row per mention (url, pos, alias, entity_id, entity_type).
    """
    toks = pages.select(
        "url", F.posexplode(tokenize(F.col("text"))).alias("pos", "token")
    )
    single = catalog.filter(~F.col("alias").contains(" "))
    return (
        toks.join(F.broadcast(single), toks.token == single["alias"])
        .select(
            "url",
            "pos",
            "alias",
            "entity_id",
            "entity_type",
            "subtype",
            "prior",
        )
    )
