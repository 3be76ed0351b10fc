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
  the front half of ``operators.pairs.detect_mention_pairs``: one
  numpy walk over int-coded tokens for every alias length.
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


def tokenize_arrow(text):
    """A string column → ``(flat, offsets)``: every row's tokens in one
    flat string array, row r's at ``offsets[r]:offsets[r + 1]`` (int64).

    The kernels' tokenizer: Arrow's ASCII whitespace is the \\s class
    shared by Spark (Java regex), DuckDB (RE2 via explicit class) and
    py_tokenize — NOT unicode whitespace, NOT \\x1c-\\x1f (see
    functions.text) — so trim and split on it give the tokens of
    :func:`py_tokenize` on all input, NULL and blank rows giving none."""
    import numpy as np
    import pyarrow.compute as pc

    trimmed = pc.ascii_trim_whitespace(text)
    # an empty row would split to [""]: make it NULL, which splits to []
    toks = pc.ascii_split_whitespace(
        pc.if_else(pc.equal(trimmed, ""), None, trimmed)
    )
    return toks.values, np.asarray(toks.offsets, np.int64)


def trie_matcher(trie: dict):
    """Compile a trie into the Arrow kernel's matcher: ``(match, payload)``.

    ``payload`` is a ``StructArray`` of the aliases' ``(entity_id,
    alias, entity_type, subtype, prior)``, one per alias.  ``match(text)``
    takes a string column and returns ``(rows, starts, ends, pidx)``:
    per mention its row, first and last token index and payload index,
    as int64 arrays sorted by ``(row, start)``.  Greedy-consumption
    semantics are those of :func:`greedy_match`, so each row's mentions
    have distinct, increasing positions.

    The trie compiles to int arrays: its nodes are numbered (root 0),
    an edge is the sorted int64 key ``node * V + code`` (V tokens in the
    trie's vocabulary) beside its child, and a terminal node holds its
    payload index.  Per batch the token stream is coded once with
    ``index_in``; then every start advances one token per step, all in
    lockstep — the root step by direct indexing, each deeper one by one
    ``searchsorted`` — while its state has children, and keeps the
    deepest terminal it passes.  Any alias length, 1 included, is the
    same walk, and only hits that overlap an earlier one become Python
    objects (:func:`_greedy_keep`).  Int keys over a small dense domain:
    PAPERS, "Analyzing Vectorized Hash Tables Across CPU Architectures".
    """
    import numpy as np
    import pyarrow as pa

    code: dict[str, int] = {}
    parent, tcode, term, payloads = [], [], [-1], []
    stack = [(trie, 0)]
    while stack:
        node, nid = stack.pop()
        for tok, sub in node.items():
            if tok == "$":
                term[nid] = len(payloads)
                payloads.append(sub)
            else:  # edge k leads to node k + 1
                parent.append(nid)
                tcode.append(code.setdefault(tok, len(code)))
                stack.append((sub, len(term)))
                term.append(-1)
    V = max(1, len(code))
    parent, tcode = np.array(parent, np.int64), np.array(tcode, np.int64)
    child = np.arange(1, len(term), dtype=np.int64)
    root = np.full(V, -1, np.int64)
    root[tcode[parent == 0]] = child[parent == 0]
    keys = parent * V + tcode
    order = np.argsort(keys)
    keys, child = keys[order], child[order]
    term = np.array(term, np.int64)
    kids = np.zeros(len(term), dtype=bool)
    kids[parent] = True
    vocab = pa.array(list(code), pa.string())
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

    def match(text: pa.Array):
        import pyarrow.compute as pc

        flat, offsets = tokenize_arrow(text)
        codes = np.asarray(
            pc.fill_null(pc.index_in(flat, value_set=vocab), -1), np.int64
        )
        row_of = np.repeat(np.arange(len(text)), np.diff(offsets))
        # the root step: every token with a root edge starts a walk
        starts = np.flatnonzero(codes >= 0)
        state = root[codes[starts]]
        starts, state = starts[state >= 0], state[state >= 0]
        stop = offsets[row_of[starts] + 1]  # a walk ends with its row
        best = term[state]  # deepest terminal payload, -1 = none yet
        end = starts + 1  # … and its exclusive end
        live = np.flatnonzero(kids[state])
        state = state[live]
        depth = 1
        while len(live):
            at = starts[live] + depth
            ok = at < stop[live]
            live, state, at = live[ok], state[ok], at[ok]
            c = codes[at]
            key = state * V + c
            e = np.minimum(np.searchsorted(keys, key), len(keys) - 1)
            ok = (c >= 0) & (keys[e] == key)
            live, state, at = live[ok], child[e[ok]], at[ok]
            t = term[state]
            hit = t >= 0
            best[live[hit]] = t[hit]
            end[live[hit]] = at[hit] + 1
            ok = kids[state]
            live, state = live[ok], state[ok]
            depth += 1

        hit = best >= 0
        starts, end, best = starts[hit], end[hit], best[hit]
        keep = _greedy_keep(starts, end)
        starts, end, best = starts[keep], end[keep], best[keep]
        rows = row_of[starts]
        first = offsets[rows]
        return rows, starts - first, end - first - 1, best

    return match, payload


def _greedy_keep(starts, ends):
    """Hits sorted by start, ``[start, end)`` each → the mask of those a
    left-to-right greedy scan keeps: a hit is taken unless it starts
    inside the last taken one.  A hit starting at or past the end of
    every earlier hit is taken in bulk; only the overlapping rest is
    decided one by one, each from the last bulk hit before it."""
    import numpy as np

    n = len(starts)
    reach = np.maximum.accumulate(ends)
    keep = np.ones(n, dtype=bool)
    keep[1:] = starts[1:] >= reach[:-1]
    rest = np.flatnonzero(~keep)
    if len(rest):
        head = np.maximum.accumulate(np.where(keep, np.arange(n), 0))[rest]
        last, free = -1, 0
        for k, h, s, e, head_end in zip(
            rest.tolist(),
            head.tolist(),
            starts[rest].tolist(),
            ends[rest].tolist(),
            ends[head].tolist(),
        ):
            if h != last:
                last, free = h, head_end
            if s >= free:
                keep[k] = True
                free = e
    return keep


def detect_mentions(pages: DataFrame, trie: dict | None = None) -> DataFrame:
    """pages(url, text, …) → (url, mentions[]) via broadcast trie.

    Arrow-native hot path (``mapInArrow`` + ``pyarrow.compute`` +
    numpy): the text column is tokenized by :func:`tokenize_arrow`
    (bit-identical to :func:`py_tokenize` on ALL input — property-
    tested), :func:`trie_matcher` walks every alias length at once over
    the int-coded token stream, and the mention column is assembled as
    a ``ListArray<StructArray>`` with ``take`` on prebuilt payload
    arrays.  No Python object is made per token, and the url column
    passes through untouched, with no per-batch Arrow↔pandas string
    conversion.  Greedy-consumption semantics are identical to
    :func:`greedy_match` (property-tested on random tries), so each
    row's mentions are sorted by ``pos`` with distinct positions.

    The compiled trie rides the task closure (the catalog is tiny); for
    a large catalog, broadcast it.
    """
    import numpy as np
    import pyarrow as pa

    match, payload = trie_matcher(trie or build_alias_trie(ENTITY_CATALOG))
    mention_type = pa.list_(
        pa.struct([("start", pa.int32()), ("pos", pa.int32()), *payload.type])
    )
    out_schema = pa.schema([("url", pa.string()), ("mentions", mention_type)])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            rows, starts, ends, pidx = match(rb.column("text"))
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
            yield pa.RecordBatch.from_arrays(
                [rb.column("url"), mentions], schema=out_schema
            )

    return pages.select("url", "text").mapInArrow(run, MENTIONS_SCHEMA_SLIM)


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
