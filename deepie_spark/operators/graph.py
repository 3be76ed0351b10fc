"""Iterative graph analytics over the triple graph (KG stage 7+).

Beyond connected-components canonicalization (operators.cc), a KG
pipeline ranks entities by link structure — entity salience drives
candidate pruning in linking and downstream triple filtering.  This is
PageRank over the directed (subj → obj) edge set of the materialized
triples.

Plan shape per iteration (the thing that must hold at 10^12 edges):
one shuffle hash join edges⋈ranks on ``src`` (ranks is node-sized) and
one shuffle aggregation on ``dst`` with map-side partial sums; the node
count rides the plan as a broadcast 1-row aggregate (no driver-side
count action).  ``localCheckpoint`` after each iteration truncates the
lineage exactly like the CC rounds (operators/cc.py) — without it the
plan doubles per iteration.  Head entities concentrate in-degree; the
``dst`` aggregation's map-side combine absorbs that skew (same argument
as the CC min pre-agg).

Semantics: the classic damped update
``pr' = (1−d)/N + d · Σ_{src→dst} pr(src)/outdeg(src)`` over DISTINCT
edges, without dangling-mass redistribution (dangling nodes keep only
the teleport term) — the variant is pinned by the DuckDB oracle and the
numpy power-iteration twin in tests.

Undirected operators share three primitives and never re-derive them:
``_sym_edges`` (the distinct both-direction edge set, no self-loops,
checkpointed), ``_degrees`` (its ``(node, deg)`` table) and
``_triangles`` (the degree-ordered orientation and the triangle
listing).  ``_triangles`` orients each edge from the lower (deg, node)
rank to the higher, which caps every out-degree at ⌊√(2m)⌋ under any
head-entity skew (Cohen's bound), and lists each triangle once at its
lowest-rank apex; the triangle, clique, truss, motif and embeddedness
operators extend that listing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from deepie_spark.functions.text import char_poly_hash_str


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank after ``iterations`` synchronous updates; returns
    (node, pagerank) rounded to 6 decimals (cross-engine
    summation-order tolerance).

    With ``seeds`` (a bounded 1-column ``node`` DataFrame — e.g. the
    entities a query links to), this is PERSONALIZED PageRank: the
    start vector and the teleport both concentrate on the seed set
    (indicator / |seeds| would be the normalized variant; this uses
    the 1.0-per-seed indicator, pinned by the oracle), so mass decays
    with hop distance from the seeds — the standard relevance ranking
    for entity-linking context.  The seed indicator rides the plan as
    one broadcast join onto the node table (seeds are bounded, the
    catalog-broadcast argument); everything else is the same
    join+agg loop."""
    # checkpoint the edge set ONCE: every iteration joins against it
    # (and against nodes/outdeg, derived from it) — without this the
    # whole upstream pipeline that produced the edges would re-execute
    # per iteration and per consumer (same entry pattern as
    # connected_components, operators/cc.py)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n1 = nodes.agg(F.count("*").cast("double").alias("n"))
    outdeg = e.groupBy("src").agg(F.count("*").cast("double").alias("od"))
    if seeds is None:
        # teleport = tele / n as ONE division (bit-pinned by the
        # oracle — tele * (1/n) would differ in the last ulp)
        base = nodes.crossJoin(F.broadcast(n1)).select(
            "node",
            (F.lit(1.0) / F.col("n")).alias("p0"),
            (F.lit(1.0 - damping) / F.col("n")).alias("t"),
        )
    else:
        ind = F.coalesce(F.col("i"), F.lit(0.0))
        base = nodes.join(
            F.broadcast(seeds.select("node", F.lit(1.0).alias("i"))),
            "node",
            "left",
        ).select(
            "node",
            ind.alias("p0"),
            (F.lit(1.0 - damping) * ind).alias("t"),
        )
    base = base.localCheckpoint()
    pr = base.select("node", F.col("p0").alias("pr"))
    for _ in range(iterations):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("od")).alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("c"))
        pr = (
            base.join(sums, "node", "left")
            .select(
                "node",
                (
                    F.col("t")
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        # truncate lineage: iteration k+1's plan must not contain k's
        pr = pr.localCheckpoint(eager=True)
    return pr.select("node", F.round("pr", 6).alias("pagerank"))


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the directed
    triple graph: (node, hub, authority) after ``iterations``
    synchronous rounds, each ratio rounded to 6 decimals.

    Engine-portability design: the classic per-step L2 normalization
    would divide by a whole-graph FP sum whose last ulp depends on
    summation order — so the accumulators here stay EXACT INTEGERS
    (h₀ = 1; a ← Σ_in h; h ← Σ_out a) and normalization happens once at
    the end, dividing by the max (an exact long).  Every emitted value
    is a ratio of two exact integers — bit-identical in any engine.
    Growth is bounded by (d_max²)^iterations per value; with longs that
    is safe for the 2-3 iterations HITS needs to rank.

    Plan per half-step: one edges⋈scores join on the incident key + one
    hash agg with map-side combine (head-entity skew absorbed exactly
    as in :func:`pagerank`), lineage truncated by eager
    ``localCheckpoint`` so iteration k+1's plan never contains k's."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    h = nodes.select("node", F.lit(1).cast("long").alias("h"))
    a = None
    for _ in range(iterations):
        a_sum = (
            e.join(
                h.select(F.col("node").alias("src"), F.col("h").alias("hs")),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("hs").alias("v"))
            .select(F.col("dst").alias("node"), "v")
        )
        a = (
            nodes.join(a_sum, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("a"),
            )
            .localCheckpoint(eager=True)
        )
        h_sum = (
            e.join(
                a.select(F.col("node").alias("dst"), F.col("a").alias("ad")),
                "dst",
            )
            .groupBy("src")
            .agg(F.sum("ad").alias("v"))
            .select(F.col("src").alias("node"), "v")
        )
        h = (
            nodes.join(h_sum, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("h"),
            )
            .localCheckpoint(eager=True)
        )
    scores = h.join(a, "node")
    m = scores.agg(
        F.greatest(F.max("h"), F.lit(1)).cast("long").alias("mh"),
        F.greatest(F.max("a"), F.lit(1)).cast("long").alias("ma"),
    )
    return scores.crossJoin(F.broadcast(m)).select(
        "node",
        F.round(
            F.col("h").cast("double") / F.col("mh").cast("double"), 6
        ).alias("hub"),
        F.round(
            F.col("a").cast("double") / F.col("ma").cast("double"), 6
        ).alias("authority"),
    )


def cooccurrence_pmi(
    mentions: DataFrame,
    id_col: str = "entity_id",
    doc_col: str = "doc_id",
    min_pairs: int = 1,
) -> DataFrame:
    """Entity co-occurrence PMI (pointwise mutual information) over
    document-level mention sets — the classic distant-supervision
    association signal for proposing candidate relations between
    catalog entities (cf. reference rnnRE.py's pair generation, which
    this scores globally instead of per-sentence).

    ``pmi(a, b) = ln( P(a,b) / (P(a)·P(b)) )`` with probabilities
    estimated over documents: ``ln(c_ab · N / (c_a · c_b))``.

    Plan shape at 10^12 docs: the distinct (doc, entity) projection and
    both count aggregations are map-side-combinable; the pair join
    shuffles on doc_id (mention fan-out per doc is bounded by the
    catalog, so the per-doc product cannot blow up); the per-entity
    count table is bounded by the entity catalog — the same bounded
    dimension the pipeline already broadcasts as a trie — so the two
    count joins are hinted broadcast.  The log argument is built as one
    exact-integer numerator and denominator converted to double
    (counts << 2^53), so both engines hand libm ln() the identical
    argument; the result rounds to 6 like every gated float.
    """
    de = mentions.select(doc_col, id_col).distinct()
    n_docs = de.agg(F.count_distinct(F.col(doc_col)).alias("n_docs"))
    ca = de.groupBy(id_col).agg(F.count(F.lit(1)).alias("c"))
    a = de.select(F.col(doc_col).alias("doc_id"), F.col(id_col).alias("ent_a"))
    b = de.select(F.col(doc_col).alias("doc_id"), F.col(id_col).alias("ent_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_pairs)
    )
    out = (
        pairs.join(
            F.broadcast(
                ca.select(F.col(id_col).alias("ent_a"), F.col("c").alias("c_a"))
            ),
            "ent_a",
        )
        .join(
            F.broadcast(
                ca.select(F.col(id_col).alias("ent_b"), F.col("c").alias("c_b"))
            ),
            "ent_b",
        )
        .crossJoin(F.broadcast(n_docs))
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab") * F.col("n_docs")).cast("double")
            / (F.col("c_a") * F.col("c_b")).cast("double")
        ),
        6,
    )
    return out.select("ent_a", "ent_b", "c_ab", pmi.alias("pmi"))


def _canonical_edges(
    edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """Distinct undirected edges as (a, b) with a < b, no self-loops."""
    e = edges.select(F.col(src).alias("x"), F.col(dst).alias("y")).filter(
        F.col("x") != F.col("y")
    )
    return e.select(
        F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
    ).distinct()


def _sym_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected graph as (a, b) rows in BOTH directions: distinct,
    no self-loops, checkpointed (every caller joins it more than once).
    ``a < b`` selects the canonical half; ``groupBy("a")`` counts
    degrees."""
    e = _canonical_edges(edges, src, dst)
    return e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()


def _degrees(und: DataFrame) -> DataFrame:
    """``(node, deg)``: rows per ``a`` of a both-direction edge set."""
    return und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def _rank_below(d1, n1, d2, n2):
    """``(d1, n1) < (d2, n2)`` in the (degree, node) total order."""
    return (d1 < d2) | ((d1 == d2) & (n1 < n2))


def _triangles(
    und: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Degree-ordered triangle listing (Cohen's MapReduce algorithm,
    Schank–Wagner forward counting) over a :func:`_sym_edges` set.

    Returns ``(deg, oriented, tri)``:

    - ``deg``: the :func:`_degrees` table;
    - ``oriented``: ``(u, v, du, dv)``, each undirected edge once, from
      the endpoint of lower (deg, node) rank to the higher, with both
      degrees.  A node's out-neighbours all have degree ≥ its
      out-degree k, so k² ≤ 2m: out-degree is at most ⌊√(2m)⌋ under
      any skew, and the wedge stage is Θ(|E|^1.5) total, never the
      Θ(deg²) of a hub's full neighbourhood;
    - ``tri``: ``(u, v, w)``, every triangle exactly once, at its
      lowest-rank apex ``u`` with ``rank(v) < rank(w)``.  ``oriented``
      is checkpointed; ``tri`` is not.
    """
    deg = _degrees(und)
    oriented = (
        und.join(deg.toDF("a", "du"), "a")
        .join(deg.toDF("b", "dv"), "b")
        .filter(_rank_below(F.col("du"), F.col("a"), F.col("dv"), F.col("b")))
        .select(F.col("a").alias("u"), F.col("b").alias("v"), "du", "dv")
        .localCheckpoint()
    )
    wedges = oriented.select("u", "v", "dv").join(
        oriented.select("u", F.col("v").alias("w"), F.col("dv").alias("dw")),
        "u",
    )
    tri = (
        wedges.filter(
            _rank_below(F.col("dv"), F.col("v"), F.col("dw"), F.col("w"))
        )
        .join(
            oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
            ["v", "w"],
            "left_semi",
        )
        .select("u", "v", "w")
    )
    return deg, oriented, tri


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle census of the undirected triple graph: one row
    ``(n_nodes, n_edges, n_wedges, n_triangles, clustering)`` where
    ``clustering`` is the global clustering coefficient
    ``3·triangles / wedges`` (transitivity).  Triangle density is the
    standard KG-health signal for relation-rule quality (spurious
    extraction rules produce star graphs — near-zero transitivity).

    Scale plan (the part that must survive 10^12 edges): the naive
    wedge join is Θ(Σ deg²) — a single head entity of degree 10^6
    yields 10^12 wedge rows.  :func:`_triangles` lists each triangle
    once under the degree-ordered orientation, so the wedge stage is
    Θ(|E|^1.5) under any skew.  All stages are hash joins/aggs on edge
    keys; nothing is collected.

    The count is exact and orientation-independent (each triangle has
    exactly one source-of-two under a total order), so the DuckDB
    oracle can use the simpler a<b<c three-way join.
    """
    deg, oriented, tri = _triangles(_sym_edges(edges, src, dst))
    tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = oriented.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(
            deg.agg(
                F.count(F.lit(1)).alias("n_nodes"),
                # integer DIV keeps the wedge count exact past 2^53
                F.sum(F.expr("deg * (deg - 1) DIV 2")).alias("n_wedges"),
            )
        )
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.lit(3.0)
            * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double"),
            6,
        ).alias("clustering"),
    )


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation over the undirected triple
    graph: ``(entity, deg, n_tri)`` exact longs, the two integers the
    LOCAL clustering coefficient ``2·n_tri / (deg·(deg−1))`` is a
    ratio of (kept undivided so the oracle is hash-exact — the
    closeness_stats convention).  Star-center entities produced by a
    spurious extraction rule show deg ≫ 0 with n_tri = 0; dense alias
    cliques show n_tri ≈ deg·(deg−1)/2 — the per-entity refinement of
    triangle_stats' global transitivity row.

    Scale plan: the :func:`_triangles` listing (wedge stage bounded
    Θ(|E|^1.5) under any skew), each found triangle exploded to its
    three vertices before ONE count agg.  Explode factor is exactly 3 —
    never quadratic.  Isolated-from-triangles nodes still get a row
    via the left join against the degree table (n_tri = 0).
    """
    deg, _, tri = _triangles(_sym_edges(edges, src, dst))
    tri_nodes = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(tri_nodes, "node", "left")
        .select(
            F.col("node").alias("entity"),
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        )
    )


def neighborhood_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    max_degree: int | None = 1000,
) -> DataFrame:
    """Structural-equivalence candidate pairs: Jaccard similarity of
    distinct-neighbor sets for every node pair sharing ≥ ``min_common``
    neighbors.  In the KG this is the coreference signal the
    canonicalization stage (operators/cc.py) consumes — two surface
    forms of one real-world entity link to near-identical neighbor
    sets even when no alias-token edge connects them.

    ``jaccard(a, b) = |N(a) ∩ N(b)| / (|N(a)| + |N(b)| − |N(a) ∩ N(b)|)``
    — all-integer until the final division, so the value is
    engine-portable (one correctly-rounded IEEE divide, then round 6).

    Scale plan: the common-neighbor generator is a self-join on the
    shared neighbor — Θ(deg²) per neighbor node, the same hub blow-up
    as the shingle self-join in dedup — so hub nodes above
    ``max_degree`` are dropped from the WEDGE STAGE ONLY (their edges
    still count toward each endpoint's |N(x)| denominator).  That is
    exactly the stop-shingle guard of ngram_jaccard_pairs
    (operators/dedup.py:164): a neighbor shared by everything carries
    no similarity signal but quadratic cost.  Both aggregations are
    map-side combinable; degree tables are node-sized and join on the
    pair keys un-hinted (AQE decides).
    """
    und = _sym_edges(edges, src, dst)  # (node=a, neighbor=b)
    deg = _degrees(und)
    wed = und.select(F.col("b").alias("n"), F.col("a").alias("m"))
    if max_degree is not None:
        keep = deg.filter(F.col("deg") <= max_degree).select(
            F.col("node").alias("n")
        )
        wed = wed.join(keep, "n")
    p1 = wed.select("n", F.col("m").alias("ent_a"))
    p2 = wed.select("n", F.col("m").alias("ent_b"))
    common = (
        p1.join(p2, "n")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    out = common.join(deg.toDF("ent_a", "deg_a"), "ent_a").join(
        deg.toDF("ent_b", "deg_b"), "ent_b"
    )
    jac = F.col("common") / (
        F.col("deg_a") + F.col("deg_b") - F.col("common")
    )
    return out.select(
        "ent_a",
        "ent_b",
        "common",
        F.col("deg_a"),
        F.col("deg_b"),
        F.round(jac, 6).alias("jaccard"),
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_degree: int | None = 1000,
    scale_bits: int = 40,
) -> DataFrame:
    """Link-prediction scores for NON-ADJACENT node pairs sharing at
    least ``min_common`` neighbors — the classic missing-edge candidate
    set of Liben-Nowell & Kleinberg (2003), the KG-completion signal a
    triple-extraction pipeline ranks before human review or negative
    sampling (operators/negatives.py picks its corruptions from the
    complement of exactly this candidate set's top ranks).

    Per pair (a < b, ``(a,b)`` NOT an edge): ``common`` = |N(a) ∩ N(b)|,
    ``jaccard`` = common / (|N(a)| + |N(b)| − common), and two
    degree-weighted indices accumulated as EXACT FIXED-POINT LONGS so
    the result is bit-identical across engines, partitionings and
    aggregation orders (the entity_hits exact-integer-accumulator
    pattern, NOT pagerank's round-6 FP-sum tolerance):

    - ``aa_fp`` = Σ_z floor(2^scale_bits / ln(deg(z)))  (Adamic-Adar)
    - ``ra_fp`` = Σ_z floor(2^scale_bits / deg(z))      (resource alloc.)

    Each term is a single IEEE divide of exact-integer-valued doubles
    (and one libm ``ln`` of an exact integer — the PMI precedent), so
    both engines floor the same value; the SUM is integer, hence
    order-free.  ``adamic_adar`` = aa_fp / 2^scale_bits (division by a
    power of two — exact) differs from the true Σ 1/ln(deg) by less
    than common · 2^−scale_bits.  A wedge center z has deg(z) ≥ 2 by
    construction (it neighbors both a and b), so ln(deg) > 0.

    Scale plan: identical to neighborhood_jaccard — the wedge stage is
    the Θ(deg²)-per-center self-join, hub-guarded by ``max_degree``
    (degrees keep full counts); the adjacency test is one left_anti
    join on the canonical edge key, NOT a NOT-EXISTS per row.
    """
    und = _sym_edges(edges, src, dst)
    deg = _degrees(und)
    wed = und.select(F.col("b").alias("n"), F.col("a").alias("m"))
    cdeg = deg.toDF("n", "deg_n")
    if max_degree is not None:
        cdeg = cdeg.filter(F.col("deg_n") <= max_degree)
    wed = wed.join(cdeg, "n")
    scale = F.lit(float(1 << scale_bits))
    p1 = wed.select("n", F.col("m").alias("ent_a"), "deg_n")
    p2 = wed.select("n", F.col("m").alias("ent_b"))
    pairs = (
        p1.join(p2, "n")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(
                F.floor(scale / F.log(F.col("deg_n").cast("double")))
            ).cast("long").alias("aa_fp"),
            F.sum(F.floor(scale / F.col("deg_n"))).cast("long").alias(
                "ra_fp"
            ),
        )
        .filter(F.col("common") >= min_common)
    )
    cand = pairs.join(
        und.toDF("ent_a", "ent_b"), ["ent_a", "ent_b"], "left_anti"
    )
    out = cand.join(deg.toDF("ent_a", "deg_a"), "ent_a").join(
        deg.toDF("ent_b", "deg_b"), "ent_b"
    )
    jac = F.col("common") / (
        F.col("deg_a") + F.col("deg_b") - F.col("common")
    )
    return out.select(
        "ent_a",
        "ent_b",
        "common",
        "aa_fp",
        "ra_fp",
        F.round(jac, 6).alias("jaccard"),
        F.round(F.col("aa_fp") / scale, 6).alias("adamic_adar"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded multi-source BFS over the undirected triple graph:
    hop distance from the nearest seed for every node within
    ``max_hops``.  In a KG pipeline this is the neighborhood-expansion
    primitive — "everything within k hops of these entities" drives
    subgraph extraction for linking context and per-entity evidence
    gathering (the graph analog of the reference's sentence-window
    candidate generation, rnnRE.py pair enumeration).

    ``seeds`` is a 1-column DataFrame of start nodes (column ``node``);
    output is (node, hop) with hop = the BFS layer, i.e. the exact
    shortest-path hop count (layers are explored in order, and a node
    is claimed by the FIRST layer that reaches it via the visited-set
    anti join, so later longer paths can never overwrite it).

    Plan shape per round (what must hold at 10^12 edges): one shuffle
    hash join frontier⋈adjacency on the node key, a distinct with
    map-side combine (hub fan-in collapses before the shuffle), and a
    left-anti join against the visited set — frontier-sized, not
    graph-sized, so round k moves O(|layer k|) rows, the frontier
    never re-expands visited hubs, and total work is O(|E reached|).
    ``localCheckpoint`` truncates lineage per round exactly like
    pagerank/cc (without it round k's plan would contain rounds
    0..k−1 and re-execute the upstream edge pipeline per round)."""
    adj = _sym_edges(edges, src, dst)
    dist = seeds.select(
        F.col("node"), F.lit(0).cast("long").alias("hop")
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("hop"))
        )
        # ONE eager checkpoint per round: the new layer materializes
        # inside the union, and the next frontier is a filter OVER the
        # checkpoint (no second job, no lineage growth)
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = dist.filter(F.col("hop") == h).select("node")
    return dist


def degree_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Undirected distinct-neighbor degree distribution of the triple
    graph — the standard KG health metric (hub detection, power-law
    check before choosing skew salts).

    Self-loops are excluded; degree counts DISTINCT neighbors.  Every
    stage is a map-side-combinable hash aggregation; the head-entity
    skew all lands in per-degree counts of size ≤ n_nodes — no join at
    all, so nothing to salt."""
    deg = _degrees(_sym_edges(edges, src, dst))
    return deg.groupBy(F.col("deg").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Batagelj–Zaveršnik
    restated as bulk rounds): repeatedly delete every node of
    undirected distinct-neighbor degree < k until a fixpoint — the
    dense-substructure filter a KG pipeline runs before community or
    motif analysis (peripheral 1-degree entities drown both).

    Per round: one degree agg + one semi-join edge filter (shuffles on
    the node key, map-side combinable) + a bounded 1-row count action
    for the fixpoint test; ``localCheckpoint`` truncates lineage (the
    iterative-DataFrame rule from PageRank/CC).  Rounds are ≤ the
    graph's degeneracy ordering depth — small for power-law KGs (the
    Spark side runs to the TRUE fixpoint; the unrolled-SQL oracle's
    round count is asserted sufficient by the convergence test).

    Output: (entity, degree) for every k-core member, degree counted
    within the core."""
    und = _sym_edges(edges, src, dst)
    n_prev = und.count()
    for _ in range(max_rounds):
        keep = _degrees(und).filter(F.col("deg") >= k).select(
            F.col("node").alias("a")
        )
        und = (
            und.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        n_now = und.count()  # bounded driver action: one long per round
        if n_now == n_prev:
            break
        n_prev = n_now
    return _degrees(und).toDF("entity", "degree")


def link_graph(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Host-level web link graph from raw pages: extract every
    ``href`` (functions/web.py extract_links — codegen regexp), keep
    absolute links, and aggregate (src_host, dst_host, n_links).

    The web-graph construction stage of a crawl pipeline (host-graph
    PageRank/centrality feeds crawl prioritization and spam scoring —
    the Common Crawl host-graph recipe).  Plan: extraction + host
    parsing are in-row, the single shuffle is the final (src, dst)
    hash agg — map-side combinable, and host-level keys are already
    ~6 orders of magnitude coarser than page-level, so the hot-host
    skew that page tables carry is collapsed before the exchange."""
    from deepie_spark.functions.web import extract_links, url_host

    e = pages.select(
        url_host(F.col(url_col)).alias("src_host"),
        F.explode(extract_links(F.col(html_col).cast("string"))).alias(
            "href"
        ),
    ).select("src_host", url_host(F.col("href")).alias("dst_host"))
    return (
        e.filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )


def random_walks(
    edges: DataFrame,
    length: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Hash-deterministic random walks (the DeepWalk/node2vec corpus
    generator, Perozzi et al. 2014) — one walk per start node, next
    hop chosen by a PORTABLE hash instead of an engine RNG:

        next = neighbors(cur)[ H(walk_id ⊕ step) mod outdeg(cur) ]

    with H the repo's BASE/MOD poly hash, so the walk corpus is
    bit-reproducible across engines (DuckDB twin), partitionings, and
    reruns — the property a training pipeline needs for cacheable walk
    corpora (RNG walks can't be oracle-gated or resumed consistently).

    Plan: adjacency is ranked once per source (key-partitioned window —
    distributed), then each step is ONE equi-join of the frontier
    against the ranked adjacency on (cur, chosen-rank) — 1:1, no
    fan-out; walks at dangling nodes simply stop extending (the join
    drops them).  ``length`` joins total; the adjacency is persisted
    across steps.

    Output: (walk, step, node) rows, step 0 = the start node."""
    adj = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    w = W.partitionBy("a")
    ranked = adj.select(
        "a",
        "b",
        (F.row_number().over(w.orderBy("b")) - 1).alias("rk"),
        F.count(F.lit(1)).over(w).alias("deg"),
    ).persist()
    try:
        frontier = ranked.select(F.col("a").alias("walk")).distinct().select(
            "walk", F.lit(0).cast("long").alias("step"),
            F.col("walk").alias("node"),
        )
        out = frontier
        for s in range(1, length + 1):
            pick = F.pmod(
                char_poly_hash_str(
                    F.concat(F.col("walk"), F.lit(f"#{s}"))
                ),
                F.col("deg"),
            )
            frontier = (
                frontier.join(
                    ranked, frontier["node"] == ranked["a"], "inner"
                )
                .filter(F.col("rk") == pick)
                .select(
                    "walk",
                    F.lit(s).cast("long").alias("step"),
                    F.col("b").alias("node"),
                )
            )
            out = out.unionByName(frontier)
        return out.localCheckpoint(eager=True)
    finally:
        ranked.unpersist()


def node2vec_walks(
    edges: DataFrame,
    length: int = 4,
    w_return: int = 1,
    w_common: int = 2,
    w_explore: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Hash-deterministic node2vec walks (Grover & Leskovec 2016) —
    SECOND-order biased walks over the undirected graph: the next hop
    is drawn with weight ``w_return`` for returning to the previous
    node (node2vec's 1/p), ``w_common`` for a common neighbor of prev
    and cur (distance 1), and ``w_explore`` otherwise (1/q).  Integer
    weights instead of FP ratios keep every draw exact; the defaults
    (1, 2, 4) encode p=2, q=0.5 — the outward/DFS-ish regime.

    Determinism: the draw is ``H(walk#step) mod Σw`` against the
    cumulative weight of candidates in sorted order (H = the portable
    BASE/MOD poly hash, the random_walks convention) — the walk
    corpus is bit-reproducible, partition-invariant, and
    oracle-gateable, which RNG walks are not.

    Plan per step: ONE join of the walk frontier (one row per walk)
    against the bidirectional adjacency on the current node, ONE
    broadcast-free left-semi-style flag join marking common neighbors
    (prev, cand) ∈ E, then a per-walk in-row sorted fold (bounded by
    max degree — the WL-neighborhood bound) picking the hop.  Walks
    start at every node; step 0 is the start node.
    Output: ``(walk, step, node)``.
    """
    from deepie_spark.functions.text import char_poly_hash_str

    bidi = _sym_edges(edges, src, dst)
    deg = _degrees(bidi).toDF("a", "deg")
    wnd = W.partitionBy("a").orderBy("b")
    ranked = bidi.select(
        "a", "b", (F.row_number().over(wnd) - 1).alias("rk")
    ).join(deg, "a").localCheckpoint()
    # step 1: first-order uniform hop (no prev yet), the random_walks rule
    start = ranked.select(F.col("a").alias("walk")).distinct()
    out = start.select(
        "walk", F.lit(0).cast("long").alias("step"),
        F.col("walk").alias("node"),
    )
    pick1 = F.pmod(
        char_poly_hash_str(F.concat(F.col("walk"), F.lit("#1"))),
        F.col("deg"),
    )
    state = (
        start.join(ranked, start["walk"] == ranked["a"])
        .filter(F.col("rk") == pick1)
        .select("walk", F.col("a").alias("prev"), F.col("b").alias("cur"))
        .localCheckpoint(eager=True)
    )
    out = out.unionByName(
        state.select(
            "walk", F.lit(1).cast("long").alias("step"),
            F.col("cur").alias("node"),
        )
    )
    flag = bidi.select(
        F.col("a").alias("prev"), F.col("b").alias("cand"),
        F.lit(1).alias("_common"),
    )
    for s in range(2, int(length) + 1):
        cands = (
            state.join(
                bidi.select(F.col("a").alias("cur"),
                            F.col("b").alias("cand")),
                "cur",
            )
            .join(flag, ["prev", "cand"], "left")
            .select(
                "walk",
                "prev",
                "cur",
                "cand",
                F.when(F.col("cand") == F.col("prev"), F.lit(w_return))
                .when(F.col("_common").isNotNull(), F.lit(w_common))
                .otherwise(F.lit(w_explore))
                .cast("long")
                .alias("w"),
            )
        )
        grouped = cands.groupBy("walk", "prev", "cur").agg(
            F.sort_array(F.collect_list(F.struct("cand", "w"))).alias("cs"),
            F.sum("w").alias("tot"),
        )
        r = F.pmod(
            char_poly_hash_str(F.concat(F.col("walk"), F.lit(f"#{s}"))),
            F.col("tot"),
        )
        chosen = F.aggregate(
            "cs",
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(None).cast("string").alias("pick"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x["w"]).alias("cum"),
                F.when(
                    acc["pick"].isNull() & (acc["cum"] + x["w"] > r),
                    x["cand"],
                )
                .otherwise(acc["pick"])
                .alias("pick"),
            ),
        )["pick"]
        state = grouped.select(
            "walk",
            F.col("cur").alias("prev"),
            chosen.alias("cur"),
        ).localCheckpoint(eager=True)
        out = out.unionByName(
            state.select(
                "walk", F.lit(s).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out.localCheckpoint(eager=True)


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS deterministic label
    propagation (Raghavan et al. 2007, made engine-portable): every
    node starts labeled with its own id; each round every node adopts
    the label most frequent among its neighbors, ties broken by the
    lexicographically SMALLEST label.  The textbook algorithm breaks
    ties randomly and updates asynchronously — neither is reproducible
    across engines, partitionings, or reruns, so this pins both (the
    same determinism trade as ``random_walks``), which is what lets a
    DuckDB twin gate it hash-exactly.  A FIXED round count replaces the
    convergence test: synchronous LPA can 2-cycle on bipartite
    structures, so bounded rounds are the standard cure (and what the
    unrolled oracle needs anyway).

    Plan shape per round (must hold at 10^12 edges): edges ⋈ labels is
    ONE shuffle hash join on the neighbor key; the (node, label) count
    is a map-side-combinable agg; the per-node argmax is ONE
    ``min(struct(-cnt, label))`` agg — no window, no per-node sort, so
    hub nodes cost partial-aggregation, not a single-task sort.
    ``localCheckpoint`` per round truncates lineage (the iterative-
    DataFrame rule from PageRank/CC).  Isolated nodes never appear in
    the edge set and are out of scope by construction.

    Output: (entity, community) for every endpoint of the symmetrized
    distinct edge set."""
    und = _sym_edges(edges, src, dst)
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(rounds):
        counted = (
            und.join(labels, und["b"] == labels["node"], "inner")
            .groupBy("a", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counted.groupBy("a")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("lbl").alias("l")
                    )
                ).alias("best")
            )
            .select(F.col("a").alias("node"), F.col("best.l").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return labels.select(
        F.col("node").alias("entity"), F.col("lbl").alias("community")
    )


def _edge_support(und_c: DataFrame) -> DataFrame:
    """Per-edge triangle support of a canonical (a < b) edge set: each
    :func:`_triangles` triangle (listed once, Θ(|E|^1.5) under skew)
    votes for its three canonical edges, and one count agg with
    map-side combine yields (a, b, sup) for every edge in ≥1
    triangle."""
    _, _, tri = _triangles(_sym_edges(und_c, "a", "b"))

    def edge(x, y):
        return F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))

    votes = tri.select(
        F.explode(
            F.array(edge("u", "v"), edge("u", "w"), edge("v", "w"))
        ).alias("e")
    ).select("e.a", "e.b")
    return votes.groupBy("a", "b").agg(F.count(F.lit(1)).alias("sup"))


def ktruss(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """k-truss decomposition (Cohen 2008) by bulk iterative peeling:
    repeatedly delete every edge whose triangle support within the
    surviving subgraph is < k−2, until a fixpoint.  The truss is the
    EDGE-level strengthening of the k-core (every k-truss is inside
    the (k−1)-core but not vice versa) — the cohesion filter that
    keeps only relation edges embedded in mutually-confirming
    triangles, which is how a KG pipeline separates clique-like
    entity clusters from extraction-noise stars (stars have no
    triangles and no support).

    Per round: one :func:`_edge_support` pass (degree-ordered wedges,
    Θ(|E|^1.5) bound under skew) + one edge filter + a bounded 1-row
    count action for the fixpoint test; ``localCheckpoint`` per round
    truncates lineage (the iterative-DataFrame rule).  Round count is
    bounded by the peeling depth — small for power-law KGs.

    Output: (a, b, support) canonical surviving edges with their
    support recomputed WITHIN the final truss."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    und_c = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    n_prev = und_c.count()
    for _ in range(max_rounds):
        sup = _edge_support(und_c)
        und_c = (
            und_c.join(sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("sup"), F.lit(0)) >= F.lit(k - 2))
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n_now = und_c.count()  # bounded driver action: one long per round
        if n_now == n_prev:
            break
        n_prev = n_now
    sup = _edge_support(und_c)
    return (
        und_c.join(sup, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("sup"), F.lit(0)).cast("long").alias("support"),
        )
    )


def closeness_stats(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact-integer closeness statistics: for every source node, the
    number of nodes reachable within ``max_hops`` undirected hops and
    the sum of their shortest-path hop counts — the two integers every
    closeness/centrality variant (Bavelas, Lin, harmonic) is a ratio
    of.  Emitting the exact longs instead of a pre-divided float keeps
    the result engine-bit-identical (the division belongs to the
    consumer, like quality_scores' ratio convention; harmonic's
    Σ 1/h is gated separately via the fixed-point accumulator in
    ``harmonic_centrality``).

    This is per-source BFS — state O(|seeds| · reach) — so at KG scale
    it runs on a bounded seed set (``seeds``: 1-column ``node`` frame,
    e.g. a sampled or candidate entity list), the same contract as
    ``bfs_hops``; ``seeds=None`` means all nodes (all-pairs — toy
    graphs and bounded subgraphs only, which is what the gated query
    does).  Per round: one frontier⋈adjacency join keyed on the node,
    a distinct with map-side combine, and a (source, node) visited-set
    anti join — exactly the bfs_hops plan with the source id carried
    in the key, plus an empty-frontier early stop (bounded 1-row count
    per round)."""
    dist = _pairwise_hops(edges, seeds, max_hops, src, dst)
    return (
        dist.filter(F.col("hop") > 0)
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("hop").alias("total_hops"),
        )
        .select(F.col("s").alias("entity"), "n_reached", "total_hops")
    )


def _pairwise_hops(
    edges: DataFrame,
    seeds: DataFrame | None,
    max_hops: int,
    src: str,
    dst: str,
) -> DataFrame:
    """Shared per-source BFS of closeness_stats / harmonic_centrality:
    (s, node, hop) exact shortest-hop rows for every source in
    ``seeds`` (None = all nodes) up to ``max_hops``."""
    adj = _sym_edges(edges, src, dst)
    if seeds is None:
        seeds = adj.select(F.col("a").alias("node")).distinct()
    dist = seeds.select(
        F.col("node").alias("s"),
        F.col("node"),
        F.lit(0).cast("long").alias("hop"),
    ).localCheckpoint(eager=True)
    frontier = dist.select("s", "node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select("s", F.col("b").alias("node"))
            .distinct()
            .join(dist, ["s", "node"], "left_anti")
            .select("s", "node", F.lit(h).cast("long").alias("hop"))
        )
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = dist.filter(F.col("hop") == h).select("s", "node")
        if not frontier.take(1):  # bounded action: ≤1 row per round
            break
    return dist


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    scale_bits: int = 40,
) -> DataFrame:
    """Harmonic centrality H(s) = Σ_{t ≠ s reachable} 1/d(s, t) within
    ``max_hops`` (Boldi & Vigna 2014's recommended closeness variant —
    well-defined on disconnected graphs), accumulated as EXACT
    FIXED-POINT LONGS: ``harmonic_fp = Σ floor(2^scale_bits / hop)``
    (the link_prediction accumulator pattern), so the gate needs no
    FP-sum tolerance — each term is one IEEE divide of exact-integer
    doubles, the sum is integer and order-free.  ``harmonic`` =
    harmonic_fp / 2^scale_bits (power-of-two division — exact),
    within n·2^−scale_bits of the true value.

    Same per-source BFS state/plan contract as closeness_stats
    (bounded seed set at KG scale)."""
    dist = _pairwise_hops(edges, seeds, max_hops, src, dst)
    scale = F.lit(float(1 << scale_bits))
    return (
        dist.filter(F.col("hop") > 0)
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum(F.floor(scale / F.col("hop")))
            .cast("long")
            .alias("harmonic_fp"),
        )
        .select(
            F.col("s").alias("entity"),
            "n_reached",
            "harmonic_fp",
            F.round(F.col("harmonic_fp") / scale, 6).alias("harmonic"),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient of the undirected graph
    (Newman 2002): the Pearson correlation of (deg(u), deg(v)) over
    every edge end-pair — do hubs attach to hubs (r > 0, social
    graphs) or to leaves (r < 0, the typical web/KG shape)?  One row
    ``(n_ends, sum_x, sum_xy, sum_xx, r)``.

    Exactness: each edge contributes BOTH orientations, so the x and
    y marginals coincide and every moment is an exact long (the
    quality_correlation rule: Pearson from exact integer moments —
    sqrt is IEEE-exact, so r is engine-bit-identical; rounded to 6).
    Long moments hold to ~3·10⁹ edge-ends × max-degree² under 2⁶³; at
    the 100-TB extreme swap the moment columns to DECIMAL(38) — same
    plan shape.

    Plan: distinct canonical edges → one degree agg → two join-backs
    on the edge endpoints (entity-keyed, well-spread) → ONE global
    agg.  No window, no self-join beyond the degree lookups.
    """
    bidi = _sym_edges(edges, src, dst)
    deg = _degrees(bidi)
    ends = bidi.join(deg.toDF("a", "x"), "a").join(deg.toDF("b", "y"), "b")
    m = ends.agg(
        F.count(F.lit(1)).cast("long").alias("n_ends"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_xx"),
    )
    num = (F.col("n_ends") * F.col("sum_xy")
           - F.col("sum_x") * F.col("sum_x"))
    den = (F.col("n_ends") * F.col("sum_xx")
           - F.col("sum_x") * F.col("sum_x"))
    r = F.when(
        den > 0,
        F.round(num.cast("double") / den.cast("double"), 6),
    )
    return m.select("n_ends", "sum_x", "sum_xy", "sum_xx", r.alias("r"))


def maximal_independent_set(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Deterministic maximal independent set via hash-priority Luby
    rounds (Luby 1986): each round selects every active node whose
    (portable poly-hash, id) priority beats all its active neighbors',
    then removes the selected nodes and their neighborhoods.  The MIS
    is the distributed building block for graph coloring, landmark
    selection, and conflict-free parallel scheduling over the KG.

    Determinism (what makes it oracle-gateable): the priority is the
    repo's portable char poly hash (functions.text BASE/MOD — DuckDB
    reproduces it), ties break on the node id, and rounds are
    synchronous — no RNG, no partition-order dependence.  Every round
    selects at least the globally-minimum-priority active node, so
    termination is guaranteed in ≤ #nodes rounds and O(log n)
    expected (the hash behaves like Luby's random draw).

    Plan per round: ONE neighbor-priority join (entity-keyed) + ONE
    min-struct agg + two anti-joins, ``localCheckpoint`` to cut
    lineage (the pagerank/CC rule), and one bounded 1-row count
    action.  Returns (entity, mis_round) — the independent set with
    the round each member was claimed in.
    """
    active_e = _sym_edges(edges, src, dst)
    active_n = (
        active_e.select(F.col("a").alias("v"))
        .distinct()
        .select("v", char_poly_hash_str(F.col("v")).alias("p"))
        .localCheckpoint()
    )
    picked: DataFrame | None = None
    for rnd in range(1, int(max_rounds) + 1):
        if active_n.limit(1).count() == 0:
            break
        bidi = active_e.toDF("v", "u")
        nb_min = (
            bidi.join(
                active_n.select(
                    F.col("v").alias("u"), F.col("p").alias("pu")
                ),
                "u",
            )
            .groupBy("v")
            .agg(
                F.min(
                    F.struct(
                        F.col("pu").alias("p"), F.col("u").alias("v")
                    )
                ).alias("mn")
            )
        )
        cand = active_n.join(nb_min, "v", "left")
        sel = cand.filter(
            F.col("mn").isNull()
            | (F.struct(F.col("p"), F.col("v")) < F.col("mn"))
        ).select("v").localCheckpoint()
        sel_out = sel.select(
            F.col("v").alias("entity"), F.lit(rnd).alias("mis_round")
        )
        picked = sel_out if picked is None else picked.unionByName(sel_out)
        removed = (
            sel.unionByName(
                bidi.join(sel, "v", "left_semi").select(
                    F.col("u").alias("v")
                )
            )
            .distinct()
        )
        active_n = active_n.join(removed, "v", "left_anti").localCheckpoint()
        active_e = (
            active_e.join(
                active_n.select(F.col("v").alias("a")), "a", "left_semi"
            )
            .join(active_n.select(F.col("v").alias("b")), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
    if active_n.limit(1).count() != 0:
        raise RuntimeError(
            f"MIS did not converge in {max_rounds} rounds; every round"
            " removes >= 1 node, so raise max_rounds toward the node"
            " count (expected O(log n) rounds)"
        )
    if picked is None:
        schema = "entity string, mis_round int"
        return active_n.sparkSession.createDataFrame([], schema)
    return picked.localCheckpoint()


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_phases: int = 40,
    max_iter: int = 200,
) -> DataFrame:
    """Strongly connected components of the DIRECTED triple graph via
    Trim + forward coloring + backward confirmation — the distributed
    SCC recipe of Orzan 2004 / FW-BW (Fleischer et al. 2000), the one
    used by every BSP graph engine (cc_components covers only the
    undirected case).  KG use: a directed SCC is a set of entities on
    a relation CYCLE (mutual ``partOf``, redirect loops, circular
    ownership) — the canonicalization and cycle-audit unit for
    directed predicates.

    Per outer phase:
      1. **Trim** — repeatedly peel nodes with no in-edges or no
         out-edges in the active subgraph (two anti-joins per round);
         a source/sink can never sit on a cycle, so each is its own
         singleton SCC.  Trimming is what makes real KGs cheap — most
         nodes fall here without any propagation.
      2. **Forward coloring** — propagate the minimum reachable
         ancestor id along edges to a fixpoint (one join + min-agg
         per round); every color class is closed under reachability
         from its root.
      3. **Backward confirmation** — BFS from each root along
         REVERSED edges restricted to the root's color: the nodes
         reached both ways are exactly SCC(root).  All roots run in
         the same joins simultaneously (keyed by root).
    Confirmed SCCs leave the active graph; every phase removes at
    least each color's root, so ≤ n phases terminate (few, in
    practice — trimming plus multi-root phases collapse most graphs
    in 2-3).

    Determinism: ids via min — no RNG, no FP; the result is
    partition-invariant and oracle-gateable (the DuckDB twin computes
    mutual reachability from a recursive transitive closure — a
    completely independent formulation).  Scale notes: every step is
    a key-equi join/agg with ``localCheckpoint`` per round (the
    pagerank/CC rule); change detection uses bounded counts over
    checkpointed frames (at real scale you'd swap these probes for
    accumulators, the plans are identical).  Returns
    ``(entity, scc_id)`` with ``scc_id`` the minimum member id.
    """
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        e0.select(F.col("a").alias("v"))
        .unionByName(e0.select(F.col("b").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    e = e0.localCheckpoint()
    spark = edges.sparkSession
    done: DataFrame | None = None

    def _accum(acc: DataFrame | None, part: DataFrame) -> DataFrame:
        return part if acc is None else acc.unionByName(part)

    for _ in range(int(max_phases)):
        # 1. Trim: sources/sinks (and isolated nodes) are singletons
        while True:
            has_out = e.select(F.col("a").alias("v")).distinct()
            has_in = e.select(F.col("b").alias("v")).distinct()
            trimmed = (
                nodes.join(has_out, "v", "left_anti")
                .unionByName(nodes.join(has_in, "v", "left_anti"))
                .distinct()
                .localCheckpoint()
            )
            if trimmed.limit(1).count() == 0:
                break
            done = _accum(
                done,
                trimmed.select(
                    F.col("v").alias("entity"), F.col("v").alias("scc_id")
                ),
            )
            nodes = nodes.join(trimmed, "v", "left_anti").localCheckpoint()
            e = (
                e.join(nodes.select(F.col("v").alias("a")), "a", "left_semi")
                .join(nodes.select(F.col("v").alias("b")), "b", "left_semi")
                .select("a", "b")
                .localCheckpoint()
            )
        if nodes.limit(1).count() == 0:
            break
        # 2. Forward coloring to fixpoint: c(v) = min id reaching v
        c = nodes.select("v", F.col("v").alias("c")).localCheckpoint()
        for it in range(int(max_iter)):
            msgs = (
                e.join(c.select(F.col("v").alias("a"), "c"), "a")
                .select(F.col("b").alias("v"), "c")
            )
            c2 = (
                c.unionByName(msgs)
                .groupBy("v")
                .agg(F.min("c").alias("c"))
                .localCheckpoint()
            )
            if c2.exceptAll(c).limit(1).count() == 0:
                break
            c = c2
        else:
            raise RuntimeError(
                f"SCC coloring did not converge in {max_iter} rounds"
                " — raise max_iter toward the graph diameter"
            )
        # 3. Backward confirmation within each color, all roots at once
        reached = (
            c.filter(F.col("v") == F.col("c"))
            .select("v", F.col("c").alias("root"))
            .localCheckpoint()
        )
        frontier = reached
        for it in range(int(max_iter)):
            preds = (
                e.join(
                    frontier.select(F.col("v").alias("b"), "root"), "b"
                )
                .select(F.col("a").alias("v"), "root")
                .distinct()
                .join(c, "v")
                .filter(F.col("c") == F.col("root"))
                .select("v", "root")
            )
            frontier = preds.join(
                reached, ["v", "root"], "left_anti"
            ).localCheckpoint()
            if frontier.limit(1).count() == 0:
                break
            reached = reached.unionByName(frontier).localCheckpoint()
        else:
            raise RuntimeError(
                f"SCC backward sweep did not converge in {max_iter}"
                " rounds — raise max_iter toward the graph diameter"
            )
        done = _accum(
            done,
            reached.select(
                F.col("v").alias("entity"), F.col("root").alias("scc_id")
            ),
        )
        nodes = nodes.join(
            reached.select("v"), "v", "left_anti"
        ).localCheckpoint()
        e = (
            e.join(nodes.select(F.col("v").alias("a")), "a", "left_semi")
            .join(nodes.select(F.col("v").alias("b")), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
    if nodes.limit(1).count() != 0:
        raise RuntimeError(
            f"SCC did not finish in {max_phases} phases — every phase"
            " removes each color root, so raise max_phases"
        )
    if done is None:
        return spark.createDataFrame([], "entity string, scc_id string")
    return done.localCheckpoint()


def wl_refinement(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Weisfeiler–Leman (1-WL / color refinement) structural labels
    over the undirected triple graph: ``(entity, wl_label)`` where
    ``wl_label`` after r rounds fingerprints the entity's radius-r
    neighborhood SHAPE.  Two entities get equal labels iff 1-WL
    cannot distinguish their neighborhoods — the standard structural
    signature for graph dedup, role discovery ("is this node a hub, a
    bridge, a leaf of a star?") and graph-isomorphism screening
    (Shervashidze et al. 2011's WL kernel is a histogram of exactly
    these labels).

    Determinism (the oracle-gating requirement): the relabeling hash
    is the portable BASE/MOD poly fold (functions/text.py) over
    ``[own_label] ++ sorted(neighbor multiset)`` — no engine hash, no
    RNG, so the DuckDB twin unrolls the same rounds bit-identically
    (the greedy_coloring/entity_mis oracle convention).  Initial
    label = degree mod M (the unlabeled-graph WL convention).

    Plan: per round ONE neighbor join + ONE groupBy with an in-row
    sorted fold — collect_list is per-NEIGHBORHOOD (bounded by max
    degree, the same bound every WL implementation carries), never
    per-partition; ``localCheckpoint`` per round.
    """
    from deepie_spark.functions.text import BASE, MOD

    bidi = _sym_edges(edges, src, dst)
    lbl = (
        _degrees(bidi)
        .select(
            F.col("node").alias("v"),
            (F.col("deg") % MOD).cast("long").alias("lab"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(int(rounds)):
        msgs = (
            bidi.join(
                lbl.select(F.col("v").alias("b"), F.col("lab").alias("nl")),
                "b",
            )
            .select(F.col("a").alias("v"), "nl")
        )
        nbr = msgs.groupBy("v").agg(
            F.sort_array(F.collect_list("nl")).alias("nls")
        )
        lbl = (
            lbl.join(nbr, "v")
            .select(
                "v",
                F.aggregate(
                    F.concat(F.array(F.col("lab")), F.col("nls")),
                    F.lit(0).cast("long"),
                    lambda acc, x: (acc * BASE + x) % MOD,
                ).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
    return lbl.select(F.col("v").alias("entity"), F.col("lab").alias("wl_label"))


def condensation_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 200,
) -> DataFrame:
    """Topological stratification of the directed triple graph: SCC-
    contract (``strongly_connected_components``) and assign every
    condensation component its LONGEST-path-from-a-source level — the
    standard DAG layering (Coffman–Graham / ASAP scheduling level).
    KG use: a dependency ordering over cyclic relation data —
    ``layer`` orders ontology strata / ownership chains while the SCC
    step absorbs the cycles that would make a plain toposort
    undefined.  Returns ``(entity, scc_id, layer)``; layers are exact
    longs, every member of a component shares its component's layer.

    Plan: the condensation edge set (endpoints mapped to scc ids,
    same-component edges dropped, distinct) is built with two hash
    joins and checkpointed once; then Bellman-Ford-style max-plus
    rounds — ``layer(c) = max(layer(c), layer(pred)+1)`` as one join
    + one max-agg per round, ``localCheckpoint`` each — converge in
    exactly DAG-depth rounds (the condensation is acyclic by
    construction, so termination is structural, not assumed).  Same
    bounded-round contract as sssp_weighted; nothing ever collects.
    """
    scc = strongly_connected_components(edges, src=src, dst=dst)
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .join(scc.select(F.col("entity").alias("x"),
                         F.col("scc_id").alias("cs")), "x")
        .join(scc.select(F.col("entity").alias("y"),
                         F.col("scc_id").alias("ct")), "y")
        .filter(F.col("cs") != F.col("ct"))
        .select("cs", "ct")
        .distinct()
        .localCheckpoint()
    )
    lvl = (
        scc.select(F.col("scc_id").alias("c"))
        .distinct()
        .select("c", F.lit(0).cast("long").alias("layer"))
        .localCheckpoint(eager=True)
    )
    for _ in range(int(max_iter)):
        cand = (
            e.join(lvl.select(F.col("c").alias("cs"), "layer"), "cs")
            .select(F.col("ct").alias("c"),
                    (F.col("layer") + 1).alias("layer"))
        )
        nxt = (
            lvl.unionByName(cand)
            .groupBy("c")
            .agg(F.max("layer").alias("layer"))
            .localCheckpoint(eager=True)
        )
        if nxt.exceptAll(lvl).limit(1).count() == 0:
            break
        lvl = nxt
    else:
        raise RuntimeError(
            f"condensation layering did not converge in {max_iter}"
            " rounds — raise max_iter toward the condensation depth"
        )
    return scc.join(
        lvl.select(F.col("c").alias("scc_id"), "layer"), "scc_id"
    ).select("entity", "scc_id", "layer")


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iter: int = 60,
) -> DataFrame:
    """Multi-source single-source-shortest-paths over DIRECTED
    weighted edges — distributed Bellman-Ford (the label-correcting
    BSP formulation every Pregel engine ships): each round relaxes
    every edge out of the current tentative-distance table and keeps
    the per-node minimum.  Converges in ≤ diameter rounds; a round
    with no improvement is the fixpoint.  bfs_hops is the unweighted
    special case; this is the evidence-cost path primitive (weighted
    relation strength, hop-cost neighborhood budgets).

    Weights must be positive integers (``ValueError`` otherwise,
    checked with one bounded agg): exact-long adds make the result
    partition-invariant, engine-portable, and oracle-gateable — no FP
    anywhere.  ``seeds`` is a 1-column ``node`` frame (distance 0).

    Plan per round: ONE node-keyed equi join (tentative table against
    the out-adjacency), one min agg with map-side combine, one
    ``localCheckpoint`` + bounded change probe (``exceptAll`` against
    the prior checkpoint; at real scale swap the probe for an
    accumulator — the plan is identical).  Returns ``(node, dist)``
    for every reached node; unreachable nodes are absent.
    """
    e = edges.select(
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.col(weight).cast("long").alias("w"),
    ).localCheckpoint()
    [mn] = e.agg(F.min("w").alias("mn")).collect()
    if mn.mn is not None and mn.mn <= 0:
        raise ValueError(
            "weights must be positive integers (Bellman-Ford with"
            " nonpositive weights is not a shortest-path fixpoint)"
        )
    dist = seeds.select(
        F.col("node"), F.lit(0).cast("long").alias("dist")
    ).distinct().localCheckpoint()
    for _ in range(int(max_iter)):
        cand = (
            dist.join(e, dist["node"] == e["a"])
            .select(
                F.col("b").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        nd = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        if nd.exceptAll(dist).limit(1).count() == 0:
            return nd
        dist = nd
    raise RuntimeError(
        f"SSSP did not converge in {max_iter} rounds — raise max_iter"
        " toward the graph diameter"
    )


def greedy_coloring(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
) -> DataFrame:
    """Deterministic Jones–Plassmann greedy coloring of the undirected
    triple graph (Jones & Plassmann 1993): a node claims a color once
    every UNCOLORED neighbor has lower priority, taking the smallest
    color unused by its already-colored neighbors (mex).  The result
    is exactly the sequential greedy coloring along ascending
    (poly-hash, id) order — a proper coloring with ≤ maxdeg+1 colors —
    computed in O(log n) expected synchronous rounds.  Coloring is the
    MIS sibling (maximal_independent_set): the conflict-free BATCH
    SCHEDULE — all same-color entities can be updated/merged in one
    parallel wave with no edge inside a wave.

    Same determinism contract as MIS: the priority is the portable
    char poly hash (DuckDB reproduces it), ties break on the id,
    rounds are synchronous; no RNG, no FP, partition-invariant.  The
    mex is an IN-ROW fold over the sorted distinct neighbor-color
    array (smallest k ≥ 0 missing from a sorted set: bump an
    accumulator while it matches) — no per-color join.

    Plan per round: the MIS neighbor-priority join + min-struct agg
    to find ready nodes, ONE join against the colored table for
    neighbor colors, one collect_set agg, two anti-joins;
    ``localCheckpoint`` per round, bounded 1-row probes.  Returns
    ``(entity, color)``.
    """
    bidi_all = _sym_edges(edges, src, dst).toDF("v", "u")
    unc = (
        bidi_all.select("v")
        .distinct()
        .select("v", char_poly_hash_str(F.col("v")).alias("p"))
        .localCheckpoint()
    )
    colored: DataFrame | None = None
    for _ in range(int(max_rounds)):
        if unc.limit(1).count() == 0:
            break
        nb_min = (
            bidi_all.join(
                unc.select(F.col("v").alias("u"), F.col("p").alias("pu")),
                "u",
            )
            .groupBy("v")
            .agg(
                F.min(
                    F.struct(F.col("pu").alias("p"), F.col("u").alias("v"))
                ).alias("mn")
            )
        )
        ready = (
            unc.join(nb_min, "v", "left")
            .filter(
                F.col("mn").isNull()
                | (F.struct(F.col("p"), F.col("v")) < F.col("mn"))
            )
            .select("v")
            .localCheckpoint()
        )
        if colored is None:
            nbc = ready.select(
                "v", F.array().cast("array<int>").alias("used")
            )
        else:
            used = (
                bidi_all.join(ready, "v", "left_semi")
                .join(
                    colored.select(
                        F.col("entity").alias("u"), "color"
                    ),
                    "u",
                )
                .groupBy("v")
                .agg(
                    F.sort_array(F.collect_set("color")).alias("used")
                )
            )
            nbc = ready.join(used, "v", "left").select(
                "v",
                F.coalesce(
                    "used", F.array().cast("array<int>")
                ).alias("used"),
            )
        # mex of a sorted distinct int set: fold, bumping while equal
        newly = nbc.select(
            F.col("v").alias("entity"),
            F.aggregate(
                "used",
                F.lit(0).cast("int"),
                lambda acc, c: F.when(c == acc, acc + 1).otherwise(acc),
            ).alias("color"),
        ).localCheckpoint()
        colored = (
            newly
            if colored is None
            else colored.unionByName(newly).localCheckpoint()
        )
        unc = unc.join(
            newly.select(F.col("entity").alias("v")), "v", "left_anti"
        ).localCheckpoint()
    if unc.limit(1).count() != 0:
        raise RuntimeError(
            f"coloring did not converge in {max_rounds} rounds — the"
            " globally-minimum-priority node is always ready, so"
            " raise max_rounds toward the node count"
        )
    if colored is None:
        return edges.sparkSession.createDataFrame(
            [], "entity string, color int"
        )
    return colored.localCheckpoint()


def minimum_spanning_forest(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_rounds: int = 25,
) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka (1926; the
    MapReduce/BSP MST everyone ships — Lattanzi et al.'s filtering
    paper uses it as the base case): each round every component picks
    its minimum-weight outgoing edge, the picked edges join the
    forest, and touching components contract to one label.  The MSF
    is the single-linkage clustering backbone — cutting its heaviest
    edges yields exactly the single-linkage dendrogram levels over an
    entity-similarity graph.

    Weights must be globally UNIQUE positive longs (checked; ties
    would make the forest ill-defined — callers append a tiebreak
    digit, as q_entity_msf does).  Uniqueness makes the classic
    guarantees deterministic: the per-component argmin is a plain
    ``min(struct(w, a, b))``, and the picked-edge pointer graph
    ``c → partner(c)`` contains only 2-cycles (both endpoints of a
    globally-min cross edge pick it), broken by keeping the smaller
    label as terminal — after which the contraction map is functional
    and acyclic, so component relabeling is EXACTLY
    ``aliases.resolve_aliases`` (pointer doubling, reused verbatim).

    Plan per round: two label joins to orient cross-component edges,
    one min-struct agg per endpoint side, one self-join to detect
    mutual pairs, then the O(log chain) doubling rounds of
    resolve_aliases; O(log n) Borůvka rounds total — components at
    least halve each round.  Returns the forest as ``(a, b, w)``
    with ``a < b``.
    """
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            F.col(weight).cast("long").alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    [chk] = e0.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("w").alias("nw"),
        F.min("w").alias("mn"),
    ).collect()
    if chk.n and (chk.nw != chk.n or chk.mn <= 0):
        raise ValueError(
            "weights must be globally unique positive longs — append"
            " a per-edge tiebreak digit before calling"
        )
    from deepie_spark.operators.aliases import resolve_aliases

    comp = (
        e0.select(F.col("a").alias("v"))
        .unionByName(e0.select(F.col("b").alias("v")))
        .distinct()
        .select("v", F.col("v").alias("c"))
        .localCheckpoint()
    )
    forest: DataFrame | None = None
    for _ in range(int(max_rounds)):
        lab = (
            e0.join(
                comp.select(F.col("v").alias("a"), F.col("c").alias("ca")),
                "a",
            )
            .join(
                comp.select(F.col("v").alias("b"), F.col("c").alias("cb")),
                "b",
            )
        )
        cross = lab.filter(F.col("ca") != F.col("cb")).localCheckpoint()
        if cross.limit(1).count() == 0:
            break
        sides = cross.select(
            F.col("ca").alias("c"),
            F.struct("w", "a", "b", F.col("cb").alias("other")).alias("e"),
        ).unionByName(
            cross.select(
                F.col("cb").alias("c"),
                F.struct(
                    "w", "a", "b", F.col("ca").alias("other")
                ).alias("e"),
            )
        )
        picked = (
            sides.groupBy("c")
            .agg(F.min("e").alias("e"))
            .select(
                "c",
                F.col("e.w").alias("w"),
                F.col("e.a").alias("a"),
                F.col("e.b").alias("b"),
                F.col("e.other").alias("p"),
            )
            .localCheckpoint()
        )
        new_edges = picked.select("a", "b", "w").distinct()
        forest = (
            new_edges
            if forest is None
            else forest.unionByName(new_edges).localCheckpoint()
        )
        # contraction map: c → partner, except the smaller member of a
        # mutual pair (both picked the same globally-min edge), which
        # stays terminal — functional and acyclic by unique weights
        pp = picked.select(
            F.col("c").alias("p"), F.col("p").alias("pp")
        )
        m = (
            picked.join(pp, "p", "left")
            .filter(
                ~((F.col("pp") == F.col("c")) & (F.col("c") < F.col("p")))
            )
            .select(F.col("c").alias("src"), F.col("p").alias("dst"))
        )
        canon = resolve_aliases(m).select(
            F.col("src").alias("c"), F.col("canonical")
        )
        comp = (
            comp.join(canon, "c", "left")
            .select(
                "v", F.coalesce("canonical", F.col("c")).alias("c")
            )
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"Borůvka did not converge in {max_rounds} rounds —"
            " components at least halve per round, so raise"
            " max_rounds toward log2(n_nodes)"
        )
    if forest is None:
        return edges.sparkSession.createDataFrame(
            [], "a string, b string, w long"
        )
    return forest.distinct().localCheckpoint()


def _sigma_paths(
    edges: DataFrame,
    seeds: DataFrame | None,
    max_hops: int,
    src: str,
    dst: str,
) -> DataFrame:
    """Shared per-source BFS WITH path counting (stress_centrality /
    betweenness_centrality): (s, node, hop, sig) rows — hop the
    shortest distance, sig = σ(s, node) the exact-long number of
    shortest paths."""
    adj = _sym_edges(edges, src, dst)
    if seeds is None:
        seeds = adj.select(F.col("a").alias("node")).distinct()
    paths = seeds.select(
        F.col("node").alias("s"),
        F.col("node"),
        F.lit(0).cast("long").alias("hop"),
        F.lit(1).cast("long").alias("sig"),
    ).localCheckpoint(eager=True)
    frontier = paths.select("s", "node", "sig")
    for h in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .groupBy("s", F.col("b").alias("node"))
            .agg(F.sum("sig").alias("sig"))
            .join(paths, ["s", "node"], "left_anti")
            .select(
                "s", "node", F.lit(h).cast("long").alias("hop"), "sig"
            )
        )
        paths = paths.unionByName(nxt).localCheckpoint(eager=True)
        frontier = paths.filter(F.col("hop") == h).select(
            "s", "node", "sig"
        )
        if not frontier.take(1):
            break
    return paths


def stress_centrality(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact-integer stress centrality (Shimbel 1953) over the
    undirected triple graph: ``stress(v)`` = the number of shortest
    paths, over all ORDERED (source, target) pairs within
    ``max_hops``, that pass through ``v`` as an interior node.  The
    integer sibling of betweenness (Brandes 2001): betweenness
    divides each term by σ_st, stress does not — which keeps every
    quantity an exact long, engine-bit-identical, and oracle-gateable
    (no FP anywhere; an undirected pair is counted twice, once per
    direction — halve downstream if the unordered convention is
    wanted).  The KG reading: high-stress entities are the evidence
    bottlenecks every relation chain routes through.

    Phase 1 extends closeness_stats' per-source BFS with path
    COUNTING: σ(s, u) at layer h = Σ σ(s, w) over the layer-(h−1)
    predecessors — one frontier⋈adjacency join + one (s, u) sum agg +
    the visited anti-join per round, ``localCheckpoint`` each round.
    Phase 2 is the combination identity — v lies on a shortest s→t
    path iff d(s,v) + d(v,t) = d(s,t), contributing σ_sv·σ_vt — two
    keyed equi-joins (on v, then on (s, t)) and one sum agg; no
    window, no cartesian.  Like closeness, per-source state means a
    bounded ``seeds`` set at web scale (``None`` = all-pairs, for toy
    graphs and bounded subgraphs); Brandes' dependency accumulation
    is the all-pairs web-scale path and trades the exact-integer
    contract away.  Nodes no shortest path routes through are absent
    (stress 0).  Returns ``(entity, stress)``.
    """
    p = _sigma_paths(edges, seeds, max_hops, src, dst).filter(
        F.col("hop") > 0
    )
    p1 = p.select(
        "s",
        F.col("node").alias("v"),
        F.col("hop").alias("d1"),
        F.col("sig").alias("g1"),
    )
    p2 = p.select(
        F.col("s").alias("v"),
        F.col("node").alias("t"),
        F.col("hop").alias("d2"),
        F.col("sig").alias("g2"),
    )
    p3 = p.select(
        "s",
        F.col("node").alias("t"),
        F.col("hop").alias("d"),
    )
    return (
        p1.join(p2, "v")
        .filter(F.col("s") != F.col("t"))
        .join(p3, ["s", "t"])
        .filter(F.col("d1") + F.col("d2") == F.col("d"))
        .groupBy("v")
        .agg(F.sum(F.col("g1") * F.col("g2")).cast("long").alias("stress"))
        .select(F.col("v").alias("entity"), "stress")
    )


def eccentricity_stats(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node eccentricity over the undirected triple graph:
    ``ecc(v)`` = the hop distance to v's FARTHEST reachable node
    within ``max_hops`` (plus the reach count, so a truncated radius
    is distinguishable from a true one).  min(ecc) over the output is
    the graph radius, max(ecc) the diameter — the standard KG
    compactness row next to degree_histogram and closeness_stats.
    Exact longs only.

    The per-source BFS is :func:`_pairwise_hops` (closeness_stats'
    plan and bounded-``seeds`` contract); the only delta is the final
    agg taking max(hop) beside the count.  Kept separate from
    closeness_stats because that query's gated output schema is frozen.
    Returns ``(entity, ecc, n_reached)``; isolated seeds (nothing
    reached) are absent.
    """
    dist = _pairwise_hops(edges, seeds, int(max_hops), src, dst)
    return (
        dist.filter(F.col("hop") > 0)
        .groupBy("s")
        .agg(
            F.max("hop").alias("ecc"),
            F.count(F.lit(1)).alias("n_reached"),
        )
        .select(F.col("s").alias("entity"), "ecc", "n_reached")
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "entity",
    label_col: str = "community",
) -> DataFrame:
    """Newman modularity Q of a node partition over the undirected
    distinct edge set — the standard community-quality score
    (Newman & Girvan 2004), here in the EXACT-INTEGER form

        Q = q_num / q_den,  q_num = Σ_c (4m·L_c − D_c²),  q_den = 4m²

    (m = edge count, L_c = intra-community edges, D_c = total degree
    of community c; algebraically identical to Σ e_cc/m − (D_c/2m)²).
    Every accumulator is an exact long (overflow bound: D_c ≤ 2m, so
    q_den ≤ 4m² must fit int64 — m < ~1.5·10⁹; beyond that shift to
    the per-community fraction form), so the single output row is
    engine-portable with ONE final IEEE divide.

    Plan: one degree agg, two label join-backs on the node key, two
    community-keyed aggs, one 1-row full-outer combine — no window,
    no driver collect.
    """
    und = _sym_edges(edges, src, dst)
    e = und.filter(F.col("a") < F.col("b"))
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("c")
    )
    m1 = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = lab.select(F.col("node").alias("a"), F.col("c").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("c").alias("cb"))
    intra = (
        e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("l_c"))
    )
    d_c = (
        _degrees(und).join(lab, "node")
        .groupBy("c")
        .agg(F.sum("deg").cast("long").alias("d_c"))
    )
    per_c = d_c.join(intra, "c", "left").select(
        "c",
        F.coalesce(F.col("l_c"), F.lit(0)).cast("long").alias("l_c"),
        "d_c",
    )
    comb = per_c.crossJoin(F.broadcast(m1)).agg(
        F.sum(
            F.lit(4) * F.col("m") * F.col("l_c")
            - F.col("d_c") * F.col("d_c")
        )
        .cast("long")
        .alias("q_num"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
    )
    return comb.crossJoin(F.broadcast(m1)).select(
        "n_communities",
        F.col("m").alias("n_edges"),
        "q_num",
        (F.lit(4) * F.col("m") * F.col("m")).cast("long").alias("q_den"),
        F.round(
            F.col("q_num") / (F.lit(4) * F.col("m") * F.col("m")), 6
        ).alias("modularity"),
    )


def attribute_assortativity(
    edges: DataFrame,
    attrs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    attr_col: str = "attr",
) -> DataFrame:
    """Newman attribute (categorical) assortativity coefficient — do
    edges connect like-typed nodes (PER–PER) or cross types (PER–ORG)?
    The mixing-matrix form (Newman 2003, eq. 2) in EXACT integers over
    the symmetrized distinct edge set (each undirected edge counted in
    both orientations, so marginals are symmetric):

        r = (M·Tr − Σ_i R_i·C_i) / (M² − Σ_i R_i·C_i)

    with M ordered typed edge-ends, Tr = Σ same-type ordered pairs,
    R/C the row/column sums per type (equal by symmetry).  Numerator
    and denominator are exact longs; one IEEE divide.  r = 1 is
    perfect mixing by type, r < 0 disassortative (the KG shape —
    relations connect DIFFERENT types by construction, so the gated
    query expects strongly negative r).  Edges whose endpoint lacks an
    attribute row are dropped (inner joins) — counted in n_dropped.
    """
    und = _sym_edges(edges, src, dst)
    at = attrs.select(
        F.col(node_col).alias("node"), F.col(attr_col).alias("t")
    ).distinct()
    typed = (
        und.join(at.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("t", "ta")
        .join(at.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("t", "tb")
    )
    n_all = und.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    cells = typed.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    row_sums = cells.groupBy("ta").agg(F.sum("n").cast("long").alias("r"))
    col_sums = cells.groupBy("tb").agg(F.sum("n").cast("long").alias("c"))
    rc = row_sums.join(
        col_sums, row_sums["ta"] == col_sums["tb"]
    ).agg(F.sum(F.col("r") * F.col("c")).cast("long").alias("sum_rc"))
    tr = cells.filter(F.col("ta") == F.col("tb")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("trace")
    )
    m = cells.agg(F.sum("n").cast("long").alias("m_ends"))
    out = (
        m.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(rc))
        .crossJoin(F.broadcast(n_all))
    )
    num = F.col("m_ends") * F.col("trace") - F.col("sum_rc")
    den = F.col("m_ends") * F.col("m_ends") - F.col("sum_rc")
    return out.select(
        "m_ends",
        "trace",
        "sum_rc",
        (F.col("n_all") - F.col("m_ends")).cast("long").alias("n_dropped"),
        F.when(den != 0, F.round(num / den, 6)).alias("assortativity"),
    )


def betweenness_centrality(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    scale_bits: int = 40,
) -> DataFrame:
    """Shortest-path betweenness (Freeman 1977) within ``max_hops``,
    gate-able without FP-sum tolerance: each (s, t, v) term
    σ_sv·σ_vt/σ_st is FRACTIONAL, so it is accumulated as the
    fixed-point long ``floor(2^scale_bits · σ_sv·σ_vt / σ_st)`` — the
    term is one identical IEEE expression in both engines (products
    are exact longs; the bound σ_sv·σ_vt ≤ σ_st·σ_max must fit the
    double mantissa for exactness, but DETERMINISM needs only the
    identical op tree), and the SUM is integer, hence order-free.
    ``betweenness`` = bw_fp / 2^scale_bits, within
    #pairs·2^−scale_bits of the exact value.  Ordered (s, t) pairs —
    halve for the undirected convention.

    Same σ-BFS and combination-identity plan as stress_centrality
    (shared ``_sigma_paths``); the same bounded-``seeds`` contract at
    web scale.  Brandes' dependency accumulation remains the
    all-pairs alternative and trades the order-free-gate contract
    away."""
    p = _sigma_paths(edges, seeds, max_hops, src, dst).filter(
        F.col("hop") > 0
    )
    p1 = p.select(
        "s",
        F.col("node").alias("v"),
        F.col("hop").alias("d1"),
        F.col("sig").alias("g1"),
    )
    p2 = p.select(
        F.col("s").alias("v"),
        F.col("node").alias("t"),
        F.col("hop").alias("d2"),
        F.col("sig").alias("g2"),
    )
    p3 = p.select(
        "s",
        F.col("node").alias("t"),
        F.col("hop").alias("d"),
        F.col("sig").alias("g"),
    )
    scale = F.lit(float(1 << scale_bits))
    term = F.floor(
        (F.col("g1") * F.col("g2")).cast("double") * scale / F.col("g")
    )
    return (
        p1.join(p2, "v")
        .filter(F.col("s") != F.col("t"))
        .join(p3, ["s", "t"])
        .filter(F.col("d1") + F.col("d2") == F.col("d"))
        .groupBy("v")
        .agg(F.sum(term).cast("long").alias("bw_fp"))
        .select(
            F.col("v").alias("entity"),
            "bw_fp",
            F.round(F.col("bw_fp") / scale, 6).alias("betweenness"),
        )
    )


def influence_spread(
    edges: DataFrame,
    seeds: DataFrame,
    n_trials: int = 8,
    prob_num: int = 1,
    prob_den: int = 4,
    max_rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Influence-spread estimation under the Independent Cascade model
    (Kempe, Kleinberg & Tardos, KDD 2003): each DIRECTED edge
    activates with probability ``prob_num/prob_den``, and the spread
    of a seed set is the count of nodes reachable through activated
    edges.  The expectation is estimated over ``n_trials``
    "simulations" — but instead of engine RNG, each trial's activated
    edge set is a DETERMINISTIC integer-hash draw
    (``poly(src)·A ⊕-ish mix with trial index, threshold compare`` —
    the poisson_bootstrap_mean rule), so trials are reproducible,
    partition-invariant and oracle-gateable.

    Per trial the plan is bounded-round frontier BFS over the
    PRE-FILTERED activated edge table (one hash filter, no RNG):
    reachability = the entity_bfs shape.  Output: one row per trial
    (trial, n_seeds, n_activated_edges, spread) — exact longs; the
    mean/CI over the ≤n_trials rows belongs to the caller.
    """
    if n_trials < 1:
        raise ValueError("n_trials must be >= 1")
    from deepie_spark.functions.text import char_poly_hash_str

    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .select(
            "a",
            "b",
            (
                (
                    char_poly_hash_str(F.concat_ws("|", "a", "b"))
                    * F.lit(1_315_423_911)
                )
                % F.lit(1_000_000_007)
            ).alias("eh"),
        )
        .localCheckpoint()
    )
    sd = seeds.select(F.col("node")).distinct().localCheckpoint()
    out = None
    for t in range(1, n_trials + 1):
        # trial draw: (eh + t·B) mod p < p·prob — integer threshold
        act = e.filter(
            (F.col("eh") + F.lit(t) * F.lit(2_654_435_761))
            % F.lit(1_000_000_007)
            * prob_den
            < F.lit(1_000_000_007) * prob_num
        ).select("a", "b")
        act = act.localCheckpoint(eager=True)
        n_act = act.count()  # bounded: one long per trial
        reached = sd
        frontier = sd
        for _ in range(max_rounds):
            nxt = (
                frontier.join(act, frontier["node"] == act["a"])
                .select(F.col("b").alias("node"))
                .distinct()
                .join(reached, "node", "left_anti")
                .localCheckpoint(eager=True)
            )
            if not nxt.take(1):
                break
            reached = reached.unionByName(nxt).localCheckpoint(
                eager=True
            )
            frontier = nxt
        row = reached.agg(
            F.count(F.lit(1)).cast("long").alias("spread")
        ).select(
            F.lit(t).alias("trial"),
            F.lit(n_act).cast("long").alias("n_activated_edges"),
            "spread",
        )
        out = row if out is None else out.unionByName(row)
    return out


def pagerank_weighted(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted PageRank: mass flows along each out-edge in proportion
    to its weight — ``pr' = (1−d)/N + d·Σ pr(u)·w(u,v)/W(u)`` with
    W(u) the total out-weight — the host-graph variant where a host
    linking somewhere 50 times should push 50× the mass of a single
    link (unweighted pagerank treats them equally).

    Weights must be positive; they enter as EXACT LONGS so each
    contribution is pr·(w/W) with w/W one int/int IEEE divide (same
    portability class as unweighted's pr/outdeg).  Plan per iteration
    is identical to pagerank: one join on src, one map-side-combined
    sum, localCheckpoint; round-6 output under the same cross-engine
    summation tolerance."""
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint()
    )
    if e.filter(F.col("w") <= 0).take(1):
        raise ValueError("weights must be positive")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n1 = nodes.agg(F.count("*").cast("double").alias("n"))
    outw = e.groupBy("src").agg(F.sum("w").cast("long").alias("tw"))
    base = nodes.crossJoin(F.broadcast(n1)).select(
        "node",
        (F.lit(1.0) / F.col("n")).alias("p0"),
        (F.lit(1.0 - damping) / F.col("n")).alias("t"),
    ).localCheckpoint()
    pr = base.select("node", F.col("p0").alias("pr"))
    for _ in range(iterations):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") * (F.col("w") / F.col("tw"))).alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("c"))
        pr = (
            base.join(sums, "node", "left")
            .select(
                "node",
                (
                    F.col("t")
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.select("node", F.round("pr", 6).alias("pagerank"))


def hop_histogram(
    edges: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distribution of pairwise shortest-hop distances (unordered
    reachable pairs, hop ≥ 1) + the effective-diameter flag: riding
    the shared per-source BFS (_pairwise_hops, the closeness/harmonic
    machinery), count pairs once via s < node.  ``share`` is one IEEE
    divide over exact longs; ``reach90`` marks hops where
    10·cum ≥ 9·total — the PURE-INTEGER effective-diameter-90
    comparison (the itemsets relative-support rule; the effective
    diameter is the smallest flagged hop).  The cumulative sum rides
    a bounded ≤max_hops-row window (the lorenz precedent)."""
    from pyspark.sql import Window as W

    hops = _pairwise_hops(edges, None, max_hops, src, dst)
    h = (
        hops.filter(F.col("s") < F.col("node"))
        .groupBy("hop")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    tot = h.agg(F.sum("n_pairs").cast("long").alias("total"))
    w = W.orderBy("hop").rowsBetween(W.unboundedPreceding, 0)
    c = h.select(
        "hop",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("cum_pairs"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "hop",
            "n_pairs",
            "cum_pairs",
            "total",
            F.round(F.col("cum_pairs") / F.col("total"), 6).alias(
                "share"
            ),
            (F.lit(10) * F.col("cum_pairs") >= F.lit(9) * F.col("total"))
            .alias("reach90"),
        )
        .orderBy("hop")
    )


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_len: int = 3,
) -> DataFrame:
    """Truncated Katz centrality with attenuation β = 1/2 over the
    DISTINCT directed edge set:

        katz(v) = Σ_{k=1..L} (1/2)^k · walks_k(v)

    where walks_k(v) counts directed walks of length k ENDING at v —
    the path-aware prestige measure between degree (L = 1) and
    eigenvector centrality (L → ∞); a truncated β < 1/λ_max Katz is
    the classic KG-entity prominence score that, unlike PageRank,
    rewards being reachable from many entities rather than from few
    heavy ones.

    Engine-portability is the decay_scores rule: β is a POWER OF TWO,
    so the numerator Σ 2^(L−k)·walks_k(v) is an exact-long
    accumulator with fixed denominator 2^L and the final score ONE
    IEEE divide — no FP accumulation anywhere.  walks_k rides k−1
    sparse matvec joins (edge ⨝ prior-count, one hash agg each);
    walk counts are EXACT longs and must satisfy
    Σ_k 2^(L−k)·walks_k < 2⁶³ (walks_3 ≤ |E|·d_max² — shard or lower
    ``max_len`` on graphs beyond; hub-free KG graphs sit far under).

    Returns (node, w1..wL, katz_num, katz) with walks columns exact
    longs, ordered by node.
    """
    if not 1 <= max_len <= 6:
        raise ValueError("max_len must be in [1, 6]")
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).distinct()
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    # walks_1 = in-degree over the simple digraph
    w = e.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("w1")
    )
    walks = [("w1", w)]
    for k in range(2, max_len + 1):
        prev_name, prev = walks[-1]
        nxt = (
            e.join(
                prev.select(
                    F.col("node").alias("u"),
                    F.col(prev_name).alias("pw"),
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("pw").cast("long").alias(f"w{k}"))
        )
        walks.append((f"w{k}", nxt))
    out = nodes
    for name, wdf in walks:
        out = out.join(wdf, "node", "left")
    wcols = [
        F.coalesce(F.col(f"w{k}"), F.lit(0))
        .cast("long")
        .alias(f"w{k}")
        for k in range(1, max_len + 1)
    ]
    out = out.select("node", *wcols)
    num = None
    for k in range(1, max_len + 1):
        term = F.col(f"w{k}") * F.lit(1 << (max_len - k))
        num = term if num is None else num + term
    denom = float(1 << max_len)
    return out.select(
        "node",
        *[f"w{k}" for k in range(1, max_len + 1)],
        num.cast("long").alias("katz_num"),
        F.round(num.cast("long") / F.lit(denom), 6).alias("katz"),
    ).orderBy("node")


def graph_summary(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row global topology profile of the undirected simple graph:
    n nodes, m edges, density 2m/(n(n−1)), max/avg degree, and
    Freeman degree centralization Σ(d_max − d_v) / ((n−1)(n−2)) —
    the star-likeness index (1 = perfect star, 0 = regular) that
    flags an extraction rule collapsing everything onto one hub
    entity.  Every numerator/denominator is an exact long; the three
    ratios are single IEEE divides.  n must satisfy n³ < 2⁶³ (the
    rank-corr bound family)."""
    deg = _degrees(_sym_edges(edges, src, dst))
    a = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("deg").cast("long").alias("deg_sum"),
        F.max("deg").cast("long").alias("max_deg"),
    )
    b = deg.crossJoin(F.broadcast(a.select("max_deg"))).agg(
        F.sum(F.col("max_deg") - F.col("deg"))
        .cast("long")
        .alias("cent_num")
    )
    j = a.crossJoin(F.broadcast(b))
    m = F.col("deg_sum") / F.lit(2)
    n = F.col("n")
    return j.select(
        "n",
        (F.col("deg_sum") / F.lit(2)).cast("long").alias("m"),
        "max_deg",
        F.when(n > 1, F.round(F.col("deg_sum") / (n * (n - 1)), 6))
        .alias("density"),
        F.round(F.col("deg_sum") / n, 6).alias("avg_deg"),
        F.when(
            n > 2,
            F.round(F.col("cent_num") / ((n - 1) * (n - 2)), 6),
        ).alias("centralization"),
    )


def densest_subgraph(
    edges: DataFrame,
    eps_num: int = 1,
    eps_den: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Densest-subgraph extraction by greedy (1+eps)-peeling
    (Charikar's greedy restated as the Bahmani-Kumar-Vassilvitskii
    bulk rounds, a 2(1+eps)-approximation): snapshot the graph, peel
    every node whose degree is <= (1+eps) * average degree, repeat
    until empty, and return the DENSEST snapshot seen — the
    hub-community extractor a KG pipeline runs to find the core
    entity cluster that plain k-core over-prunes (k-core needs a
    fixed k; the density objective |E|/|V| picks its own).

    Every decision is exact-integer so a DuckDB oracle can replay it:
    the peel condition ``deg * n * eps_den <= e_und * (eps_den +
    eps_num)`` (``e_und`` = doubled undirected edge count, so
    (1+eps) * avg_deg needs no division), and the best-snapshot argmax
    compares densities by cross-multiplication ``e_r * n_best >
    e_best * n_r`` with the EARLIEST round winning ties.  Each round
    removes >= eps/(1+eps) of the surviving nodes (the classic
    charging argument), so rounds are O(log_{1+eps} n) — the unrolled
    oracle's round count is asserted sufficient by the convergence
    test.  Per round: one degree agg + two semi-joins + two bounded
    1-row count actions; ``localCheckpoint`` truncates lineage (the
    iterative-DataFrame rule from PageRank/kcore).

    Output: one row per member of the densest snapshot —
    ``(entity, degree, n_nodes, n_edges, density)`` with degree
    counted within the snapshot and density = |E|/|V| rounded to 6.
    """
    und = _sym_edges(edges, src, dst)
    thr = eps_den + eps_num  # peel iff deg * n * eps_den <= e_und * thr
    best = None  # (e_und, n_nodes, und_df) — exact longs
    for _ in range(max_rounds):
        n_nodes = und.select("a").distinct().count()
        if n_nodes == 0:
            break
        e_und = und.count()
        if best is None or e_und * best[1] > best[0] * n_nodes:
            best = (e_und, n_nodes, und)
        keep = _degrees(und).filter(
            F.col("deg") * F.lit(n_nodes) * F.lit(eps_den)
            > F.lit(e_und) * F.lit(thr)
        ).select(F.col("node").alias("a"))
        und = (
            und.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    e_b, n_b, und_b = best
    return _degrees(und_b).select(
        F.col("node").alias("entity"),
        F.col("deg").alias("degree"),
        F.lit(n_b).cast("long").alias("n_nodes"),
        F.lit(e_b // 2).cast("long").alias("n_edges"),
        F.round(
            F.lit(e_b).cast("double") / F.lit(2 * n_b).cast("double"), 6
        ).alias("density"),
    )


def salsa_authority(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """SALSA authority scores (Lempel & Moran, WWW 2000) in their
    CLOSED FORM: the authority-side random walk (dst →shared-hub→ dst)
    is a reversible chain whose stationary weight inside a connected
    authority component C is indeg_i / |E_C|, and SALSA starts uniform
    over authority nodes, giving component mass |A_C|/|A| — so

        a_i = (|A_C| · indeg_i) / (|A| · |E_C|)

    with every factor an EXACT LONG (num/den emitted undivided plus
    one IEEE ratio).  No eigen-iteration at all — the TKC-resistant
    link score for the same money as a connected-components pass.

    Components are computed by min-label propagation on the
    co-citation graph run to the TRUE FIXPOINT (a bounded count
    action per round, the kcore pattern; component label = min host,
    portable to any engine that can min a string).  The co-citation
    wedge stage is Θ(Σ outdeg²) — at web scale apply the standard
    hub-degree guard upstream (the neighbor_jaccard precedent).

    Σ_i a_i = 1 exactly as a sum of rationals — pinned by the pytest
    twin."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("a"))
        .distinct()
        .localCheckpoint()
    )
    co = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.s") == F.col("y.s"))
        .filter(F.col("x.a") != F.col("y.a"))
        .select(F.col("x.a").alias("u"), F.col("y.a").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    lbl = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            co.join(lbl, co["v"] == lbl["node"])
            .select(F.col("u").alias("node"), "component")
        )
        nl = (
            lbl.select("node", "component")
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = nl.join(
            lbl.withColumnRenamed("component", "old"), "node"
        ).filter(F.col("component") != F.col("old"))
        done = not changed.take(1)
        lbl = nl
        if done:
            break
    indeg = e.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("indeg")
    )
    ac = lbl.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("a_c")
    )
    ec = (
        e.join(lbl, e["a"] == lbl["node"])
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    atot = lbl.agg(F.count(F.lit(1)).cast("long").alias("a_tot"))
    return (
        indeg.join(lbl, indeg["a"] == lbl["node"])
        .join(ac, "component")
        .join(ec, "component")
        .crossJoin(F.broadcast(atot))
        .select(
            F.col("a").alias("host"),
            "component",
            "indeg",
            "a_c",
            "e_c",
            "a_tot",
            (F.col("a_c") * F.col("indeg")).cast("long").alias("num"),
            (F.col("a_tot") * F.col("e_c")).cast("long").alias("den"),
            F.round(
                (F.col("a_c") * F.col("indeg"))
                / (F.col("a_tot") * F.col("e_c")),
                6,
            ).alias("authority"),
        )
    )


def simrank_pairs(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    scale_bits: int = 40,
) -> DataFrame:
    """Two SimRank iterations (Jeh & Widom, KDD 2002) with C = 1/4
    over the undirected graph, for the 2-hop candidate pairs (nodes
    sharing ≥1 neighbor) — "two nodes are similar if their neighbors
    are similar", the structural-equivalence score that co-citation
    counts only approximate.

    ENTIRELY integer arithmetic — no IEEE op anywhere:
      s1_fp(a,b) = (common·2^bits) div (4·d_a·d_b)
      s2_fp(a,b) = (Σ_{u∼a, v∼b} s1full_fp(u,v)) div (4·d_a·d_b)
    with s1full the s1 table plus the exact diagonal s(u,u) = 2^bits,
    so both scores are exact longs and the quantization error
    compounds once (|s2 − true| ≤ (1 + 1/4)·2^−bits·d̄²).  C = 1/4 is
    a power of two, so "div 4·d_a·d_b" loses no portability.

    Cost: the s2 stage enumerates neighbor pairs of candidate pairs —
    Θ(Σ_pair d_a·d_b); at web scale apply the standard hub-degree
    guard upstream (neighbor_jaccard precedent) and/or drop
    scale_bits (overflow bound: d_a·d_b·2^bits must fit int64)."""
    adj = _sym_edges(edges, src, dst)
    deg = _degrees(adj).toDF("a", "d")
    one = F.lit(1 << scale_bits).cast("long")
    cand = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.b") == F.col("y.b"))
        .filter(F.col("x.a") < F.col("y.a"))
        .groupBy(F.col("x.a").alias("pa"), F.col("y.a").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    s1 = (
        cand.join(deg.select(F.col("a").alias("pa"), F.col("d").alias("da")), "pa")
        .join(deg.select(F.col("a").alias("pb"), F.col("d").alias("db")), "pb")
        .select(
            "pa",
            "pb",
            "common",
            "da",
            "db",
            F.expr(
                f"(common * {1 << scale_bits}) div (4 * da * db)"
            ).cast("long").alias("s1_fp"),
        )
    )
    s1full = (
        s1.select(F.col("pa").alias("u"), F.col("pb").alias("v"), "s1_fp")
        .unionByName(
            s1.select(F.col("pb").alias("u"), F.col("pa").alias("v"), "s1_fp")
        )
        .unionByName(
            deg.select(
                F.col("a").alias("u"),
                F.col("a").alias("v"),
                one.alias("s1_fp"),
            )
        )
    )
    pairsum = (
        adj.select(F.col("a").alias("pa"), F.col("b").alias("u"))
        .join(s1full, "u")
        .join(
            adj.select(F.col("a").alias("pb"), F.col("b").alias("v")), "v"
        )
        .groupBy("pa", "pb")
        .agg(F.sum("s1_fp").cast("long").alias("sum_fp"))
    )
    return (
        s1.join(pairsum, ["pa", "pb"])
        .select(
            F.col("pa").alias("node_a"),
            F.col("pb").alias("node_b"),
            "common",
            "s1_fp",
            F.expr("sum_fp div (4 * da * db)").cast("long").alias("s2_fp"),
            F.round(
                F.expr("sum_fp div (4 * da * db)")
                / F.lit(float(1 << scale_bits)),
                6,
            ).alias("s2"),
        )
    )


def effective_diameter(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = 8,
    q_num: int = 9,
    q_den: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Effective diameter (Leskovec et al.'s 90th-percentile hop
    distance): the smallest h such that q_num/q_den of all reachable
    (s, t) pairs are within h hops — the robust "how far apart is the
    graph really" number the true diameter (one stray chain) can't
    give.  One row ``(n_pairs, diameter, eff_diameter)``, every value
    an exact long; the quantile test is the cross-multiplied integer
    comparison q_den·cum(h) ≥ q_num·n_pairs (no percentile FP).

    Rides the shared per-source BFS (_pairwise_hops — bounded
    ``seeds`` contract at KG scale); the hop histogram is ≤max_hops
    rows, so the cumulative self-join is bounded."""
    dist = _pairwise_hops(edges, seeds, max_hops, src, dst)
    hist = (
        dist.filter(F.col("hop") > 0)
        .groupBy("hop")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = hist.agg(
        F.sum("cnt").cast("long").alias("n_pairs"),
        F.max("hop").cast("long").alias("diameter"),
    )
    cum = (
        hist.alias("a")
        .join(hist.alias("b"), F.col("b.hop") <= F.col("a.hop"))
        .groupBy(F.col("a.hop").alias("hop"))
        .agg(F.sum("b.cnt").cast("long").alias("cum"))
    )
    eff = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            F.lit(q_den) * F.col("cum") >= F.lit(q_num) * F.col("n_pairs")
        )
        .agg(F.min("hop").cast("long").alias("eff_diameter"))
    )
    return tot.crossJoin(F.broadcast(eff)).select(
        "n_pairs", "diameter", "eff_diameter"
    )


def degree_anonymity(
    edges: DataFrame, k: int = 5, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """k-degree-anonymity audit (Liu & Terzi, SIGMOD 2008): a node is
    k-degree-anonymous when ≥ k−1 OTHERS share its degree — unique
    degree sequences are the classic graph re-identification handle.
    Per-degree class sizes + the global violation share, the graph
    twin of privacy.k_anonymity_audit.  Pure integer counts.

    Plan: degree agg → degree-histogram agg → 1-row broadcast — three
    map-side-combinable aggs, nothing else."""
    deg = _degrees(_sym_edges(edges, src, dst)).toDF("node", "degree")
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("class_n")
    )
    glob = hist.agg(
        F.sum("class_n").cast("long").alias("n_nodes"),
        F.sum(
            F.when(F.col("class_n") < k, F.col("class_n")).otherwise(0)
        )
        .cast("long")
        .alias("n_below_k"),
    )
    return hist.crossJoin(F.broadcast(glob)).select(
        "degree",
        "class_n",
        (F.col("class_n") >= k).alias("is_k_anonymous"),
        "n_nodes",
        "n_below_k",
        F.round(F.col("n_below_k") / F.col("n_nodes"), 6).alias(
            "violation_share"
        ),
    )


def conductance(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "entity",
    label_col: str = "community",
) -> DataFrame:
    """Per-community conductance φ(S) = cut(S) / min(vol(S), 2m−vol(S))
    over the undirected distinct edge set — the cut-quality companion
    to Newman modularity (Kannan, Vempala & Vetta 2004): low φ means
    the community is separated from the rest of the graph, high φ
    flags a label blob the partition should not have produced.

    EXACT integers throughout: vol(S) = Σ_v∈S deg(v), cut(S) = number
    of edges with exactly one endpoint in S (each boundary edge counts
    toward BOTH its communities), m = |edges|; φ is the single final
    IEEE divide, NULL for a community whose denominator is 0 (a
    partition with one community owning all volume).

    Plan: one degree agg, two label join-backs keyed on the node, two
    community-keyed aggs and a 1-row broadcast of m — the modularity
    plan shape, no window, no driver collect.
    """
    und = _sym_edges(edges, src, dst)
    e = und.filter(F.col("a") < F.col("b"))
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("c")
    )
    m1 = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = lab.select(F.col("node").alias("a"), F.col("c").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("c").alias("cb"))
    lbl_edges = e.join(la, "a").join(lb, "b")
    cut = (
        lbl_edges.filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("c"))
        .unionByName(
            lbl_edges.filter(F.col("ca") != F.col("cb")).select(
                F.col("cb").alias("c")
            )
        )
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("cut"))
    )
    vol = (
        _degrees(und).join(lab, "node")
        .groupBy("c")
        .agg(
            F.sum("deg").cast("long").alias("vol"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
    den = F.least(F.col("vol"), F.lit(2) * F.col("m") - F.col("vol"))
    return (
        vol.join(cut, "c", "left")
        .crossJoin(F.broadcast(m1))
        .select(
            F.col("c").alias("community"),
            "n_nodes",
            "vol",
            F.coalesce(F.col("cut"), F.lit(0)).cast("long").alias("cut"),
            den.cast("long").alias("phi_den"),
            F.when(
                den > 0,
                F.round(
                    F.coalesce(F.col("cut"), F.lit(0)) / den, 6
                ),
            ).alias("conductance"),
        )
    )


def bipartite_butterflies(
    df: DataFrame, left_col: str, right_col: str
) -> DataFrame:
    """Butterfly (bipartite 4-cycle) counting per right-side pair
    (Sanei-Mehri, Sariyüce & Tirthapura, KDD 2018): for right nodes
    (r1, r2) sharing c common left neighbors, the pair participates
    in C(c, 2) butterflies — the bipartite clustering primitive
    (users × event types, docs × hosts) that plays the role triangles
    play in unipartite graphs.

    Counts ride DOUBLED as c·(c−1) exact longs (the cluster_agreement
    ARI rule — no division anywhere).  Plan: distinct edges, then the
    per-left SORTED neighbor array expands its C(deg, 2) pairs IN-ROW
    (the frequent_itemsets in-row candidate rule: the lambda's
    collection argument is a plain column, no HOF-CSE re-evaluation)
    and ONE hash agg counts pairs — no edge self-join.  The in-row
    expansion is deg²-per-left, so callers with unbounded left degree
    must side-swap or hub-cap first (the neighbor_jaccard guard);
    here the left side is the bounded one by construction.

    Output: (r1, r2, n_common, butterflies2) with r1 < r2."""
    ed = df.select(
        F.col(left_col).alias("l"), F.col(right_col).alias("r")
    ).distinct()
    arr = ed.groupBy("l").agg(
        F.array_sort(F.collect_list("r")).alias("rs")
    )
    n = F.size("rs")
    pairs = arr.filter(n >= 2).select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("rs"),
                        lambda x, i: F.transform(
                            F.col("rs"),
                            lambda y, j: F.struct(
                                x.alias("r1"),
                                y.alias("r2"),
                                (i < j).alias("keep"),
                            ),
                        ),
                    )
                ),
                lambda s: s["keep"],
            )
        ).alias("p")
    )
    c = pairs.groupBy(
        F.col("p.r1").alias("r1"), F.col("p.r2").alias("r2")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    return c.select(
        "r1",
        "r2",
        "n_common",
        (F.col("n_common") * (F.col("n_common") - 1))
        .cast("long")
        .alias("butterflies2"),
    )


def _reach_fixpoint(
    adj: DataFrame, seeds: DataFrame, max_iter: int = 100
) -> DataFrame:
    """Reachable set from ``seeds`` over the DIRECTED adjacency
    ``adj(a, b)``, iterated to the TRUE fixpoint (frontier empty) —
    the kcore peel-to-fixpoint convention, one frontier⋈adjacency
    join + anti-join per round with eager localCheckpoint (frontier-
    sized work per round, lineage truncated).  Returns 1-column
    (node)."""
    visited = seeds.select("node").distinct().localCheckpoint(eager=True)
    frontier = visited
    for _ in range(max_iter):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            return visited
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    raise RuntimeError("reachability did not converge")


def bowtie_decomposition(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al., WWW
    2000 — THE web-structure map): CORE = the largest SCC, IN = nodes
    reaching CORE, OUT = nodes reached from CORE, TENDRIL = weakly
    but not directionally connected (Broder's tendrils + tubes),
    DISCONNECTED = the rest.  The KG/web-crawl shape audit: a healthy
    crawl has a dominant CORE; a scrape of one seed list shows a
    bloated OUT and empty IN.

    CORE pick is deterministic: (SCC size DESC, max member total-
    degree DESC, scc_id ASC) — the hub tie-break keeps the choice
    meaningful on DAG-like graphs where every SCC is a singleton.
    IN/OUT/CORE are provably disjoint (a node reaching AND reached
    from a maximal SCC belongs to it), so the CASE order is safe.

    Plan: one SCC run (Trim + FW-BW, scale-documented there), three
    reachability fixpoints (forward, backward, undirected — frontier-
    sized rounds, localCheckpoint per round), one broadcast of the
    1-row core id.  Output: (entity, component)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    scc = strongly_connected_components(e, src="a", dst="b")
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    sizes = (
        scc.join(deg, scc["entity"] == deg["node"])
        .groupBy("scc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("deg").cast("long").alias("hub"),
        )
    )
    core_id = (
        sizes.orderBy(F.desc("n"), F.desc("hub"), F.asc("scc_id"))
        .limit(1)
        .select("scc_id")
    )
    core = scc.join(F.broadcast(core_id), "scc_id").select(
        F.col("entity").alias("node")
    ).localCheckpoint(eager=True)
    fw = _reach_fixpoint(e, core).withColumnRenamed("node", "fw")
    # the same edges read backwards: nodes that reach the core
    bw = _reach_fixpoint(e.toDF("b", "a"), core).withColumnRenamed(
        "node", "bw"
    )
    wk = _reach_fixpoint(_sym_edges(e, "a", "b"), core).withColumnRenamed(
        "node", "wk"
    )
    return (
        nodes.join(
            core.select(F.col("node"), F.lit(1).alias("_c")), "node", "left"
        )
        .join(fw, nodes["node"] == fw["fw"], "left")
        .join(bw, nodes["node"] == bw["bw"], "left")
        .join(wk, nodes["node"] == wk["wk"], "left")
        .select(
            F.col("node").alias("entity"),
            F.when(F.col("_c").isNotNull(), F.lit("CORE"))
            .when(F.col("fw").isNotNull(), F.lit("OUT"))
            .when(F.col("bw").isNotNull(), F.lit("IN"))
            .when(F.col("wk").isNotNull(), F.lit("TENDRIL"))
            .otherwise(F.lit("DISCONNECTED"))
            .alias("component"),
        )
    )


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """FULL core decomposition — the coreness (shell index) of every
    node, computed by the h-index fixpoint iteration (Lü, Zhou,
    Zhang & Stanley, Nature Comm. 2016): start from degrees and
    repeatedly replace each node's value with the H-INDEX of its
    neighbors' values; the fixpoint is exactly the k-core number.
    kcore() answers "who survives at THIS k" — coreness answers the
    whole spectrum in one run (the degeneracy layering that orders
    peeling schedules and hub tiers).

    Per round: one value-join onto the undirected adjacency + one
    per-node sorted-array h-index (in-row ``filter`` over the SORTED
    DESC collected values — h = #{i : a[i] ≥ i+1}, valid because the
    predicate holds on a prefix of a descending array) + a changed-
    row count action for the fixpoint (kcore's peel-to-fixpoint
    convention, localCheckpoint per round).  Round count is bounded
    by the convergence depth of the h-operator — O(graph diameter ×
    degeneracy) worst case, a handful on power-law graphs.  The
    collect_list per node is degree-sized: hub rows carry deg(v)
    values in-row — the same bound kcore's degree agg pays per round.

    Output: (entity, coreness) exact longs, isolated-from-edges
    nodes absent (no edges → no core membership)."""
    adj = _sym_edges(edges, src, dst)
    val = _degrees(adj).toDF("node", "v").localCheckpoint(eager=True)
    for _ in range(max_rounds):
        nv = (
            adj.join(val, adj["b"] == val["node"])
            .select(F.col("a").alias("node"), "v")
            .groupBy("node")
            .agg(
                F.sort_array(F.collect_list("v"), asc=False).alias("vs")
            )
            .select(
                "node",
                F.size(
                    F.filter(
                        F.col("vs"), lambda x, i: x >= (i + 1).cast("long")
                    )
                )
                .cast("long")
                .alias("v"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            nv.join(
                val.select(
                    F.col("node"), F.col("v").alias("v_old")
                ),
                "node",
            )
            .filter(F.col("v") != F.col("v_old"))
            .count()
        )
        val = nv
        if changed == 0:
            return val.select(
                F.col("node").alias("entity"),
                F.col("v").alias("coreness"),
            )
    raise RuntimeError("coreness h-index iteration did not converge")


def four_clique_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global 4-clique census — the next motif up from
    triangle_stats, the KG-density signal that separates genuinely
    clustered entity neighbourhoods from mere triangle noise (dense
    extraction-error blobs light up in K₄ long before global
    clustering moves).

    Scale plan: the Chiba–Nishizeki / degree-ordered orientation
    bound.  Each :func:`_triangles` triangle (u, v, w), listed once in
    rank order, joins a fourth vertex x through THREE oriented edges
    (u→x, v→x, w→x), which forces rank(x) above the whole triangle, so
    every clique is enumerated exactly once and no deduplication pass
    is ever needed.  Every stage is an equi-join on node keys; nothing
    is collected.

    The count is orientation-independent, so the DuckDB oracle can
    use the naive a<b<c<d six-edge join.

    Output: one row (n_nodes, n_edges, n_triangles, n_4cliques).
    """
    deg, oriented, tri = _triangles(_sym_edges(edges, src, dst))
    tri = tri.localCheckpoint()
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    ox = oriented.select("u", F.col("v").alias("x"))
    cand = tri.join(ox, "u")
    c1 = cand.join(
        oriented.select(F.col("u").alias("v"), F.col("v").alias("x")),
        ["v", "x"],
        "left_semi",
    )
    c2 = c1.join(
        oriented.select(F.col("u").alias("w"), F.col("v").alias("x")),
        ["w", "x"],
        "left_semi",
    )
    n_k4 = c2.agg(F.count(F.lit(1)).cast("long").alias("n_4cliques"))
    stats = oriented.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    ).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    )
    return (
        stats.crossJoin(F.broadcast(n_tri))
        .crossJoin(F.broadcast(n_k4))
        .select("n_nodes", "n_edges", "n_triangles", "n_4cliques")
    )


def avg_neighbor_degree(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree–neighbor-degree curve k_nn(k) (Pastor-Satorras et al.):
    for each degree class k, the mean over degree-k nodes of the mean
    neighbor degree — the assortativity profile behind the single
    scalar degree_assortativity (rich-club/hub-mixing structure reads
    directly off the curve's slope).

    Exactness: within class k every node's neighbor-degree mean has
    the SAME denominator k, so the class mean collapses to
    Σ_u s_u / (k·n_k) with s_u = Σ_{v∈N(u)} deg(v) — exact longs, one
    divide.  Two joins on node keys + two aggs; no window.

    Output: (deg, n_nodes, sum_nbr_deg, knn) per degree class."""
    und = _sym_edges(edges, src, dst)
    deg = _degrees(und)
    s = und.join(deg.toDF("b", "deg_b"), "b").groupBy(
        F.col("a").alias("node")
    ).agg(F.sum("deg_b").cast("long").alias("s_u"))
    per_node = deg.join(s, "node")
    return (
        per_node.groupBy("deg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("s_u").cast("long").alias("sum_nbr_deg"),
        )
        .select(
            "deg",
            "n_nodes",
            "sum_nbr_deg",
            F.round(
                F.col("sum_nbr_deg").cast("double")
                / (F.col("deg") * F.col("n_nodes")).cast("double"),
                6,
            ).alias("knn"),
        )
    )


def kclique_communities3(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """3-clique percolation communities (Palla et al. 2005, CPM at
    k = 3): two triangles belong to the same community iff they are
    chained by shared EDGES — the overlapping-community model (a
    bridge entity legitimately sits in several communities, which
    disjoint LPA/modularity clustering cannot express).

    Construction: enumerate triangles (:func:`_triangles`,
    Θ(|E|^1.5) under skew), project each onto its three canonical
    edge KEYS, connect the keys pairwise (triangles sharing an edge
    then share a key vertex — the classic reduction of clique
    adjacency to the edge-membership graph for k = 3), and run
    min-label propagation on the key graph to the true fixpoint
    (exceptAll convergence check, ``max_rounds`` backstop ≥
    diameter).  Community label =
    the lexicographically smallest member edge key; vertices inherit
    every community their triangle edges reach — OVERLAPPING rows.

    Output: (community, entity) distinct."""
    _, _, tri = _triangles(_sym_edges(edges, src, dst))

    def key(x, y):
        return F.concat_ws("|", F.least(x, y), F.greatest(x, y))

    k1 = key(F.col("u"), F.col("v"))
    k2 = key(F.col("u"), F.col("w"))
    k3 = key(F.col("v"), F.col("w"))
    shared = (
        tri.select(k1.alias("x"), k2.alias("y"))
        .unionByName(tri.select(k1.alias("x"), k3.alias("y")))
        .unionByName(tri.select(k2.alias("x"), k3.alias("y")))
    )
    sym = _sym_edges(shared, "x", "y").toDF("x", "y")
    labels = (
        sym.select(F.col("x").alias("k"))
        .distinct()
        .withColumn("lbl", F.col("k"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(
                labels.select(F.col("k").alias("y"), "lbl"), "y"
            )
            .groupBy(F.col("x").alias("k"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        nxt = (
            labels.join(nbr_min, "k", "left")
            .select(
                "k",
                F.least(
                    F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        if nxt.exceptAll(labels).isEmpty():
            labels = nxt
            break
        labels = nxt
    parts = labels.select(
        F.col("lbl").alias("community"),
        F.explode(F.split(F.col("k"), "\\|")).alias("entity"),
    ).distinct()
    return parts


def _min_label_cc(
    und: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """(node, component) over a both-direction edge set by
    min-label propagation to the TRUE fixpoint (exceptAll check,
    ``max_rounds`` backstop ≥ diameter) — component = smallest member
    label, deterministic for any orderable node type (the cc.py
    star-contraction twin for non-integer labels)."""
    sym = und.toDF("x", "y")
    labels = (
        sym.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        nbr = (
            sym.join(
                labels.select(
                    F.col("node").alias("y"), "component"
                ),
                "y",
            )
            .groupBy(F.col("x").alias("node"))
            .agg(F.min("component").alias("nbr_c"))
        )
        nxt = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_c", F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        if nxt.exceptAll(labels).isEmpty():
            return nxt
        labels = nxt
    return labels


def attack_robustness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ks: tuple = (0, 1, 2, 4),
) -> DataFrame:
    """Targeted-attack robustness curve (Albert, Jeong & Barabási
    2000): remove the k highest-degree hubs ((deg desc, node)
    deterministic order) and report the surviving giant component —
    the KG-resilience audit that separates hub-and-spoke extraction
    artifacts (GCC collapses at k = 1) from genuinely dense graphs.

    Per leg: filter the both-direction edge set, min-label CC to the true
    fixpoint, one max-size agg.  The hub list is a bounded-k driver
    collect (the rake stoplist rule); gcc_share is against the
    ORIGINAL node count so legs are comparable.

    Output: (k_removed, n_nodes_left, n_edges_left, gcc_size,
    gcc_share)."""
    und = _sym_edges(edges, src, dst)
    deg = _degrees(und)
    n0 = deg.count()
    kmax = max(ks)
    hubs = [
        r.node
        for r in deg.orderBy(F.desc("deg"), "node").limit(kmax).collect()
    ]
    spark = edges.sparkSession
    legs = []
    for k in sorted(ks):
        rm = hubs[:k]
        ek = und.filter(
            ~F.col("a").isin(rm) & ~F.col("b").isin(rm)
        ) if rm else und
        cc = _min_label_cc(ek)
        sizes = cc.groupBy("component").agg(
            F.count(F.lit(1)).cast("long").alias("sz")
        )
        leg = (
            sizes.agg(
                F.count(F.lit(1)).cast("long").alias("n_components"),
                F.sum("sz").cast("long").alias("n_nodes_left"),
                F.max("sz").cast("long").alias("gcc_size"),
            )
            .crossJoin(
                F.broadcast(
                    ek.filter(F.col("a") < F.col("b")).agg(
                        F.count(F.lit(1)).cast("long").alias(
                            "n_edges_left"
                        )
                    )
                )
            )
            .select(
                F.lit(k).cast("long").alias("k_removed"),
                F.coalesce("n_nodes_left", F.lit(0))
                .cast("long")
                .alias("n_nodes_left"),
                "n_edges_left",
                F.coalesce("gcc_size", F.lit(0))
                .cast("long")
                .alias("gcc_size"),
                F.round(
                    F.coalesce("gcc_size", F.lit(0)).cast("double")
                    / F.lit(float(n0)),
                    6,
                ).alias("gcc_share"),
            )
        )
        legs.append(leg)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def motif_census(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Small-subgraph census of the undirected graph — the motif
    signature KG-health profilers compare across extraction runs
    (beside triangle_stats' single transitivity number): one row

        (n_nodes, n_edges, wedges, stars3, triangles, paths3, cycles4)

    with every count an EXACT long:

    - wedges (P₃)   = Σ_v d(d−1) DIV 2          — one degree agg;
    - stars3 (K₁,₃) = Σ_v d(d−1)(d−2) DIV 6     — same agg;
    - triangles     — the :func:`_triangles` listing
      (Θ(|E|^1.5) under skew);
    - paths3 (P₄)   = Σ_{(a,b)∈E}(d_a−1)(d_b−1) − 3·triangles
      — summed over the oriented edges, which carry both degrees, so
      there is no path explosion;
    - cycles4 (C₄)  = (Σ_{u<w} codeg(u,w)·(codeg−1)) DIV 4 — each
      4-cycle is counted exactly twice, once per diagonal pair, and
      the doubled pair sum is divisible by 4 in exact arithmetic.

    The codegree stage generates Θ(Σ d²) wedge rows — fine on the
    rule-triple graph, but at true web scale the C₄ stage is where
    one switches to a Chiba-Nishizeki / butterfly-style degree
    ordering (see bipartite_butterflies) or caps the wedge apex like
    neighborhood_jaccard's hub guard."""
    und = _sym_edges(edges, src, dst)
    deg, oriented, tri = _triangles(und)
    base = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) DIV 2")).cast("long").alias("wedges"),
        F.sum(F.expr("deg * (deg - 1) * (deg - 2) DIV 6"))
        .cast("long")
        .alias("stars3"),
    )
    epairs = oriented.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum((F.col("du") - 1) * (F.col("dv") - 1))
        .cast("long")
        .alias("deg_pair_sum"),
    )
    tri = tri.agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    # C4 via codegrees: all wedges (any apex), endpoint pair p < q
    codeg = (
        und.toDF("n", "p")
        .join(und.toDF("n", "q"), "n")
        .filter(F.col("p") < F.col("q"))
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    c4 = codeg.agg(
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("_cc")
    ).select(F.expr("_cc DIV 4").cast("long").alias("cycles4"))
    return (
        base.crossJoin(F.broadcast(epairs))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(c4))
        .select(
            "n_nodes",
            "n_edges",
            "wedges",
            "stars3",
            "triangles",
            (
                F.col("deg_pair_sum") - F.lit(3) * F.col("triangles")
            ).cast("long").alias("paths3"),
            "cycles4",
        )
    )


def balanced_triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Structural-balance census of a SIGNED version of the triple
    graph (Cartwright–Harary): each undirected edge carries a
    deterministic sign — negative when the portable BASE/MOD poly
    hash of its canonical ``a|b`` endpoint string is odd — and a
    triangle is *balanced* when its sign product is positive (an even
    number of negative edges).  Balance theory's health signal for
    contradiction-heavy KGs: low balance ⇒ antagonistic relation
    cliques.

    Scale plan: the :func:`_triangles` listing (wedge stage
    Θ(|E|^1.5) under skew); the three edge signs are PURE in-row hash
    expressions of the endpoint strings — no sign table is joined, so
    the signed census costs the unsigned census plus a projection.
    The hash is reproducible in ANSI SQL, so the DuckDB oracle signs
    the simpler a<b<c enumeration identically.
    """
    from deepie_spark.functions.text import char_poly_hash_str

    _, oriented, tri = _triangles(_sym_edges(edges, src, dst))

    def neg(x, y):
        pair = F.concat_ws(
            "|", F.least(x, y), F.greatest(x, y)
        )
        return (char_poly_hash_str(pair) % 2).cast("long")

    signed = tri.select(
        (
            neg(F.col("u"), F.col("v"))
            + neg(F.col("u"), F.col("w"))
            + neg(F.col("v"), F.col("w"))
        ).alias("n_neg")
    )
    neg_edges = oriented.select(
        neg(F.col("u"), F.col("v")).alias("ne")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum("ne").cast("long").alias("n_neg_edges"),
    )
    cen = signed.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles"),
        F.sum(F.when(F.col("n_neg") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_balanced"),
    )
    return neg_edges.crossJoin(F.broadcast(cen)).select(
        "n_edges",
        "n_neg_edges",
        "n_triangles",
        "n_balanced",
        (F.col("n_triangles") - F.col("n_balanced"))
        .cast("long")
        .alias("n_unbalanced"),
        F.when(
            F.col("n_triangles") > 0,
            F.round(
                F.col("n_balanced").cast("double")
                / F.col("n_triangles").cast("double"),
                6,
            ),
        ).alias("balance_index"),
    )


def local_clustering_hist(
    edges: DataFrame, src: str = "src", dst: str = "dst", n_bins: int = 10
) -> DataFrame:
    """Histogram of per-node LOCAL clustering coefficients
    lcc(v) = 2·t_v / (d_v·(d_v−1)) over nodes with degree ≥ 2 —
    the per-node refinement of triangle_stats' global transitivity
    (a KG whose global coefficient hides a bimodal local mix —
    cliquey rule clusters + star hubs — shows it here).

    Scale plan: triangles come from :func:`_triangles` (Θ(|E|^1.5)
    bound), then ONE explode charges each triangle to its 3 corners.
    The bin and the fixed-point lcc are INTEGER arithmetic — bin = min(9,
    (2·t·10) div (d(d−1))), fp = (2·t·2²⁰) div (d(d−1)) — so the
    histogram and the order-free per-bin fp sums are exact longs
    (the integer-DIV rule: never float-divide-then-truncate).
    """
    deg, _, tri = _triangles(_sym_edges(edges, src, dst))
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    nodes = deg.filter(F.col("deg") >= 2).join(
        per_node, "node", "left"
    ).select(
        "node",
        "deg",
        F.coalesce("t", F.lit(0)).cast("long").alias("t"),
    )
    binc = F.least(
        F.lit(n_bins - 1).cast("long"),
        F.expr(f"(2 * t * {n_bins}) div (deg * (deg - 1))").cast("long"),
    )
    fp = F.expr("(2 * t * 1048576) div (deg * (deg - 1))").cast("long")
    return (
        nodes.select(
            binc.cast("long").alias("bin"), fp.alias("fp"), "t"
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("fp").cast("long").alias("sum_lcc_fp"),
            F.sum("t").cast("long").alias("sum_tri"),
        )
        .orderBy("bin")
    )


def edge_embeddedness_hist(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Histogram of EDGE EMBEDDEDNESS — the number of common
    neighbors of each edge's endpoints (Granovetter: embeddedness 0
    = a *local bridge*, the tie whose removal lengthens paths; high
    embeddedness = a strongly embedded intra-community tie).  An
    edge's common neighbours are the triangles through it, so its
    :func:`_edge_support` (Θ(|E|^1.5) under skew) is its embeddedness,
    with no neighborhood self-join; edges in no triangle LEFT-join to
    0.  Output: one row per embeddedness level with its edge
    count — level 0's count is the local-bridge census."""
    und = _canonical_edges(edges, src, dst).localCheckpoint()
    per_edge = und.join(_edge_support(und), ["a", "b"], "left").select(
        F.coalesce("sup", F.lit(0)).cast("long").alias("emb")
    )
    return (
        per_edge.groupBy("emb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .orderBy("emb")
    )
