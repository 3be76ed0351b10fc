"""Data-selection operators for LLM corpus curation.

DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"): score
every raw document by how much more likely its hashed-n-gram profile is
under a small TARGET corpus than under the RAW corpus, then resample the
raw pool proportional to the importance weight.  The per-doc statistic
is

    log w(d) = Σ_{g ∈ ngrams(d)} [ ln p_tgt(h(g)) − ln p_raw(h(g)) ]

with n-grams hashed into ``n_buckets`` and add-one smoothing on both
bag-of-hashed-ngrams models.

Scale shape (the whole point of hashing): the feature space is a FIXED
``n_buckets``-row table regardless of corpus size, so

  * two hash aggregations (raw / target bucket counts) with map-side
    combine — output is bounded by n_buckets;
  * the per-doc profile groups by (doc, bucket) — bounded by doc length;
  * the bucket-model join-back is a **broadcast by construction**
    (n_buckets ≤ a few thousand rows — this is the rare case where the
    hint is justified and scale-safe);
  * the per-doc reduction folds buckets in ASCENDING BUCKET ORDER with
    a left fold, never a row-order FP sum — with integer-argument ln()
    on both engines, log-weights are bit-identical in Spark and DuckDB
    (the bm25_topk portability rules, reapplied).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deepie_spark.functions.text import char_poly_hash_str, shingles


def hashed_ngram_buckets(
    tokens: Column, n_buckets: int, k: int = 2
) -> Column:
    """Per-row array of hashed k-gram bucket ids (portable poly hash
    mod n_buckets — reproducible in any engine, unlike xxhash64)."""
    return F.transform(
        shingles(tokens, k),
        lambda s: char_poly_hash_str(s) % n_buckets,
    )


def dsir_log_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 1024,
    k: int = 2,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
) -> DataFrame:
    """(doc_id, n_grams, log_weight): DSIR importance log-weights of
    every document against the target slice defined by ``is_target``.

    ``is_target`` marks the in-domain exemplar docs (they stay in the
    raw model too — raw means the whole pool, as in the paper).
    Smoothed models: p(b) = (cnt_b + 1) / (total + n_buckets).
    """
    g = docs.select(
        F.col(id_col).alias("doc_id"),
        is_target.cast("int").alias("tgt"),
        F.explode(
            hashed_ngram_buckets(F.col(tokens_col), n_buckets, k)
        ).alias("b"),
    )
    # one pass for both models: raw count + target count per bucket
    model = g.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum("tgt").alias("ct"),
    )
    totals = model.agg(
        F.sum("cr").alias("tr_tot"), F.sum("ct").alias("tt_tot")
    )
    per_doc_bucket = g.groupBy("doc_id", "b").agg(
        F.count("*").alias("m")
    )
    j = per_doc_bucket.join(F.broadcast(model), "b").crossJoin(
        F.broadcast(totals)
    )
    # ln of INTEGER arguments only (cnt+1): both engines round the same
    # libm value; the per-doc combine folds in ascending-bucket order.
    term = F.struct(
        F.col("b"),
        (
            F.col("m").cast("double")
            * (
                F.log(F.col("ct").cast("double") + 1.0)
                - F.log(F.col("cr").cast("double") + 1.0)
            )
        ).alias("t"),
        F.col("m"),
    )
    folded = (
        j.groupBy("doc_id", "tt_tot", "tr_tot")
        .agg(F.sort_array(F.collect_list(term)).alias("terms"))
        .select(
            "doc_id",
            F.aggregate(
                F.col("terms"), F.lit(0.0), lambda acc, x: acc + x["t"]
            ).alias("s"),
            F.aggregate(
                F.col("terms"),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x["m"],
            ).alias("n_grams"),
            "tt_tot",
            "tr_tot",
        )
    )
    norm = F.log(
        F.col("tt_tot").cast("double") + float(n_buckets)
    ) - F.log(F.col("tr_tot").cast("double") + float(n_buckets))
    return folded.select(
        "doc_id",
        "n_grams",
        F.round(
            F.col("s") - F.col("n_grams").cast("double") * norm, 6
        ).alias("log_weight"),
    )


def _xlnx(x: Column) -> Column:
    """x·ln(x) with the 0·ln 0 = 0 convention.  Every call site passes
    an exact-integer-valued double, so ln() rounds to the same value
    in Spark and DuckDB (the repo's integer-argument-ln portability
    rule) and the product is one identical IEEE multiply."""
    return F.when(x > 0, x * F.log(x)).otherwise(F.lit(0.0))


def term_keyness(
    occurrences: DataFrame,
    group_col: str = "source",
    token_col: str = "token",
    min_count: int = 3,
) -> DataFrame:
    """Dunning log-likelihood (G², Dunning 1993) keyness of every
    (group, token): how distinctive is the token for that corpus slice
    vs the rest of the corpus — the standard corpus-comparison signal
    for domain profiling and for spotting contaminated / boilerplate
    slices before mixing.

    For each group g and token t the 2×2 contingency table is
    ``a`` = count(t in g), ``b`` = count(t elsewhere),
    ``c`` = other tokens in g, ``d`` = other tokens elsewhere, and

        G² = 2·( Σ xlnx(cell) + xlnx(N) − Σ xlnx(margin) )

    ``enriched`` is TRUE when the token is over-represented in the
    group (a·N > row·col margin product — exact long arithmetic, no
    FP threshold).

    Engine portability: all eight xlnx arguments are exact longs (the
    four cells, N, and the four margins), every ln is
    integer-argument, and the two partial sums fold left-to-right in
    a FIXED written order on both sides — the bm25 rules.  The final
    statistic is rounded to 6 digits.

    Plan: one (group, token) count agg (map-side combine), a
    vocab-sized token-marginal agg joined back WITHOUT a broadcast
    hint (vocab can be huge — the doc_perplexity rule), a
    group-count-sized marginal (broadcast by definition) and a 1-row
    grand total.  No window, no self-join; output is (groups ×
    vocab)-bounded and pre-filtered by ``min_count``.
    """
    gt = occurrences.groupBy(
        F.col(group_col).alias("grp"), F.col(token_col).alias("token")
    ).agg(F.count(F.lit(1)).alias("a"))
    tok_m = gt.groupBy("token").agg(F.sum("a").cast("long").alias("tot_t"))
    grp_m = gt.groupBy("grp").agg(F.sum("a").cast("long").alias("tot_g"))
    n = gt.agg(F.sum("a").cast("long").alias("nn"))

    j = (
        gt.filter(F.col("a") >= F.lit(int(min_count)))
        .join(tok_m, "token")
        .join(F.broadcast(grp_m), "grp")
        .crossJoin(F.broadcast(n))
    )
    a = F.col("a").cast("long")
    b = (F.col("tot_t") - a).alias("b")
    c = (F.col("tot_g") - a).alias("c")
    d = (F.col("nn") - F.col("tot_t") - F.col("tot_g") + a).alias("d")
    j = j.select("grp", "token", a.alias("a"), b, c, d,
                 "tot_t", "tot_g", "nn")

    dbl = lambda name: F.col(name).cast("double")  # noqa: E731
    pos = (
        _xlnx(dbl("a"))
        + _xlnx(dbl("b"))
        + _xlnx(dbl("c"))
        + _xlnx(dbl("d"))
        + _xlnx(dbl("nn"))
    )
    neg = (
        _xlnx(dbl("tot_t"))
        + _xlnx(dbl("tot_g"))
        + _xlnx((F.col("nn") - F.col("tot_g")).cast("double"))
        + _xlnx((F.col("nn") - F.col("tot_t")).cast("double"))
    )
    return j.select(
        F.col("grp").alias(group_col),
        "token",
        "a",
        "b",
        "c",
        "d",
        F.round(F.lit(2.0) * (pos - neg), 6).alias("g2"),
        (F.col("a") * F.col("nn")
         > F.col("tot_t") * F.col("tot_g")).alias("enriched"),
    )


def boilerplate_stats(
    chunks: DataFrame,
    doc_col: str = "doc_id",
    chunk_col: str = "chunk_text",
    min_df: int = 3,
) -> DataFrame:
    """Boilerplate-paragraph rate per document (the CCNet §4.2 signal,
    Wenzek et al. 2020): a chunk that appears in ≥ ``min_df`` distinct
    documents is boilerplate (nav bars, cookie banners, license
    footers); a page that is mostly boilerplate is a removal
    candidate.  Complements paragraph_dedup (the keeper FILTER) and
    dup_ngram_rate (WITHIN-doc repetition): this is the CROSS-doc
    frequency audit.

    Plan: one (chunk → distinct-doc df) hash agg, one un-hinted
    join-back on the chunk text (corpus-sized — AQE picks the
    strategy; the tfidf rule), two per-doc counting aggs.  All counts
    exact longs; the rate divides the same two longs in both engines.
    """
    ch = chunks.select(
        F.col(doc_col).alias("doc_id"), F.col(chunk_col).alias("ct")
    )
    dfc = ch.groupBy("ct").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    j = ch.join(dfc, "ct")
    out = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(
            F.when(F.col("df") >= F.lit(int(min_df)), 1).otherwise(0)
        ).cast("long").alias("n_boiler"),
    )
    return out.select(
        "doc_id",
        "n_chunks",
        "n_boiler",
        F.round(
            F.col("n_boiler").cast("double")
            / F.col("n_chunks").cast("double"),
            6,
        ).alias("boiler_frac"),
    )


def _binned_counts(
    df: DataFrame, group_col: str, value_col: str, n_bins: int, width: int
) -> DataFrame:
    """The fixed-width bin counts :func:`psi_drift` and
    :func:`hellinger_drift` share: one row per group with its bin
    counts ``a0..a{n_bins-1}``, the corpus-wide counts ``t0..``, and the
    group and rest totals ``n_a``/``n_b`` — all exact longs.

    ``bin = min(n_bins−1, value div width)`` by integer DIV: a double
    divide rounds past 2^53 and can put a value one bin high."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    value = "`" + value_col.replace("`", "``") + "`"
    b = df.select(
        F.col(group_col).alias("g"),
        F.least(
            F.lit(n_bins - 1),
            F.expr(f"CAST({value} AS BIGINT) div {int(width)}"),
        ).alias("bin"),
    )
    ct = b.groupBy("g", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    per_g = ct.groupBy("g").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("bin") == i, F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias(f"a{i}")
            for i in range(n_bins)
        ]
    )
    glob = ct.groupBy().agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("bin") == i, F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias(f"t{i}")
            for i in range(n_bins)
        ]
    )
    j = per_g.crossJoin(F.broadcast(glob))
    n_a = F.col("a0")
    n_t = F.col("t0")
    for i in range(1, n_bins):
        n_a = n_a + F.col(f"a{i}")
        n_t = n_t + F.col(f"t{i}")
    return j.withColumn("n_a", n_a.cast("long")).withColumn(
        "n_b", (n_t - n_a).cast("long")
    )


def psi_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 10,
    width: int = 64,
) -> DataFrame:
    """Population Stability Index of each group's ``value_col``
    distribution against the REST of the corpus — the standard
    drift/shift monitor a curation pipeline runs per source (and per
    time slice) before mixing:

        PSI = Σ_i (p_i − q_i) · ln(p_i / q_i)

    over ``n_bins`` fixed-width value bins (``bin = min(n_bins−1,
    value div width)``), with Laplace +1 smoothing so empty bins stay
    finite.  PSI < 0.1 is conventionally "no shift", > 0.25 "major
    shift" (the credit-scoring rule of thumb).

    Engine portability is by construction, not tolerance: all bin
    counts are exact longs; each term's ln argument is ONE division of
    exact-integer products ((a_i+1)(B+k) / (b_i+1)(A+k) — the PMI
    integer-argument rule), each p−q is two exact-int divisions and a
    subtract, and the ``n_bins`` terms are added in FIXED left-to-right
    bin order (the bm25 constant-chain rule) — never an FP SUM over
    rows.  The products must fit int64 (counts up to ~3·10⁹ per side —
    beyond that, swap the ln argument to the two-division form).

    Plan: one (group, bin) count aggregation, one conditional-agg
    pivot per group, one broadcast 1-row global-bin aggregate — no
    joins keyed on data values, no window, map-side combinable
    everywhere.
    """
    j = _binned_counts(df, group_col, value_col, n_bins, width)
    k = F.lit(n_bins)
    psi = None
    for i in range(n_bins):
        a1 = F.col(f"a{i}") + F.lit(1)
        b1 = (F.col(f"t{i}") - F.col(f"a{i}")) + F.lit(1)
        term = (
            a1 / (F.col("n_a") + k) - b1 / (F.col("n_b") + k)
        ) * F.log((a1 * (F.col("n_b") + k)) / (b1 * (F.col("n_a") + k)))
        psi = term if psi is None else psi + term
    return j.select(
        F.col("g").alias(group_col),
        "n_a",
        "n_b",
        F.round(psi, 6).alias("psi"),
    )


def jsd_drift(
    df: DataFrame,
    group_col: str,
    token_col: str,
    scale_bits: int = 30,
) -> DataFrame:
    """Jensen–Shannon divergence of each group's TOKEN distribution
    against the rest of the corpus — the symmetric, bounded (≤ ln 2)
    information-theoretic drift measure beside psi_drift's binned PSI
    (JSD works on the full unbinned vocabulary).

        JSD(p‖q) = ½·Σ p_i·ln(2p_i/(p_i+q_i)) + ½·Σ q_i·ln(2q_i/(p_i+q_i))

    With count tables a_i (group) and b_i (rest), totals A and B:
    2p_i/(p_i+q_i) = 2·a_i·B / (a_i·B + b_i·A) — a single division of
    exact-integer products — so every per-token term is ONE identical
    IEEE expression, and each is accumulated as the FIXED-POINT long
    ``floor(2^scale_bits · term)`` (order-free integer sums — the
    vocabulary is unordered, which rules out the bm25 fixed-chain
    trick and makes this the fixed-point rule's natural home).
    Zero-count sides contribute 0 (the 0·ln 0 convention).  Products
    a_i·B must fit int64 (counts to ~3·10⁹ a side).

    Output per group: exact n_a/n_b totals, the two fixed-point term
    sums, and jsd = (kl_p_fp + kl_q_fp) / 2^(scale_bits+1) rounded —
    the division by a power of two is exact.
    """
    t = df.select(
        F.col(group_col).alias("g"), F.col(token_col).alias("tok")
    )
    ct = t.groupBy("g", "tok").agg(F.count(F.lit(1)).alias("a"))
    gt = t.groupBy("tok").agg(F.count(F.lit(1)).alias("tot"))
    totals = t.groupBy("g").agg(F.count(F.lit(1)).alias("n_a"))
    grand = t.agg(F.count(F.lit(1)).alias("n_all"))
    j = (
        ct.join(gt, "tok")
        .join(totals, "g")
        .crossJoin(F.broadcast(grand))
        .select(
            "g",
            "n_a",
            (F.col("n_all") - F.col("n_a")).alias("n_b"),
            F.col("a"),
            (F.col("tot") - F.col("a")).alias("b"),
        )
    )
    scale = F.lit(float(1 << scale_bits))
    aB = F.col("a") * F.col("n_b")
    bA = F.col("b") * F.col("n_a")
    term_p = (F.col("a") / F.col("n_a")) * F.log(
        (F.lit(2) * aB) / (aB + bA)
    )
    term_q = (F.col("b") / F.col("n_b")) * F.log(
        (F.lit(2) * bA) / (aB + bA)
    )
    kl_p = F.when(F.col("a") > 0, F.floor(term_p * scale)).otherwise(
        F.lit(0)
    )
    kl_q = F.when(F.col("b") > 0, F.floor(term_q * scale)).otherwise(
        F.lit(0)
    )
    out = j.groupBy("g", "n_a", "n_b").agg(
        F.sum(kl_p).cast("long").alias("kl_p_fp"),
        F.sum(kl_q).cast("long").alias("kl_q_fp"),
    )
    # NOTE: tokens the group never uses (a = 0 for this g) have no ct
    # row, contributing 0 to kl_p (correct) but MISSING from kl_q —
    # add the rest-only mass back via the group-absent token table.
    absent = (
        gt.crossJoin(totals.select("g", "n_a"))
        .join(ct.select("g", "tok", "a"), ["g", "tok"], "left_anti")
        .crossJoin(F.broadcast(grand))
        .select(
            "g",
            F.col("tot").alias("b"),
            F.col("n_a"),
            (F.col("n_all") - F.col("n_a")).alias("n_b"),
        )
    )
    # a = 0 ⇒ term_q = (b/B)·ln(2bA/(bA)) = (b/B)·ln(2) exactly
    q_only = absent.groupBy("g").agg(
        F.sum(
            F.floor(
                (F.col("b") / F.col("n_b")) * F.log(F.lit(2.0)) * scale
            )
        )
        .cast("long")
        .alias("kl_q_extra")
    )
    final = out.join(q_only, "g", "left").select(
        F.col("g").alias(group_col),
        "n_a",
        "n_b",
        "kl_p_fp",
        (
            F.col("kl_q_fp")
            + F.coalesce(F.col("kl_q_extra"), F.lit(0))
        )
        .cast("long")
        .alias("kl_q_fp"),
    )
    return final.select(
        group_col,
        "n_a",
        "n_b",
        "kl_p_fp",
        "kl_q_fp",
        F.round(
            (F.col("kl_p_fp") + F.col("kl_q_fp"))
            / F.lit(float(1 << (scale_bits + 1))),
            6,
        ).alias("jsd"),
    )


def weighted_jaccard_sources(
    occ: DataFrame,
    group_col: str = "source",
    token_col: str = "token",
) -> DataFrame:
    """Weighted (multiset) Jaccard similarity between every pair of
    group token-frequency vectors: J_w = Σ_t min(a_t, b_t) /
    Σ_t max(a_t, b_t) (Ioffe 2010's target quantity; the frequency-
    aware upgrade of set overlap that boilerplate inflation can't
    fool).  Pure integer min/max sums — emitted undivided plus one
    IEEE ratio — so the twin is hash-exact.

    The densified pair grid rides a FULL OUTER join per group pair
    expressed as one token-keyed self-join over the (group, token)
    count table plus per-group totals: Σmax = tot_a + tot_b − Σmin −
    Σ over shared of (a+b−min−max is 0)… simpler: Σmax = tot_a +
    tot_b − Σmin (min+max = a+b per token, absent = 0).  So ONE
    inner self-join computing Σmin suffices — no outer join, no
    grid."""
    c = occ.groupBy(
        F.col(group_col).alias("g"), F.col(token_col).alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = c.groupBy("g").agg(F.sum("n").cast("long").alias("tot"))
    a = c.select(F.col("g").alias("ga"), "t", F.col("n").alias("na"))
    b = c.select(F.col("g").alias("gb"), "t", F.col("n").alias("nb"))
    inter = (
        a.join(b, "t")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(
            F.sum(F.least("na", "nb")).cast("long").alias("sum_min")
        )
    )
    return (
        inter.join(tot.select(F.col("g").alias("ga"),
                              F.col("tot").alias("tot_a")), "ga")
        .join(tot.select(F.col("g").alias("gb"),
                         F.col("tot").alias("tot_b")), "gb")
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "sum_min",
            (F.col("tot_a") + F.col("tot_b") - F.col("sum_min"))
            .cast("long")
            .alias("sum_max"),
            F.round(
                F.col("sum_min")
                / (F.col("tot_a") + F.col("tot_b") - F.col("sum_min")),
                6,
            ).alias("weighted_jaccard"),
        )
    )


def token_information_gain(
    docs: DataFrame,
    class_col: str,
    toks_col: str = "toks",
    min_df: int = 5,
    top_k: int = 20,
    scale_bits: int = 20,
) -> DataFrame:
    """Information-gain (mutual-information) token ranking against a
    document class label (Yang & Pedersen, ICML 1997 — THE classic
    feature-selection score for text classifiers): for each token t,

        IG(t) = Σ_c Σ_{s∈{present, absent}}
                   P(s, c) · ln( P(s, c) / (P(s)·P(c)) )

    over the 2 × C presence/class contingency table.  The
    discriminative-vocabulary audit beside term_keyness' pairwise
    log-odds (keyness compares two corpora; IG ranks against ALL
    classes at once).

    Portability is the cluster_agreement MI rule: every ln argument
    is an exact-integer product (n_sc·N and n_s·n_c — N < 3·10⁹
    bound), each cell's term is quantized floor(2^bits · term) so the
    per-token sum is order-free exact longs, and the top-k cut
    orders by the INTEGER mi_fp (ties by token) — fully
    deterministic.  Absent-side cells for classes a token never
    touches carry nonzero mass, so the per-token cell set is a DENSE
    token × class grid (linear in tokens — the class side is the
    bounded one; a broadcast of the C-row class table).

    Plan: one distinct-presence explode + two hash aggs + the grid
    join; top-k via TakeOrderedAndProject on (mi_fp DESC, token).

    Output: (token, n_docs_with, mi_fp, info_gain)."""
    scale = F.lit(float(1 << scale_bits))
    pres = docs.select(
        F.col(class_col).alias("cls"),
        F.explode(F.array_distinct(F.col(toks_col))).alias("token"),
    )
    ntc = pres.groupBy("token", "cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_tc")
    )
    nt = ntc.groupBy("token").agg(
        F.sum("n_tc").cast("long").alias("n_t")
    ).filter(F.col("n_t") >= min_df)
    nc = docs.groupBy(F.col(class_col).alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        nt.crossJoin(F.broadcast(nc))
        .join(ntc, ["token", "cls"], "left")
        .fillna(0, subset=["n_tc"])
        .crossJoin(F.broadcast(nn))
    )

    def _term(count, side_total):
        # (count/N) · (ln(count·N) − ln(side_total·n_c)), quantized
        return F.when(
            count > 0,
            F.floor(
                (count.cast("double") / F.col("n"))
                * (
                    F.log((count * F.col("n")).cast("double"))
                    - F.log((side_total * F.col("n_c")).cast("double"))
                )
                * scale
            ),
        ).otherwise(F.lit(0))

    cell = grid.select(
        "token",
        "n_t",
        (
            _term(F.col("n_tc"), F.col("n_t"))
            + _term(
                F.col("n_c") - F.col("n_tc"),
                F.col("n") - F.col("n_t"),
            )
        ).alias("fp"),
    )
    mi = cell.groupBy("token").agg(
        F.max("n_t").cast("long").alias("n_docs_with"),
        F.sum("fp").cast("long").alias("mi_fp"),
    )
    return (
        mi.orderBy(F.desc("mi_fp"), "token")
        .limit(top_k)
        .select(
            "token",
            "n_docs_with",
            "mi_fp",
            F.round(F.col("mi_fp") / scale, 6).alias("info_gain"),
        )
    )


def burrows_delta(
    toks: DataFrame,
    source_col: str = "source",
    toks_col: str = "toks",
    scale: int = 1 << 20,
) -> DataFrame:
    """Burrows' Delta stylometric distance between every source pair
    (Burrows 2002) — the authorship/provenance fingerprint of a
    web-corpus audit (two "different" feeds with near-zero Delta are
    the same upstream crawler):

        Delta(a, b) = (1/k) Σ_t |z_a(t) − z_b(t)|

    over the corpus vocabulary, with z_s(t) the per-token z-score of
    source s's relative frequency across all sources.

    Portability chain: relative frequencies are pre-quantized longs
    F_st = (c_st · scale) DIV T_s (integer DIV, never
    float-then-truncate); per-token mean/σ come from exact integer
    moments, so z = (S·F − ΣF)/√(S·ΣF² − (ΣF)²) is one identical
    IEEE chain; the per-token |z_a − z_b| is floor-quantized back to
    longs so the per-pair sum is order-free.  Zero-variance tokens
    are excluded from k (integer-guarded on the radicand).

    Plan shape: one explode + count agg, a dense source×token grid
    (vocabulary-bounded), a broadcast per-token stats join-back, and
    a token-keyed pair join — no window, no driver loop.

    Output: (src_a, src_b, k_tokens, delta_fp, delta)."""
    occ = toks.select(
        F.col(source_col).alias("src"),
        F.explode(F.col(toks_col)).alias("token"),
    )
    cnt = occ.groupBy("src", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = occ.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    grid = (
        occ.select("token")
        .distinct()
        .crossJoin(tot)
        .join(cnt, ["src", "token"], "left")
        .select(
            "src",
            "token",
            F.expr(f"coalesce(c, 0) * {scale} DIV t")
            .cast("long")
            .alias("f"),
        )
    )
    st = grid.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("f").cast("long").alias("sf"),
        F.sum(F.col("f") * F.col("f")).cast("long").alias("sff"),
    )
    rad = F.col("s") * F.col("sff") - F.col("sf") * F.col("sf")
    z = (
        (F.col("s") * F.col("f") - F.col("sf")).cast("double")
        / F.sqrt(rad.cast("double"))
    )
    gz = (
        grid.join(F.broadcast(st), "token")
        .filter(rad > 0)
        .select("src", "token", z.alias("z"))
    )
    a = gz.select(
        F.col("src").alias("src_a"), "token", F.col("z").alias("za")
    )
    b = gz.select(
        F.col("src").alias("src_b"), "token", F.col("z").alias("zb")
    )
    pairs = a.join(b, "token").filter(F.col("src_a") < F.col("src_b"))
    fp = F.floor(
        F.lit(float(scale)) * F.abs(F.col("za") - F.col("zb"))
    ).cast("long")
    return (
        pairs.select("src_a", "src_b", fp.alias("fp"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_tokens"),
            F.sum("fp").cast("long").alias("delta_fp"),
        )
        .select(
            "src_a",
            "src_b",
            "k_tokens",
            "delta_fp",
            F.round(
                F.col("delta_fp").cast("double")
                / (F.col("k_tokens") * F.lit(scale)).cast("double"),
                6,
            ).alias("delta"),
        )
    )


def morisita_horn(
    toks: DataFrame,
    source_col: str = "source",
    toks_col: str = "toks",
) -> DataFrame:
    """Morisita–Horn overlap between every source pair — the
    abundance-weighted ecological similarity that complements the
    presence/absence weighted-Jaccard and the divergence-style
    PSI/JSD drift audits (MH is insensitive to sample size, so a
    small feed and its 100× resample score ≈ 1):

        MH(a, b) = 2·N_a·N_b·Σ_t c_at·c_bt
                   / (N_b²·Σ_t c_at² + N_a²·Σ_t c_bt²)

    — the fully cross-multiplied form: every term an exact long, one
    IEEE divide.  Magnitude bound: N²·Σc² < 2⁶³ holds through
    ~10⁵-token sources per pair; quantize counts upstream beyond
    that.  One token-keyed pair join over per-source count vectors.

    Output: (src_a, src_b, num, den, mh)."""
    occ = toks.select(
        F.col(source_col).alias("src"),
        F.explode(F.col(toks_col)).alias("token"),
    )
    cnt = occ.groupBy("src", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = occ.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    sq = cnt.groupBy("src").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss")
    )
    meta = tot.join(sq, "src")
    a = cnt.select(
        F.col("src").alias("src_a"), "token", F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("src").alias("src_b"), "token", F.col("c").alias("cb")
    )
    cross = (
        a.join(b, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("sab"))
    )
    ma = meta.select(
        F.col("src").alias("src_a"),
        F.col("n").alias("na"),
        F.col("ss").alias("ssa"),
    )
    mb = meta.select(
        F.col("src").alias("src_b"),
        F.col("n").alias("nb"),
        F.col("ss").alias("ssb"),
    )
    j = cross.join(F.broadcast(ma), "src_a").join(F.broadcast(mb), "src_b")
    num = F.lit(2) * F.col("na") * F.col("nb") * F.col("sab")
    den = (
        F.col("nb") * F.col("nb") * F.col("ssa")
        + F.col("na") * F.col("na") * F.col("ssb")
    )
    return j.select(
        "src_a",
        "src_b",
        num.cast("long").alias("num"),
        den.cast("long").alias("den"),
        F.when(
            den > 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("mh"),
    )


def hellinger_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 10,
    width: int = 64,
) -> DataFrame:
    """Bounded drift distances of each group's ``value_col``
    distribution against the REST of the corpus, on the SAME
    fixed-width bins as :func:`psi_drift` — the [0,1]-bounded
    companions to PSI's unbounded score (PSI explodes on empty bins;
    these saturate):

        BC  = Σ_i sqrt(p_i · q_i)                 (Bhattacharyya)
        H   = sqrt(1 − BC)                        (Hellinger)
        TV  = ½ Σ_i |p_i − q_i|                   (total variation)

    Engine portability by construction: bin counts are exact longs;
    each sqrt argument is ONE exact-integer product (sqrt is
    IEEE-exact — the quality_correlation rule, never libm ln/pow);
    the bin terms are added in FIXED left-to-right order; TV's
    numerator Σ|a_i·B − b_i·A| is a pure exact-long sum divided once
    at the end.  Products must fit int64 (counts to ~3·10⁹ a side).

    Plan: identical to psi_drift — one (group, bin) count agg, one
    per-group conditional pivot, one broadcast 1-row global bin
    row; no data-keyed joins, no window.
    """
    j = _binned_counts(df, group_col, value_col, n_bins, width)
    bc_sum = None
    tv_num = None
    for i in range(n_bins):
        a_i = F.col(f"a{i}")
        b_i = F.col(f"t{i}") - F.col(f"a{i}")
        s = F.sqrt((a_i * b_i).cast("double"))
        t = F.abs(a_i * F.col("n_b") - b_i * F.col("n_a"))
        bc_sum = s if bc_sum is None else bc_sum + s
        tv_num = t if tv_num is None else tv_num + t
    bc = bc_sum / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
    return j.select(
        F.col("g").alias(group_col),
        "n_a",
        "n_b",
        tv_num.cast("long").alias("tv_num"),
        F.round(bc, 6).alias("bc"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - bc)), 6).alias(
            "hellinger"
        ),
        F.round(
            tv_num.cast("double")
            / (F.lit(2) * F.col("n_a") * F.col("n_b")).cast("double"),
            6,
        ).alias("tv"),
    )
