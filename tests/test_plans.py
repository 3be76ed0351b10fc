"""Physical-plan regression guards: the properties the engine's
scale story depends on (broadcast joins, parquet pushdown, column
pruning, codegen) are asserted on the executed plans, so a refactor
that silently degrades a plan fails CI.
"""

import os
import re

import pytest

import __spark_entry__ as entry


def executed(df) -> str:
    # AQE finalizes the physical plan (incl. WholeStageCodegen spans)
    # only at execution time — run the query before reading the plan
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_pricing_pushdown_and_pruning(spark, sf_dir):
    plan = executed(entry.q_tpch_pricing(spark, sf_dir))
    scan = plan.split("FileScan")[1]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in scan
    read_schema = scan.split("ReadSchema:")[1]
    # only the 6 referenced columns are read
    assert "l_comment" not in read_schema
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_catalog_joins_are_broadcast(spark, sf_dir):
    plan = executed(entry.q_triples_rules(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the rules build side must never become a shuffle join
    assert plan.count("BroadcastExchange") >= 2  # catalog + rules


def test_regional_revenue_broadcasts_dimensions(spark, sf_dir):
    plan = executed(entry.q_regional_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_pipeline_has_no_shuffle_before_sink(spark, sf_dir):
    """The fused flagship plan: one input rebalance at most, then
    narrow stages only — no Exchange between mention detection and the
    triple projection — and mentions, pairs and rule labels in ONE
    Arrow kernel: no interpreted higher-order-function pair path and
    no ``explode`` (Generate) may come back."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    from deepie_spark.datagen.pages import pages_from_documents
    from deepie_spark.plans.pipeline import extract_triples

    plan = executed(
        extract_triples(spark, pages_from_documents(docs).repartition(8))
    )
    # the only exchange is the explicit input rebalance; the planner
    # introduces NO shuffle of its own anywhere in the pipeline (the
    # AQE plan string repeats the tree as "Initial Plan", so compare
    # counts rather than absolutes)
    assert "ENSURE_REQUIREMENTS" not in plan
    assert plan.count("Exchange") == plan.count("REPARTITION_BY_NUM") > 0
    final = plan.split("Initial Plan")[0]
    nodes = re.findall(r"^[\s+\-:*()\d]*(\w+)", final, re.M)
    assert sum(n in ("MapInArrow", "PythonMapInArrow") for n in nodes) == 1
    assert "Generate" not in nodes
    assert "Join" not in plan  # fused rule lookup, no join operator


def test_model_pipeline_has_no_shuffle_or_join(spark, sf_dir):
    """The model path: Arrow mentions → pairs → compiled-expert labels
    in one kernel, all narrow — no join, no planner-inserted shuffle, no
    explode, and exactly one Python stage: the mapInArrow."""
    plan = executed(entry.q_pipeline_triples_model(spark, sf_dir))
    # operator names, one per line; under AQE the tree repeats as
    # "Initial Plan", so read the final one only
    final = plan.split("Initial Plan")[0]
    nodes = re.findall(r"^[\s+\-:*()\d]*(\w+)", final, re.M)
    assert "ENSURE_REQUIREMENTS" not in plan
    assert "Join" not in plan
    assert sum(n in ("MapInArrow", "PythonMapInArrow") for n in nodes) == 1
    assert "MapInPandas" not in nodes
    assert "Generate" not in nodes


def _exprs_above_kernel(df) -> list:
    """Every expression of the optimized plan's nodes above its
    ``MapInArrow``, each of which must have one child."""
    def seq(s):
        return [s.apply(k) for k in range(s.size())]

    node, exprs = df._jdf.queryExecution().optimizedPlan(), []
    while node.nodeName() != "MapInArrow":
        (child,) = seq(node.children())
        stack = seq(node.expressions())
        while stack:
            e = stack.pop()
            exprs.append(e)
            stack += seq(e.children())
        node = child
    return exprs


def test_pipeline_triples_leave_the_kernel_finished(spark, sf_dir):
    """The fused rule path and the model path apply the direction rule
    per label inside the pair kernel, and the model path's ``doc_id``
    stays bigint: above the ``MapInArrow`` no ``regexp_replace``, no
    ``EndsWith`` and no string → bigint cast runs per row.
    (extract_text's regexes sit below the kernel.)"""
    for name in ("pipeline_triples_gated", "pipeline_triples_model"):
        exprs = _exprs_above_kernel(entry.queries()[name](spark, sf_dir))
        kinds = {e.nodeName() for e in exprs}
        assert not kinds & {"RegExpReplace", "EndsWith"}, (name, kinds)
        casts = {
            (e.child().dataType().typeName(), e.dataType().typeName())
            for e in exprs
            if e.nodeName() == "Cast"
        }
        assert ("string", "long") not in casts, (name, casts)


def test_whole_stage_codegen_on_scan_side(spark, sf_dir):
    # aggregation path runs inside whole-stage codegen ('*(n)' spans)
    agg_plan = executed(entry.q_tpch_pricing(spark, sf_dir))
    assert "*(" in agg_plan
    # text analysis stays JVM-side: pure column expressions, zero python
    qs_plan = executed(entry.q_quality_scores(spark, sf_dir))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in qs_plan
    assert qs_plan.strip().startswith("Project")  # scan + project only


def test_semi_and_anti_joins_planned(spark, sf_dir):
    semi = executed(entry.q_semi_join(spark, sf_dir))
    assert "LeftSemi" in semi
    anti = executed(entry.q_cust_no_orders(spark, sf_dir))
    assert "LeftAnti" in anti


def test_domain_stats_prunes_scan(spark, sf_dir):
    """Host aggregation reads only the columns it needs — the binary
    html column and the text body never reach the scan."""
    # another test module may have cached the documents relation, which
    # would swap the FileScan for an InMemoryTableScan and hide pruning
    spark.catalog.clearCache()
    plan = executed(entry.q_domain_stats(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema          # length(text) is aggregated
    assert "lang" not in read_schema
    # single hash aggregate pair (partial + final), no join
    assert "Join" not in plan


def test_sequence_pack_single_bounded_shuffle(spark, sf_dir):
    """Block-local packing: exactly one exchange (the block-partitioned
    window), never a global single-partition sort."""
    plan = executed(entry.q_sequence_pack(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_tfidf_never_hints_broadcast_of_vocab(spark, sf_dir):
    """The idf side of the tf⋈idf join is vocabulary-sized — unbounded
    at web scale, so the plan must NOT force-broadcast it (a 100× OOM
    hazard); strategy selection belongs to AQE.  The only legitimate
    broadcast hint is the 1-row n_docs denominator."""
    df = entry.q_tfidf_top_terms(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("strategy=broadcast") == 1  # the 1-row n_docs only
    word_joins = [
        ln for ln in opt.splitlines() if "Join Inner, (word" in ln
    ]
    assert word_joins and all("Hint" not in ln for ln in word_joins)


def test_pipeline_deep_matches_python_greedy_twin(spark, sf_dir):
    """The deep (depth-3 trie) gated pipeline must actually exercise
    trigram matches, and the Arrow mention stage under the deep trie
    must equal the pure-python greedy_match twin on the same corpus."""
    import pyspark.sql.functions as F

    from deepie_spark.datagen.catalog import (
        DEEP_ENTITY_CATALOG,
        build_alias_trie,
    )
    from deepie_spark.datagen.pages import pages_from_documents
    from deepie_spark.functions.text import py_tokenize
    from deepie_spark.operators.mentions import detect_mentions, greedy_match

    rows = entry.q_pipeline_triples_deep(spark, sf_dir).collect()
    tri_aliases = {a for _eid, a, *_ in DEEP_ENTITY_CATALOG
                   if len(a.split()) == 3}
    seen = {r["subj"] for r in rows} | {r["obj"] for r in rows}
    assert tri_aliases & seen, "no trigram alias matched — gate is vacuous"

    trie = build_alias_trie(DEEP_ENTITY_CATALOG)
    sample = entry._docs_deep(spark, sf_dir).filter(F.col("doc_id") < 100)
    got = {
        r["url"]: tuple(
            (m["start"], m["pos"], m["alias"]) for m in r["mentions"]
        )
        for r in detect_mentions(pages_from_documents(sample), trie).collect()
    }
    want = {}
    for d in sample.collect():
        ms = tuple(
            (start, end, alias)
            for (start, end, _eid, alias, _et, _st, _pr) in greedy_match(
                py_tokenize(d["text"]), trie
            )
        )
        url = f"https://{d['source']}.example.com/doc/{d['doc_id']}"
        want[url] = ms
    assert set(got) == set(want)
    assert got == want


def test_pii_scrub_stays_jvm_side(spark, sf_dir):
    """Regex counting/redaction is pure column expressions — no python
    stage in the plan."""
    plan = executed(entry.q_pii_scrub(spark, sf_dir))
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    assert "BatchEvalPython" not in plan


def test_url_normalize_stays_jvm_side(spark, sf_dir):
    """Canonicalization is pure column expressions — no python stage."""
    plan = executed(entry.q_url_normalize(spark, sf_dir))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "MapInArrow"):
        assert marker not in plan


def test_perplexity_never_hints_broadcast_of_counts(spark, sf_dir):
    """The bigram/prefix count tables are vocabulary²-sized: like
    tfidf's idf they must never carry a broadcast hint; the only
    legitimate hint is the 1-row vocabulary size."""
    df = entry.q_doc_perplexity(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("strategy=broadcast") == 1


def test_contamination_probe_is_broadcast(spark, sf_dir):
    """The benchmark shingle set is eval-set-sized: the probe must be a
    broadcast hash join (no shuffle of the corpus side before the
    per-doc count)."""
    plan = executed(entry.q_benchmark_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_latest_event_is_aggregate_not_window(spark, sf_dir):
    """Pick-latest must stay a single max(struct) aggregate with a
    map-side combine (partial_max): a row_number window would shuffle
    every input row; the aggregate ships one row per (user, input
    partition).  Struct max plans as SortAggregate (not
    hash-aggregable) — assert the partial stage exists and no Window
    sneaks in."""
    plan = executed(entry.q_latest_event(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "partial_max" in final
    assert final.count("Exchange hashpartitioning") == 1


def test_event_funnel_single_shuffle(spark, sf_dir):
    """The ordered funnel is one shuffle on user_id (per-user agg) +
    a final 1-row reduce — no self-join of the events table."""
    plan = executed(entry.q_event_funnel(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final
    # user_id hash exchange + the single-partition final reduce
    assert final.count("Exchange ") == 2


def test_doc_zscore_no_window_no_hint(spark, sf_dir):
    """Group normalization goes through agg + un-hinted join-back:
    no per-group window sort, and the stats side must not carry a
    broadcast hint (source cardinality is unbounded at web scale —
    AQE may still choose broadcast at runtime, which is fine)."""
    df = entry.q_doc_zscore(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt
    plan = executed(df)
    assert "Window" not in plan


def test_doc_chunks_narrow_jvm_only(spark, sf_dir):
    """Chunking must stay a map-only JVM stage: zero shuffles, zero
    Python — at 100 TB it scales purely with input splits."""
    plan = executed(entry.q_doc_chunks(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "*(" in plan  # whole-stage codegen span


def test_weighted_sample_is_takeordered(spark, sf_dir):
    """Top-k by priority must plan as TakeOrderedAndProject
    (per-partition top-k + k-row merge), never a rangepartitioning
    global sort."""
    plan = executed(entry.q_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_dedup_incremental_anti_join_unhinted(spark, sf_dir):
    """Batch-vs-corpus dedup is a LeftAnti join on the fingerprint with
    the corpus side reduced to distinct fps first; no planner-forced
    broadcast (the seen-set is unbounded at web scale — AQE may still
    pick broadcast at runtime)."""
    df = entry.q_dedup_incremental(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt
    plan = executed(df)
    assert "LeftAnti" in plan
    # distinct on the corpus side = partial + final HashAggregate
    assert "HashAggregate" in plan


def test_gopher_quality_jvm_map_only(spark, sf_dir):
    """Quality flags are pure column expressions: one map-only
    codegen stage — zero shuffles, zero Python."""
    plan = executed(entry.q_gopher_quality(spark, sf_dir))
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "*(" in plan  # whole-stage codegen span


def test_dup_ngram_rate_no_cartesian(spark, sf_dir):
    """Duplicate-window rate must stay linear: a semi join on the
    window string, never a pairwise document product, and the window
    DF aggregation must partial-aggregate map-side."""
    df = entry.q_dup_ngram_rate(spark, sf_dir)
    plan = executed(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "partial_count" in plan  # map-side combine on the df agg


def test_kmeans_assign_is_narrow(spark, sf_dir):
    """One Lloyd assign pass = in-row argmin over centroid literals:
    no shuffle, no Python, stays in codegen."""
    import os

    from deepie_spark.operators.clustering import assign_clusters

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS v"
    )
    df = assign_clusters(emb, [(0, [0.0] * 64), (1, [1.0] * 64)])
    plan = executed(df)
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_cooccur_pmi_count_joins_broadcast(spark, sf_dir):
    """The per-entity count tables are bounded by the literal entity
    catalog (the same dimension the pipeline broadcasts as a trie), so
    the two count joins must be broadcast — the only shuffle keys are
    doc_id (pair join) and the pair groupBy."""
    plan = executed(entry.q_entity_cooccur_pmi(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_degree_hist_join_free(spark, sf_dir):
    """Degree histogram is pure aggregation over the triple edges: the
    only joins allowed are the upstream triple-construction ones
    (catalog/rules broadcasts + the pair self-join); the degree stages
    themselves add hash aggregates, never a sort aggregate."""
    plan = executed(entry.q_triple_degree_hist(spark, sf_dir))
    assert "SortAggregate" not in plan
    assert "partial_count" in plan


def test_events_hopping_single_shuffle_expand(spark, sf_dir):
    """Hopping windows plan as one Expand (4 window replicas per
    event) + one partial-aggregated shuffle — never a self-join or a
    per-window pass."""
    plan = executed(entry.q_events_hopping(spark, sf_dir))
    # the AQE string repeats the tree as "Initial Plan" — count
    # shuffles in the final-plan section only
    final = plan.split("== Initial Plan ==")[0]
    assert "Expand" in final
    assert final.count("Exchange hashpartitioning") == 1
    assert "partial_count" in final


def test_top_ngrams_no_global_sort(spark, sf_dir):
    """Per-group top-k: count agg with map-side combine, window sort
    only AFTER aggregation (on the small count table), no
    rangepartitioning global sort."""
    plan = executed(entry.q_top_ngrams(spark, sf_dir))
    assert "rangepartitioning" not in plan
    assert "partial_count" in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_bm25_filters_before_explode_and_broadcasts_df(spark, sf_dir):
    """The BM25 explode must emit only query-term matches (the array
    filter runs BEFORE the generator — at corpus scale the shuffle
    carries matches, not tokens); the per-term df table is broadcast;
    top-k is TakeOrderedAndProject, not a global sort."""
    plan = executed(entry.q_bm25_topk(spark, sf_dir))
    gen = plan.split("Generate explode(")[1].split(")")[0]
    assert "filter(" in gen
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_robust_outliers_broadcast_joinback_no_window(spark, sf_dir):
    """Grouped median/MAD must come from hash aggregations with the
    bounded per-source stat tables broadcast back — never a
    per-source Window sort over the corpus."""
    plan = executed(entry.q_robust_outliers(spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_triangle_stats_no_cartesian(spark, sf_dir):
    """Degree-ordered triangle counting: every join is an equi-join
    (edge keys) or a broadcast of a 1-row aggregate; a
    CartesianProduct would mean the orientation rewrite regressed."""
    plan = executed(entry.q_triangle_stats(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_neighbor_jaccard_unhinted_no_cartesian(spark, sf_dir):
    """Neighbor-set Jaccard joins degree tables un-hinted (node-sized,
    unbounded at web scale — AQE decides) and stays equi-join.  The
    hint check runs on the bare operator: the full query's upstream
    catalog/rules broadcasts are bounded and legitimately hinted."""
    from deepie_spark.operators.graph import neighborhood_jaccard

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    bare = neighborhood_jaccard(edges, min_common=1)
    opt = bare._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt
    plan = executed(entry.q_neighbor_jaccard(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_moving_avg_window_is_partitioned(spark, sf_dir):
    """The RANGE-frame window must partition by user_id (parallelism =
    user count) — a global single-partition window would serialize the
    corpus."""
    plan = executed(entry.q_events_moving_avg(spark, sf_dir))
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan


def test_user_retention_no_window_no_hint(spark, sf_dir):
    """Cohort retention is two hash aggs + one un-hinted user-keyed
    join — no window, no forced broadcast of the unbounded user
    table."""
    df = entry.q_user_retention(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt
    plan = executed(df)
    assert "Window" not in plan


def test_fuzzy_match_distinct_before_quadratic_probe(spark, sf_dir):
    """The Levenshtein probe must run against the DISTINCT vocabulary
    (HashAggregate feeds the broadcast nested loop), never the raw
    token stream."""
    plan = executed(entry.q_fuzzy_alias_match(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    agg_side = plan.split("BroadcastNestedLoopJoin")[1]
    assert "HashAggregate" in agg_side


def test_quality_correlation_single_agg_no_join(spark, sf_dir):
    """Exact-moment Pearson r is ONE map-side-combinable aggregation:
    no join, no window, one shuffle on source."""
    plan = executed(entry.q_quality_correlation(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    # the AQE string repeats the tree as "Initial Plan" — count the
    # final plan only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in final  # map-side combine confirmed


def test_paragraph_dedup_is_aggregate_not_window(spark, sf_dir):
    """First-occurrence pick must stay min(struct) with a map-side
    partial (latest_event trick) — a row_number window over chunk_text
    would sort-shuffle every chunk row.  Three hash exchanges total
    (chunk-text keeper, keeper per-doc count, per-doc totals); the
    count join-back is un-hinted and AQE-broadcast at this SF."""
    plan = executed(entry.q_paragraph_dedup(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "partial_min" in final
    assert final.count("Exchange hashpartitioning") == 3


def test_mixture_plan_no_data_sized_join(spark, sf_dir):
    """The mixture planner is one corpus agg + a broadcast 1-row
    weight total: no window, and the only join is the 1-row
    cross-broadcast (never a shuffle join on a data-sized key)."""
    plan = executed(entry.q_mixture_plan(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "SortMergeJoin" not in final
    assert "ShuffledHashJoin" not in final
    assert final.count("Exchange hashpartitioning") <= 2


def test_table_profile_single_pass_no_join(spark, sf_dir):
    """The profiler is ONE aggregation over the table (the exact
    count-distincts plan via Expand with map-side partials) and the
    stack() unpivot — no join, no window, one scan of the input."""
    plan = executed(entry.q_table_profile(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final
    assert "Window" not in final
    assert final.count("FileScan") == 1
    assert "Expand" in final  # the multi-count-distinct shape


def test_oov_rate_vocab_probe_is_broadcast(spark, sf_dir):
    """The head vocabulary is bounded by the literal K: top-k must
    plan as TakeOrderedAndProject (never a global sort) and the probe
    join must be a broadcast (contamination-probe argument)."""
    plan = executed(entry.q_oov_rate(spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final
    assert "BroadcastHashJoin" in final
    assert "GlobalLimit" not in final  # top-k never via global sort+limit


def test_error_window_global_binned_not_nested_loop(spark, sf_dir):
    """The keyless range join must plan as a hash equi-join on the time
    bin — never BroadcastNestedLoopJoin/CartesianProduct (the naive
    non-equi plan, O(L*R) at scale).  Result parity with the naive plan
    is asserted on the same input."""
    df = entry.q_error_window_global(spark, sf_dir)
    plan = executed(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final
    assert "Join" in final

    import pyspark.sql.functions as F

    e = entry._events(spark, sf_dir)
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("err_ts")
    )
    naive = (
        err.join(
            e.select("ts", "value"),
            (F.col("ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("ts") < F.col("err_ts")),
        )
        .groupBy("error_id")
        .agg(
            F.count("*").alias("n_preceding"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_user_scd2_windows_partitioned_by_user(spark, sf_dir):
    """Every window in the SCD2 build must carry the natural key — an
    unpartitioned window would serialize the event stream."""
    df = entry.q_user_scd2(spark, sf_dir)
    plan = executed(df)
    for frag in plan.split("windowspecdefinition(")[1:]:
        spec = frag.split(")")[0]
        assert "user_id" in spec, f"window without user_id: {spec}"


def test_prefix_jaccard_no_cartesian_and_inrow_verify(spark, sf_dir):
    """Prefix filtering must plan as equi-joins only, and verification
    must be IN-ROW (array_intersect over the per-doc ordered arrays) —
    exactly ONE shingle-keyed candidate self-join, never a second
    shingle re-join for verification (the candidates² blowup the
    round-4 verdict flagged)."""
    df = entry.q_prefix_jaccard(spark, sf_dir)
    plan = executed(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "array_intersect" in final  # in-row verification
    # joins keyed on the shingle column: the df-count join that builds
    # the ordered arrays + the prefix candidate self-join — nothing else
    shingle_keyed = sum(
        1
        for frag in final.split("Join ")[1:]
        if "shingle" in frag.split("\n")[0]
    )
    assert shingle_keyed <= 2, f"extra shingle-keyed join: {shingle_keyed}"


def test_heavy_hitters_no_full_groupby_before_candidates(spark, sf_dir):
    """The recount aggregates ONLY candidate-pruned rows: the plan
    filters via a broadcast semi join before the hash agg on items."""
    df = entry.q_heavy_hitters(spark, sf_dir)
    plan = executed(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "LeftSemi" in final
    assert "CartesianProduct" not in final


def test_entity_cards_aggregate_not_window(spark, sf_dir):
    """Card strings come from in-row array_sort inside ONE aggregate —
    a per-entity Window sort would serialize hot entities."""
    plan = executed(entry.q_entity_cards(spark, sf_dir))
    assert "Window" not in plan


def test_predicate_domain_range_argmax_no_window(spark, sf_dir):
    """Modal domain/range types via min(struct(-n, ty)) partial-agg
    argmax; the per-predicate row_number formulation lives only in the
    DuckDB oracle."""
    plan = executed(entry.q_predicate_domain_range(spark, sf_dir))
    assert "Window" not in plan


def test_term_keyness_vocab_marginal_unhinted(spark, sf_dir):
    """The token-marginal join-back is vocab-sized — it must never
    carry a broadcast hint (the tfidf/doc_perplexity rule); the only
    hinted sides are the group marginal (group-count-sized) and the
    1-row grand total."""
    df = entry.q_term_keyness(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("strategy=broadcast") == 2
    token_joins = [
        ln for ln in opt.splitlines() if "Join Inner, (token" in ln
    ]
    assert token_joins and all("Hint" not in ln for ln in token_joins)


def test_skipgram_pmi_marginals_unhinted(spark, sf_dir):
    """Both PMI marginals are vocab-sized joins — un-hinted; only the
    1-row pair total broadcasts."""
    df = entry.q_skipgram_pmi(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("strategy=broadcast") == 1


def test_graph_assortativity_no_window_no_cartesian(spark, sf_dir):
    """Degree join-backs are entity-keyed equi-joins feeding one
    global agg — no Window, no cartesian product anywhere."""
    plan = executed(entry.q_graph_assortativity(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_html_density_map_only(spark, sf_dir):
    """Page stats are one codegen pass over the scan — no shuffle at
    all (the 100-TB shape: scales with input splits)."""
    plan = executed(entry.q_html_density(spark, sf_dir))
    assert "Exchange" not in plan


def test_embedding_quantize_stats_broadcast(spark, sf_dir):
    """The per-dim min/max join-back is d-row-sized — must broadcast,
    never shuffle the exploded corpus twice."""
    plan = executed(entry.q_embedding_quantize(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_chunk_join_unhinted(spark, sf_dir):
    """The chunk-df join-back is corpus-sized — no broadcast hint
    (AQE decides); only exact aggregates upstream."""
    df = entry.q_boilerplate_rate(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt


def test_event_concurrency_windows_bucketed(spark, sf_dir):
    """The running sum must ride the range-bucketed KEYED window —
    an unpartitioned SUM OVER (ORDER BY t) would serialize the whole
    boundary stream through one task (the rank_in_order rule)."""
    plan = executed(entry.q_event_concurrency(spark, sf_dir))
    assert "CartesianProduct" not in plan
    for frag in plan.split("windowspecdefinition(")[1:]:
        spec = frag.split(")")[0]
        assert "_bkt" in spec, f"unpartitioned window: {spec}"


def test_readability_map_only(spark, sf_dir):
    """Readability is one codegen pass over the scan — no shuffle."""
    plan = executed(entry.q_readability(spark, sf_dir))
    assert "Exchange" not in plan


def test_join_size_profile_twin(spark):
    from deepie_spark.plans.joinstats import join_size_profile

    left = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], "k long")
    right = spark.createDataFrame(
        [(1,), (2,), (2,), (2,), (4,), (None,)], "k long")
    row = join_size_profile(left, right, "k", "k").collect()[0]
    # true join: key 1 -> 2*1, key 2 -> 1*3; nulls never match
    assert (row.left_rows, row.right_rows) == (5, 6)
    assert row.n_matching_keys == 2
    assert row.join_rows == 2 * 1 + 1 * 3
    assert row.max_key_rows == 3
    # the profile must equal the executed join's count
    executed = left.join(right, "k").count()
    assert row.join_rows == executed


def test_join_size_profile_empty_intersection(spark):
    from deepie_spark.plans.joinstats import join_size_profile

    left = spark.createDataFrame([(1,)], "k long")
    right = spark.createDataFrame([(2,)], "k long")
    row = join_size_profile(left, right, "k", "k").collect()[0]
    assert (row.n_matching_keys, row.join_rows, row.max_key_rows) == (0, 0, 0)


def test_skyline_final_pass_is_broadcast_non_equi(spark, sf_dir):
    """The dominance test is inherently non-equi, so the correct plan
    is a BROADCAST nested-loop anti-join over the PRUNED local-skyline
    superset (bounded) — never a cartesian product, and never a
    shuffled BNLJ."""
    plan = executed(entry.q_doc_skyline(spark, sf_dir))
    assert "BroadcastNestedLoopJoin BuildRight, LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_itemsets_have_no_transaction_self_join(spark, sf_dir):
    """A-priori candidates are generated IN-ROW from per-transaction
    frequent-item arrays: no SortMergeJoin anywhere (every join is a
    broadcast against L1/L2-sized frames), no cartesian."""
    plan = executed(entry.q_entity_itemsets(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_symspell_join_is_equi(spark, sf_dir):
    """The deletion-neighborhood join must stay an equi-join on the
    variant string — the whole point vs the naive levenshtein cross
    join."""
    plan = executed(entry.q_spelling_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bootstrap_and_haar_are_single_pass(spark, sf_dir):
    """Both reduce to conditional aggregates — no Window, no shuffle
    join; haar's ONLY join is the 1-row epoch-range broadcast cross
    (IdentityBroadcastMode), bootstrap has no join at all."""
    plan = executed(entry.q_bootstrap_value_mean(spark, sf_dir))
    assert "Join" not in plan.replace("BroadcastExchange", "")
    assert "Window" not in plan
    plan = executed(entry.q_events_haar(spark, sf_dir))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # every BNLJ is the broadcast 1-row range (Cross + Identity build)
    assert plan.count("BroadcastNestedLoopJoin BuildRight, Cross") == \
        plan.count("BroadcastNestedLoopJoin")


def test_psi_drift_no_shuffle_join(spark, sf_dir):
    """PSI = two aggregations + a 1-row broadcast: no SortMergeJoin,
    no Window."""
    plan = executed(entry.q_source_drift_psi(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_cdc_chunks_is_map_only(spark, sf_dir):
    """The CDC fold is one narrow pass: filter → fold → posexplode,
    ZERO Exchange anywhere in the plan."""
    plan = executed(entry.q_cdc_chunks(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_join_cardinality_audit_hand(spark):
    """Uniform-key toy join where the System-R estimate is exact."""
    from deepie_spark.plans.cardinality import join_cardinality_audit

    left = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    right = spark.createDataFrame([(1,), (2,), (2,), (3,)], "j long")
    r = join_cardinality_audit(left, right, "k", "j", "toy").collect()[0]
    assert (r.n_left, r.n_right, r.ndv_left, r.ndv_right) == (3, 4, 2, 3)
    assert r.est_rows == (3 * 4) // 3
    assert r.actual_rows == 2 * 1 + 1 * 2  # key1: 2x1, key2: 1x2
    assert r.est_over_actual == round(r.est_rows / r.actual_rows, 6)


def test_rle_audit_hand(spark):
    from deepie_spark.plans.layout import rle_audit

    rows = [(0, "a", "x"), (1, "a", "y"), (2, "b", "y"),
            (3, "b", "y"), (4, "a", "z")]
    df = spark.createDataFrame(rows, ["id", "c1", "c2"])
    got = {r["column_name"]: r
           for r in rle_audit(df, "id", ["c1", "c2"]).collect()}
    # c1: a a b b a -> 3 runs; c2: x y y y z -> 3 runs
    assert got["c1"]["n_runs"] == 3 and got["c1"]["n_distinct"] == 2
    assert got["c2"]["n_runs"] == 3 and got["c2"]["n_distinct"] == 3
    assert got["c1"]["n_rows"] == 5
    assert got["c1"]["runs_per_row"] == round(3 / 5, 6)


def test_rle_audit_sorted_column_hits_distinct_lower_bound(spark):
    from deepie_spark.plans.layout import rle_audit

    rows = [(i, "v" + str(i // 4)) for i in range(12)]
    df = spark.createDataFrame(rows, ["id", "c"])
    r = rle_audit(df, "id", ["c"]).collect()[0]
    assert r["n_runs"] == r["n_distinct"] == 3


def test_records_in_order_vs_python_and_buckets(spark):
    """Strict running maxima match the sequential twin for ANY bucket
    count (the prefix-max two-level scheme is boundary-invariant)."""
    from deepie_spark.operators.sweep import records_in_order

    y = [2, 2, 5, 1, 5, 7, 0, 7, 8, 8, 3, 9, 9, 1, 10]
    df = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(y)], ["idx", "y"]
    )
    exp, best = [], None
    for i, v in enumerate(y):
        if best is None or v > best:
            exp.append((i + 1, v))
            best = v
    for nb in (1, 3, 8):
        got = sorted(
            (r.idx, r.y)
            for r in records_in_order(df, "idx", "y", buckets=nb).collect()
        )
        assert got == exp, nb


def test_tpch_shipping_plan_pushdown_and_topk(spark):
    """Q3 shape: date/segment predicates reach all three parquet
    scans, the limit is TakeOrderedAndProject, no cartesian join."""
    import __spark_entry__ as e

    df = e.queries()["tpch_shipping"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("PushedFilters: [") >= 3
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    # column pruning: no stray wide reads
    assert "l_tax" not in plan and "c_acctbal" not in plan


def test_ccnet_buckets_partition_thirds(spark):
    """head/middle/tail cover the corpus; head holds the lowest
    perplexities (bucket boundaries are order statistics)."""
    import __spark_entry__ as e

    rows = {
        r.bucket: r
        for r in e.queries()["ccnet_buckets"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {"head", "middle", "tail"}
    assert rows["head"].max_ppl <= rows["middle"].min_ppl
    assert rows["middle"].max_ppl <= rows["tail"].min_ppl
    assert abs(sum(r.share for r in rows.values()) - 1.0) < 1e-5


def test_tpch_q4_shape_semi_join_no_fanout(spark):
    """Q4 shape: the EXISTS is a LEFT SEMI hash join (never an inner
    join + distinct), with the date range pushed to the orders scan."""
    import __spark_entry__ as e

    df = e.queries()["tpch_order_priority"](
        spark, "/root/testdata/sf0.001"
    )
    plan = executed(df)
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_tpch_q18_and_q21_shapes(spark):
    """Q18: the tiny qualifying-order set broadcasts (no shuffle join
    back to orders); Q21: one aggregate over lineitem — NO lineitem
    self-join (the EXISTS/NOT-EXISTS stays collapsed)."""
    import __spark_entry__ as e

    p18 = executed(
        e.queries()["tpch_large_orders"](spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastHashJoin" in p18
    p21 = executed(
        e.queries()["tpch_waiting_suppliers"](
            spark, "/root/testdata/sf0.001"
        )
    )
    # lineitem is scanned exactly once (AQE prints final + initial
    # plans; count scans in the final section only)
    final21 = p21.split("== Initial Plan ==")[0]
    assert final21.count("lineitem.parquet") == 1


def test_menu_classifier_is_one_arrow_kernel_over_read_columns(spark):
    """The relation classifier is one ``mapInArrow`` kernel (no
    ``mapInPandas``), and for ``#MultiNN`` its input projection holds the
    pass-through ids, ``bin_feats``, ``tokens``, ``pos1`` and ``pos2``
    but none of the columns only neural specs read."""
    from deepie_spark.model.menu import (
        classify_mentions_menu,
        init_menu_weights,
        make_spec,
    )
    from deepie_spark.sources.tsv_corpus import MENTION_SCHEMA
    from tests.synthetic_records import model_inputs, synthetic_records

    s = model_inputs(*synthetic_records(n=30, seed=3))
    mentions = spark.createDataFrame(
        [{**r, "file_order": 0, "line_no": i}
         for i, r in enumerate(s["records"])],
        MENTION_SCHEMA,
    )
    spec = make_spec(
        "#MultiNN", {"word": len(s["dicts"]["word"])}, 0, 0, 0, 0,
        len(s["labels"]), bin_dim=len(s["bin_dict"]),
        max_bin=max(len(r["bin_feats"]) for r in s["records"]),
    )
    preds = classify_mentions_menu(
        mentions, init_menu_weights(spec), s["dicts"], spec, s["labels"],
        s["bin_dict"],
    )
    plan = executed(preds)
    final = plan.split("Initial Plan")[0]
    nodes = re.findall(r"^[\s+\-:*()\d]*(\w+)", final, re.M)
    assert sum(n in ("MapInArrow", "PythonMapInArrow") for n in nodes) == 1
    assert "MapInPandas" not in nodes
    (kernel,) = [ln for ln in final.splitlines() if "MapInArrow" in ln]
    inputs = set(re.findall(r"(\w+)#\d+", kernel.split(")#")[0]))
    assert inputs == {
        "rel_id", "corpus", "label", "line_no", "bin_feats", "tokens",
        "pos1", "pos2",
    }
    for col in ("grammar", "governors", "cons1", "dep_tokens",
                "kernel_score"):
        assert col not in inputs
