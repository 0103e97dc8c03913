"""Whole-library physical-plan audit: build (don't run) every declared
query's plan at sf0.001 and reject scale-hostile operators.

CartesianProduct anywhere, or a BroadcastNestedLoopJoin outside the
whitelisted intentional-tiny-broadcast sites, would be a 100 TB
incident hiding behind a passing correctness check — this is the
regression net for all of them (SCALING.md "Plan audit").
"""

from __future__ import annotations

import pytest

from fhir_to_lakehouse_spark.plans import QUERIES

# intentional BroadcastNestedLoopJoin sites (tiny broadcast side by
# design — see SCALING.md):
BNLJ_ALLOWED = {
    "similarity_brute_topk",    # broadcast query set x corpus scan
    "similarity_quantized_recall",  # broadcast eval-query set x corpus scan
    "similarity_brute_topk_q500",  # same shape, Q=500 crossover twin
    "similarity_hard_negatives",  # same shape + label-mismatch predicate
    "similarity_ivf_topk",      # broadcast centroids (non-equi argmin)
    "similarity_hyperplane_lsh_topk",
    "similarity_matmul_topk",
    "string_distance_suppliers",  # 10-row dim self-pair, blocked
    "subquery_above_avg_orders",  # 1-row scalar-subquery broadcast
    "q11_important_parts",        # 1-row grand-total threshold broadcast
    "q22_global_sales_opportunity",  # 1-row avg-balance broadcast
    "scd2_point_in_time",
    "dedup_embedding_cosine",     # bounded block self-join
    "corpus_length_band_filter",  # 1-row percentile-bounds broadcast
    "corpus_vocab_coverage",      # 1-row totals broadcast over term frame
    "dedup_semantic_ivf",         # broadcast centroids (non-equi argmin)
    "decontaminate_exact_substring",  # tiny eval needle set broadcast
    "similarity_incremental_index",   # broadcast centroids (non-equi argmin)
    "text_unigram_logprob_score",  # 1-row corpus-total broadcast
    "text_trigram_perplexity",     # 1-row vocab-size broadcast
    "corpus_dsir_selection",       # 1-row corpus-totals broadcast
    "search_bm25_topk",           # 1-row (N, avgdl) corpus-stats broadcast
    "search_hybrid_rrf",          # broadcast query set x two corpus scans
    "graph_pagerank_trade",       # 1-row |V| / dangling-mass broadcasts
    "sample_temperature_mixing",  # 1-row total/Z/max-rate broadcasts over |langs| rows
    "quality_ccnet_buckets",      # 1-row corpus-total broadcast (vocab p table)
    "events_funnel_conversion",   # 1-row stage-count broadcasts -> 3-row stack
    "text_heavy_hitters_exact",   # 1-row total-N broadcast (bm25-stats class)
    "fhir_condition_prevalence",  # 1-row population-denominator broadcast
    "fhir_adverse_event_prr",     # 1-row population scalar over pair rows
    "fhir_immunization_coverage",  # vaccine-catalog dim broadcast expansion
    "graph_knn_triangles",        # 1-row census/wedge-total broadcasts
    "fhir_incidence_rate",        # 1-row person-years scalar broadcast
    "events_seasonal_decompose",  # 1-row grand-mean broadcast, 168-cell out
    "quality_benford_digits",     # 1-row total broadcast over 9 digit rows
    "revenue_gini_lorenz",        # 1-row gini/total broadcast over 10 deciles
    "quality_psi_drift",          # 1-row slice-totals broadcast over 10 bins
    "quality_ks_two_sample",      # 1-row slice-totals broadcast over support
    "events_autocorrelation",     # 7-row lag-table broadcast over the
                                  # calendar-bounded daily series
    "stats_chi_square_independence",  # |cohorts|-row broadcast densifying
                                      # the alphabet-bounded contingency table
}

_SKIP = {
    # queries that execute work at plan-build time or need special IO
    "media_resize",
    "media_features",
    "media_frame_sample",
    # iterative trainer: the builder runs the merge loop (bounded
    # 1-row collects per round); the returned frame is a local
    # n_merges-row relation with no plan to audit
    "text_bpe_learn_merges",
}


def _plan_of(spark, name, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_rogue_nested_loop(spark, sf_dir, name):
    if name in _SKIP:
        pytest.skip("plan-build executes decode/IO work")
    try:
        df = QUERIES[name](spark, sf_dir)
    except Exception as e:  # pragma: no cover
        pytest.fail(f"{name} failed to build: {e}")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_ALLOWED, (
            f"{name} plans BroadcastNestedLoopJoin but is not whitelisted"
        )


def test_bm25_tokenizes_corpus_once(spark, sf_dir):
    """The df branch must read the persisted tf relation, not re-derive
    it: regression net for the round-4 fix (AQE exchange reuse does not
    fire across different grouping keys, so without the persist the
    corpus is tokenized twice)."""
    df = QUERIES["search_bm25_topk"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, "bm25 tf cache not used"


def test_iterative_queries_return_flat_plans(spark, sf_dir):
    """pagerank/BFS results must be lineage-truncated: a logical plan
    that still embeds the iteration DAG re-executes subplans O(3^iters)
    times (round-4 finding, SCALING.md)."""
    for name in ("graph_pagerank_trade", "graph_reachability_bfs"):
        df = QUERIES[name](spark, sf_dir)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in logical, f"{name} returned un-truncated lineage"
        assert "LogicalRDD" in logical or "Scan ExistingRDD" in logical, (
            f"{name} not backed by a checkpointed RDD"
        )


def test_no_reinlined_tokenizer_in_explode_plans(spark, sf_dir):
    """Regression net for the round-4 optimizer findings (SCALING.md
    "two optimizer rules that re-inline expensive expressions"):

    - InferFiltersFromGenerate is excluded session-wide, so an
      explode over an inline-computed array must NOT carry a
      size(...)>0 pre-filter that re-substitutes the tokenizer;
    - scalar aliases constrained by downstream filters must be
      derived through pushdown barriers (aggregate/persist), so
      InferFiltersFromConstraints cannot re-inline them either.

    The tokenizer fingerprint `split(trim(lower(` must appear at most
    once per LIVE source-scan branch of the physical plan. Counted by
    walking plan NODES (each node's one-line simpleString), not the
    whole-plan text: an InMemoryRelation prints its cached plan at
    every InMemoryTableScan consumer site, so text counting charges a
    staged relation's ONE build once per reader — the r13 prefix-join
    staging put 5 such sites inside dedup_minhash_xxhash's plan and
    inflated the old text count to 22 for 2 real evaluations. Cached
    internals are excluded by construction (an InMemoryTableScanExec
    has no children; its cached plan is a field)."""
    spark.catalog.clearCache()
    per_query_scans = {
        "decontaminate_ngram_overlap": 2,   # bench + train branches
        "decontaminate_bloom_prefilter": 2,  # tot + cand branches
        "text_repetition_quality": 1,
        "text_unigram_logprob_score": 1,    # scoring branch
        "text_hapax_spectrum": 1,
        "text_term_frequency": 1,
        "text_lang_id": 1,           # was 35x before staging
        "dedup_minhash_xxhash": 2,   # was 96x before staging
        "quality_linear_filter": 1,  # was 5x before staging
        "corpus_curation_funnel": 1,  # was 4x before staging
        # quality-threshold predicate pushed below the projection IS
        # the filter's work; staging removed the rest (was 4)
        "corpus_clean_pipeline": 3,
        # deliberately multi-pass (docstring): gram-df pass + gram
        # re-derive pass + rewrite pass, one tokenize per scan branch
        "dedup_span_removal": 3,
    }

    def live_evals(df, fp: str) -> int:
        def walk(node) -> int:
            n = node.simpleString(1000).count(fp)
            ch = node.children()
            for i in range(ch.size()):
                n += walk(ch.apply(i))
            return n

        return walk(df._jdf.queryExecution().sparkPlan())

    for name, max_evals in per_query_scans.items():
        df = QUERIES[name](spark, sf_dir)
        n = live_evals(df, "split(trim(lower(")
        assert n <= max_evals, (
            f"{name}: tokenizer evaluated {n}x in live plan nodes "
            f"(expected <= {max_evals}) — an inferred filter is "
            "re-inlining the expression"
        )


def _exec_nodes(df) -> list:
    """Physical-plan nodes via a tree walk. Unlike plan-string
    matching, this excludes the internals of cached relations: an
    InMemoryTableScanExec has no children in the plan tree (its cached
    plan is a field), so the exchanges that BUILT a cache are not
    counted against the query that READS it."""
    def walk(node):
        out = [node]
        ch = node.children()
        for i in range(ch.size()):
            out += walk(ch.apply(i))
        return out

    return walk(df._jdf.queryExecution().sparkPlan())


def _exec_node_names(df) -> list[str]:
    return [n.getClass().getSimpleName() for n in _exec_nodes(df)]


@pytest.mark.parametrize(
    "name", sorted(n for n in QUERIES if n.startswith("viewdef_"))
)
def test_viewdef_filters_never_parse(spark, sf_dir, name):
    """A `where` over the bundle decode chain must filter the parsed
    columns, not a second copy of the parse: Catalyst pushes a plain
    filter below the from_json/from_xml projection, and every row then
    pays another wire-format parse inside the Filter (compile_view and
    compile_aggregate share the barrier that prevents it). Walks the
    pre-AQE sparkPlan(): under AQE the executedPlan root is a leaf
    AdaptiveSparkPlanExec, so walking it would check nothing."""
    df = QUERIES[name](spark, sf_dir)
    conds = [
        n.condition().toString()
        for n in _exec_nodes(df)
        if n.getClass().getSimpleName() == "FilterExec"
    ]
    bad = [c for c in conds if "from_json" in c or "from_xml" in c]
    assert not bad, f"{name}: Filter re-parses the resource: {bad}"


def test_iterative_graph_join_strategy_shapes(spark):
    """VERDICT r4 item 1: the iteration join strategy is a parameter,
    and both shapes actually plan. Forced shuffle mode must NOT
    broadcast the O(|V|) rank/frontier relation (the 1B-vertex OOM
    hazard) — it plans a shuffle join whose only exchanges are the
    rank side + the aggregate, because the edge cache is
    pre-partitioned on the join key. Broadcast mode plans
    BroadcastHashJoin. autoBroadcastJoinThreshold is disabled so the
    tiny test relations cannot be auto-promoted, simulating the
    at-scale size estimates."""
    from fhir_to_lakehouse_spark.functions.graph import bfs_hops, pagerank

    edges = spark.createDataFrame(
        [(a, b, 1) for a in range(8) for b in range(8) if (a + b) % 2],
        "src long, dst long, w long",
    )
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffle_plans, bcast_plans = [], []
        pagerank(
            edges, iterations=1, broadcast_threshold=False,
            _plan_probe=lambda df: shuffle_plans.append(_exec_node_names(df)),
        )
        pagerank(
            edges, iterations=1, broadcast_threshold=True,
            _plan_probe=lambda df: bcast_plans.append(_exec_node_names(df)),
        )
        nodes = shuffle_plans[0]
        assert "BroadcastHashJoinExec" not in nodes, nodes
        assert (
            "SortMergeJoinExec" in nodes or "ShuffledHashJoinExec" in nodes
        ), nodes
        # pre-partitioned edge cache: the edge side must NOT re-shuffle.
        # The only exchanges this query is allowed to RUN are the rank
        # side's and the aggregate's partial->final boundary.
        n_shuffles = nodes.count("ShuffleExchangeExec")
        assert n_shuffles <= 2, (n_shuffles, nodes)
        assert "BroadcastHashJoinExec" in bcast_plans[0], bcast_plans[0]

        bfs_shuffle, bfs_bcast = [], []
        bfs_hops(
            edges.select("src", "dst"), seed=0, max_hops=2,
            broadcast_threshold=False,
            _plan_probe=lambda df: bfs_shuffle.append(_exec_node_names(df)),
        )
        bfs_hops(
            edges.select("src", "dst"), seed=0, max_hops=2,
            broadcast_threshold=True,
            _plan_probe=lambda df: bfs_bcast.append(_exec_node_names(df)),
        )
        assert all("BroadcastHashJoinExec" not in p for p in bfs_shuffle)
        assert any("BroadcastHashJoinExec" in p for p in bfs_bcast)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_inverted_postings_uses_window_group_limit(spark, sf_dir):
    """The postings head must be rank-filtered BEFORE collection
    (WindowGroupLimit caps map-side rows at k per term); a plan that
    re-grows the unbounded collect_list buffer is the 100 TB stopword
    OOM the round-5 rewrite removed (SCALING.md)."""
    df = QUERIES["search_inverted_postings"](spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_resolve_references_preserves_pushdown_and_pruning(spark, tmp_path):
    """Plan snapshot for the resolve_references read-path claim
    (operators/bundles.py docstring): the struct-rebuild projection is
    PURE, so Catalyst must still (a) push a filter on an untouched
    column (`id`) down into the parquet scan's PushedFilters, and
    (b) prune Reference-bearing columns the query never reads out of
    ReadSchema. If either stops holding, every encoder read over a
    stored table pays a full-width scan at 100 TB."""
    import pyspark.sql.functions as F

    from fhir_to_lakehouse_spark.operators.bundles import (
        encode_resources,
        resolve_references,
    )

    raw = spark.createDataFrame(
        [
            (
                '{"resourceType": "Observation", "id": "obs-%d", '
                '"status": "final", '
                '"subject": {"reference": "Patient/p%d"}}' % (i, i),
            )
            for i in range(20)
        ],
        "resource string",
    )
    path = str(tmp_path / "observation")
    encode_resources(raw, "Observation").write.parquet(path)

    stored = spark.read.parquet(path)
    resolved = resolve_references(stored, "Observation")

    # (a) filter on an untouched column pushes into the scan
    q = resolved.filter(F.col("id") == "obs-5").select("id", "status")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,obs-5)]" in plan, plan

    # (b) unread Reference columns are pruned from the scan
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "subject" not in read_schema, plan
    assert "resource_json" not in read_schema, plan

    # (c) reading THROUGH the rebuild still prunes sibling columns:
    # projecting only the resolved subject must not scan resource_json
    q2 = resolved.select("id", F.col("subject.reference").alias("ref"))
    plan2 = q2._jdf.queryExecution().executedPlan().toString()
    read_schema2 = plan2.split("ReadSchema:")[1].splitlines()[0]
    assert "resource_json" not in read_schema2, plan2
    assert "subject" in read_schema2, plan2


def test_fan_out_small_scan_spreads_and_preserves_pushdown(spark, sf_dir, tmp_path):
    """fan_out_small_scan contract (sources/tables.py): a byte-small
    single-split scan is spread to defaultParallelism partitions so
    the CPU-amplifying bundle chains parallelize, WITHOUT losing
    filter pushdown (Catalyst moves deterministic predicates below
    the round-robin repartition into the scan) and WITHOUT touching
    an input that already has enough splits (no added shuffle at
    scale, where real sources arrive parallel)."""
    from pyspark.sql import functions as F

    from fhir_to_lakehouse_spark.sources.tables import (
        fan_out_small_scan,
        load_table,
    )

    small = load_table(spark, sf_dir, "events")
    assert small.rdd.getNumPartitions() == 1  # precondition of the test
    spread = fan_out_small_scan(small)
    target = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == target

    # filter above the fan-out still reaches the parquet scan
    q = spread.filter(F.col("event_type") == "click")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(event_type,click)" in plan, plan

    # an already-parallel input passes through with no repartition
    many = small.repartition(target + 4)
    assert fan_out_small_scan(many) is many

    # streaming frames pass through untouched (their parallelism is
    # the source's partitioning; .rdd would throw on them anyway)
    src = str(tmp_path / "stream-src")
    small.write.parquet(src)
    stream = spark.readStream.schema(small.schema).parquet(src)
    assert fan_out_small_scan(stream) is stream


def test_converted_stampede_sites_stay_checkpoint_rooted(spark, sf_dir):
    """Round-11 persist sweep (VERDICT r10 item 4): every lazy persist
    whose relation feeds >= 2 CONCURRENT consumer branches (self-join
    sides, independent broadcast builds, independent shuffle-map
    stages) was converted to an eager localCheckpoint — a lazy persist
    there is the r10 cache stampede (each branch recomputes the full
    lineage before any fills the cache; measured 5.6-31 s/pass on the
    prefix filter). This pins each converted site: the optimized plan
    must read the materialized blocks (a LogicalRDD/ExistingRDD leaf),
    not re-derive the shared subtree per branch. The full site-by-site
    classification table lives in SCALING.md (round 11)."""
    # NOT here: text_trigram_perplexity and corpus_dsir_selection —
    # their shared relations are corpus-sized streams one explode away
    # from the scan, where ANY materialization (lazy persist or eager
    # checkpoint) costs more than deriving the stream once per
    # consumer; they resolve the stampede by having NO shared subtree
    # (SCALING.md round-11 study 4).
    converted = [
        "text_heavy_hitters_exact",      # MG candidates: 2 broadcast builds
        "dedup_embedding_cosine",        # norm frame: both self-join sides
        "events_funnel_conversion",      # s1/s2 frontiers: n1..n3 builds
        "search_inverted_postings",      # tf: stats + postings map stages
        "decontaminate_bloom_prefilter", # bench shingles: 2 broadcast builds
    ]
    spark.catalog.clearCache()
    for name in converted:
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "LogicalRDD" in plan or "ExistingRDD" in plan, (
            f"{name}: no checkpoint-rooted leaf in the optimized plan — "
            "a concurrent-consumer relation regressed to lazy lineage "
            "(cache-stampede recurrence)"
        )


def test_prefix_filter_join_stays_defragilized(spark, sf_dir):
    """VERDICT r9 item 2 recurrence net: the r10 restructure cut the
    prefix-filter join from 7 logical joins (sfp self-join for
    within-group pairs + two expansion join-backs) to 3 live joins over
    an EAGERLY-materialized distinct-set relation (a lazy persist was a
    cache stampede: concurrent consumer branches each recomputed the
    full ranking lineage — measured 5.6-31 s per pass vs 3.2 s fixed),
    with the element df-ranking join inside the checkpointed subtree.
    A plan that re-grows the join count or reroots the consumers on the
    raw lineage is the 52-s-under-load regression coming back.

    r13: the distinct-set relation is now a staged scoped_persist
    (cache reused across bench passes by plan identity, like the
    minhash/tf intermediates) instead of a per-pass localCheckpoint,
    so the invariants are asserted on LIVE physical nodes — cached
    internals excluded (an InMemoryTableScanExec has no children) —
    rather than on plan text, which prints the cached subtree once per
    consumer site."""
    df = QUERIES["dedup_prefix_filter_join"](spark, sf_dir)
    names = _exec_node_names(df)
    n_joins = sum(1 for n in names if "Join" in n)
    assert n_joins <= 3, f"{n_joins} live joins — restructure regressed"
    # consumers must read the materialized distinct-set relation ...
    assert any("InMemoryTableScan" in n for n in names), names
    # ... and never re-derive the ranking from the raw parquet scan
    assert not any("FileSourceScan" in n for n in names), (
        "a consumer branch re-rooted on the raw scan — the distinct-set"
        " relation is no longer materialized once"
    )
