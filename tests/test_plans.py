"""Plan-shape assertions — the 100 TB discipline, pinned.

The reference pins its execution strategy with scaling/resource tests
(SURVEY.md §6); the Spark analogue is asserting physical-plan
properties: filters/projection reach the parquet scan, small dims
broadcast, aggregates run partial+final, and no row-at-a-time Python
appears in hot paths.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from go_mapreduce_crawler_spark.operators import relational, dedup, text
from go_mapreduce_crawler_spark.plans import (
    has_broadcast_join, has_partial_and_final_agg, has_python_udf,
    n_shuffle_exchanges, physical_plan, pushed_filters, read_schema)


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    """Plan pins assert the UNCACHED plan shape.  CacheManager matches
    by logical-plan equality, so any earlier test that executed a query
    with an internal .cache() (the simhash fingerprints, the family
    overlap's pair sets) would otherwise splice an InMemoryRelation —
    with its own internal
    exchanges — into a later query's plan and flake the exchange-count
    pins depending on test order."""
    spark.catalog.clearCache()
    yield


def test_scan_pushes_filters_and_prunes_columns(spark, sf_small):
    df = relational.q_scan_filter_project(spark, sf_small)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf and "l_quantity" in pf, pf
    rs = read_schema(df)
    # only the 4 needed columns reach the scan — not all 11
    assert "l_extendedprice" not in rs and "l_orderkey" in rs, rs


def test_q1_has_partial_and_final_agg(spark, sf_small):
    df = relational.q1_pricing_summary(spark, sf_small)
    assert has_partial_and_final_agg(df)


def test_small_dims_broadcast(spark, sf_small):
    df = relational.q_rollup(spark, sf_small)
    assert has_broadcast_join(df)


def test_q5_broadcasts_dims(spark, sf_small):
    df = relational.q5_local_supplier(spark, sf_small)
    assert has_broadcast_join(df)


def test_range_join_is_broadcast_nlj(spark, sf_small):
    plan = physical_plan(relational.q_join_range(spark, sf_small))
    assert "BroadcastNestedLoopJoin" in plan


def test_sort_limit_is_top_k_not_global_sort(spark, sf_small):
    plan = physical_plan(relational.q_sort_limit(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan


def test_no_python_udf_in_jvm_operators(spark, sf_small):
    """Every hot-path operator stays JVM-side (no BatchEvalPython)."""
    for fn in (relational.q1_pricing_summary, relational.q_sessionize,
               dedup.q_dedup_minhash_lsh, dedup.q_dedup_simhash,
               text.q_text_quality, text.q_text_langid):
        assert not has_python_udf(fn(spark, sf_small)), fn.__name__


def test_minhash_signature_is_row_local(spark, sf_small):
    """The signature stage is row-local (array_min over transform): only
    the input spread-repartition, bucket groupBy, candidate-distinct and
    the id-keyed verify shuffles may appear — no explode/groupBy shuffle
    for signatures (which would scale with docs x shingles x hashes).
    Both verify joins are pinned as SHUFFLED hash joins (r05):
    Catalyst's size estimate would otherwise broadcast the
    shingle-array relation, which OOMs the driver at the 10x replica
    scale — so the extra id-keyed exchanges (two per verify join:
    probe + build sides) are the accepted price and broadcast is
    banned from the verify stage."""
    df = dedup.q_dedup_minhash_lsh(spark, sf_small)
    assert n_shuffle_exchanges(df) <= 7, physical_plan(df)[:2000]
    plan = physical_plan(df)
    assert "ShuffledHashJoin" in plan, plan[:2000]
    # no broadcast anywhere in the verify pipeline — the shingle
    # relation must never be a build side
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_minhash_band_keys_are_row_local(spark, sf_small):
    """The band keys of a documents DataFrame (the streaming kernel's
    per-batch form) plan NO exchange — no explode+groupBy signature
    shuffle — and the optimized plan holds 1 + LSH_BANDS md5 calls:
    one shingle-hash transform that every minhash fold reads, plus one
    per band key.  A collapsed projection would re-hash the shingles
    once per fold."""
    from go_mapreduce_crawler_spark.sources.tables import load_table

    bands = dedup._band_keys(
        dedup._shingles(load_table(spark, sf_small, "documents")))
    assert n_shuffle_exchanges(bands) == 0, physical_plan(bands)[:2000]
    opt = bands._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("md5(") == 1 + dedup.LSH_BANDS, opt[:3000]


def test_semi_anti_join_operators(spark, sf_small):
    assert "LeftSemi" in physical_plan(relational.q_join_semi(spark, sf_small))
    assert "LeftAnti" in physical_plan(relational.q_join_anti(spark, sf_small))


def test_partitioned_write_prunes_partitions_on_read(spark, sf_small, tmp_path_factory):
    """Hive-style partitionBy + a filter on the partition column must
    prune at the FILE level (PartitionFilters in the scan, PartitionCount
    1 of 5) — at 100 TB this is reading one directory instead of all."""
    from go_mapreduce_crawler_spark.sources import sinks
    from go_mapreduce_crawler_spark.sources.tables import load_table

    p = str(tmp_path_factory.mktemp("part") / "orders_by_priority")
    sinks.write_parquet(load_table(spark, sf_small, "orders"), p,
                        partition_by=["o_orderpriority"], n_files=4)
    df = (spark.read.parquet(p)
          .filter(F.col("o_orderpriority") == "1-URGENT")
          .select("o_orderkey"))
    plan = physical_plan(df)
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan, plan
    assert df.count() > 0
    # the scan touches only the matching partition directory
    import re
    m = re.search(r"PartitionCount: (\d+)", plan)
    if m:
        assert int(m.group(1)) == 1, plan


def test_bucketed_join_skips_shuffle(spark, sf_small, tmp_path_factory):
    """Tables bucketed on the join key sort-merge-join with ZERO
    exchanges — the co-located-join contract write_bucketed promises.
    At 100 TB this converts every fact-fact join on the bucket key from
    a full shuffle into a local merge."""
    from go_mapreduce_crawler_spark.sources import sinks
    from go_mapreduce_crawler_spark.sources.tables import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sinks.write_bucketed(
            load_table(spark, sf_small, "orders"), "b_orders", "o_orderkey", 8)
        sinks.write_bucketed(
            load_table(spark, sf_small, "lineitem"), "b_lineitem", "l_orderkey", 8)
        joined = (spark.table("b_orders")
                  .join(spark.table("b_lineitem"),
                        F.col("o_orderkey") == F.col("l_orderkey"))
                  .groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("n")))
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert n_shuffle_exchanges(joined) <= 1, plan  # only the final agg shuffles
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_deterministic_sampling_is_shuffle_free(spark, sf_small):
    """Hash-deterministic split/stratify are narrow projections+filters:
    zero exchanges (the property that makes them viable at 100 TB,
    unlike randomSplit/sampleBy whose reproducibility couples to the
    partitioning)."""
    from go_mapreduce_crawler_spark.operators import sampling
    for fn in (sampling.q_sample_split, sampling.q_sample_stratified):
        df = fn(spark, sf_small)
        assert n_shuffle_exchanges(df) == 0, physical_plan(df)[:2000]
        assert not has_python_udf(df)


def test_tfidf_scalar_count_is_broadcast(spark, sf_small):
    """The corpus-size scalar joins in via broadcast, not a driver
    collect, and the whole query stays JVM-side."""
    from go_mapreduce_crawler_spark.operators import text as t
    df = t.q_text_tfidf(spark, sf_small)
    assert has_broadcast_join(df)
    assert not has_python_udf(df)


def test_multimodal_metadata_filter_runs_before_python_kernel(spark, sf_small):
    """The meta.width filter must sit BELOW MapInPandas (metadata pruning
    decides which payloads ever reach the Python decode kernel)."""
    from go_mapreduce_crawler_spark.operators import multimodal
    plan = physical_plan(multimodal.q_multimodal_features(spark, sf_small))
    assert "MapInPandas" in plan and "Filter" in plan
    # physical plans print top-down: the kernel above the filter means
    # the filter executes first
    assert plan.index("MapInPandas") < plan.index("Filter"), plan[:1500]


def test_shuffle_hash_hint_is_honored(spark, sf_small):
    """The skew playbook includes forcing a shuffled hash join when the
    build side fits per-partition but not broadcast — verify the hint
    reaches the physical plan."""
    from go_mapreduce_crawler_spark.sources.tables import load_table
    o = load_table(spark, sf_small, "orders")
    c = load_table(spark, sf_small, "customer").hint("shuffle_hash")
    plan = physical_plan(o.join(c, o.o_custkey == c.c_custkey))
    assert "ShuffledHashJoin" in plan, plan[:1500]


def test_q21_exists_compiles_to_semi_and_anti(spark, sf_small):
    """Correlated EXISTS / NOT EXISTS must become hash semi/anti joins
    with the suppkey inequality as residual — never a per-row subquery
    or nested loop."""
    plan = physical_plan(relational.q21_waiting_suppliers(spark, sf_small))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_q8_six_way_join_broadcasts_all_dims(spark, sf_small):
    """The 6-way Q8 join keeps every dimension broadcast: the only
    shuffle-worthy join partner is the fact-fact lineitem⋈orders."""
    df = relational.q8_market_share(spark, sf_small)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert not has_python_udf(df)


def test_interval_overlap_is_bucketed_hash_join_not_cartesian(spark, sf_small):
    """The interval self-join must hash-join on the day bucket with the
    range condition as residual — a cartesian/nested-loop here would be
    O(n^2) at scale."""
    from go_mapreduce_crawler_spark.operators import temporal
    plan = physical_plan(temporal.q_interval_overlap(spark, sf_small))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]


def test_interval_overlap_output_is_topk_bounded(spark, sf_small):
    """The raw overlap-pair relation is quadratic in users-per-day (17M
    rows at sf0.1, r04 verdict); the OUTPUT must be bounded to at most
    INTERVAL_OVERLAP_TOP_K rows per user_a so the answer stays
    collect-sized at any scale."""
    from go_mapreduce_crawler_spark.operators import temporal
    from pyspark.sql import functions as F
    df = temporal.q_interval_overlap(spark, sf_small)
    over = (df.groupBy("user_a").count()
              .filter(F.col("count") > temporal.INTERVAL_OVERLAP_TOP_K))
    assert over.count() == 0


def test_heavy_hitters_total_is_broadcast_scalar(spark, sf_small):
    from go_mapreduce_crawler_spark.operators import text as t
    df = t.q_heavy_hitters(spark, sf_small)
    assert has_broadcast_join(df)
    assert not has_python_udf(df)


def test_resample_ffill_is_join_free_single_shuffle(spark, sf_small):
    """The lead+explode gap-fill must stay one scan / one shuffle — the
    grid-join formulation doubles the events scan and shuffle (and its
    join side would be too big to broadcast at 100 TB)."""
    from go_mapreduce_crawler_spark.operators import temporal
    df = temporal.q_ts_resample_ffill(spark, sf_small)
    plan = physical_plan(df)
    assert "Join" not in plan, plan[:1500]
    assert n_shuffle_exchanges(df) == 1, plan[:1500]
    assert plan.count("+- Scan parquet") == 1, plan[:1500]


def test_zscore_broadcasts_stats_fact_never_shuffles(spark, sf_small):
    """Group stats must reach the fact table as a broadcast hash join;
    the only exchange is the tiny stats aggregate — a window
    formulation would shuffle the full events table."""
    from go_mapreduce_crawler_spark.operators import features
    df = features.q_feat_zscore(spark, sf_small)
    assert has_broadcast_join(df)
    assert n_shuffle_exchanges(df) == 1, physical_plan(df)[:1500]


def test_weighted_reservoir_pushes_partial_topk(spark, sf_small):
    """rank<=k must compile to WindowGroupLimit so each partition keeps
    only k candidates before the stratum shuffle."""
    from go_mapreduce_crawler_spark.operators import sampling
    df = sampling.q_sample_weighted(spark, sf_small)
    assert "WindowGroupLimit" in physical_plan(df)


def test_median_family_ranks_compacted_relation(spark, sf_small):
    """r04 skew fix: exact-median-family queries must rank the
    (group, value, cnt) relation produced by a partial+final agg —
    never row_number over raw fact rows (a TB-sized single-task sort
    per group partition at 100x).  row_number's absence is the marker
    for raw-row ranking; the compaction agg must be partial+final so
    map-side combine shrinks the shuffle."""
    from go_mapreduce_crawler_spark.operators import features, relational
    for fn in (relational.q_median_per_group, features.q_stats_trimmed,
               features.q_events_anomaly_mad, features.q_histogram_equidepth):
        df = fn(spark, sf_small)
        plan = physical_plan(df)
        assert "row_number" not in plan, (fn.__name__, plan[:1500])
        assert "ntile" not in plan, (fn.__name__, plan[:1500])
        assert "Window" in plan, fn.__name__
        assert has_partial_and_final_agg(df), fn.__name__


def test_funnel_has_no_collect_list(spark, sf_small):
    """r04 celebrity-safety pin: the funnel is chained conditional
    min-aggs — NO per-user collect_list (unbounded aggregation buffer
    for a bot account with 10^7 events), no Python, and the stage
    filter pushed into the scan.  All aggregates must be partial+final
    so per-user state stays O(1)."""
    from go_mapreduce_crawler_spark.operators import behavior
    df = behavior.q_funnel_conversion(spark, sf_small)
    plan = physical_plan(df)
    assert "collect_list" not in plan, plan
    assert not has_python_udf(df)
    assert "event_type" in pushed_filters(df)
    assert has_partial_and_final_agg(df)


def test_ohlc_is_single_aggregate_no_window(spark, sf_small):
    """OHLC candles must compile to ONE partial+final aggregate
    (min_by/max_by — SortAggregate, since struct ordering keys aren't
    hash-aggregable), not the two-pass window formulation the oracle
    uses — exactly one shuffle, no Window operator."""
    from go_mapreduce_crawler_spark.operators import temporal
    df = temporal.q_ohlc_hourly(spark, sf_small)
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert "partial_min_by" in plan, plan
    assert n_shuffle_exchanges(df) == 1, plan


def test_regr_is_single_aggregate(spark, sf_small):
    """The regression fit is one partial+final agg over exact moments —
    one shuffle of |types| rows, scalar math after."""
    from go_mapreduce_crawler_spark.operators import features
    df = features.q_regr_value_time(spark, sf_small)
    assert has_partial_and_final_agg(df)
    assert n_shuffle_exchanges(df) == 1


def test_basket_rules_supports_broadcast(spark, sf_small):
    """Item supports and the basket total must not reshuffle the pair
    counts: both support joins broadcast, and no Python appears."""
    from go_mapreduce_crawler_spark.operators import graph
    df = graph.q_basket_rules(spark, sf_small)
    assert has_broadcast_join(df)
    assert not has_python_udf(df)


def test_spread_is_gated_on_scan_splits(spark, sf_small, tmp_path):
    """spread() must be a NO-OP when the scan already yields >= cores
    splits — the unconditional form was a gratuitous full shuffle of the
    corpus at 100 TB (scans there arrive in thousands of splits)."""
    from go_mapreduce_crawler_spark.sources.tables import load_table, spread

    par = spark.sparkContext.defaultParallelism
    # single-split test file -> must spread up to parallelism
    docs = load_table(spark, sf_small, "documents")
    assert docs.rdd.getNumPartitions() < par
    assert spread(docs, "doc_id").rdd.getNumPartitions() == par

    # pre-split input (>= cores splits) -> identical plan, no Exchange
    p = str(tmp_path / "presplit")
    docs.repartition(par * 2).write.parquet(p)
    wide = spark.read.parquet(p)
    assert wide.rdd.getNumPartitions() >= par
    out = spread(wide, "doc_id")
    assert "Exchange" not in physical_plan(out), physical_plan(out)[:1000]


def test_repetition_is_two_shuffles_no_python(spark, sf_small):
    """One tagged explode feeds both gram sizes: (doc, gram) count +
    per-doc agg = two shuffles (the join back to token counts reuses the
    doc_id partitioning), all JVM."""
    from go_mapreduce_crawler_spark.operators import text as t
    df = t.q_text_repetition(spark, sf_small)
    assert not has_python_udf(df)
    assert n_shuffle_exchanges(df) <= 3, physical_plan(df)[:1500]


def test_contamination_eval_grams_broadcast(spark, sf_small):
    """The eval-side gram set must reach the train explode as a
    broadcast — never a shuffle of the full train gram stream against
    the tiny holdout."""
    from go_mapreduce_crawler_spark.operators import text as t
    df = t.q_text_contamination(spark, sf_small)
    assert has_broadcast_join(df)
    assert not has_python_udf(df)


def test_lm_score_model_broadcast(spark, sf_small):
    """The unigram model joins back to the token stream as a broadcast
    (bounded vocab); corpus total is a 1-row broadcast scalar."""
    from go_mapreduce_crawler_spark.operators import text as t
    df = t.q_text_lm_score(spark, sf_small)
    assert has_broadcast_join(df)
    assert not has_python_udf(df)


def test_runtime_bloom_filter_reduces_fact_scan(spark, sf_small):
    """Scale capability pin: with a selective dimension side and a
    non-broadcast join, Spark must inject a runtime bloom filter into
    the fact-side scan (semi-join reduction — at 100 TB this drops
    non-matching fact rows before the shuffle).  Thresholds lowered
    explicitly because test-SF tables are far below the production
    defaults the session keeps."""
    from go_mapreduce_crawler_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l = load_table(spark, sf_small, "lineitem")
        o = (load_table(spark, sf_small, "orders")
             .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (l.join(o, l.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")))
        assert "bloom_filter_agg" in physical_plan(j), physical_plan(j)[:1200]
        assert j.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_subsequence_search_topk_is_partial(spark, sf_small):
    """The global top-k must compile to TakeOrderedAndProject (per-
    partition partial top-k) — a full sort of all sliding windows would
    be the scale-killer in a data-series search scan."""
    from go_mapreduce_crawler_spark.operators import temporal
    df = temporal.q_ts_subsequence_search(spark, sf_small)
    assert "TakeOrderedAndProject" in physical_plan(df)
    assert not has_python_udf(df)


def test_pagerank_inflow_is_hash_sum_not_collect_list(spark, sf_small):
    """The per-node inflow must be an order-independent partial+final
    sum of fixed-point longs — a collect_list/sorted-fold formulation
    buffers a celebrity node's entire neighborhood in one aggregation
    row, the OOM at 100x scale (VERDICT r02 weak #2)."""
    from go_mapreduce_crawler_spark.operators import graph
    items = graph._items(spark, sf_small)
    edges = graph._pair_counts(items).select("pa", "pb")
    adj = (edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
           .union(edges.select(F.col("pb").alias("src"),
                               F.col("pa").alias("dst"))))
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    adj_deg = adj.join(deg, "src")
    pr0 = deg.select(F.col("src").alias("node"),
                     (F.lit(1.0) / F.lit(100)).alias("rank"))
    step = graph._pr_step(adj_deg, pr0, 100, 0.85)
    plan = physical_plan(step)
    assert "collect_list" not in plan, plan[:1500]
    assert "ObjectHashAggregate" not in plan, plan[:1500]
    assert has_partial_and_final_agg(step)
    assert not has_python_udf(step)


def test_seq_packing_prefix_sum_is_two_level(spark, sf_small):
    """The corpus-wide running token total must be the bucketed two-level
    prefix sum: at most ONE single-partition exchange (the tiny bucket
    summary), the fact-side window partitioned by bucket, offsets joined
    back by broadcast — never a global-order window over the corpus."""
    from go_mapreduce_crawler_spark.operators import text as t
    df = t.q_seq_packing(spark, sf_small)
    plan = physical_plan(df)
    assert plan.count("Exchange SinglePartition") <= 1, plan[:2000]
    assert has_broadcast_join(df)
    assert not has_python_udf(df)


def test_embedding_quantize_is_rowlocal_after_tiny_agg(spark, sf_small):
    """Quantization must be row-local zip_with against the broadcast
    64-dim scale array: one aggregation (the per-dim max), no regroup
    shuffle of the corpus, no Python."""
    from go_mapreduce_crawler_spark.operators import similarity as s
    df = s.q_embedding_quantize(spark, sf_small)
    assert has_broadcast_join(df)
    assert not has_python_udf(df)
    assert n_shuffle_exchanges(df) <= 2, physical_plan(df)[:2000]


def test_semantic_dedup_broadcasts_centroids_and_pushes_argmin(spark, sf_small):
    """dedup_semantic_clusters: the centroid table broadcasts (never a
    shuffled join against the corpus), the per-vector argmin compiles to
    a WindowGroupLimit (rank<=1 pushed below the exchange), and no
    CartesianProduct appears — the cross with the k-row centroid side
    must be a broadcast nested loop."""
    df = dedup.q_dedup_semantic(spark, sf_small)
    plan = physical_plan(df)
    assert "BroadcastExchange" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert not has_python_udf(df)


def test_contamination_bloom_relation_broadcasts(spark, sf_small):
    """text_contamination_bloom: the (slot, word) bloom relation joins
    the train probes by BROADCAST — the fixed-size filter ships to the
    data, the gram explode never shuffles to it."""
    df = text.q_text_contamination_bloom(spark, sf_small)
    assert has_broadcast_join(df)
    assert not has_python_udf(df)


def test_ann_lsh_candidates_join_mapside_no_bucket_arrays(spark, sf_small):
    """ann_lsh_cosine: candidate discovery is a map-side broadcast join
    of the corpus sketch stream against the (gated) query sketches — the
    corpus must not shuffle to find candidates, and no collect_set per
    bucket may appear (a hot bucket would materialize its membership in
    one aggregation buffer, the celebrity-key hazard)."""
    from go_mapreduce_crawler_spark.operators import similarity as s
    df = s.q_ann_lsh(spark, sf_small)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "collect_set" not in plan, plan[:2000]


def test_quality_classifier_is_shuffle_free_scan(spark, sf_small):
    """quality_classifier_hashed: the hashed-linear score is a row-local
    array fold — the whole query must be one scan with ZERO shuffle
    exchanges and no Python, or it would not be a single-pass filter at
    100 TB."""
    from go_mapreduce_crawler_spark.operators import curation
    df = curation.q_quality_classifier(spark, sf_small)
    assert n_shuffle_exchanges(df) == 0, physical_plan(df)[:2000]
    assert not has_python_udf(df)


def test_blocklist_filter_is_shuffle_free_scan(spark, sf_small):
    """text_blocklist_filter: all policy rules fuse into the scan
    projection — zero shuffles, no Python."""
    from go_mapreduce_crawler_spark.operators import curation
    df = curation.q_blocklist_filter(spark, sf_small)
    assert n_shuffle_exchanges(df) == 0, physical_plan(df)[:2000]
    assert not has_python_udf(df)


def test_shard_assignment_two_level_shuffles(spark, sf_small):
    """shard_assignment (r04 two-level form): at most two exchanges —
    the fact stream hashes once on (shard, bkt) for the local rank,
    and the bucket-count summary (|shards| x 256 rows) pays two
    summary-sized exchanges (partial+final agg, offset window) before
    broadcasting back.  The FACT stream shuffles exactly once; no
    bare-shard window (see
    test_budget_and_shard_windows_are_bucket_partitioned)."""
    from go_mapreduce_crawler_spark.operators import curation
    df = curation.q_shard_assignment(spark, sf_small)
    assert n_shuffle_exchanges(df) <= 3, physical_plan(df)[:2000]
    assert has_broadcast_join(df)


def test_anomaly_mad_broadcasts_stats_fact_never_shuffles(spark, sf_small):
    """events_anomaly_mad: both stats tables (median, MAD) come back to
    the fact scan as BROADCAST joins — the final filtered output must
    not hash-shuffle the events stream a third time."""
    from go_mapreduce_crawler_spark.operators import features as feat
    df = feat.q_events_anomaly_mad(spark, sf_small)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert not has_python_udf(df)


def test_label_propagation_no_neighborhood_arrays(spark, sf_small):
    """label_propagation: the per-node argmax must be rank-based — no
    collect_list/collect_set neighborhood buffers anywhere in the plan
    (celebrity-node safety, like the pagerank inflow)."""
    from go_mapreduce_crawler_spark.operators import graph
    plan = physical_plan(graph.q_label_propagation(spark, sf_small))
    assert "collect_list" not in plan and "collect_set" not in plan, plan[:2000]


def test_pipeline_e2e_single_scan_three_shuffles(spark, sf_small):
    """pipeline_pretraining_e2e: the three row-local stages (policy,
    scoring, fingerprint) must fuse into ONE scan of documents, with
    shuffles only for dedup-group, shard window, and the final agg."""
    from go_mapreduce_crawler_spark.operators import curation
    df = curation.q_pipeline_pretraining(spark, sf_small)
    plan = physical_plan(df)
    # one scan NODE (the formatted plan prints each node once in the
    # tree and once in the detail section — count the detail anchor)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan[:2000]
    assert n_shuffle_exchanges(df) <= 3, plan[:2000]
    assert not has_python_udf(df)


def test_new_r04_operators_plan_shapes(spark, sf_small):
    """r04 additions hold the standing plan discipline:
    - random projection is a pure narrow map (zero shuffles, no Python)
    - hard-negative mining broadcasts the gated query set
    - DSIR joins its 1024-row model back by broadcast over a
      partial+final bucket count
    - boilerplate removal aggregates partial+final and keeps Python out
    """
    from go_mapreduce_crawler_spark.operators import curation, similarity, text

    rp = similarity.q_embedding_random_projection(spark, sf_small)
    assert n_shuffle_exchanges(rp) == 0, physical_plan(rp)[:1200]
    assert not has_python_udf(rp)

    hn = similarity.q_hard_negatives(spark, sf_small)
    assert has_broadcast_join(hn)
    assert not has_python_udf(hn)

    ds = curation.q_dsir_weights(spark, sf_small)
    assert has_broadcast_join(ds)
    assert has_partial_and_final_agg(ds)
    assert not has_python_udf(ds)

    rb = text.q_remove_boilerplate(spark, sf_small)
    assert has_partial_and_final_agg(rb)
    assert not has_python_udf(rb)


def test_budget_and_shard_windows_are_bucket_partitioned(spark, sf_small):
    """r04 two-level prefix pin: the running-sum/rank windows in
    sample_token_budget and shard_assignment must partition on
    (group, hash-prefix bucket) — never the bare group key, whose
    partitions hold a TB-scale slice of the corpus at 100x.  The
    marker: every Window partition spec in the plan includes bkt."""
    import re
    from go_mapreduce_crawler_spark.operators import curation
    for fn in (curation.q_sample_token_budget, curation.q_shard_assignment):
        plan = physical_plan(fn(spark, sf_small))
        specs = re.findall(r"Arguments: \[[^\]]*windowspecdefinition\(([^,]+), ([^,]+),", plan)
        wins = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert wins, (fn.__name__, plan[:1200])
        for w_line in wins:
            assert "bkt" in w_line, (fn.__name__, w_line)


def test_r04_batch2_plan_shapes(spark, sf_small):
    """Second r04 batch: EWMA is one window shuffle with no Python;
    group-holdout split is a zero-shuffle narrow projection; tf-idf
    pair generation and multimodal dedup aggregate partial+final with
    no Python stage."""
    from go_mapreduce_crawler_spark.operators import (multimodal, sampling,
                                                      temporal, text)
    ew = temporal.q_events_ewma(spark, sf_small)
    assert n_shuffle_exchanges(ew) == 1, physical_plan(ew)[:1200]
    assert not has_python_udf(ew)

    gs = sampling.q_sample_split_group(spark, sf_small)
    assert n_shuffle_exchanges(gs) == 0, physical_plan(gs)[:1200]

    tp = text.q_tfidf_doc_pairs(spark, sf_small)
    assert has_partial_and_final_agg(tp)
    assert not has_python_udf(tp)

    md = multimodal.q_multimodal_dedup(spark, sf_small)
    assert has_partial_and_final_agg(md)
    assert not has_python_udf(md)


def test_r04_batch3_plan_shapes(spark, sf_small):
    """Third r04 batch: quantile normalization broadcasts the compacted
    pct table back onto the unshuffled fact scan (no raw-row rank
    window); PMI and RFM aggregate partial+final with no Python."""
    from go_mapreduce_crawler_spark.operators import behavior, features, text
    qn = features.q_feat_quantile_normalize(spark, sf_small)
    plan = physical_plan(qn)
    assert "percent_rank" not in plan and "row_number" not in plan, plan[:1200]
    assert has_broadcast_join(qn)
    assert not has_python_udf(qn)

    for fn in (text.q_text_pmi_pairs, behavior.q_rfm_segmentation):
        df = fn(spark, sf_small)
        assert has_partial_and_final_agg(df), fn.__name__
        assert not has_python_udf(df), fn.__name__


def test_abc_analysis_windows_are_bucket_partitioned(spark, sf_small):
    """The ABC running sum must use the two-level value-range-bucket
    prefix (window partitioned on bkt + broadcast offsets) — never one
    global revenue-ordered window over all parts."""
    from go_mapreduce_crawler_spark.operators import relational
    df = relational.q_abc_analysis(spark, sf_small)
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    # every revenue-ordered window must carry the bucket partition key
    for l in plan.splitlines():
        if "windowspecdefinition" in l and "revenue" in l and "DESC" in l:
            assert "bkt" in l, l


def test_concurrency_sweep_is_two_level_prefix(spark, sf_small):
    """The sweep-line open-interval count must be the two-level prefix
    sum: the boundary-stream running sum partitioned by the day bucket,
    day offsets broadcast back — never one global unpartitioned window
    over every boundary (a single task holding the 100-TB boundary
    stream).  The only unpartitioned window allowed is the one over the
    tiny per-day totals relation (|days| rows)."""
    from go_mapreduce_crawler_spark.operators import temporal
    df = temporal.q_events_concurrency(spark, sf_small)
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    # the running sum over the boundary stream carries the bucket key
    assert any("windowspecdefinition(bucket" in l
               for l in plan.splitlines()), plan[:2000]
    assert has_partial_and_final_agg(df)
    assert not has_python_udf(df)


def test_series_ops_window_compacted_hourly_relation(spark, sf_small):
    """ACF / changepoint / trending run their windows over the
    COMPACTED (type, hour) count relation — a partial+final agg must
    shrink the fact scan before any window or generator touches it, so
    window input is bounded by the time span, never by event volume."""
    from go_mapreduce_crawler_spark.operators import temporal
    for fn in (temporal.q_events_autocorrelation,
               temporal.q_events_changepoint):
        df = fn(spark, sf_small)
        assert has_partial_and_final_agg(df), fn.__name__
        assert not has_python_udf(df), fn.__name__


def test_sliding_distinct_explodes_compacted_presence(spark, sf_small):
    """window_sliding_distinct_7d must fan out the compacted
    (user, day) presence relation (x7 of a distinct-keyed agg), never
    raw events (x7 of the fact table), and the final distinct count
    must be partial+final."""
    from go_mapreduce_crawler_spark.operators import temporal
    df = temporal.q_sliding_distinct_7d(spark, sf_small)
    plan = physical_plan(df)
    # Generate (explode) must consume the aggregated relation: the agg
    # appears below the generator in the plan tree, so the plan string
    # contains an aggregate for presence plus the final count-distinct.
    assert "explode(sequence" in plan, plan[:2000]
    assert has_partial_and_final_agg(df)
    assert not has_python_udf(df)


def test_r04_batch4_plan_shapes(spark, sf_small):
    """Plan pins for this session's operators: two-level prefix windows
    carry their bucket partition key (KS, Gini, perplexity terciles),
    stats ops broadcast their tiny aggregates onto the fact side, the
    OOV vocabulary ranks via TakeOrderedAndProject (never a global
    sort), and the closed-form stats are single-aggregate plans with
    no window at all."""
    from go_mapreduce_crawler_spark.operators import (
        dedup, features, relational, temporal, text)

    # two-level windows: any value-ordered windowspec must carry bkt
    for fn, val in ((features.q_stats_ks_two_sample, "value"),
                    (features.q_gini_revenue, "x")):
        plan = physical_plan(fn(spark, sf_small))
        assert has_broadcast_join(fn(spark, sf_small))
        for l in plan.splitlines():
            if "windowspecdefinition" in l and f"{val}#" in l \
                    and "unboundedpreceding" in l.lower():
                assert "bkt" in l, (fn.__name__, l)

    ppl = text.q_quality_ppl_buckets(spark, sf_small)
    for l in physical_plan(ppl).splitlines():
        if "windowspecdefinition" in l and "score" in l:
            assert "bkt" in l, l

    # OOV vocab: top-k via TakeOrderedAndProject, not Sort+Limit-global
    assert "TakeOrderedAndProject" in physical_plan(
        text.q_text_oov_rate(spark, sf_small))

    # broadcast stats joins; fact side never re-shuffles for the join
    for fn in (features.q_stats_chi_square, temporal.q_events_seasonality):
        assert has_broadcast_join(fn(spark, sf_small)), fn.__name__

    # single-agg closed forms: no window operator anywhere
    for fn in (features.q_stats_ttest_welch, features.q_regr_multiple_ols,
               features.q_stats_corr_matrix):
        assert "Window" not in physical_plan(fn(spark, sf_small)), fn.__name__

    # referential audit: all four checks plan as broadcast anti-joins
    plan = physical_plan(features.q_validate_referential(spark, sf_small))
    assert plan.count("LeftAnti") >= 4, plan.count("LeftAnti")

    # mode/division/streak/novelty: partial+final aggregation present
    for fn in (relational.q_mode_per_group, relational.q_division_priorities,
               temporal.q_streak_longest, text.q_text_ngram_novelty,
               dedup.q_dedup_cluster_sizes):
        assert has_partial_and_final_agg(fn(spark, sf_small)), fn.__name__


def test_r05b_plan_shapes(spark, sf_small):
    """r05b batch: URL canonicalization is pure codegen (no Python, no
    explode) with exactly the one final agg shuffle; seasonal-residual
    anomaly broadcasts the cell grid + variances back onto the fact
    scan; decayed engagement broadcasts the weight table and max-day
    (one user_id shuffle, no driver collect of data); Holt's forecast
    joins the weight table broadcast; Theil-Sen pairs only the
    aggregated daily series."""
    from go_mapreduce_crawler_spark.operators import (behavior, curation,
                                                      features, temporal)
    url = curation.q_url_frontier_dedup(spark, sf_small)
    plan = physical_plan(url)
    assert not has_python_udf(url)
    assert "Generate" not in plan, plan[:1200]       # no explode survives
    assert n_shuffle_exchanges(url) == 1, plan[:1200]
    assert has_partial_and_final_agg(url)

    an = features.q_anomaly_seasonal_residual(spark, sf_small)
    aplan = physical_plan(an)
    assert aplan.count("BroadcastHashJoin") >= 2, aplan[:2000]
    assert not has_python_udf(an)

    de = behavior.q_decayed_engagement(spark, sf_small)
    dplan = physical_plan(de)
    assert has_broadcast_join(de)
    assert not has_python_udf(de)
    assert "BroadcastNestedLoopJoin" in dplan, dplan[:1500]  # max-day

    hf = temporal.q_events_holt_forecast(spark, sf_small)
    assert has_broadcast_join(hf)
    assert not has_python_udf(hf)

    ts = features.q_stats_theil_sen(spark, sf_small)
    assert not has_python_udf(ts)
    # the pair join's inputs are the compacted daily rollup: the join
    # must sit ABOVE at least one partial+final aggregate
    assert has_partial_and_final_agg(ts)


def test_partitioned_sink_read_prunes_partitions(spark, sf_small,
                                                 tmp_path):
    """Hive-layout partitioned sink + filtered re-read must prune at
    the PARTITION level (PartitionFilters on the scan, one partition
    directory scanned) — the property that makes lang/source-sharded
    100 TB corpora cheap to slice."""
    from go_mapreduce_crawler_spark.sources.sinks import write_parquet
    from go_mapreduce_crawler_spark.sources.tables import load_table
    docs = load_table(spark, sf_small, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_parquet(docs, out, partition_by=["lang"], n_files=2)
    rd = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = physical_plan(rd)
    assert "PartitionFilters" in plan and "lang" in plan, plan[:1500]
    n_langs = docs.select("lang").distinct().count()
    assert rd.count() == docs.filter(F.col("lang") == "en").count()
    assert n_langs > 1


def test_ann_pq_adc_lut_walk_is_row_local(spark, sf_small):
    """ann_pq_adc: the ADC stage must be the FAISS shape — one Arrow
    kernel (MapInPandas) whose DIRECT child is the code-pivot aggregate,
    never a join.  The r05 shape joined the (vec_id, m, cid) code stream
    to the per-query distance table and shuffled N x M x |Q| rows into a
    groupBy (~4e11 rows at 1e9 vectors); row-local LUT scoring plus
    partition-local top-k makes the pre-rank exchange carry only
    ~partitions x |Q| x shortlist skinny rows."""
    from go_mapreduce_crawler_spark.operators import similarity as s
    plan = physical_plan(s.q_ann_pq_adc(spark, sf_small))
    assert "MapInPandas" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    # top-down print: everything after the kernel is its subtree (the
    # PQ training joins live deeper); the FIRST node under the kernel
    # must be the pivot aggregate, before any join of any kind.
    after = plan[plan.index("MapInPandas"):]
    first_agg = after.index("ObjectHashAggregate")
    joins = [after.index(j) for j in
             ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin") if j in after]
    assert not joins or first_agg < min(joins), after[:1500]


def test_bloom_prefilter_join_prunes_below_the_fact_exchange(spark,
                                                             sf_small):
    """join_bloom_prefilter: the bitmap arrives as ONE broadcast row
    (BroadcastNestedLoopJoin Cross) and the bloom predicate executes
    row-locally BELOW the fact-side exchange of the shuffle recheck
    join — printed top-down, the ShuffledHashJoin must sit ABOVE the
    bloom stage.  A probe explode or slot join on the fact side would
    re-shuffle lineitem and defeat the runtime-filter pattern."""
    from go_mapreduce_crawler_spark.operators import scale as sc
    df = sc.q_join_bloom_prefilter(spark, sf_small)
    plan = physical_plan(df)
    assert "ShuffledHashJoin Inner" in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin Cross" in plan, plan[:1500]
    assert (plan.index("ShuffledHashJoin")
            < plan.index("BroadcastNestedLoopJoin")), plan[:2000]
    assert not has_python_udf(df)


def test_substring_suffix_dedup_no_single_partition_sort(spark, sf_small):
    """dedup_substring_suffix_array (r07 verdict item 3 de-skew): the
    full lazy plan (checkpoint_rounds=False) must contain NO window
    keyed by a naming class — every Window spec is doc_id-partitioned
    (the lead pairing and the coverage frame); class-min naming is
    groupBy+join, so a Zipf-hot token/class never serializes into one
    window task.  Also: no Exchange SinglePartition anywhere (the
    global sort a lexicographic suffix array would need is provably
    unnecessary for the dedup semantics), no Python UDF, no
    InMemoryRelation."""
    import re

    from go_mapreduce_crawler_spark.operators.dedup import _substring_report
    df = _substring_report(spark, sf_small, checkpoint_rounds=False)
    plan = physical_plan(df)
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert not has_python_udf(df)
    assert "InMemoryRelation" not in plan
    # every Window node must be doc_id-partitioned; a window keyed by
    # w / r / r2 would be the single-task-per-class skew the r07
    # verdict flagged (first windowspecdefinition arg = first
    # partition column)
    win_keys = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert win_keys, plan[:2000]
    assert all(k == "doc_id" for k in win_keys), (set(win_keys),
                                                  plan[:3000])
    # the naming rounds survive as class-keyed hashpartitioning
    # exchanges (agg + join per round) on top of the doc windows
    assert plan.count("hashpartitioning") >= 4, plan[:3000]


def test_phash_near_dup_candidates_are_rank_equijoined(spark, sf_small):
    """multimodal_near_dup_phash (r07 SNM re-plan): the candidate join
    must be a plain EQUI-join keyed on (band, chunk, rank+j) — never a
    bucket self-join on (band, chunk) alone, whose work is quadratic
    in bucket size (the real-sf1 probe measured ~x100 candidates for
    x10 media before the re-plan)."""
    from go_mapreduce_crawler_spark.operators.multimodal import (
        q_multimodal_near_dup)
    df = q_multimodal_near_dup(spark, sf_small)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "rn2" in plan, plan[:2000]        # the rank key reaches the join
    # band explode on both join inputs + the neighbor-offset explode —
    # and nothing else ("Generate (" matches tree nodes once each)
    assert plan.count("Generate (") == 3, plan[:2500]


def test_hybrid_rrf_plan_broadcasts_and_never_cartesian(spark, sf_small):
    """hybrid_retrieval_rrf: the query-term relation and kNN query set
    must BROADCAST onto the corpus-sized relations (posting-list and
    embedding scans), and no CartesianProduct may appear — the plan
    property that keeps the hybrid linear in the corpus."""
    from go_mapreduce_crawler_spark.operators import similarity

    df = similarity.q_hybrid_retrieval_rrf(spark, sf_small)
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan, plan
    assert not has_python_udf(df)


def test_mmr_plan_single_arrow_kernel_no_row_python(spark, sf_small):
    """retrieval_mmr_diversify: the greedy step must run as ONE
    Arrow grouped-map (FlatMapGroupsInPandas), never row-at-a-time
    Python (BatchEvalPython), and candidate generation must broadcast
    the gated query set."""
    from go_mapreduce_crawler_spark.operators import similarity

    df = similarity.q_retrieval_mmr(spark, sf_small)
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert not has_python_udf(df)
    assert has_broadcast_join(df)


def test_rake_and_burstiness_plans_stay_jvm_side(spark, sf_small):
    """text_keyphrase_rake / text_word_burstiness: whole plan JVM-side
    (no Python anywhere), partial+final aggregation for the corpus
    statistics, and the only window in RAKE is doc_id-keyed (no global
    single-partition window)."""
    from go_mapreduce_crawler_spark.operators import text as tx

    rake = tx.q_text_keyphrase_rake(spark, sf_small)
    plan = physical_plan(rake)
    assert not has_python_udf(rake)
    # phrase segmentation window is doc-keyed, not global
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower() and "pos" in line:
            assert "doc_id" in line, line

    burst = tx.q_text_word_burstiness(spark, sf_small)
    assert not has_python_udf(burst)
    assert has_partial_and_final_agg(burst)


def test_ensemble_gate_plan_partial_final_and_no_python(spark, sf_small):
    """quality_ensemble_gate composes four JVM-side parents plus one
    Arrow kernel (the unigram scorer); the fusion itself must add no
    Python and keep the doc_id joins shuffle-based (co-locatable by
    bucketing at scale), with the corpus total broadcast."""
    from go_mapreduce_crawler_spark.operators import text as tx

    df = tx.q_quality_ensemble_gate(spark, sf_small)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)   # the 1-row total
    assert "BatchEvalPython" not in plan
