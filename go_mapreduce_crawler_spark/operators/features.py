"""Feature-engineering and data-quality operators — LLM-pipeline extensions
(SURVEY.md §2.3; the reference has no statistics surface at all, its
only aggregate is the user-supplied monoid fold, pool.go:8-12).

Normalization is the step between corpus curation and training: scale
per-group statistics are computed once, then applied row-wise.  The
scale-critical property is that the FACT TABLE NEVER SHUFFLES: group
statistics are a tiny partial+final aggregate, broadcast back onto the
events stream as a map-side hash join.  A window formulation would
shuffle all 100 TB on the group key to compute the same numbers.

Determinism follows the repo's exact-moments convention
(relational.q_stats_moments): power sums in DECIMAL (order-independent
over any partitioning), float math once on scalars at the end,
round(6) on the way out.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.exact import dec, ts_day, ts_hour
from ..functions.text import words
from ..sources.tables import load_table

MONEY = "decimal(12,2)"


def q_feat_zscore(spark, sf_dir):
    """Population z-score of event value within its event_type.

    ``stats`` is |event_type| rows — broadcast; the join adds no
    exchange on the events side (asserted in tests/test_plans.py).
    """
    e = load_table(spark, sf_dir, "events")
    v = dec("value", MONEY)
    stats = (e.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(v).alias("sx"),
                   F.sum(v * v).alias("sx2")))
    nd = F.col("n").cast("double")
    sxd, sx2d = F.col("sx").cast("double"), F.col("sx2").cast("double")
    z = ((v.cast("double") - sxd / nd)
         / F.sqrt((nd * sx2d - sxd * sxd) / (nd * nd)))
    return (e.join(F.broadcast(stats), "event_type")
             .select("event_id", "event_type", F.round(z, 6).alias("zscore")))


def q_skyline_pareto(spark, sf_dir):
    """Per-brand 2-D Pareto frontier of parts: minimize retail price,
    maximize size (the best price-for-size offers).

    The naive definition is a quadratic self-join ("no other part is at
    most as expensive AND at least as large, differing somewhere") —
    that IS the oracle.  The engine instead sorts each brand by
    (price ASC, size DESC) and keeps a point iff its size strictly
    exceeds the running max size of all earlier points: an O(n log n)
    single-window formulation over deduplicated (brand, price, size)
    points, one shuffle on brand.  Equality cases: an equal-price
    larger-size point and an equal-size cheaper point both set the
    running max, correctly excluding the dominated point; duplicates
    are collapsed first so neither twin eliminates the other.
    """
    p = load_table(spark, sf_dir, "part")
    pts = (p.select("p_brand", dec("p_retailprice", MONEY).alias("price"),
                    "p_size")
            .distinct())
    w = (W.partitionBy("p_brand")
          .orderBy(F.asc("price"), F.desc("p_size"))
          .rowsBetween(W.unboundedPreceding, -1))
    return (pts.withColumn("prev_max", F.max("p_size").over(w))
               .filter(F.col("prev_max").isNull()
                       | (F.col("p_size") > F.col("prev_max")))
               .select("p_brand", F.col("price").cast("double").alias("price"),
                       "p_size"))


def q_profile_table(spark, sf_dir):
    """Column-profile of documents: row count, per-column null and
    distinct counts, n_chars min/max — the Deequ/profiling primitive a
    curation pipeline runs before training.  One pass, one reduce to a
    single row, unpivoted to (metric, value) rows.

    At 100 TB the exact COUNT(DISTINCT) expansions become the
    bottleneck (one Expand row per column per input row); swap in
    approx_count_distinct/HLL there — the exact form is the oracle
    anchor at test scale.
    """
    d = load_table(spark, sf_dir, "documents")
    agg = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("text").isNull().cast("bigint")).alias("null_text"),
        F.sum(F.col("lang").isNull().cast("bigint")).alias("null_lang"),
        F.sum(F.col("source").isNull().cast("bigint")).alias("null_source"),
        F.countDistinct("lang").alias("distinct_lang"),
        F.countDistinct("source").alias("distinct_source"),
        F.min("n_chars").alias("min_n_chars"),
        F.max("n_chars").alias("max_n_chars"))
    cols = ["n_rows", "null_text", "null_lang", "null_source",
            "distinct_lang", "distinct_source", "min_n_chars", "max_n_chars"]
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return agg.selectExpr(
        f"stack({len(cols)}, {stack}) AS (metric, value)")


def q_feat_quantile_normalize(spark, sf_dir):
    """Quantile (rank) normalization of event value within its type:
    each event's value maps to its PERCENT_RANK in [0, 1] — the
    outlier-immune normalization (vs z-scores) used for heavy-tailed
    features before training.

    Scale (the median-family recipe): percent ranks are computed on the
    COMPACTED (type, value, cnt) relation — pct(v) = (cum - cnt) /
    (n - 1), the min-rank form, so duplicates share one row — and the
    tiny mapping table broadcasts back onto the UNSHUFFLED fact scan
    (the zscore shape).  The fact table never shuffles; the per-type
    sort is value-domain-bounded.  The oracle deliberately uses the
    OTHER construction (a raw-row PERCENT_RANK window) so the two
    independent formulations must agree; fixed-point floor(pct * 1e6)
    leaves the engine.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "event_type", dec("value", MONEY).alias("v"))
    vc = base.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("cnt"))
    grp = W.partitionBy("event_type")
    w = grp.orderBy("v")
    pct = (vc.select(
               "event_type", "v",
               F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding,
                                               W.currentRow)).alias("cum"),
               "cnt", F.sum("cnt").over(grp).alias("n"))
             .select("event_type", "v",
                     F.floor(F.when(F.col("n") > 1,
                                    (F.col("cum") - F.col("cnt"))
                                    / (F.col("n") - 1) * 1e6)
                              .otherwise(0.0)).cast("long").alias("pct_e6")))
    return (base.join(F.broadcast(pct), ["event_type", "v"])
                .select("event_id", "event_type",
                        F.col("v").cast("double").alias("value"), "pct_e6"))


def q_validate_events(spark, sf_dir):
    """Constraint validation: emit each event that violates any declared
    expectation, with the comma-joined names of the failed checks —
    the expectations/data-contract primitive.

    A pure narrow projection+filter (zero shuffles, trivially parallel);
    the JSON probe uses get_json_object, which prunes to the one key.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    checks = [
        ("value_range", (F.col("value") >= 0) & (F.col("value") <= 450)),
        ("type_allowed", F.col("event_type")
            .isin("click", "signup", "view", "purchase")),
        ("props_k_bound", k.isNotNull() & (k < 95)),
    ]
    viol = F.concat_ws(",", *[F.when(~ok, name) for name, ok in checks])
    return (e.select("event_id", viol.alias("violations"))
             .filter(F.col("violations") != ""))


def q_validate_embeddings(spark, sf_dir):
    """Data-contract validation for the vector table — the embeddings
    twin of validate_events, emitting a SUMMARY row per declared check
    (n_checked, n_violations) rather than per-row verdicts: corrupt
    vectors are rare enough at 100 TB that the violation list belongs
    in a side output, but the contract scorecard must always be
    non-empty and cheap.

    One partial+final global aggregate of conditional counts (the
    per-vector predicates are row-local folds — zero extra shuffles),
    exploded to one row per check.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate("embedding", F.lit(0.0),
                     lambda a, x: a + x.cast("double") * x.cast("double"))
    checks = [
        ("vec_not_null", F.col("embedding").isNotNull()),
        ("dim_is_64", F.size("embedding") == 64),
        ("norm_positive", sq > 0.0),
        ("label_in_domain", F.col("label").between(0, 9)),
    ]
    agg = e.agg(F.count(F.lit(1)).alias("n_checked"),
                *[F.count(F.when(~ok, 1)).alias(f"v_{name}")
                  for name, ok in checks])
    return (agg.select("n_checked", F.explode(F.array(*[
                F.struct(F.lit(name).alias("check"),
                         F.col(f"v_{name}").alias("n_violations"))
                for name, _ in checks])).alias("r"))
               .select(F.col("r.check").alias("check"), "n_checked",
                       "r.n_violations"))


def q_histogram_equiwidth(spark, sf_dir):
    """Equi-width histogram of event value per event type: 20 bins of
    width 25 over [0, 500), with exact decimal mass per bin.

    Binning is integer floor arithmetic (engine-portable, no
    width_bucket dependency); the aggregate is the standard
    partial+final shape, shuffling only |types| x 20 partial rows.
    """
    e = load_table(spark, sf_dir, "events")
    bin_ = F.floor(dec("value", MONEY) / 25).cast("int")
    return (e.groupBy("event_type", bin_.alias("bin"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(dec("value", MONEY)).cast("double").alias("mass"))
             .select("event_type", "bin",
                     (F.col("bin") * 25.0).alias("bin_lo"), "n", "mass"))


def q_histogram_equidepth(spark, sf_dir):
    """Equi-DEPTH histogram (deciles) of event value per type: 10
    buckets of equal row count, with exact per-bucket range and mass —
    the optimizer-statistics twin of the equi-width histogram (and the
    shape ANALYZE builds for selectivity estimation).

    NTILE bucket membership is pure rank arithmetic — identical in
    both engines; bounds and mass stay in DECIMAL.

    Scale-safe two-level form (r04, same recipe as the median family):
    the fact table compacts to (event_type, value, cnt) with a
    partial+final agg, the cumulative-count window runs over DISTINCT
    values, and each value distributes its cnt copies across the NTILE
    rank ranges it overlaps (bucket k of n rows covers ranks
    [(k-1)*q + min(k-1, r) + 1, k*q + min(k, r)], q = n div 10,
    r = n mod 10 — NTILE's exact rule).  Equal values are
    interchangeable within a rank range, so n/lo/hi/mass are identical
    to ranking raw rows — while the per-type sort touches the value
    domain, never a TB-sized type partition.  Pinned by
    tests/test_plans.py::test_median_family_ranks_compacted_relation.
    """
    e = load_table(spark, sf_dir, "events")
    vc = (e.select("event_type", dec("value", MONEY).alias("v"))
           .groupBy("event_type", "v")
           .agg(F.count(F.lit(1)).alias("cnt")))
    grp = W.partitionBy("event_type")
    w = grp.orderBy("v")
    ranked = vc.select(
        "event_type", "v", "cnt",
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
         .alias("cum"),
        F.sum("cnt").over(grp).alias("n"))
    q, r = F.col("n") / 10, F.col("n") % 10
    b_lo = ((F.col("bucket") - 1) * F.floor(q)
            + F.least(F.col("bucket") - 1, r) + 1)
    b_hi = (F.col("bucket") * F.floor(q) + F.least(F.col("bucket"), r))
    overlap = (F.least(F.col("cum"), b_hi)
               - F.greatest(F.col("cum") - F.col("cnt") + 1, b_lo) + 1)
    return (ranked.withColumn("bucket", F.explode(F.sequence(F.lit(1),
                                                             F.lit(10))))
                  .withColumn("k", overlap)
                  .filter(F.col("k") > 0)
                  .groupBy("event_type", "bucket")
                  .agg(F.sum("k").alias("n"),
                       F.min("v").cast("double").alias("lo"),
                       F.max("v").cast("double").alias("hi"),
                       F.sum(F.col("v") * F.col("k"))
                        .cast("double").alias("mass")))


def q_regr_value_time(spark, sf_dir):
    """Per-type least-squares fit of event value against time (drift
    detection): slope per day, intercept, and r².

    Same exact-moments recipe as q_feat_zscore, extended to the cross
    moment: all five power sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate
    in DECIMAL/BIGINT — exact, so order/partitioning-independent — and
    the closed-form fit runs once per group on scalars, in the same
    IEEE expression shape as the oracle (bit-identical doubles, no
    rounding needed).  One partial+final aggregate; x is seconds
    relative to the corpus epoch so Σx² stays far below DECIMAL(38)
    at any SF.
    """
    e = load_table(spark, sf_dir, "events")
    x = F.expr("unix_micros(ts) div 1000000") - F.lit(1704067200)
    xd = x.cast("decimal(18,0)")
    v = dec("value", MONEY)
    s = (e.groupBy("event_type")
          .agg(F.count(F.lit(1)).cast("double").alias("n"),
               F.sum(xd).cast("double").alias("sx"),
               F.sum(v).cast("double").alias("sy"),
               F.sum(xd * v).cast("double").alias("sxy"),
               F.sum(xd * xd).cast("double").alias("sxx"),
               F.sum(v * v).cast("double").alias("syy")))
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    var_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_n
    return s.select(
        "event_type", F.col("n").cast("long").alias("n"),
        (slope * 86400).alias("slope_per_day"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        (cov_n * cov_n / (var_n * vary_n)).alias("r2"))


def q_stats_trimmed(spark, sf_dir):
    """10% trimmed and winsorized mean of event value per type — the
    robust-statistics pair (outlier-insensitive location estimates).

    Trimming is RANK-based (drop k = floor(n/10) rows from each tail
    under the total order by value) rather than
    percentile-threshold-based, so membership of every row is integer
    arithmetic — engine-portable with no float-boundary flips.  All
    sums in DECIMAL (order-independent), one float division per output
    at the end.

    Scale-safe two-level form (r04): the fact table compacts to
    (event_type, value, cnt) with a partial+final agg before any
    ranking, and the cumulative-count window runs over that distinct-
    value relation (~thousands of rows per type, never TBs).  Each
    distinct value keeps max(0, min(cum, n-k) - max(cum-cnt, k)) of
    its cnt copies — exactly the rows rank-trimming keeps, because
    equal values are interchangeable at the cut points.  Pinned by
    tests/test_plans.py::test_median_family_ranks_compacted_relation.
    """
    e = load_table(spark, sf_dir, "events")
    vc = (e.select("event_type", dec("value", MONEY).alias("v"))
           .groupBy("event_type", "v")
           .agg(F.count(F.lit(1)).alias("cnt")))
    grp = W.partitionBy("event_type")
    w = grp.orderBy("v")
    ranked = vc.select(
        "event_type", "v", "cnt",
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
         .alias("cum"),
        F.sum("cnt").over(grp).alias("n"))
    k = F.floor(F.col("n") / 10)
    kept_cnt = F.greatest(
        F.lit(0),
        F.least(F.col("cum"), F.col("n") - k)
        - F.greatest(F.col("cum") - F.col("cnt"), k))
    agg = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("v") * kept_cnt).alias("s_kept"),
        F.sum(kept_cnt).alias("n_kept"),
        F.min(F.when(kept_cnt > 0, F.col("v"))).alias("lo"),
        F.max(F.when(kept_cnt > 0, F.col("v"))).alias("hi"))
    kk = ((F.col("n") - F.col("n_kept")) / 2).cast("long")
    wins_sum = (F.col("s_kept") + kk * F.col("lo") + kk * F.col("hi"))
    return agg.select(
        "event_type", "n",
        F.round(F.col("s_kept").cast("double") / F.col("n_kept"), 6)
         .alias("trimmed_mean"),
        F.round(wins_sum.cast("double") / F.col("n"), 6)
         .alias("winsorized_mean"))


def q_events_anomaly_mad(spark, sf_dir):
    """Median-absolute-deviation outliers: events whose value deviates
    from their type's median by more than 3x the MAD — the robust
    anomaly detector (unlike z-scores, immune to the outliers it
    hunts).

    Lower medians by rank (the engine-portable percentile, as
    median_per_group) for both center and spread; |v - med| and the
    3*MAD comparison stay in DECIMAL, so the verdict is exact.

    Scale-safe two-level form (r04): BOTH median passes rank the
    compacted (event_type, value, cnt) relation — a partial+final agg
    shrinks the fact scan before any window sort, so the per-type rank
    pass is over distinct values (bounded by the value domain), never
    a single-task sort of a TB-sized type partition.  The two tiny
    stats tables (|types| rows) broadcast back onto the unshuffled
    fact scan as before.  Pinned by
    tests/test_plans.py::test_median_family_ranks_compacted_relation.
    """

    def _median_of(df, col):
        """Lower median of ``col`` per event_type via cumulative counts
        over the distinct-value relation."""
        vc = df.groupBy("event_type", col).agg(F.count(F.lit(1)).alias("cnt"))
        grp = W.partitionBy("event_type")
        w = grp.orderBy(col)
        ranked = vc.select(
            "event_type", col, "cnt",
            F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding,
                                            W.currentRow)).alias("cum"),
            F.sum("cnt").over(grp).alias("n"))
        target = ((F.col("n") + 1) / 2).cast("long")
        return (ranked.filter((F.col("cum") >= target)
                              & (F.col("cum") - F.col("cnt") < target))
                      .select("event_type", col))

    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "event_type", dec("value", MONEY).alias("v"))
    med = _median_of(base, "v").withColumnRenamed("v", "med")
    d1 = (base.join(F.broadcast(med), "event_type")
              .withColumn("adiff", F.abs(F.col("v") - F.col("med"))))
    mad = _median_of(d1.select("event_type", "adiff"), "adiff") \
        .withColumnRenamed("adiff", "mad")
    return (d1.join(F.broadcast(mad), "event_type")
              .filter(F.col("adiff") > 3 * F.col("mad"))
              .select("event_id", "event_type",
                      F.col("v").cast("double").alias("value"),
                      F.col("med").cast("double").alias("med"),
                      F.col("mad").cast("double").alias("mad")))


def _rank_cuts(base, targets: dict[str, object]):
    """Per-type rank-quantile cut values over the COMPACTED
    (event_type, v, cnt) relation: for each (name -> target-rank
    expression) pair, the value holding that rank under the total order
    by v.  min(v where cum >= target) — v ascends with cum, so the
    minimal qualifying v IS the rank-target value.  Same two-level
    recipe as the median family (window over distinct values, never raw
    rows); rank targets are pure integer arithmetic, engine-portable.
    """
    vc = base.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("cnt"))
    grp = W.partitionBy("event_type")
    w = grp.orderBy("v")
    ranked = vc.select(
        "event_type", "v", "cnt",
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
         .alias("cum"),
        F.sum("cnt").over(grp).alias("n"))
    return ranked.groupBy("event_type").agg(
        *[F.min(F.when(F.col("cum") >= t, F.col("v"))).alias(name)
          for name, t in targets.items()])


def q_feat_winsorize(spark, sf_dir):
    """Winsorization: clamp each event value into its type's
    [p05, p95] rank-quantile range — the standard outlier-taming
    transform a feature pipeline applies before scaling.

    Cut ranks are ceil(n/20) and ceil(19n/20) in INTEGER arithmetic
    ((n+19) div 20 — no float percentile boundary to flip between
    engines); cut values come from _rank_cuts' compacted two-level
    rank, broadcast back onto the unshuffled fact scan exactly like
    the MAD detector.  Clamp happens in DECIMAL — exact.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "event_type", dec("value", MONEY).alias("v"))
    cuts = _rank_cuts(base, {
        "lo": ((F.col("n") + 19) / 20).cast("long"),
        "hi": ((19 * F.col("n") + 19) / 20).cast("long")})
    return (base.join(F.broadcast(cuts), "event_type")
                .select("event_id", "event_type",
                        F.col("v").cast("double").alias("value"),
                        F.greatest(F.least(F.col("v"), F.col("hi")),
                                   F.col("lo"))
                         .cast("double").alias("value_wins")))


def q_anomaly_iqr(spark, sf_dir):
    """Tukey-fence outliers: events outside [Q1 - 1.5*IQR,
    Q3 + 1.5*IQR] of their type — the boxplot companion to the MAD
    detector (quartile-based instead of median-absolute).

    Quartile ranks ceil(n/4), ceil(3n/4) are integer arithmetic; the
    fence test multiplies through by 2 (2v < 2*Q1 - 3*IQR) so the 1.5
    factor never forces a decimal DIVISION (whose result scale differs
    between engines) — every comparison is exact decimal-times-integer.
    Same compacted-rank + broadcast-back shape as winsorize/MAD.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "event_type", dec("value", MONEY).alias("v"))
    cuts = _rank_cuts(base, {
        "q1": ((F.col("n") + 3) / 4).cast("long"),
        "q3": ((3 * F.col("n") + 3) / 4).cast("long")})
    iqr = F.col("q3") - F.col("q1")
    is_out = ((2 * F.col("v") < 2 * F.col("q1") - 3 * iqr)
              | (2 * F.col("v") > 2 * F.col("q3") + 3 * iqr))
    return (base.join(F.broadcast(cuts), "event_type")
                .filter(is_out)
                .select("event_id", "event_type",
                        F.col("v").cast("double").alias("value"),
                        F.col("q1").cast("double").alias("q1"),
                        F.col("q3").cast("double").alias("q3"),
                        iqr.cast("double").alias("iqr")))


def q_validate_referential(spark, sf_dir):
    """Referential-integrity audit across the warehouse's foreign keys:
    orphaned lineitems (no parent order), childless orders (no
    lineitem), orders with unknown customers, customers with unknown
    nations — one (check_name, n_violations) row each, the
    cross-TABLE data contract next to the per-row validate_events /
    validate_embeddings checks.

    Each fact table compacts to per-FK-value row counts FIRST (one
    partial+final agg per scanned column set), so every join probes
    |distinct keys| rows and row-level violation counts ride along as
    sums — the naive four-LEFT-ANTI form re-scanned lineitem twice and
    orders three times and was 4x slower at sf0.1.  The paired
    lineitem<->orders checks share ONE full-outer join on the
    compacted keys; the dimension checks anti-join against
    (broadcastable) key sets.  The oracle keeps the textbook
    NOT-EXISTS formulation, so the compacted rewrite is checked
    against an independent construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    li_k = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    j = li_k.join(o.select("o_orderkey"),
                  li_k.l_orderkey == o.o_orderkey, "full_outer")
    pair = j.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), F.col("cnt"))
               .otherwise(0)).alias("orphan_li"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1)
               .otherwise(0)).alias("childless_o"))
    o_c = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    bad_cust = (o_c.join(c.select("c_custkey"),
                         o_c.o_custkey == c.c_custkey, "left_anti")
                   .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("v")))
    c_n = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    bad_nat = (c_n.join(F.broadcast(n.select("n_nationkey")),
                        c_n.c_nationkey == n.n_nationkey, "left_anti")
                  .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("v")))
    rows = [
        pair.select(F.lit("lineitem_orphan_order").alias("check_name"),
                    F.col("orphan_li").cast("long").alias("n_violations")),
        pair.select(F.lit("order_without_lineitem").alias("check_name"),
                    F.col("childless_o").cast("long").alias("n_violations")),
        bad_cust.select(F.lit("order_orphan_customer").alias("check_name"),
                        F.col("v").cast("long").alias("n_violations")),
        bad_nat.select(F.lit("customer_orphan_nation").alias("check_name"),
                       F.col("v").cast("long").alias("n_violations")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out


def q_stats_chi_square(spark, sf_dir):
    """Chi-square independence cells for event_type x day-of-week: the
    contingency table with each cell's observed count, expected count,
    and (o-e)^2/e contribution — the categorical-association profile a
    data-quality sweep runs over every dimension pair.

    One partial+final agg builds the cells; the two margins re-aggregate
    the tiny cell relation (|types| x 7 rows) and broadcast back, so the
    fact table is scanned once and shuffles only into the cell agg.
    Per-cell math uses exact integer counts promoted through DECIMAL
    products ((o*N - rt*ct) is exact), converts to double once, and
    floors at 1e6 — no float is ever summed across cells, so the output
    is order-independent; consumers sum contrib_e6 (exact BIGINT
    addition) to get the statistic.  Day-of-week is an epoch-day mod 7
    (engine-portable; no locale-dependent weekday function).
    """
    e = load_table(spark, sf_dir, "events")
    dow = F.pmod(ts_day(), F.lit(7))
    cells = (e.groupBy(F.col("event_type"), dow.alias("dow"))
              .agg(F.count(F.lit(1)).alias("o")))
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    j = (cells.join(F.broadcast(rt), "event_type")
              .join(F.broadcast(ct), "dow")
              .crossJoin(F.broadcast(tot)))
    rtct = (d38("rt") * d38("ct")).cast("double")
    nd = F.col("n").cast("double")
    num = (d38("o") * d38("n") - d38("rt") * d38("ct")).cast("double")
    exp_e6 = F.floor(rtct / nd * 1e6).cast("long")
    contrib_e6 = F.floor(num * num / (rtct * nd) * 1e6).cast("long")
    return j.select("event_type", "dow", F.col("o").alias("n_obs"),
                    exp_e6.alias("exp_e6"), contrib_e6.alias("contrib_e6"))


_KS_A, _KS_B = "purchase", "click"


def q_stats_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D between the value distributions
    of '{a}' and '{b}' events — the drift detector a training pipeline
    runs between data snapshots.

    D = max over observed values of |F1(x) - F2(x)|.  The fact table
    compacts to per-distinct-value counts for both samples (partial+
    final agg); only that compacted relation is ranked, and its running
    sums use the two-level value-range-bucketed prefix (abc_analysis's
    recipe: bucket = floor(value), intra-bucket windows partition on
    the bucket, |buckets|-row offsets broadcast back) — no global
    single-partition sort at any scale.  The max is taken over the
    EXACT integer cross products |r1*n2 - r2*n1| (DECIMAL), and the
    single double division happens once on the winning scalar.
    """.format(a=_KS_A, b=_KS_B)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B))
    pts = (e.groupBy("value")
            .agg(F.sum(F.when(F.col("event_type") == _KS_A, 1)
                        .otherwise(0)).alias("c1"),
                 F.sum(F.when(F.col("event_type") == _KS_B, 1)
                        .otherwise(0)).alias("c2"))
            .withColumn("bkt", F.floor("value")))
    bsum = pts.groupBy("bkt").agg(F.sum("c1").alias("s1"),
                                  F.sum("c2").alias("s2"))
    w_off = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = bsum.select(
        "bkt",
        F.coalesce(F.sum("s1").over(w_off), F.lit(0)).alias("off1"),
        F.coalesce(F.sum("s2").over(w_off), F.lit(0)).alias("off2"))
    w_in = (W.partitionBy("bkt").orderBy("value")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    run = (pts.join(F.broadcast(offs), "bkt")
              .withColumn("r1", F.col("off1") + F.sum("c1").over(w_in))
              .withColumn("r2", F.col("off2") + F.sum("c2").over(w_in)))
    tot = pts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dnum = F.abs(d38("r1") * d38("n2") - d38("r2") * d38("n1"))
    best = (run.crossJoin(F.broadcast(tot))
               .agg(F.max(dnum).alias("dmax"),
                    F.first("n1").alias("n1"), F.first("n2").alias("n2")))
    ks = (F.col("dmax").cast("double")
          / (F.col("n1").cast("double") * F.col("n2").cast("double")))
    return best.select(F.round(ks, 6).alias("ks_d"), "n1", "n2")


_GINI_BUCKET = 1000


def q_gini_revenue(spark, sf_dir):
    """Gini coefficient of per-customer order revenue — the single
    inequality number behind "how concentrated is our revenue?"
    (and, in corpus terms, "how concentrated is our token supply
    across sources?").

    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending x.
    The ascending rank comes from the two-level value-range-bucketed
    prefix COUNT (bucket = floor(x/1000)): per-customer revenues are
    already a compacted |customers|-row relation, intra-bucket
    row_numbers partition on the bucket, bucket row-count offsets
    broadcast back — the classic global-sort-window scale-killer never
    appears.  sum(i*x_i) accumulates in exact DECIMAL (rank ties
    permute equal x values only, so the sum is tie-invariant); ONE
    double division produces the coefficient, rounded to 1e-6.  The
    oracle uses the single global row_number window, so the two
    constructions must agree exactly.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = (o.groupBy("o_custkey")
            .agg(F.sum(dec("o_totalprice", MONEY)).alias("x"))
            .withColumn("bkt", F.floor(F.col("x") / _GINI_BUCKET)))
    bcnt = rev.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    w_off = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = bcnt.select("bkt",
                       F.coalesce(F.sum("c").over(w_off), F.lit(0))
                        .alias("off"))
    w_in = W.partitionBy("bkt").orderBy("x", "o_custkey")
    ranked = (rev.join(F.broadcast(offs), "bkt")
                 .withColumn("i", F.col("off") + F.row_number().over(w_in)))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("t"))
    nd = F.col("n").cast("double")
    sd, td = F.col("s").cast("double"), F.col("t").cast("double")
    gini = (2.0 * td - (nd + 1.0) * sd) / (nd * sd)
    return agg.select(F.round(gini, 6).alias("gini"),
                      F.col("n").alias("n_customers"))


def _welch_exprs() -> tuple[str, str]:
    """Welch t statistic and Welch-Satterthwaite df as fixed-order IEEE
    expressions over the exact-decimal moments (n1,s1,q1,n2,s2,q2 cast
    to double) — ONE formula string shared verbatim by both engines
    (the _corr_pair_e6 recipe), floored at 1e6 / 1e3."""
    v1 = "((n1 * q1 - s1 * s1) / (n1 * (n1 - 1)))"
    v2 = "((n2 * q2 - s2 * s2) / (n2 * (n2 - 1)))"
    se2 = f"({v1} / n1 + {v2} / n2)"
    t = f"((s1 / n1 - s2 / n2) / sqrt{se2})"
    df = (f"({se2} * {se2} / ({v1} / n1 * ({v1} / n1) / (n1 - 1)"
          f" + {v2} / n2 * ({v2} / n2) / (n2 - 1)))")
    return (f"CAST(FLOOR({t} * 1e6) AS BIGINT)",
            f"CAST(FLOOR({df} * 1e3) AS BIGINT)")


def q_stats_ttest_welch(spark, sf_dir):
    """Welch's unequal-variance two-sample t-test between '{a}' and
    '{b}' event values — the KS test's parametric sibling (mean shift
    vs whole-distribution shift, the A/B-testing pair).

    ONE partial+final aggregate computes both groups' count / sum /
    sum-of-squares in exact DECIMAL (conditional aggregation — the
    fact table is scanned once, not once per group); each moment
    converts to double once, and the t and Welch-Satterthwaite df are
    the same fixed-order expression string in both engines, floored to
    1e-6 / 1e-3.  No second pass, no window, no shuffle beyond the agg.
    """.format(a=_KS_A, b=_KS_B)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B))
    v = dec("value", MONEY)
    is1 = F.col("event_type") == _KS_A
    agg = e.agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(is1, v)).cast("double").alias("s1"),
        F.sum(F.when(is1, v * v)).cast("double").alias("q1"),
        F.sum(F.when(~is1, 1).otherwise(0)).cast("double").alias("n2"),
        F.sum(F.when(~is1, v)).cast("double").alias("s2"),
        F.sum(F.when(~is1, v * v)).cast("double").alias("q2"))
    t, df = _welch_exprs()
    return agg.selectExpr(f"{t} AS t_e6", f"{df} AS df_e3",
                          "CAST(n1 AS BIGINT) AS n1",
                          "CAST(n2 AS BIGINT) AS n2")


CUPED_PRE_DAYS = 15


def q_abtest_cuped(spark, sf_dir):
    """A/B readout with CUPED variance reduction: users split into two
    deterministic arms (user_id parity stands in for the assignment),
    the post-period spend per user is adjusted by its pre-period
    covariate (theta = cov(pre, post)/var(pre), pooled), and each
    arm's raw and adjusted means are reported — the experimentation
    primitive that cuts metric variance without touching the
    randomization.

    Shape: per-user (pre, post) sums are one partial+final decimal
    agg; ALL remaining math reduces to a 1-row moment relation
    (pooled n/sx/sy/sxx/sxy + per-arm n/sx/sy via conditional sums),
    so theta and the adjusted means are fixed-order scalar
    expressions shared verbatim with the oracle — no second pass over
    users, no window.  The pre-period split (first {d} observed days)
    derives from a broadcast 1-row min-day aggregate.
    """.format(d=CUPED_PRE_DAYS)
    e = load_table(spark, sf_dir, "events")
    day = ts_day()
    v = dec("value", MONEY)
    mind = e.agg(F.min(day).alias("d0"))
    per = (e.crossJoin(F.broadcast(mind))
            .groupBy("user_id")
            .agg(F.sum(F.when(day < F.col("d0") + CUPED_PRE_DAYS, v)
                        .otherwise(F.lit(0).cast(MONEY))).alias("x"),
                 F.sum(F.when(day >= F.col("d0") + CUPED_PRE_DAYS, v)
                        .otherwise(F.lit(0).cast(MONEY))).alias("y"))
            .withColumn("arm", (F.col("user_id") % 2).cast("int")))
    is_a = F.col("arm") == 0
    m = per.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.when(is_a, 1).otherwise(0)).cast("double").alias("na"),
        F.sum(F.when(is_a, F.col("x"))).cast("double").alias("sxa"),
        F.sum(F.when(is_a, F.col("y"))).cast("double").alias("sya"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("double").alias("nb"),
        F.sum(F.when(~is_a, F.col("x"))).cast("double").alias("sxb"),
        F.sum(F.when(~is_a, F.col("y"))).cast("double").alias("syb"))
    theta = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
    rows = []
    for arm, ng, sxg, syg in (("'A'", "na", "sxa", "sya"),
                              ("'B'", "nb", "sxb", "syb")):
        raw = f"({syg} / {ng})"
        adj = f"({raw} - {theta} * ({sxg} / {ng} - sx / n))"
        rows.append(
            f"{arm}, CAST({ng} AS BIGINT), "
            f"CAST(FLOOR({raw} * 1e6) AS BIGINT), "
            f"CAST(FLOOR({adj} * 1e6) AS BIGINT), "
            f"CAST(FLOOR({theta} * 1e6) AS BIGINT)")
    return m.selectExpr(
        f"stack(2, {', '.join(rows)})"
        " AS (arm, n_users, mean_post_e6, mean_cuped_e6, theta_e6)")


def q_abtest_diff_in_diff(spark, sf_dir):
    """Difference-in-differences readout on the same synthetic
    experiment as the CUPED query: per-arm pre/post mean spend and the
    DiD estimate (B_post - B_pre) - (A_post - A_pre) — the
    observational-causal companion when assignment isn't randomized
    but trends are parallel.

    Same shape discipline: one conditional exact-decimal aggregate to
    an 8-scalar relation, fixed-order double expressions floored at
    1e-6, zero windows, zero second passes.
    """
    e = load_table(spark, sf_dir, "events")
    day = ts_day()
    v = dec("value", MONEY)
    mind = e.agg(F.min(day).alias("d0"))
    base = (e.crossJoin(F.broadcast(mind))
             .select((F.col("user_id") % 2).alias("arm"),
                     (day >= F.col("d0") + CUPED_PRE_DAYS).cast("int")
                     .alias("post"), v.alias("v")))
    aggs = []
    for a in (0, 1):
        for p_ in (0, 1):
            cond = (F.col("arm") == a) & (F.col("post") == p_)
            aggs.append(F.sum(F.when(cond, F.col("v"))).cast("double")
                         .alias(f"s{a}{p_}"))
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).cast("double")
                         .alias(f"n{a}{p_}"))
    m = base.agg(*aggs)
    mean = lambda a, p_: f"(s{a}{p_} / n{a}{p_})"  # noqa: E731
    did = (f"(({mean(1,1)} - {mean(1,0)})"
           f" - ({mean(0,1)} - {mean(0,0)}))")
    rows = []
    for a, name in ((0, "'A'"), (1, "'B'")):
        rows.append(
            f"{name}, CAST(n{a}0 AS BIGINT), CAST(n{a}1 AS BIGINT), "
            f"CAST(FLOOR({mean(a,0)} * 1e6) AS BIGINT), "
            f"CAST(FLOOR({mean(a,1)} * 1e6) AS BIGINT), "
            f"CAST(FLOOR({did} * 1e6) AS BIGINT)")
    return m.selectExpr(
        f"stack(2, {', '.join(rows)}) AS (arm, n_pre, n_post,"
        " mean_pre_e6, mean_post_e6, did_e6)")


def _det3(m) -> str:
    """3x3 determinant as a fixed-order expression string; m is a list
    of 9 scalar-column names in row-major order."""
    a, b, c, d, e, f_, g, h, i = m
    return (f"({a} * ({e} * {i} - {f_} * {h})"
            f" - {b} * ({d} * {i} - {f_} * {g})"
            f" + {c} * ({d} * {h} - {e} * {g}))")


def _ols2_exprs() -> dict[str, str]:
    """Two-feature OLS (y ~ 1 + x1 + x2) by Cramer's rule over the
    normal equations — fixed-order expression strings over the moment
    scalars (n, s1, s2, sy, s11, s12, s22, s1y, s2y, syy), shared
    verbatim by both engines, floored at 1e6."""
    A = ["n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22"]
    det = _det3(A)
    cols = {}
    rhs = ["sy", "s1y", "s2y"]
    for k, name in enumerate(("b0", "b1", "b2")):
        m = list(A)
        for r in range(3):
            m[r * 3 + k] = rhs[r]
        cols[name] = f"({_det3(m)} / {det})"
    sse = (f"(syy - ({cols['b0']} * sy + {cols['b1']} * s1y"
           f" + {cols['b2']} * s2y))")
    sst = "(syy - sy * sy / n)"
    cols["r2"] = f"(1.0 - {sse} / {sst})"
    return {k: f"CAST(FLOOR({v} * 1e6) AS BIGINT)" for k, v in cols.items()}


def q_regr_multiple_ols(spark, sf_dir):
    """Multiple linear regression l_extendedprice ~ 1 + l_quantity +
    l_discount, solved in closed form (normal equations + Cramer's
    rule) — the distributed-OLS pattern: the 100-TB scan reduces to a
    10-scalar sufficient statistic in ONE exact-DECIMAL partial+final
    aggregate, and the solve is driver-free scalar arithmetic on that
    1-row relation.  Simple regression (regr_value_time) generalized
    to k features; beyond k~100 you'd ship the Gram matrix long-form
    (embedding_gram_matrix) and eigensolve driver-side instead.

    Every moment is exact decimal -> double once; coefficients and R^2
    are fixed-order expression strings shared with the oracle, floored
    at 1e-6.
    """
    li = load_table(spark, sf_dir, "lineitem")
    y, x1, x2 = (dec(c, MONEY) for c in
                 ("l_extendedprice", "l_quantity", "l_discount"))
    agg = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1).cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        F.sum(x1 * x2).cast("double").alias("s12"),
        F.sum(x2 * x2).cast("double").alias("s22"),
        F.sum(x1 * y).cast("double").alias("s1y"),
        F.sum(x2 * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"))
    exprs = _ols2_exprs()
    return agg.selectExpr(
        *[f"{v} AS {k}_e6" for k, v in exprs.items()],
        "CAST(n AS BIGINT) AS n_rows")


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_pair_e6(m, sa, sb, saa, sbb, sab) -> str:
    """Pearson correlation from double-cast exact-decimal moments, as
    one fixed-order IEEE expression shared by both engines (the
    regr_value_time recipe); leaves as floor(corr*1e6) — FLOOR before
    the BIGINT cast, the portable rounding."""
    num = f"({m} * {sab} - {sa} * {sb})"
    vx = f"({m} * {saa} - {sa} * {sa})"
    vy = f"({m} * {sbb} - {sb} * {sb})"
    return (f"CAST(FLOOR(CASE WHEN {vx} > 0 AND {vy} > 0 THEN "
            f"{num} / sqrt({vx} * {vy}) * 1000000.0 END) AS BIGINT)")


def q_stats_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix of lineitem's numeric
    measures (quantity, price, discount, tax), long form — the
    feature-selection / data-profiling staple.

    ONE partial+final aggregation computes every first and second
    moment in exact DECIMAL (order-independent; products of
    DECIMAL(12,2) are exact DECIMAL(25,4)); each moment converts to
    double once (correctly rounded from the same exact rational in
    both engines — identical bits), and the 6 pair correlations are
    fixed-order expressions over those scalars, unpivoted by stack().
    No second pass, no window, no shuffle beyond the single agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = {c: dec(c, MONEY) for c in _CORR_COLS}
    aggs = [F.count(F.lit(1)).cast("double").alias("m")]
    for i, a in enumerate(_CORR_COLS):
        aggs.append(F.sum(cols[a]).cast("double").alias(f"s{i}"))
        for j, b in enumerate(_CORR_COLS):
            if i <= j:
                aggs.append(F.sum(cols[a] * cols[b]).cast("double")
                             .alias(f"p{i}{j}"))
    mom = li.agg(*aggs)
    rows = []
    for i, a in enumerate(_CORR_COLS):
        for j, b in enumerate(_CORR_COLS):
            if i < j:
                rows.append(
                    f"'{a}', '{b}', "
                    + _corr_pair_e6("m", f"s{i}", f"s{j}",
                                    f"p{i}{i}", f"p{j}{j}", f"p{i}{j}"))
    return mom.selectExpr(
        f"stack({len(rows)}, {', '.join(rows)})"
        " AS (col_a, col_b, corr_e6)")


def _mwu_z_expr() -> str:
    """Mann-Whitney normal-approximation z with tie correction, as one
    fixed-order IEEE expression over the EXACT integer columns u1x2
    (2*U1), n1, n2, tt (sum of t^3 - t over tie groups) — shared
    verbatim by both engines, floored at 1e6."""
    nn = "(n1 + n2)"
    mu2 = "(n1 * n2)"                       # 2 * n1*n2/2
    var = (f"(n1 * n2 / 12.0 * (({nn} + 1.0)"
           f" - tt / ({nn} * ({nn} - 1.0))))")
    z = f"(((u1x2 - {mu2}) / 2.0) / sqrt({var}))"
    return f"CAST(FLOOR({z} * 1000000.0) AS BIGINT)"


def q_stats_mannwhitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) between '{a}' and '{b}' event
    values — the nonparametric two-sample location test that completes
    the KS (shape) / Welch (mean) family: robust to outliers and
    non-normality, the test of choice for skewed engagement metrics.

    Everything reduces to the compacted per-distinct-value relation
    (value, c1, c2): midranks stay EXACT integers by working in
    doubled units (2*midrank = 2*r_prev + c + 1, never a .5), so
    2*R1 = sum(c1 * midrank2), 2*U1 = 2*R1 - n1*(n1+1), and the tie
    term sum(c^3 - c) are all DECIMAL-exact and order-independent.
    The rank prefix uses the two-level value-range-bucketed window
    (the KS/Gini recipe — no global single-partition sort); the one
    double expression (the z approximation) is a shared fixed-order
    string floored at 1e-6.
    """.format(a=_KS_A, b=_KS_B)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B))
    pts = (e.groupBy("value")
            .agg(F.sum(F.when(F.col("event_type") == _KS_A, 1)
                        .otherwise(0)).alias("c1"),
                 F.sum(F.when(F.col("event_type") == _KS_B, 1)
                        .otherwise(0)).alias("c2"))
            .withColumn("c", F.col("c1") + F.col("c2"))
            .withColumn("bkt", F.floor("value")))
    bsum = pts.groupBy("bkt").agg(F.sum("c").alias("s"))
    w_off = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = bsum.select(
        "bkt", F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("off"))
    w_in = (W.partitionBy("bkt").orderBy("value")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    run = (pts.join(F.broadcast(offs), "bkt")
              .withColumn("rprev",
                          F.col("off") + F.sum("c").over(w_in) - F.col("c")))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mid2 = 2 * d38("rprev") + d38("c") + 1
    agg = run.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(d38("c1") * mid2).cast("decimal(38,0)").alias("r1x2"),
        F.sum(d38("c") * d38("c") * d38("c") - d38("c"))
         .cast("double").alias("tt"))
    u1x2 = (F.col("r1x2") - F.col("n1").cast("decimal(38,0)")
            * (F.col("n1").cast("decimal(38,0)") + 1)).cast("long")
    return (agg.withColumn("u1x2", u1x2)
               .selectExpr("u1x2 AS u1_x2", f"{_mwu_z_expr()} AS z_e6",
                           "n1", "n2"))


def _anova_f_from(df, group_col, value_dec_col):
    """Shared one-way-ANOVA kernel: F statistic of ``value_dec_col``
    (a DECIMAL(12,2) column expression) across ``group_col`` groups.

    Determinism discipline: per-group moments accumulate in exact
    integer CENTS (sum s_g, sum of squares q_g); the only cross-group
    reduction of non-integers — sum of s_g^2/n_g — is made
    order-independent by flooring each term to an exact integer FIRST
    (DECIMAL ``div``, == DuckDB ``//``, pinned by a probe test): the
    floor loses < 1 cent^2 per group, ~1e-14 of SS, far below the
    1e-6 emission quantum.  One fixed-order double expression then
    forms F, floored at 1e6.
    """
    cents = (value_dec_col * 100).cast("decimal(38,0)")
    g = (df.groupBy(group_col)
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum(cents).alias("s"),
                F.sum(cents * cents).alias("q")))
    per = g.selectExpr(
        "n", "s", "q", "(s * s) div n AS t")     # exact floor(s^2/n)
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
        F.sum("q").cast("decimal(38,0)").alias("qq"),
        F.sum("t").cast("decimal(38,0)").alias("tsum"))
    f_expr = (
        "CAST(FLOOR(((CAST(tsum AS DOUBLE) - CAST((ss * ss) div nn AS"
        " DOUBLE)) / (k - 1.0)) / ((CAST(qq AS DOUBLE) - CAST(tsum AS"
        " DOUBLE)) / (CAST(nn AS DOUBLE) - k)) * 100.0) AS BIGINT)")
    return tot.selectExpr(
        f"{f_expr} AS f_e2", "k", "CAST(nn AS BIGINT) AS n")


def q_stats_anova_oneway(spark, sf_dir):
    """One-way ANOVA F across event types on event value — "does mean
    value differ across event types at all", the k-group extension of
    the Welch pair test.  One partial+final aggregate per group, a
    |k|-row reduction, no window, no second scan; the F leaves as
    floor(F*100) (2 dp — the statistic is O(10^3), so e2 keeps the
    integer in comfortable range while the exact-cents kernel below
    is deterministic to ~1e-14).  Kernel shared with Levene
    (_anova_f_from).
    """
    e = load_table(spark, sf_dir, "events")
    return _anova_f_from(
        e.select("event_type", dec("value", MONEY).alias("v")),
        "event_type", F.col("v"))


def q_stats_levene_robust(spark, sf_dir):
    """Brown-Forsythe (median-centered Levene) test: one-way ANOVA on
    |value - median(type)| — "do the event types differ in SPREAD",
    the robust variance-homogeneity check that decides whether the
    pooled-variance tests upstream are even applicable.

    The per-type lower median ranks the compacted (type, value, cnt)
    relation (the events_anomaly_mad two-level recipe, |distinct
    values| not |rows|), broadcasts back (|k| rows), and the absolute
    deviations — exact DECIMAL(12,2) — feed the same exact-cents ANOVA
    kernel as stats_anova_oneway.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_type", dec("value", MONEY).alias("v"))
    vc = base.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("cnt"))
    grp = W.partitionBy("event_type")
    w = grp.orderBy("v")
    ranked = vc.select(
        "event_type", "v", "cnt",
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
         .alias("cum"),
        F.sum("cnt").over(grp).alias("n"))
    target = ((F.col("n") + 1) / 2).cast("long")
    med = (ranked.filter((F.col("cum") >= target)
                         & (F.col("cum") - F.col("cnt") < target))
                 .select("event_type", F.col("v").alias("med")))
    centered = (base.join(F.broadcast(med), "event_type")
                    .select("event_type",
                            F.abs(F.col("v") - F.col("med")).alias("a")))
    return _anova_f_from(centered, "event_type", F.col("a"))


def _cohens_d_exprs() -> tuple[str, str]:
    """Cohen's d and Hedges' g from the Welch moment columns, one
    fixed-order IEEE expression each, floored at 1e6."""
    v1 = "((n1 * q1 - s1 * s1) / (n1 * (n1 - 1)))"
    v2 = "((n2 * q2 - s2 * s2) / (n2 * (n2 - 1)))"
    sp = f"sqrt((((n1 - 1) * {v1}) + ((n2 - 1) * {v2})) / (n1 + n2 - 2))"
    d = f"((s1 / n1 - s2 / n2) / {sp})"
    g = f"({d} * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)))"
    return (f"CAST(FLOOR({d} * 1000000.0) AS BIGINT)",
            f"CAST(FLOOR({g} * 1000000.0) AS BIGINT)")


def q_stats_cohens_d(spark, sf_dir):
    """Effect size (Cohen's d + the small-sample Hedges' g correction)
    between '{a}' and '{b}' event values — the companion number every
    A/B significance test needs ("is the difference LARGE, not just
    detectable").  Same single-scan conditional-moment aggregate as
    Welch (exact DECIMAL moments, one double conversion each, shared
    fixed-order expression strings, floor 1e-6).
    """.format(a=_KS_A, b=_KS_B)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B))
    v = dec("value", MONEY)
    is1 = F.col("event_type") == _KS_A
    agg = e.agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(is1, v)).cast("double").alias("s1"),
        F.sum(F.when(is1, v * v)).cast("double").alias("q1"),
        F.sum(F.when(~is1, 1).otherwise(0)).cast("double").alias("n2"),
        F.sum(F.when(~is1, v)).cast("double").alias("s2"),
        F.sum(F.when(~is1, v * v)).cast("double").alias("q2"))
    d_e, g_e = _cohens_d_exprs()
    return agg.selectExpr(f"{d_e} AS cohens_d_e6", f"{g_e} AS hedges_g_e6",
                          "CAST(n1 AS BIGINT) AS n1",
                          "CAST(n2 AS BIGINT) AS n2")


_SPEAR_X, _SPEAR_Y = "l_quantity", "l_extendedprice"


def q_stats_spearman(spark, sf_dir):
    """Spearman rank correlation between lineitem quantity and price —
    Pearson on midranks, the monotone-association measure that is
    blind to the marginal distributions (the feature-screening
    complement to stats_corr_matrix's linear Pearson).

    Midranks stay EXACT integers in doubled units (2*midrank =
    2*r_prev + c + 1, the Mann-Whitney recipe): each column compacts
    to its distinct-value counts, ranks via the bucketed two-level
    prefix, and the resulting |distinct| rank maps join back onto the
    single fact scan (Catalyst broadcasts them).  All five sums of
    rank products accumulate in DECIMAL(38,0) — exact and
    order-independent — and one shared fixed-order double expression
    forms rho, floored at 1e-6.  Constant-factor note: doubling both
    rank vectors leaves Pearson unchanged, so the doubled units need
    no un-scaling.
    """
    l = load_table(spark, sf_dir, "lineitem")
    # fact feeds both midrank maps AND the final join — three plan
    # references, each re-running the fact scan + decimal casts; one
    # cache fill serves all three (two narrow decimals per row).
    fact = l.select(dec(_SPEAR_X, MONEY).alias("x"),
                    dec(_SPEAR_Y, MONEY).alias("y")).cache()

    def midrank2_map(col, bucket_div):
        vc = fact.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        vcb = vc.withColumn("bkt", F.floor(F.col(col) / bucket_div))
        bsum = vcb.groupBy("bkt").agg(F.sum("c").alias("s"))
        w_off = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
        offs = bsum.select(
            "bkt", F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("off"))
        w_in = (W.partitionBy("bkt").orderBy(col)
                 .rowsBetween(W.unboundedPreceding, W.currentRow))
        d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        return (vcb.join(F.broadcast(offs), "bkt")
                   .withColumn("rprev",
                               F.col("off") + F.sum("c").over(w_in)
                               - F.col("c"))
                   .select(col,
                           (2 * d38("rprev") + d38("c") + 1).alias("m2")))

    rx = midrank2_map("x", 1)
    ry = midrank2_map("y", 1000)
    j = (fact.join(rx.withColumnRenamed("m2", "mx"), "x")
             .join(ry.withColumnRenamed("m2", "my"), "y"))
    agg = j.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("mx").cast("double").alias("sa"),
        F.sum("my").cast("double").alias("sb"),
        F.sum(F.col("mx") * F.col("mx")).cast("double").alias("saa"),
        F.sum(F.col("my") * F.col("my")).cast("double").alias("sbb"),
        F.sum(F.col("mx") * F.col("my")).cast("double").alias("sab"))
    return agg.selectExpr(
        _corr_pair_e6("m", "sa", "sb", "saa", "sbb", "sab")
        + " AS spearman_e6",
        "CAST(m AS BIGINT) AS n")


def _kw_h_exprs() -> tuple[str, str]:
    """Kruskal-Wallis H and its tie-corrected form as fixed-order IEEE
    expressions over exact columns: tsum = SUM_g floor(R2_g^2 / n_g)
    in doubled-rank units (so SUM_g R_g^2/n_g = tsum/4), nn = N,
    tt = SUM(c^3 - c).  Shared verbatim by both engines, floor 1e6."""
    h = "(3.0 * tsum / (nn * (nn + 1.0)) - 3.0 * (nn + 1.0))"
    corr = "(1.0 - tt / (nn * nn * nn - nn))"
    return (f"CAST(FLOOR({h} * 1000000.0) AS BIGINT)",
            f"CAST(FLOOR(({h} / {corr}) * 1000000.0) AS BIGINT)")


def q_stats_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across ALL event types — the k-group rank test
    that is to stats_anova_oneway what Mann-Whitney is to Welch's t:
    one-way location comparison with no normality assumption.

    The Mann-Whitney exactness kernel generalized to k groups: pooled
    midranks stay EXACT integers in doubled units over the compacted
    distinct-value relation (two-level bucketed prefix, no global
    sort); per-group doubled rank sums R2_g accumulate in
    DECIMAL(38,0); the one cross-group non-integer reduction
    SUM_g R2_g^2/n_g is floored to an exact integer per group FIRST
    (DECIMAL div == DuckDB // on HUGEINT — the ANOVA recipe), so both
    engines reach identical inputs for the single fixed-order H
    expression.  R2_g^2 <= 4*N^4 caps the exact path at N ~ 3e9 rows
    per test cell; past that the GK-sketch rank approximation applies.
    """
    e = load_table(spark, sf_dir, "events")
    vc = (e.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
           .withColumn("bkt", F.floor("value")))
    bsum = vc.groupBy("bkt").agg(F.sum("c").alias("s"))
    w_off = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offs = bsum.select(
        "bkt", F.coalesce(F.sum("s").over(w_off), F.lit(0)).alias("off"))
    w_in = (W.partitionBy("bkt").orderBy("value")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    run = (vc.join(F.broadcast(offs), "bkt")
             .withColumn("rprev",
                         F.col("off") + F.sum("c").over(w_in) - F.col("c")))
    mid = run.select("value",
                     (2 * d38("rprev") + d38("c") + 1).alias("mid2"))
    gv = (e.groupBy("event_type", "value")
           .agg(F.count(F.lit(1)).alias("cg")))
    g = (gv.join(mid, "value")
           .groupBy("event_type")
           .agg(F.sum(d38("cg")).cast("decimal(38,0)").alias("n_g"),
                F.sum(d38("cg") * F.col("mid2"))
                 .cast("decimal(38,0)").alias("r2")))
    per = g.selectExpr("n_g", "(r2 * r2) div n_g AS t")
    tie = run.agg(
        F.sum(d38("c") * d38("c") * d38("c") - d38("c"))
         .cast("double").alias("tt"))
    tot = per.agg(F.count(F.lit(1)).cast("long").alias("k"),
                  F.sum("n_g").cast("double").alias("nn"),
                  F.sum("t").cast("double").alias("tsum"))
    h_e6, h_tie_e6 = _kw_h_exprs()
    return (tot.crossJoin(F.broadcast(tie))
               .selectExpr("k", "CAST(nn AS BIGINT) AS n",
                           f"{h_e6} AS h_e6",
                           f"{h_tie_e6} AS h_tie_e6"))


def q_stats_kendall_tau(spark, sf_dir):
    """Kendall's tau-b between lineitem quantity and discount — the
    concordance-based association measure that completes the
    correlation family (Pearson: linear; Spearman: monotone-by-rank;
    Kendall: pairwise-order agreement, the most outlier-robust).

    The O(n^2) pair enumeration collapses onto the COMPACTED value
    grid: both columns have bounded domains (50 quantities x 11
    discounts => <= 550 cells), so concordant/discordant pair counts
    are one inequality join over a broadcast-sized relation —
    SF-INVARIANT work after the single partial+final grid agg, with
    every count an exact integer (C, D, tie terms all DECIMAL-exact).
    tau-b's denominator is the one double expression, shared
    fixed-order, floored at 1e-6.  Unbounded domains would first
    bucket one side (the GK-sketch rank path); the grid form is the
    exact-kernel fast path.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cells = (li.groupBy(F.col("l_quantity").alias("x"),
                        F.col("l_discount").alias("y"))
               .agg(F.count(F.lit(1)).alias("n_xy"))
               .cache())
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    a = cells.select(F.col("x").alias("xa"), F.col("y").alias("ya"),
                     F.col("n_xy").alias("na"))
    b = cells.select(F.col("x").alias("xb"), F.col("y").alias("yb"),
                     F.col("n_xy").alias("nb"))
    prod = (F.col("na").cast("decimal(38,0)")
            * F.col("nb").cast("decimal(38,0)"))
    pairs = (a.join(F.broadcast(b), F.col("xa") < F.col("xb"))
              .agg(F.sum(F.when(F.col("ya") < F.col("yb"), prod))
                    .cast("decimal(38,0)").alias("c_pairs"),
                   F.sum(F.when(F.col("ya") > F.col("yb"), prod))
                    .cast("decimal(38,0)").alias("d_pairs")))
    xt = (cells.groupBy("x").agg(F.sum("n_xy").alias("nx"))
               .agg(F.sum(d38("nx") * (d38("nx") - 1) / 2)
                     .cast("decimal(38,0)").alias("n1")))
    yt = (cells.groupBy("y").agg(F.sum("n_xy").alias("ny"))
               .agg(F.sum(d38("ny") * (d38("ny") - 1) / 2)
                     .cast("decimal(38,0)").alias("n2")))
    nn = cells.agg(F.sum("n_xy").cast("decimal(38,0)").alias("n"))
    tau = ("CAST(FLOOR((CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE))"
           " / sqrt((CAST(n0 AS DOUBLE) - CAST(n1 AS DOUBLE))"
           " * (CAST(n0 AS DOUBLE) - CAST(n2 AS DOUBLE)))"
           " * 1000000.0) AS BIGINT)")
    return (pairs.crossJoin(F.broadcast(xt))
                 .crossJoin(F.broadcast(yt))
                 .crossJoin(F.broadcast(nn))
                 .selectExpr("CAST(n AS BIGINT) AS n",
                             "CAST(c_pairs AS BIGINT) AS c_pairs",
                             "CAST(d_pairs AS BIGINT) AS d_pairs",
                             "n * (n - 1) div 2 AS n0",
                             "n1", "n2")
                 .selectExpr("n", "c_pairs", "d_pairs",
                             f"{tau} AS tau_b_e6"))


def q_stats_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per event_type: the MEDIAN of all
    pairwise slopes of the daily-revenue series — the
    breakdown-point-0.29 complement to regr_value_time's OLS slope
    (one corrupted day drags OLS arbitrarily; Theil-Sen shrugs).

    Scale shape: the quadratic pairing runs on the AGGREGATED series —
    (event_type, day) rows, bounded by the calendar (~30 points/type
    here, ~C(30,2)=435 slopes/type), NOT by table size, so the
    self-join input is invariant as events grow 1000x; the only
    full-table pass is the exact DECIMAL daily rollup.  Slopes are
    IEEE doubles from exact inputs — (double(v2)-double(v1))/(d2-d1)
    in the same expression shape as the oracle — and the exact median
    picks the middle order statistics (avg of the two middles on even
    n), floored at 1e-6.
    """
    e = load_table(spark, sf_dir, "events")
    day = ts_day()
    daily = (e.groupBy("event_type", day.alias("day"))
              .agg(F.sum(dec("value", MONEY)).alias("v")))
    a = daily.select("event_type", F.col("day").alias("d1"),
                     F.col("v").alias("v1"))
    b = daily.select("event_type", F.col("day").alias("d2"),
                     F.col("v").alias("v2"))
    slope = ((F.col("v2").cast("double") - F.col("v1").cast("double"))
             / (F.col("d2") - F.col("d1")).cast("double"))
    pairs = (a.join(b, "event_type")
              .filter(F.col("d1") < F.col("d2"))
              .select("event_type", slope.alias("slope")))
    wp = W.partitionBy("event_type")
    ranked = (pairs
              .withColumn("rn", F.row_number().over(wp.orderBy("slope")))
              .withColumn("n", F.count(F.lit(1)).over(wp)))
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2)))
    return (mid.groupBy("event_type")
               .agg(F.floor(F.avg("slope") * 1e6).cast("bigint")
                     .alias("theil_sen_slope_e6"),
                    F.min("n").alias("n_pairs")))


def _seasonal_base(events):
    """Row-local (event_id, type, dow, hour, exact-DECIMAL value)."""
    dow = F.pmod(ts_day(), F.lit(7))
    return events.select("event_id", "event_type", dow.alias("dow"),
                         ts_hour().alias("hour"),
                         dec("value", MONEY).alias("v"))


def seasonal_baseline(events):
    """Train the seasonal baseline: (event_type, dow, hour, m_b) cell
    means + (event_type, var_r) residual variances — the static
    relations streaming.stream_anomaly_scoring broadcasts onto a live
    stream."""
    base = _seasonal_base(events)
    cells = (base.groupBy("event_type", "dow", "hour")
                 .agg(F.count(F.lit(1)).alias("n_b"),
                      F.sum("v").alias("s_b"),
                      F.sum(F.col("v") * F.col("v")).alias("s2_b")))
    nb = F.col("n_b").cast("double")
    sb = F.col("s_b").cast("double")
    s2b = F.col("s2_b").cast("double")
    cstats = cells.select(
        "event_type", "dow", "hour", "n_b",
        (sb / nb).alias("m_b"),
        F.floor((s2b - sb * sb / nb) * 1e6).cast("long")
         .alias("contrib_e6"))
    var_t = (cstats.groupBy("event_type")
             .agg(F.sum("contrib_e6").alias("ssd_e6"),
                  F.sum("n_b").alias("n"))
             .select("event_type",
                     ((F.col("ssd_e6").cast("double") / F.lit(1e6))
                      / F.col("n").cast("double")).alias("var_r")))
    return cstats.select("event_type", "dow", "hour", "m_b"), var_t


def q_anomaly_seasonal_residual(spark, sf_dir):
    """Seasonality-adjusted anomaly detection: an event is anomalous
    iff its value deviates from its (event_type, day-of-week, hour)
    cell mean by more than 3 residual-sigmas of its type — the
    follow-up to events_anomaly_mad that a daily/hourly load cycle
    demands (a Friday-18:00 spike is normal ON FRIDAYS AT 18:00).

    Identity used: sum of squared residuals against per-cell means
    decomposes as SUM_b (S2_b - S_b^2/n_b) — entirely from the exact
    per-cell DECIMAL power sums, no second residual pass.  Each cell's
    contribution quantizes to integer micros before the cross-cell sum
    (the pagerank fixed-point recipe: 168 doubles summed in engine
    order would not be a contract), so the 3-sigma threshold is the
    same double in both engines.  The events table never shuffles:
    the cell grid (5x7x24) and per-type variances broadcast back onto
    the scan.
    """
    e = load_table(spark, sf_dir, "events")
    base = _seasonal_base(e)
    cell_means, var_t = seasonal_baseline(e)
    j = (base.join(F.broadcast(cell_means),
                   ["event_type", "dow", "hour"])
             .join(F.broadcast(var_t), "event_type"))
    resid = F.col("v").cast("double") - F.col("m_b")
    return (j.filter(resid * resid > F.lit(9.0) * F.col("var_r"))
             .select("event_id", "event_type", "dow", "hour",
                     F.floor(resid * 1e6).cast("long").alias("resid_e6")))


_PROFILE_CHECKS = (
    # (label, kind, lhs columns, rhs column or None)
    ("key: l_orderkey+l_linenumber", "key",
     ("l_orderkey", "l_linenumber"), None),
    ("key: l_orderkey", "key", ("l_orderkey",), None),
    ("key: l_orderkey+l_partkey+l_suppkey", "key",
     ("l_orderkey", "l_partkey", "l_suppkey"), None),
    ("fd: l_orderkey -> l_returnflag", "fd",
     ("l_orderkey",), "l_returnflag"),
    ("fd: l_partkey -> l_suppkey", "fd", ("l_partkey",), "l_suppkey"),
    ("fd: l_orderkey -> l_shipdate", "fd",
     ("l_orderkey",), "l_shipdate"),
)


def q_profile_keys_fds(spark, sf_dir):
    """Data-profiling report: candidate-KEY and functional-dependency
    checks over lineitem (the Metanome-style uniqueness/FD discovery
    core, restricted to a declared candidate set — full lattice search
    is a driver loop over exactly this primitive).  A key holds iff
    |distinct(lhs)| = |rows|; an FD lhs -> rhs holds iff
    |distinct(lhs)| = |distinct(lhs, rhs)| (every lhs value maps to
    one rhs).  The fixture makes the report non-trivial: the composite
    PK holds, the single-column "keys" fail, one FD holds vacuously
    per lhs-key and the others genuinely fail.

    Scale: each check is one partial+final distinct-count agg (6
    scans here for declarative clarity; a production profiler fuses
    them into one pass of grouping sets).  No windows, no joins —
    profiling must be runnable ON the 100 TB table.

    NULL-safety (r06 advice): countDistinct(a, b, ...) silently drops
    rows where ANY argument is NULL, which would miscount keys/FDs on
    nullable profiled columns; wrapping the tuple in a struct makes
    the row itself non-null, so NULL-holding rows count as distinct
    values — matching DuckDB's COUNT(DISTINCT ROW(...)) semantics
    (NULL fields inside a struct compare field-wise, NULL = NULL for
    distinctness, in both engines).
    """
    li = load_table(spark, sf_dir, "lineitem")
    out = None
    for label, kind, lhs, rhs in _PROFILE_CHECKS:
        lhs_d = F.countDistinct(
            F.struct(*[F.col(c) for c in lhs]))
        if kind == "key":
            base = F.count(F.lit(1))
        else:
            base = F.countDistinct(
                F.struct(*([F.col(c) for c in lhs] + [F.col(rhs)])))
        r = li.agg(lhs_d.alias("n_lhs"), base.alias("n_base")).select(
            F.lit(label).alias("check"),
            F.lit(kind).alias("kind"),
            F.col("n_lhs").alias("n_distinct_lhs"),
            F.col("n_base").alias("n_reference"),
            (F.col("n_lhs") == F.col("n_base")).alias("holds"))
        out = r if out is None else out.unionByName(r)
    return out


def q_events_changepoint_cusum(spark, sf_dir):
    """Sequential CHANGEPOINT detection (two-sided CUSUM, Page 1954)
    over each event type's hourly count series — the monitor that
    catches level SHIFTS (a deploy changing event volume) that the
    point-outlier ops (MAD, seasonal residual) miss by design: CUSUM
    accumulates small persistent drift until it crosses a decision
    interval.  Parameters are self-calibrated integers: allowance
    k = mu/4, decision h = 5*mu, all at e6 fixed-point — engine-exact.

    The recursion is inherently sequential PER SERIES, but a series'
    length is bounded by CALENDAR HOURS, not event volume — so the
    fold runs as one row-local array aggregate over the COMPACTED
    (type, hour) counts (gap hours filled as zeros from the hour
    range), exactly the bounded-window argument behind
    events_ewma_smooth, extended to the unbounded-memory detector.
    At 100 TB/day the per-type state is still one struct.

    Output per type: series length, mean, up/down alarm counts, first
    alarm hour (epoch hours, -1 = none).  Oracle: the identical
    integer recursion as a recursive CTE, step for step.
    """
    e = load_table(spark, sf_dir, "events")
    hour = F.expr("unix_micros(ts) DIV 3600000000")
    hc = (e.select(F.col("event_type"), hour.alias("hour"))
          .groupBy("event_type", "hour")
          .agg(F.count(F.lit(1)).alias("cnt")))
    per = hc.groupBy("event_type").agg(
        F.min("hour").alias("min_h"), F.max("hour").alias("max_h"),
        F.sum("cnt").alias("total"),
        F.map_from_entries(F.collect_list(F.struct("hour", "cnt")))
         .alias("cmap"))
    per = (per.withColumn("n_hours",
                          F.col("max_h") - F.col("min_h") + 1)
           .withColumn("mu_e6",
                       F.expr("CAST((total * 1000000) DIV n_hours"
                              " AS BIGINT)"))
           .withColumn("k_e6", F.expr("mu_e6 DIV 4"))
           .withColumn("h_e6", F.expr("5 * mu_e6")))
    fold = F.expr("""
        aggregate(
          transform(sequence(0, CAST(n_hours - 1 AS INT)),
                    j -> coalesce(element_at(cmap, min_h + j),
                                  CAST(0 AS BIGINT))),
          named_struct('sp', 0L, 'sn', 0L, 'up', 0L, 'dn', 0L,
                       'fh', CAST(-1 AS BIGINT), 'i', 0L),
          (a, x) -> named_struct(
            'sp', IF(a.sp + x * 1000000L - mu_e6 - k_e6 > h_e6, 0L,
                     GREATEST(0L, a.sp + x * 1000000L - mu_e6 - k_e6)),
            'sn', IF(a.sn + mu_e6 - x * 1000000L - k_e6 > h_e6, 0L,
                     GREATEST(0L, a.sn + mu_e6 - x * 1000000L - k_e6)),
            'up', a.up + IF(a.sp + x * 1000000L - mu_e6 - k_e6 > h_e6,
                            1L, 0L),
            'dn', a.dn + IF(a.sn + mu_e6 - x * 1000000L - k_e6 > h_e6,
                            1L, 0L),
            'fh', IF(a.fh >= 0L, a.fh,
                     IF(a.sp + x * 1000000L - mu_e6 - k_e6 > h_e6
                        OR a.sn + mu_e6 - x * 1000000L - k_e6 > h_e6,
                        min_h + a.i, CAST(-1 AS BIGINT))),
            'i', a.i + 1L),
          s -> s)
    """)
    return per.select(
        "event_type", F.col("n_hours").cast("long").alias("n_hours"),
        "mu_e6", fold.alias("st")
    ).select("event_type", "n_hours", "mu_e6",
             F.col("st.up").alias("up_alarms"),
             F.col("st.dn").alias("dn_alarms"),
             F.col("st.fh").alias("first_alarm_hour"))


DRIFT_SPLIT = "1997-01-01"     # base snapshot < split <= incoming batch


def q_schema_drift(spark, sf_dir):
    """Column-level DRIFT report between a base snapshot and an
    incoming batch (orders split on o_orderdate) — the ingest-monitor
    pass a 100 TB lake runs before appending a day's partition:
    per column, row/null/distinct counts and value range on BOTH
    sides, plus the drift verdicts (ndv ratio outside [0.5x, 2x],
    null-rate delta > 1000 ppm, or the batch's range escaping the base
    range) that page the pipeline owner before a bad upstream deploy
    poisons the table.

    One partial+final aggregate PER SIDE computes every column's
    stats in a single pass (the multi-countDistinct plans through one
    Expand — one scan each side, no per-column re-reads); the stack()
    unpivot and the column-keyed join run on the 4-row profile
    relations.  Ranges compare on canonical strings (prices fixed to
    DECIMAL(12,2)) so the report is engine- and type-portable.
    """
    o = load_table(spark, sf_dir, "orders")
    cols = {
        "o_orderstatus": F.col("o_orderstatus"),
        "o_orderpriority": F.col("o_orderpriority"),
        "o_totalprice": F.col("o_totalprice").cast("decimal(12,2)"),
        "o_custkey": F.col("o_custkey"),
    }

    # Numeric mins/maxes render as zero-padded fixed-width strings so
    # the post-stack range compares stay ORDER-CORRECT lexicographically
    # (plain "100" < "99" would invert the escape flags).
    pad = {"o_totalprice": 15, "o_custkey": 12}

    # ONE grouped pass over the table profiles BOTH sides (group key =
    # which side of the split the row falls on): the per-side profile()
    # calls each ran their own scan + multi-countDistinct Expand — two
    # full passes for four stats columns.  Same aggregates, same
    # stack() unpivot, same output values.
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, c in cols.items():
        mn, mx = F.min(c).cast("string"), F.max(c).cast("string")
        if name in pad:
            mn = F.lpad(mn, pad[name], "0")
            mx = F.lpad(mx, pad[name], "0")
        aggs += [
            F.sum(c.isNull().cast("long")).alias(f"nn_{name}"),
            F.countDistinct(c).alias(f"ndv_{name}"),
            mn.alias(f"mn_{name}"),
            mx.alias(f"mx_{name}"),
        ]
    side = (F.col("o_orderdate") < DRIFT_SPLIT).alias("is_base")
    wide2 = o.groupBy(side).agg(*aggs)
    stack = "stack(%d, %s) as (col, n_null, ndv, mn, mx)" % (
        len(cols), ", ".join(
            f"'{n}', nn_{n}, ndv_{n}, mn_{n}, mx_{n}" for n in cols))
    # 8-row relation, corpus-sized to compute; feeds both side filters.
    # SPINE left-join (r11 verdict item 8): the grouped pass emits NO
    # group for an empty side, unlike the per-side df.agg() it replaced
    # (one row per column with n=0 / ndv=0 / NULL sums+ranges) — so a
    # table entirely on one side of DRIFT_SPLIT produced a silent EMPTY
    # drift report.  The 8-row (is_base x col) spine restores the zero
    # rows, and with them the old loud ANSI divide-by-zero on the empty
    # side's ndv — an ingest monitor must fail, not report "no drift".
    # LocalRelation spine (SQL VALUES, not createDataFrame — an
    # ExistingRDD scan would defeat broadcast and force a sort-merge
    # join with exchanges around the profile agg: measured 0.76s ->
    # 4.0s); the 8-row stacked profile broadcasts, so the spine join
    # adds no exchange and the corpus is still scanned exactly once.
    spark = o.sparkSession
    spine = spark.sql(
        "SELECT is_base, col FROM VALUES "
        + ", ".join(f"({b}, '{c}')"
                    for b in ("true", "false") for c in cols)
        + " AS t(is_base, col)")
    prof = (spine.join(
                F.broadcast(wide2.select("is_base", "n", F.expr(stack))),
                ["is_base", "col"], "left")
            .select("is_base", "col",
                    F.coalesce("n", F.lit(0).cast("long")).alias("n"),
                    "n_null",                  # NULL like sum() over empty
                    F.coalesce("ndv", F.lit(0).cast("long")).alias("ndv"),
                    "mn", "mx")
            .cache())
    base = prof.filter(F.col("is_base")).drop("is_base")
    new = prof.filter(~F.col("is_base")).drop("is_base")
    b = base.select(F.col("col"), F.col("n").alias("base_n"),
                    F.col("n_null").alias("base_null"),
                    F.col("ndv").alias("base_ndv"),
                    F.col("mn").alias("base_min"),
                    F.col("mx").alias("base_max"))
    nw = new.select(F.col("col"), F.col("n").alias("new_n"),
                    F.col("n_null").alias("new_null"),
                    F.col("ndv").alias("new_ndv"),
                    F.col("mn").alias("new_min"),
                    F.col("mx").alias("new_max"))
    j = b.join(nw, "col")
    # DECIMAL(38,0) multiplicands (r08 advice item 1): plain BIGINT
    # count*1e6 wraps silently at 100 TB cardinalities while DuckDB's
    # HUGEINT raises — widen so engine and oracle share 128-bit math.
    ppm = lambda nl, n: F.expr(  # noqa: E731
        f"CAST((CAST({nl} AS DECIMAL(38,0)) * 1000000) DIV {n} AS BIGINT)")
    j = (j.withColumn("base_null_ppm", ppm("base_null", "base_n"))
          .withColumn("new_null_ppm", ppm("new_null", "new_n"))
          .withColumn("ndv_ratio_e6", F.expr(
              "CAST((CAST(new_ndv AS DECIMAL(38,0)) * 1000000)"
              " DIV base_ndv AS BIGINT)")))
    drift = ((F.col("ndv_ratio_e6") < 500_000)
             | (F.col("ndv_ratio_e6") > 2_000_000)
             | (F.abs(F.col("new_null_ppm") - F.col("base_null_ppm"))
                > 1000)
             | (F.col("new_min") < F.col("base_min"))
             | (F.col("new_max") > F.col("base_max")))
    return j.select("col", "base_n", "new_n", "base_ndv", "new_ndv",
                    "base_null_ppm", "new_null_ppm", "ndv_ratio_e6",
                    "base_min", "base_max", "new_min", "new_max",
                    drift.alias("drift"))


QUERIES = {
    "events_changepoint_cusum": q_events_changepoint_cusum,
    "schema_drift_detect": q_schema_drift,
    "feat_zscore_per_type": q_feat_zscore,
    "validate_referential_integrity": q_validate_referential,
    "profile_keys_fds": q_profile_keys_fds,
    "feat_winsorize": q_feat_winsorize,
    "anomaly_iqr_fences": q_anomaly_iqr,
    "stats_corr_matrix": q_stats_corr_matrix,
    "stats_chi_square_cells": q_stats_chi_square,
    "stats_ks_two_sample": q_stats_ks_two_sample,
    "gini_revenue_concentration": q_gini_revenue,
    "stats_ttest_welch": q_stats_ttest_welch,
    "regr_multiple_ols": q_regr_multiple_ols,
    "abtest_cuped_readout": q_abtest_cuped,
    "abtest_diff_in_diff": q_abtest_diff_in_diff,
    "stats_trimmed_mean": q_stats_trimmed,
    "events_anomaly_mad": q_events_anomaly_mad,
    "regr_value_time": q_regr_value_time,
    "skyline_pareto_2d": q_skyline_pareto,
    "profile_documents": q_profile_table,
    "validate_events": q_validate_events,
    "feat_quantile_normalize": q_feat_quantile_normalize,
    "validate_embeddings": q_validate_embeddings,
    "histogram_equiwidth": q_histogram_equiwidth,
    "histogram_equidepth": q_histogram_equidepth,
    "stats_mannwhitney_u": q_stats_mannwhitney,
    "stats_anova_oneway": q_stats_anova_oneway,
    "stats_levene_robust": q_stats_levene_robust,
    "stats_cohens_d": q_stats_cohens_d,
    "stats_spearman_corr": q_stats_spearman,
    "stats_theil_sen": q_stats_theil_sen,
    "anomaly_seasonal_residual": q_anomaly_seasonal_residual,
    "stats_kruskal_wallis": q_stats_kruskal_wallis,
    "stats_kendall_tau": q_stats_kendall_tau,
}

def _drift_oracle() -> str:
    cols = {
        "o_orderstatus": ("o_orderstatus", 0),
        "o_orderpriority": ("o_orderpriority", 0),
        "o_totalprice": ("CAST(o_totalprice AS DECIMAL(12,2))", 15),
        "o_custkey": ("o_custkey", 12),
    }

    def side(rel, p):
        parts = []
        for name, (expr, padw) in cols.items():
            mn, mx = f"CAST(MIN({expr}) AS VARCHAR)", \
                     f"CAST(MAX({expr}) AS VARCHAR)"
            if padw:
                mn, mx = f"lpad({mn}, {padw}, '0')", \
                         f"lpad({mx}, {padw}, '0')"
            parts.append(f"""
            SELECT '{name}' AS col, COUNT(*)::BIGINT AS {p}_n,
                   SUM(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END)
                       ::BIGINT AS {p}_null,
                   COUNT(DISTINCT {expr})::BIGINT AS {p}_ndv,
                   {mn} AS {p}_min, {mx} AS {p}_max
            FROM {rel}""")
        return " UNION ALL ".join(parts)

    return f"""
        WITH b0 AS (SELECT * FROM orders
                    WHERE o_orderdate < TIMESTAMP '{DRIFT_SPLIT}'),
        n0 AS (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '{DRIFT_SPLIT}'),
        bp AS ({side('b0', 'base')}),
        np AS ({side('n0', 'new')}),
        j AS (SELECT bp.*, np.new_n, np.new_null, np.new_ndv,
                     np.new_min, np.new_max
              FROM bp JOIN np USING (col)),
        m AS (SELECT *,
                     (base_null * 1000000) // base_n AS base_null_ppm,
                     (new_null * 1000000) // new_n AS new_null_ppm,
                     (new_ndv * 1000000) // base_ndv AS ndv_ratio_e6
              FROM j)
        SELECT col, base_n, new_n, base_ndv, new_ndv,
               base_null_ppm::BIGINT AS base_null_ppm,
               new_null_ppm::BIGINT AS new_null_ppm,
               ndv_ratio_e6::BIGINT AS ndv_ratio_e6,
               base_min, base_max, new_min, new_max,
               (ndv_ratio_e6 < 500000 OR ndv_ratio_e6 > 2000000
                OR ABS(new_null_ppm - base_null_ppm) > 1000
                OR new_min < base_min OR new_max > base_max) AS drift
        FROM m
    """


ORACLE = {
    "schema_drift_detect": _drift_oracle(),
    "histogram_equidepth": """
        WITH b AS (
            SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
                   NTILE(10) OVER (PARTITION BY event_type
                       ORDER BY CAST(value AS DECIMAL(12,2)), event_id)
                       AS bucket
            FROM events)
        SELECT event_type, bucket, COUNT(*) AS n,
               MIN(v)::DOUBLE AS lo, MAX(v)::DOUBLE AS hi,
               SUM(v)::DOUBLE AS mass
        FROM b GROUP BY 1, 2
    """,
    "stats_trimmed_mean": """
        WITH ranked AS (
            SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY CAST(value AS DECIMAL(12,2)), event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events),
        agg AS (
            SELECT event_type, MAX(n) AS n,
                   SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                            THEN v END) AS s_kept,
                   COUNT(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                              THEN 1 END) AS n_kept,
                   MIN(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                            THEN v END) AS lo,
                   MAX(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                            THEN v END) AS hi
            FROM ranked GROUP BY event_type)
        SELECT event_type, n,
               ROUND(s_kept::DOUBLE / n_kept, 6) AS trimmed_mean,
               ROUND((s_kept + (n - n_kept) // 2 * lo
                             + (n - n_kept) // 2 * hi)::DOUBLE / n, 6)
                   AS winsorized_mean
        FROM agg
    """,
    "events_anomaly_mad": """
        WITH base AS (
            SELECT event_id, event_type,
                   CAST(value AS DECIMAL(12,2)) AS v
            FROM events),
        r1 AS (
            SELECT event_type, v,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY v, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM base),
        med AS (
            SELECT event_type, v AS med FROM r1
            WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT)),
        d1 AS (
            SELECT b.event_id, b.event_type, b.v, med.med,
                   ABS(b.v - med.med) AS adiff
            FROM base b JOIN med USING (event_type)),
        r2 AS (
            SELECT event_type, adiff,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY adiff, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM d1),
        mad AS (
            SELECT event_type, adiff AS mad FROM r2
            WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT))
        SELECT d1.event_id, d1.event_type,
               d1.v::DOUBLE AS value, d1.med::DOUBLE AS med,
               mad.mad::DOUBLE AS mad
        FROM d1 JOIN mad USING (event_type)
        WHERE d1.adiff > 3 * mad.mad
    """,
    "regr_value_time": """
        WITH s AS (
            SELECT event_type,
                   CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(CAST(epoch_us(ts) // 1000000 - 1704067200
                                 AS DECIMAL(18,0))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(epoch_us(ts) // 1000000 - 1704067200
                                 AS DECIMAL(18,0))
                            * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                       AS sxy,
                   CAST(sum(CAST(epoch_us(ts) // 1000000 - 1704067200
                                 AS DECIMAL(18,0))
                            * CAST(epoch_us(ts) // 1000000 - 1704067200
                                   AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
                   CAST(sum(CAST(value AS DECIMAL(12,2))
                            * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS syy
            FROM events GROUP BY 1)
        SELECT event_type, CAST(n AS BIGINT) AS n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400
                   AS slope_per_day,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS intercept,
               (n * sxy - sx * sy) * (n * sxy - sx * sy)
                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
        FROM s
    """,
    "feat_zscore_per_type": """
        WITH s AS (
            SELECT event_type, COUNT(*) AS n,
                   SUM(CAST(value AS DECIMAL(12,2)))::DOUBLE AS sx,
                   SUM(CAST(value AS DECIMAL(12,2))
                       * CAST(value AS DECIMAL(12,2)))::DOUBLE AS sx2
            FROM events GROUP BY 1)
        SELECT e.event_id, e.event_type,
               ROUND((CAST(e.value AS DECIMAL(12,2))::DOUBLE
                      - sx / n::DOUBLE)
                     / SQRT((n::DOUBLE * sx2 - sx * sx)
                            / (n::DOUBLE * n::DOUBLE)), 6) AS zscore
        FROM events e JOIN s USING (event_type)
    """,
    "skyline_pareto_2d": """
        WITH pts AS (
            SELECT DISTINCT p_brand,
                   CAST(p_retailprice AS DECIMAL(12,2)) AS price, p_size
            FROM part)
        SELECT p_brand, price::DOUBLE AS price, p_size
        FROM pts p
        WHERE NOT EXISTS (
            SELECT 1 FROM pts q
            WHERE q.p_brand = p.p_brand
              AND q.price <= p.price AND q.p_size >= p.p_size
              AND (q.price < p.price OR q.p_size > p.p_size))
    """,
    "profile_documents": """
        WITH a AS (
            SELECT COUNT(*) AS n_rows,
                   SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS null_text,
                   SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS null_lang,
                   SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                       AS null_source,
                   COUNT(DISTINCT lang) AS distinct_lang,
                   COUNT(DISTINCT source) AS distinct_source,
                   MIN(n_chars) AS min_n_chars,
                   MAX(n_chars) AS max_n_chars
            FROM documents)
        SELECT metric, CAST(value AS BIGINT) AS value FROM (
            SELECT 'n_rows' AS metric, n_rows AS value FROM a
            UNION ALL SELECT 'null_text', null_text FROM a
            UNION ALL SELECT 'null_lang', null_lang FROM a
            UNION ALL SELECT 'null_source', null_source FROM a
            UNION ALL SELECT 'distinct_lang', distinct_lang FROM a
            UNION ALL SELECT 'distinct_source', distinct_source FROM a
            UNION ALL SELECT 'min_n_chars', min_n_chars FROM a
            UNION ALL SELECT 'max_n_chars', max_n_chars FROM a)
    """,
    "histogram_equiwidth": """
        SELECT event_type,
               CAST(FLOOR(CAST(value AS DECIMAL(12,2)) / 25) AS INT) AS bin,
               CAST(FLOOR(CAST(value AS DECIMAL(12,2)) / 25) AS INT) * 25.0
                   AS bin_lo,
               COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(12,2)))::DOUBLE AS mass
        FROM events
        GROUP BY 1, 2
    """,
    "validate_events": """
        SELECT event_id, violations FROM (
            SELECT event_id,
                   concat_ws(',',
                       CASE WHEN NOT (value >= 0 AND value <= 450)
                            THEN 'value_range' END,
                       CASE WHEN NOT (event_type IN
                                ('click', 'signup', 'view', 'purchase'))
                            THEN 'type_allowed' END,
                       CASE WHEN NOT (
                                CAST(json_extract_string(props, '$.k') AS INT)
                                    IS NOT NULL
                                AND CAST(json_extract_string(props, '$.k')
                                         AS INT) < 95)
                            THEN 'props_k_bound' END) AS violations
            FROM events)
        WHERE violations <> ''
    """,
}


ORACLE["validate_embeddings"] = """
    WITH base AS (
        SELECT embedding IS NOT NULL AS ok_null,
               len(embedding) = 64 AS ok_dim,
               list_reduce(list_transform(embedding,
                   v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
                   (a, x) -> a + x) > 0.0 AS ok_norm,
               label BETWEEN 0 AND 9 AS ok_label
        FROM embeddings),
    agg AS (
        SELECT COUNT(*) AS n_checked,
               COUNT(*) FILTER (WHERE NOT ok_null) AS v_vec_not_null,
               COUNT(*) FILTER (WHERE NOT ok_dim) AS v_dim_is_64,
               COUNT(*) FILTER (WHERE NOT ok_norm) AS v_norm_positive,
               COUNT(*) FILTER (WHERE NOT ok_label) AS v_label_in_domain
        FROM base)
    SELECT 'vec_not_null' AS check, n_checked, v_vec_not_null AS n_violations FROM agg
    UNION ALL SELECT 'dim_is_64', n_checked, v_dim_is_64 FROM agg
    UNION ALL SELECT 'norm_positive', n_checked, v_norm_positive FROM agg
    UNION ALL SELECT 'label_in_domain', n_checked, v_label_in_domain FROM agg
"""


ORACLE["feat_quantile_normalize"] = """
    WITH b AS (SELECT event_id, event_type,
                      CAST(value AS DECIMAL(12,2)) AS v
               FROM events)
    SELECT event_id, event_type, CAST(v AS DOUBLE) AS value,
           CAST(FLOOR(PERCENT_RANK() OVER (PARTITION BY event_type
                                           ORDER BY v) * 1e6) AS BIGINT)
               AS pct_e6
    FROM b
"""

_RANKED_SQL = """
    base AS (
        SELECT event_id, event_type, CAST(value AS DECIMAL(12,2)) AS v
        FROM events),
    vc AS (SELECT event_type, v, COUNT(*) AS cnt FROM base GROUP BY 1, 2),
    ranked AS (
        SELECT event_type, v, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM vc)
"""

ORACLE["feat_winsorize"] = f"""
    WITH {_RANKED_SQL},
    cuts AS (
        SELECT event_type,
               MIN(CASE WHEN cum >= (n + 19) // 20 THEN v END) AS lo,
               MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN v END) AS hi
        FROM ranked GROUP BY 1)
    SELECT b.event_id, b.event_type, CAST(b.v AS DOUBLE) AS value,
           CAST(GREATEST(LEAST(b.v, c.hi), c.lo) AS DOUBLE) AS value_wins
    FROM base b JOIN cuts c USING (event_type)
"""

ORACLE["anomaly_iqr_fences"] = f"""
    WITH {_RANKED_SQL},
    cuts AS (
        SELECT event_type,
               MIN(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q1,
               MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q3
        FROM ranked GROUP BY 1)
    SELECT b.event_id, b.event_type, CAST(b.v AS DOUBLE) AS value,
           CAST(c.q1 AS DOUBLE) AS q1, CAST(c.q3 AS DOUBLE) AS q3,
           CAST(c.q3 - c.q1 AS DOUBLE) AS iqr
    FROM base b JOIN cuts c USING (event_type)
    WHERE 2 * b.v < 2 * c.q1 - 3 * (c.q3 - c.q1)
       OR 2 * b.v > 2 * c.q3 + 3 * (c.q3 - c.q1)
"""


def _corr_matrix_oracle() -> str:
    aggs = ["COUNT(*)::DOUBLE AS m"]
    for i, a in enumerate(_CORR_COLS):
        aggs.append(f"SUM(CAST({a} AS DECIMAL(12,2)))::DOUBLE AS s{i}")
        for j, b in enumerate(_CORR_COLS):
            if i <= j:
                aggs.append(
                    f"SUM(CAST({a} AS DECIMAL(12,2))"
                    f" * CAST({b} AS DECIMAL(12,2)))::DOUBLE AS p{i}{j}")
    sels = []
    for i, a in enumerate(_CORR_COLS):
        for j, b in enumerate(_CORR_COLS):
            if i < j:
                expr = _corr_pair_e6("m", f"s{i}", f"s{j}",
                                     f"p{i}{i}", f"p{j}{j}", f"p{i}{j}")
                sels.append(f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                            f" {expr} AS corr_e6 FROM mom")
    return ("WITH mom AS (SELECT " + ", ".join(aggs) + " FROM lineitem)\n    "
            + "\n    UNION ALL ".join(sels))


ORACLE["stats_corr_matrix"] = _corr_matrix_oracle()

ORACLE["validate_referential_integrity"] = """
    SELECT 'lineitem_orphan_order' AS check_name, COUNT(*) AS n_violations
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'order_without_lineitem', COUNT(*)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'order_orphan_customer', COUNT(*)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer_orphan_nation', COUNT(*)
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM nation n
                      WHERE n.n_nationkey = c.c_nationkey)
"""

ORACLE["stats_chi_square_cells"] = """
    WITH cells AS (
        SELECT event_type,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
                   AS dow,
               COUNT(*)::BIGINT AS o
        FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, SUM(o)::BIGINT AS rt FROM cells GROUP BY 1),
    ct AS (SELECT dow, SUM(o)::BIGINT AS ct FROM cells GROUP BY 1),
    tot AS (SELECT SUM(o)::BIGINT AS n FROM cells)
    SELECT c.event_type, c.dow, c.o AS n_obs,
           CAST(FLOOR(CAST(rt.rt * ct.ct AS DOUBLE) / CAST(n AS DOUBLE)
                      * 1e6) AS BIGINT) AS exp_e6,
           CAST(FLOOR(CAST(c.o * n - rt.rt * ct.ct AS DOUBLE)
                      * CAST(c.o * n - rt.rt * ct.ct AS DOUBLE)
                      / (CAST(rt.rt * ct.ct AS DOUBLE) * CAST(n AS DOUBLE))
                      * 1e6) AS BIGINT) AS contrib_e6
    FROM cells c
    JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN tot
"""

ORACLE["stats_ks_two_sample"] = f"""
    WITH pts AS (
        SELECT value,
               SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
                   ::BIGINT AS c1,
               SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
                   ::BIGINT AS c2
        FROM events
        WHERE event_type IN ('{_KS_A}', '{_KS_B}')
        GROUP BY 1),
    run AS (
        SELECT SUM(c1) OVER (ORDER BY value) AS r1,
               SUM(c2) OVER (ORDER BY value) AS r2
        FROM pts),
    tot AS (SELECT SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2 FROM pts)
    SELECT round(CAST(MAX(ABS(r1 * n2 - r2 * n1)) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_d,
           n1, n2
    FROM run CROSS JOIN tot
    GROUP BY n1, n2
"""

ORACLE["gini_revenue_concentration"] = """
    WITH rev AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS x
        FROM orders GROUP BY 1),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i
        FROM rev),
    agg AS (
        SELECT COUNT(*)::BIGINT AS n, SUM(x) AS s, SUM(i * x) AS t
        FROM ranked)
    SELECT round((2.0 * CAST(t AS DOUBLE)
                  - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini,
           n AS n_customers
    FROM agg
"""

def _welch_oracle() -> str:
    t, df = _welch_exprs()
    return f"""
    WITH m AS (
        SELECT CAST(SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS n1,
               CAST(SUM(CASE WHEN event_type = '{_KS_A}'
                        THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS s1,
               CAST(SUM(CASE WHEN event_type = '{_KS_A}'
                        THEN CAST(value AS DECIMAL(12,2))
                             * CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS q1,
               CAST(SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS n2,
               CAST(SUM(CASE WHEN event_type = '{_KS_B}'
                        THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS s2,
               CAST(SUM(CASE WHEN event_type = '{_KS_B}'
                        THEN CAST(value AS DECIMAL(12,2))
                             * CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS q2
        FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}'))
    SELECT {t} AS t_e6, {df} AS df_e3,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
    FROM m
"""


ORACLE["stats_ttest_welch"] = _welch_oracle()


def _ols_oracle() -> str:
    exprs = _ols2_exprs()
    sel = ", ".join(f"{v} AS {k}_e6" for k, v in exprs.items())
    d = "CAST(%s AS DECIMAL(12,2))"
    y, x1, x2 = (d % c for c in
                 ("l_extendedprice", "l_quantity", "l_discount"))
    return f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({x1}) AS DOUBLE) AS s1,
               CAST(SUM({x2}) AS DOUBLE) AS s2,
               CAST(SUM({y}) AS DOUBLE) AS sy,
               CAST(SUM({x1} * {x1}) AS DOUBLE) AS s11,
               CAST(SUM({x1} * {x2}) AS DOUBLE) AS s12,
               CAST(SUM({x2} * {x2}) AS DOUBLE) AS s22,
               CAST(SUM({x1} * {y}) AS DOUBLE) AS s1y,
               CAST(SUM({x2} * {y}) AS DOUBLE) AS s2y,
               CAST(SUM({y} * {y}) AS DOUBLE) AS syy
        FROM lineitem)
    SELECT {sel}, CAST(n AS BIGINT) AS n_rows FROM m
"""


ORACLE["regr_multiple_ols"] = _ols_oracle()

def _cuped_oracle() -> str:
    theta = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
    arms = []
    for arm, ng, sxg, syg in (("'A'", "na", "sxa", "sya"),
                              ("'B'", "nb", "sxb", "syb")):
        raw = f"({syg} / {ng})"
        adj = f"({raw} - {theta} * ({sxg} / {ng} - sx / n))"
        arms.append(f"""
    SELECT {arm} AS arm, CAST({ng} AS BIGINT) AS n_users,
           CAST(FLOOR({raw} * 1e6) AS BIGINT) AS mean_post_e6,
           CAST(FLOOR({adj} * 1e6) AS BIGINT) AS mean_cuped_e6,
           CAST(FLOOR({theta} * 1e6) AS BIGINT) AS theta_e6
    FROM m""")
    return f"""
    WITH d0 AS (
        SELECT MIN(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
            AS d0 FROM events),
    per AS (
        SELECT user_id,
               SUM(CASE WHEN datediff('day', DATE '1970-01-01',
                                      CAST(ts AS DATE)) < d0 + {CUPED_PRE_DAYS}
                        THEN CAST(value AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS x,
               SUM(CASE WHEN datediff('day', DATE '1970-01-01',
                                      CAST(ts AS DATE)) >= d0 + {CUPED_PRE_DAYS}
                        THEN CAST(value AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END) AS y,
               user_id % 2 AS arm
        FROM events CROSS JOIN d0 GROUP BY user_id),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS na,
               CAST(SUM(CASE WHEN arm = 0 THEN x END) AS DOUBLE) AS sxa,
               CAST(SUM(CASE WHEN arm = 0 THEN y END) AS DOUBLE) AS sya,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS nb,
               CAST(SUM(CASE WHEN arm = 1 THEN x END) AS DOUBLE) AS sxb,
               CAST(SUM(CASE WHEN arm = 1 THEN y END) AS DOUBLE) AS syb
        FROM per)
    {" UNION ALL ".join(arms)}
"""


ORACLE["abtest_cuped_readout"] = _cuped_oracle()

def _did_oracle() -> str:
    mean = lambda a, p: f"(s{a}{p} / n{a}{p})"  # noqa: E731
    did = (f"(({mean(1,1)} - {mean(1,0)})"
           f" - ({mean(0,1)} - {mean(0,0)}))")
    sel = []
    for a, name in ((0, "'A'"), (1, "'B'")):
        sel.append(f"""
    SELECT {name} AS arm, CAST(n{a}0 AS BIGINT) AS n_pre,
           CAST(n{a}1 AS BIGINT) AS n_post,
           CAST(FLOOR({mean(a,0)} * 1e6) AS BIGINT) AS mean_pre_e6,
           CAST(FLOOR({mean(a,1)} * 1e6) AS BIGINT) AS mean_post_e6,
           CAST(FLOOR({did} * 1e6) AS BIGINT) AS did_e6
    FROM m""")
    cells = []
    for a in (0, 1):
        for p in (0, 1):
            cond = (f"user_id % 2 = {a} AND CASE WHEN "
                    f"datediff('day', DATE '1970-01-01', CAST(ts AS DATE))"
                    f" >= d0 + {CUPED_PRE_DAYS} THEN 1 ELSE 0 END = {p}")
            cells.append(
                f"CAST(SUM(CASE WHEN {cond} THEN"
                f" CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS s{a}{p},"
                f" CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS DOUBLE)"
                f" AS n{a}{p}")
    return f"""
    WITH d0 AS (
        SELECT MIN(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
            AS d0 FROM events),
    m AS (SELECT {", ".join(cells)} FROM events CROSS JOIN d0)
    {" UNION ALL ".join(sel)}
"""


ORACLE["abtest_diff_in_diff"] = _did_oracle()


ORACLE["stats_mannwhitney_u"] = f"""
    WITH pts AS (
        SELECT value,
               SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
                   ::BIGINT AS c1,
               SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
                   ::BIGINT AS c2
        FROM events
        WHERE event_type IN ('{_KS_A}', '{_KS_B}')
        GROUP BY 1),
    run AS (
        SELECT c1, c2, c1 + c2 AS c,
               COALESCE(SUM(c1 + c2) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS rprev
        FROM pts),
    agg AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2,
               CAST(SUM(c1 * (2 * rprev + c + 1)) AS BIGINT) AS r1x2,
               CAST(SUM(c * c * c - c) AS DOUBLE) AS tt
        FROM run),
    u AS (SELECT n1, n2, tt, r1x2 - n1 * (n1 + 1) AS u1x2 FROM agg)
    SELECT u1x2 AS u1_x2, {{z}} AS z_e6, n1, n2 FROM u
""".format(z=_mwu_z_expr())


def _anova_oracle(source_cte: str) -> str:
    """Mirror of _anova_f_from: exact-cents moments, floored s^2/n via
    HUGEINT //, one fixed-order double F expression (floor 1e2).
    ``source_cte`` must yield (grp, v DECIMAL(12,2))."""
    return f"""
    WITH src AS ({source_cte}),
    g AS (
        SELECT grp,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(CAST(v * 100 AS HUGEINT)) AS HUGEINT) AS s,
               CAST(SUM(CAST(v * 100 AS HUGEINT)
                        * CAST(v * 100 AS HUGEINT)) AS HUGEINT) AS q
        FROM src GROUP BY 1),
    per AS (SELECT n, s, q, (s * s) // n AS t FROM g),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS HUGEINT) AS nn,
               CAST(SUM(s) AS HUGEINT) AS ss,
               CAST(SUM(q) AS HUGEINT) AS qq,
               CAST(SUM(t) AS HUGEINT) AS tsum
        FROM per)
    SELECT CAST(FLOOR(((CAST(tsum AS DOUBLE) - CAST((ss * ss) // nn AS
           DOUBLE)) / (k - 1.0)) / ((CAST(qq AS DOUBLE) - CAST(tsum AS
           DOUBLE)) / (CAST(nn AS DOUBLE) - k)) * 100.0) AS BIGINT)
           AS f_e2,
           k, CAST(nn AS BIGINT) AS n
    FROM tot
"""


ORACLE["stats_anova_oneway"] = _anova_oracle(
    "SELECT event_type AS grp, CAST(value AS DECIMAL(12,2)) AS v"
    " FROM events")

# Brown-Forsythe: the inner CTE rebuilds |v - median(type)| with the
# window-rank median (an independent construction of the same lower
# median the engine ranks via cumulative counts).
ORACLE["stats_levene_robust"] = _anova_oracle("""
        SELECT b.event_type AS grp,
               CAST(ABS(b.v - m.med) AS DECIMAL(12,2)) AS v
        FROM (SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v
              FROM events) b
        JOIN (
            SELECT event_type, v AS med FROM (
                SELECT event_type, v,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY v) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM (SELECT event_type,
                             CAST(value AS DECIMAL(12,2)) AS v
                      FROM events))
            WHERE rn = (n + 1) // 2) m
          ON b.event_type = m.event_type""")


def _cohens_d_oracle() -> str:
    d_e, g_e = _cohens_d_exprs()
    return f"""
    WITH m AS (
        SELECT CAST(SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS n1,
               CAST(SUM(CASE WHEN event_type = '{_KS_A}'
                        THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS s1,
               CAST(SUM(CASE WHEN event_type = '{_KS_A}'
                        THEN CAST(value AS DECIMAL(12,2))
                             * CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS q1,
               CAST(SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
                    AS DOUBLE) AS n2,
               CAST(SUM(CASE WHEN event_type = '{_KS_B}'
                        THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS s2,
               CAST(SUM(CASE WHEN event_type = '{_KS_B}'
                        THEN CAST(value AS DECIMAL(12,2))
                             * CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
                   AS q2
        FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}'))
    SELECT {d_e} AS cohens_d_e6, {g_e} AS hedges_g_e6,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
    FROM m
"""


ORACLE["stats_cohens_d"] = _cohens_d_oracle()

# Spearman: midranks via the global AVG-rank window identity
# 2*midrank = 2*rank_prev + c + 1 — an independent construction of the
# engine's bucketed two-level prefix.
ORACLE["stats_spearman_corr"] = f"""
    WITH fact AS (
        SELECT CAST({_SPEAR_X} AS DECIMAL(12,2)) AS x,
               CAST({_SPEAR_Y} AS DECIMAL(12,2)) AS y
        FROM lineitem),
    rx AS (
        SELECT x,
               2 * COALESCE(SUM(c) OVER (ORDER BY x ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
                   AS mx
        FROM (SELECT x, COUNT(*)::BIGINT AS c FROM fact GROUP BY 1)),
    ry AS (
        SELECT y,
               2 * COALESCE(SUM(c) OVER (ORDER BY y ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
                   AS my
        FROM (SELECT y, COUNT(*)::BIGINT AS c FROM fact GROUP BY 1)),
    j AS (SELECT mx, my FROM fact JOIN rx USING (x) JOIN ry USING (y)),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS m,
               CAST(CAST(SUM(mx) AS HUGEINT) AS DOUBLE) AS sa,
               CAST(CAST(SUM(my) AS HUGEINT) AS DOUBLE) AS sb,
               CAST(CAST(SUM(CAST(mx AS HUGEINT) * mx) AS HUGEINT)
                    AS DOUBLE) AS saa,
               CAST(CAST(SUM(CAST(my AS HUGEINT) * my) AS HUGEINT)
                    AS DOUBLE) AS sbb,
               CAST(CAST(SUM(CAST(mx AS HUGEINT) * my) AS HUGEINT)
                    AS DOUBLE) AS sab
        FROM j)
    SELECT {_corr_pair_e6('m', 'sa', 'sb', 'saa', 'sbb', 'sab')}
               AS spearman_e6,
           CAST(m AS BIGINT) AS n
    FROM m
"""

ORACLE["stats_theil_sen"] = """
    WITH daily AS (
        SELECT event_type,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               SUM(CAST(value AS DECIMAL(12,2))) AS v
        FROM events GROUP BY 1, 2),
    pairs AS (
        SELECT a.event_type,
               (CAST(b.v AS DOUBLE) - CAST(a.v AS DOUBLE))
                   / CAST(b.day - a.day AS DOUBLE) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day),
    ranked AS (
        SELECT event_type, slope,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY slope) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM pairs)
    SELECT event_type,
           CAST(FLOOR(AVG(slope) * 1e6) AS BIGINT) AS theil_sen_slope_e6,
           MIN(n) AS n_pairs
    FROM ranked
    WHERE rn = FLOOR((n + 1) / 2) OR rn = FLOOR((n + 2) / 2)
    GROUP BY 1
"""

ORACLE["anomaly_seasonal_residual"] = """
    WITH base AS (
        SELECT event_id, event_type,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
                   AS dow,
               EXTRACT(hour FROM ts)::INT AS hour,
               CAST(value AS DECIMAL(12,2)) AS v
        FROM events),
    cells AS (
        SELECT event_type, dow, hour,
               COUNT(*)::BIGINT AS n_b,
               SUM(v) AS s_b, SUM(v * v) AS s2_b
        FROM base GROUP BY 1, 2, 3),
    cstats AS (
        SELECT event_type, dow, hour, n_b,
               CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b,
               CAST(FLOOR((CAST(s2_b AS DOUBLE)
                           - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                             / CAST(n_b AS DOUBLE)) * 1e6) AS BIGINT)
                   AS contrib_e6
        FROM cells),
    var_t AS (
        SELECT event_type,
               (CAST(SUM(contrib_e6) AS DOUBLE) / 1e6)
                   / CAST(SUM(n_b) AS DOUBLE) AS var_r
        FROM cstats GROUP BY 1)
    SELECT b.event_id, b.event_type, b.dow, b.hour,
           CAST(FLOOR((CAST(b.v AS DOUBLE) - c.m_b) * 1e6) AS BIGINT)
               AS resid_e6
    FROM base b
    JOIN cstats c USING (event_type, dow, hour)
    JOIN var_t t USING (event_type)
    WHERE (CAST(b.v AS DOUBLE) - c.m_b)
          * (CAST(b.v AS DOUBLE) - c.m_b) > 9.0 * t.var_r
"""


def _kruskal_oracle() -> str:
    h_e6, h_tie_e6 = _kw_h_exprs()
    return f"""
    WITH vc AS (
        SELECT value AS v, CAST(COUNT(*) AS HUGEINT) AS c
        FROM events GROUP BY 1),
    run AS (
        SELECT v, c,
               COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS rprev
        FROM vc),
    mid AS (SELECT v, c, 2 * rprev + c + 1 AS mid2 FROM run),
    gv AS (
        SELECT event_type, value AS v, CAST(COUNT(*) AS HUGEINT) AS cg
        FROM events GROUP BY 1, 2),
    g AS (
        SELECT event_type, SUM(cg) AS n_g, SUM(cg * m.mid2) AS r2
        FROM gv JOIN mid m USING (v) GROUP BY 1),
    per AS (SELECT n_g, (r2 * r2) // n_g AS t FROM g),
    tie AS (SELECT CAST(SUM(c * c * c - c) AS DOUBLE) AS tt FROM vc),
    tot AS (
        SELECT COUNT(*)::BIGINT AS k,
               CAST(SUM(n_g) AS DOUBLE) AS nn,
               CAST(SUM(t) AS DOUBLE) AS tsum
        FROM per)
    SELECT k, CAST(nn AS BIGINT) AS n,
           {h_e6} AS h_e6, {h_tie_e6} AS h_tie_e6
    FROM tot, tie
    """


ORACLE["stats_kruskal_wallis"] = _kruskal_oracle()


def _kendall_oracle() -> str:
    tau = ("CAST(FLOOR((CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE))"
           " / sqrt((CAST(n0 AS DOUBLE) - CAST(n1 AS DOUBLE))"
           " * (CAST(n0 AS DOUBLE) - CAST(n2 AS DOUBLE)))"
           " * 1000000.0) AS BIGINT)")
    return f"""
    WITH cells AS (
        SELECT l_quantity AS x, l_discount AS y,
               CAST(COUNT(*) AS HUGEINT) AS n_xy
        FROM lineitem GROUP BY 1, 2),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN a.y < b.y
                             THEN a.n_xy * b.n_xy END) AS HUGEINT)
                   AS c_pairs,
               CAST(SUM(CASE WHEN a.y > b.y
                             THEN a.n_xy * b.n_xy END) AS HUGEINT)
                   AS d_pairs
        FROM cells a JOIN cells b ON a.x < b.x),
    xt AS (SELECT SUM((nx * (nx - 1)) // 2) AS n1
           FROM (SELECT SUM(n_xy) AS nx FROM cells GROUP BY x)),
    yt AS (SELECT SUM((ny * (ny - 1)) // 2) AS n2
           FROM (SELECT SUM(n_xy) AS ny FROM cells GROUP BY y)),
    nn AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells),
    base AS (
        SELECT n, CAST(c_pairs AS BIGINT) AS c_pairs,
               CAST(d_pairs AS BIGINT) AS d_pairs,
               (CAST(n AS HUGEINT) * (n - 1)) // 2 AS n0, n1, n2
        FROM pairs, xt, yt, nn)
    SELECT n, c_pairs, d_pairs, {tau} AS tau_b_e6 FROM base
    """


ORACLE["stats_kendall_tau"] = _kendall_oracle()

ORACLE["profile_keys_fds"] = """
    SELECT 'key: l_orderkey+l_linenumber' AS check, 'key' AS kind, COUNT(DISTINCT ROW(l_orderkey, l_linenumber))::BIGINT AS n_distinct_lhs, COUNT(*)::BIGINT AS n_reference, COUNT(DISTINCT ROW(l_orderkey, l_linenumber)) = COUNT(*) AS holds FROM lineitem
    UNION ALL
    SELECT 'key: l_orderkey' AS check, 'key' AS kind, COUNT(DISTINCT ROW(l_orderkey))::BIGINT AS n_distinct_lhs, COUNT(*)::BIGINT AS n_reference, COUNT(DISTINCT ROW(l_orderkey)) = COUNT(*) AS holds FROM lineitem
    UNION ALL
    SELECT 'key: l_orderkey+l_partkey+l_suppkey' AS check, 'key' AS kind, COUNT(DISTINCT ROW(l_orderkey, l_partkey, l_suppkey))::BIGINT AS n_distinct_lhs, COUNT(*)::BIGINT AS n_reference, COUNT(DISTINCT ROW(l_orderkey, l_partkey, l_suppkey)) = COUNT(*) AS holds FROM lineitem
    UNION ALL
    SELECT 'fd: l_orderkey -> l_returnflag' AS check, 'fd' AS kind, COUNT(DISTINCT ROW(l_orderkey))::BIGINT AS n_distinct_lhs, COUNT(DISTINCT ROW(l_orderkey, l_returnflag))::BIGINT AS n_reference, COUNT(DISTINCT ROW(l_orderkey)) = COUNT(DISTINCT ROW(l_orderkey, l_returnflag)) AS holds FROM lineitem
    UNION ALL
    SELECT 'fd: l_partkey -> l_suppkey' AS check, 'fd' AS kind, COUNT(DISTINCT ROW(l_partkey))::BIGINT AS n_distinct_lhs, COUNT(DISTINCT ROW(l_partkey, l_suppkey))::BIGINT AS n_reference, COUNT(DISTINCT ROW(l_partkey)) = COUNT(DISTINCT ROW(l_partkey, l_suppkey)) AS holds FROM lineitem
    UNION ALL
    SELECT 'fd: l_orderkey -> l_shipdate' AS check, 'fd' AS kind, COUNT(DISTINCT ROW(l_orderkey))::BIGINT AS n_distinct_lhs, COUNT(DISTINCT ROW(l_orderkey, l_shipdate))::BIGINT AS n_reference, COUNT(DISTINCT ROW(l_orderkey)) = COUNT(DISTINCT ROW(l_orderkey, l_shipdate)) AS holds FROM lineitem
"""


ORACLE["events_changepoint_cusum"] = """
    WITH RECURSIVE hc AS (
        SELECT event_type,
               (epoch_us(ts) // 3600000000)::BIGINT AS hour,
               COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2),
    params AS (
        SELECT event_type, MIN(hour) AS min_h,
               (MAX(hour) - MIN(hour) + 1)::BIGINT AS n_hours,
               ((SUM(cnt) * 1000000) // (MAX(hour) - MIN(hour) + 1))
                   ::BIGINT AS mu_e6
        FROM hc GROUP BY 1),
    p2 AS (SELECT *, (mu_e6 // 4)::BIGINT AS k_e6,
                  (5 * mu_e6)::BIGINT AS h_e6
           FROM params),
    hv AS (
        SELECT p.event_type, u.j::BIGINT AS j, p.min_h, p.mu_e6,
               p.k_e6, p.h_e6, p.n_hours,
               COALESCE(c.cnt, 0)::BIGINT AS x
        FROM p2 p
        CROSS JOIN unnest(generate_series(1, p.n_hours)) AS u(j)
        LEFT JOIN hc c ON c.event_type = p.event_type
                      AND c.hour = p.min_h + u.j - 1),
    st(event_type, j, sp, sn, up, dn, fh) AS (
        SELECT event_type, 0::BIGINT, 0::BIGINT, 0::BIGINT,
               0::BIGINT, 0::BIGINT, (-1)::BIGINT
        FROM p2
        UNION ALL
        SELECT s.event_type, s.j + 1,
               CASE WHEN s.sp + h.x * 1000000 - h.mu_e6 - h.k_e6
                         > h.h_e6
                    THEN 0
                    ELSE GREATEST(0, s.sp + h.x * 1000000
                                     - h.mu_e6 - h.k_e6) END,
               CASE WHEN s.sn + h.mu_e6 - h.x * 1000000 - h.k_e6
                         > h.h_e6
                    THEN 0
                    ELSE GREATEST(0, s.sn + h.mu_e6 - h.x * 1000000
                                     - h.k_e6) END,
               s.up + CASE WHEN s.sp + h.x * 1000000 - h.mu_e6
                                - h.k_e6 > h.h_e6
                           THEN 1 ELSE 0 END,
               s.dn + CASE WHEN s.sn + h.mu_e6 - h.x * 1000000
                                - h.k_e6 > h.h_e6
                           THEN 1 ELSE 0 END,
               CASE WHEN s.fh >= 0 THEN s.fh
                    WHEN s.sp + h.x * 1000000 - h.mu_e6 - h.k_e6
                             > h.h_e6
                      OR s.sn + h.mu_e6 - h.x * 1000000 - h.k_e6
                             > h.h_e6
                    THEN h.min_h + s.j
                    ELSE -1 END
        FROM st s JOIN hv h ON h.event_type = s.event_type
                           AND h.j = s.j + 1)
    SELECT p.event_type, p.n_hours, p.mu_e6,
           s.up AS up_alarms, s.dn AS dn_alarms,
           s.fh AS first_alarm_hour
    FROM st s JOIN p2 p ON p.event_type = s.event_type
                       AND s.j = p.n_hours
"""


TE_FOLDS = 5        # out-of-fold split count
TE_SMOOTH_M = 20    # prior pseudo-count (the empirical-Bayes m)


def q_feat_target_encode_oof(spark, sf_dir):
    """OUT-OF-FOLD TARGET ENCODING with empirical-Bayes smoothing —
    the leakage-safe categorical encoder every tabular-ML pipeline
    ships (a row's own fold is excluded from the mean that encodes
    it, so the feature never sees its own target): for category
    c = o_orderpriority, fold f = md5(o_orderkey) % {k}, the encoding
    for fold f is

      (sum_cents(c) - sum_cents(c, f) + {m} * prior_f)
      / (n(c) - n(c, f) + {m})

    where prior_f is the fold's own out-of-fold GLOBAL mean — both
    numerator and denominator exclude fold f entirely.  Targets
    quantize to exact integer cents (floor(x*100 + 0.5)); the one
    division per grid cell happens on exact integers and floors to
    micro-units, so the whole grid is engine-exact.

    Scale: one partial+final agg to the (category x fold) grid
    (|cats| x {k} rows), one to the fold grid, then broadcast
    arithmetic — the encoder's classic one-pass property: nothing
    but the grid ever shuffles, and applying the encoding to rows is
    a broadcast hash join against that grid.

    Output: (category, fold, n_in, n_oof, enc_e6) — n_in the fold's
    own rows (excluded), n_oof the rows the encoding averaged.
    """.format(k=TE_FOLDS, m=TE_SMOOTH_M)
    o = load_table(spark, sf_dir, "orders")
    base = o.selectExpr(
        "o_orderpriority AS category",
        f"CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8),"
        f" 16, 10) AS BIGINT) % {TE_FOLDS} AS fold",
        "CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)"
        " AS BIGINT) AS cents")
    grid = (base.groupBy("category", "fold")
                .agg(F.count(F.lit(1)).alias("n_cf"),
                     F.sum("cents").alias("s_cf")))
    cat = (grid.groupBy("category")
               .agg(F.sum("n_cf").alias("n_c"),
                    F.sum("s_cf").alias("s_c")))
    fold = (grid.groupBy("fold")
                .agg(F.sum("n_cf").alias("n_f"),
                     F.sum("s_cf").alias("s_f")))
    tot = grid.agg(F.sum("n_cf").alias("n_t"),
                   F.sum("s_cf").alias("s_t"))
    # prior_f (micro-cents, floored) = out-of-fold global mean
    pri = (fold.crossJoin(F.broadcast(tot))
               .selectExpr("fold",
                           "CAST((CAST(s_t - s_f AS DECIMAL(38,0))"
                           " * 1000000) DIV (n_t - n_f) AS BIGINT)"
                           " AS prior_e6"))
    return (grid.join(cat, "category").join(F.broadcast(pri), "fold")
            .selectExpr(
                "category", "CAST(fold AS INT) AS fold",
                "n_cf AS n_in", "n_c - n_cf AS n_oof",
                f"CAST((CAST(s_c - s_cf AS DECIMAL(38,0)) * 1000000"
                f" + CAST({TE_SMOOTH_M} AS DECIMAL(38,0)) * prior_e6)"
                f" DIV (n_c - n_cf + {TE_SMOOTH_M}) AS BIGINT)"
                " AS enc_e6"))


QUERIES["feat_target_encode_oof"] = q_feat_target_encode_oof

ORACLE["feat_target_encode_oof"] = f"""
    WITH base AS (
        SELECT o_orderpriority AS category,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                   ::BIGINT % {TE_FOLDS} AS fold,
               CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                    AS BIGINT) AS cents
        FROM orders),
    grid AS MATERIALIZED (
        SELECT category, fold, COUNT(*)::BIGINT AS n_cf,
               SUM(cents)::BIGINT AS s_cf
        FROM base GROUP BY 1, 2),
    cat AS (SELECT category, SUM(n_cf)::BIGINT AS n_c,
                   SUM(s_cf)::BIGINT AS s_c
            FROM grid GROUP BY 1),
    fold AS (SELECT fold, SUM(n_cf)::BIGINT AS n_f,
                    SUM(s_cf)::BIGINT AS s_f
             FROM grid GROUP BY 1),
    tot AS (SELECT SUM(n_cf)::BIGINT AS n_t, SUM(s_cf)::BIGINT AS s_t
            FROM grid),
    pri AS (SELECT fold.fold,
                   ((tot.s_t - fold.s_f)::HUGEINT * 1000000
                    // (tot.n_t - fold.n_f))::BIGINT AS prior_e6
            FROM fold, tot)
    SELECT g.category, CAST(g.fold AS INT) AS fold,
           g.n_cf AS n_in, (c.n_c - g.n_cf)::BIGINT AS n_oof,
           (((c.s_c - g.s_cf)::HUGEINT * 1000000
             + {TE_SMOOTH_M}::HUGEINT * p.prior_e6)
            // (c.n_c - g.n_cf + {TE_SMOOTH_M}))::BIGINT AS enc_e6
    FROM grid g JOIN cat c USING (category) JOIN pri p ON p.fold = g.fold
"""


# ------------------------------------------------ split-conformal eval

CONF_SPLITS = 4        # md5(doc_id) % 4: {0,1}=train, 2=calibration, 3=test
CONF_ALPHA_N = 10      # alpha = 1/10 miscoverage target (90% intervals)


def q_eval_conformal_coverage(spark, sf_dir):
    """SPLIT-CONFORMAL prediction intervals with a per-lang coverage
    report — the distribution-free uncertainty wrapper every deployed
    pipeline scorer needs (Vovk et al.; the inductive/split variant,
    the only one that is one-pass at corpus scale).

    Underlying predictor: simple OLS word-count ~ n_chars fit on the
    train split (exact integer moments -> fixed-order double solve,
    the regr_value_time recipe).  Calibration nonconformity = absolute
    residual; q_hat = the ceil((1-alpha)(n_cal+1))-th smallest score
    (the finite-sample-valid order statistic, NOT an interpolated
    percentile).  Report: per lang, how often the test split's truth
    lands inside pred +/- q_hat — the marginal-coverage guarantee
    (>= 90%) made inspectable per slice (slice-conditional dips are
    exactly what the report is for).

    Scale shape: the fit is a 5-scalar partial+final agg; the order
    statistic uses integer residual buckets + per-bucket spillable
    row_numbers + a |buckets|-row offset window (the two-level rank
    recipe — NO corpus-wide single-partition sort; the plan carries
    exactly 2 scalar SinglePartition exchanges: the moment agg and the
    bucket-offset window); q_hat and the coefficients broadcast back
    as one-row scalar attaches.
    """
    d = load_table(spark, sf_dir, "documents")
    D38 = "decimal(38,0)"
    sp = (F.conv(F.substring(
              F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")),
              1, 8), 16, 10).cast("long") % CONF_SPLITS)
    base = d.select(
        "doc_id", "lang",
        F.col("n_chars").cast("long").alias("x"),
        F.size(words()).cast("long").alias("y"),
        sp.alias("sp"))

    tr = base.filter(F.col("sp").isin(0, 1))
    xd, yd = F.col("x").cast(D38), F.col("y").cast(D38)
    mom = tr.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                 F.sum(xd * xd).alias("sxx"), F.sum(xd * yd).alias("sxy"))
    nn = F.col("n").cast(D38)
    coef = (mom.select(
        ((nn * F.col("sxy") - F.col("sx").cast(D38) * F.col("sy").cast(D38))
         .cast("double")
         / (nn * F.col("sxx") - F.col("sx").cast(D38) * F.col("sx").cast(D38))
         .cast("double")).alias("b"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        F.col("n").cast("double").alias("nd"))
        .select("b", ((F.col("syd") - F.col("b") * F.col("sxd"))
                      / F.col("nd")).alias("a")))

    score = F.abs(F.col("y").cast("double")
                  - (F.col("a") + F.col("b") * F.col("x").cast("double")))
    cal = (base.filter(F.col("sp") == 2)
           .crossJoin(F.broadcast(coef))
           .select("doc_id", score.alias("s")))

    bkt = cal.withColumn("bk", F.floor("s").cast("long"))
    rb = F.row_number().over(W.partitionBy("bk").orderBy("s", "doc_id"))
    per = bkt.withColumn("rb", rb)
    sizes = bkt.groupBy("bk").agg(F.count(F.lit(1)).alias("nb"))
    w_off = W.orderBy("bk").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.orderBy("bk").rowsBetween(W.unboundedPreceding,
                                        W.unboundedFollowing)
    offs = sizes.select(
        "bk", F.coalesce(F.sum("nb").over(w_off), F.lit(0)).alias("off"),
        F.sum("nb").over(w_all).alias("n_cal"))
    ranked = (per.join(F.broadcast(offs), "bk")
              .withColumn("rk", F.col("rb") + F.col("off"))
              .withColumn("k", F.floor(
                  ((CONF_ALPHA_N - 1) * (F.col("n_cal") + 1)
                   + (CONF_ALPHA_N - 1)) / CONF_ALPHA_N).cast("long")))
    qh = ranked.filter(F.col("rk") == F.col("k")).select(
        F.col("s").alias("qhat"))

    t = (base.filter(F.col("sp") == 3)
         .crossJoin(F.broadcast(coef))
         .crossJoin(F.broadcast(qh))
         .select("lang", score.alias("s"), "qhat"))
    cov = F.sum(F.when(F.col("s") <= F.col("qhat"), 1).otherwise(0))
    return (t.groupBy("lang", "qhat")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 cov.cast("long").alias("n_covered"))
            .select("lang", "n_test", "n_covered",
                    F.expr("CAST((n_covered * 1000) DIV n_test AS BIGINT)")
                    .alias("coverage_permille"),
                    F.floor(F.col("qhat") * 1000000.0 + 0.5)
                    .cast("long").alias("q_hat_e6")))


QUERIES["eval_conformal_coverage"] = q_eval_conformal_coverage

ORACLE["eval_conformal_coverage"] = f"""
    WITH base AS MATERIALIZED (
        SELECT doc_id, lang, n_chars::BIGINT AS x,
               len(string_split(text, ' '))::BIGINT AS y,
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                % {CONF_SPLITS}) AS sp
        FROM documents),
    mom AS MATERIALIZED (
        SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
               SUM(y)::BIGINT AS sy,
               SUM(x::HUGEINT * x)::HUGEINT AS sxx,
               SUM(x::HUGEINT * y)::HUGEINT AS sxy
        FROM base WHERE sp IN (0, 1)),
    coef AS MATERIALIZED (
        SELECT b, (sy::DOUBLE - b * sx::DOUBLE) / n::DOUBLE AS a
        FROM (SELECT ((n::HUGEINT * sxy - sx::HUGEINT * sy)::DOUBLE
                      / (n::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE)
                         AS b,
                     n, sx, sy
              FROM mom)),
    cal AS MATERIALIZED (
        SELECT doc_id, abs(y::DOUBLE - (a + b * x::DOUBLE)) AS s
        FROM base, coef WHERE sp = 2),
    qh AS MATERIALIZED (
        SELECT s AS qhat
        FROM (SELECT s, ROW_NUMBER() OVER (ORDER BY s, doc_id) AS rk
              FROM cal),
             (SELECT ({CONF_ALPHA_N - 1} * (COUNT(*) + 1)
                      + {CONF_ALPHA_N - 1}) // {CONF_ALPHA_N} AS k
              FROM cal)
        WHERE rk = k),
    t AS (SELECT lang, abs(y::DOUBLE - (a + b * x::DOUBLE)) AS s, qhat
          FROM base, coef, qh WHERE sp = 3)
    SELECT lang, COUNT(*)::BIGINT AS n_test,
           SUM(CASE WHEN s <= qhat THEN 1 ELSE 0 END)::BIGINT
               AS n_covered,
           (SUM(CASE WHEN s <= qhat THEN 1 ELSE 0 END) * 1000)
               // COUNT(*) AS coverage_permille,
           CAST(FLOOR(qhat * 1000000.0 + 0.5) AS BIGINT) AS q_hat_e6
    FROM t GROUP BY lang, qhat
"""


# ------------------------------------------------ PSI feature drift

PSI_BUCKETS = 10           # equi-width deciles from the reference window
PSI_ALERT_E9 = 200_000_000  # the standard 0.2 "significant shift" bar


def q_feat_psi_drift(spark, sf_dir):
    """Population Stability Index drift report over the event stream's
    ``value`` feature, per event_type — the standard production
    monitor for "has this feature's distribution moved since the
    model/pipeline was calibrated".

    Protocol: reference = the first half of the event-time range,
    current = the second half (midpoint on exact epoch-micros integer
    arithmetic).  Buckets = {PSI_BUCKETS} equi-width bins of the
    REFERENCE cents range per type (current-window outliers clamp
    into the edge bins — integer DIV, and the clamp absorbs the
    DIV-vs-floor negative-operand divergence).  Counts are add-1
    smoothed (all bins present via an exploded 0..9 spine), and
    PSI = sum_b (p_b - q_b) * ln(p_b / q_b) rides the deterministic
    atanh-series ln over INTEGERS (ln(cps) + ln(tqs) - ln(cqs) -
    ln(tps) — the sum form, so no product overflow at any scale),
    quantized per-bucket to e9 BEFORE the sum (integer-sum order
    independence).

    Scale shape: two partial+final counts (per-type stats, per-bucket
    counts) + a |types| x {PSI_BUCKETS} spine; everything after the
    scans is |types|-sized.  cites crawler.go:204-233 (Transform +
    Accumulate: per-split partial tallies merged once).
    """
    from .text import _lit_spark, _ln_det

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.col("event_type").alias("et"),
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"))
    mid = (base.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
           .select((F.col("lo")
                    + F.expr("(hi - lo) DIV 2")).alias("mid")))
    tagged = (base.crossJoin(F.broadcast(mid))
              .withColumn("is_ref", F.col("us") < F.col("mid")))

    refstat = (tagged.filter("is_ref").groupBy("et")
               .agg(F.min("c").alias("lo_c"), F.max("c").alias("hi_c"),
                    F.count(F.lit(1)).alias("tp")))
    curtot = (tagged.filter(~F.col("is_ref")).groupBy("et")
              .agg(F.count(F.lit(1)).alias("tq")))

    bkt = F.least(
        F.lit(PSI_BUCKETS - 1),
        F.greatest(F.lit(0), F.expr(
            f"((c - lo_c) * {PSI_BUCKETS}) DIV (hi_c - lo_c + 1)")))
    counts = (tagged.join(F.broadcast(refstat.select("et", "lo_c", "hi_c")),
                          "et")
              .withColumn("b", bkt.cast("long"))
              .groupBy("et", "b")
              .agg(F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
                   .alias("cp"),
                   F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
                   .alias("cq")))

    return psi_finalize(refstat.join(curtot, "et", "left"), counts)


def psi_finalize(totals, counts):
    """Shared PSI finalize — totals = (et, tp[, lo_c, hi_c], tq
    nullable), counts = (et, b, cp, cq).  Used verbatim by the batch
    op and the streaming replay (stream_psi_drift_replay), so
    streamed-counts == batch-counts implies streamed-PSI ==
    batch-PSI structurally."""
    from .text import _lit_spark, _ln_det

    spine = (totals
             .select("et", "tp", F.coalesce("tq", F.lit(0)).alias("tq"),
                     F.explode(F.sequence(
                         F.lit(0), F.lit(PSI_BUCKETS - 1))).alias("b0"))
             .select("et", "tp", "tq",
                     F.col("b0").cast("long").alias("b")))
    cells = (spine.join(counts, ["et", "b"], "left")
             .select("et", "tp", "tq",
                     (F.coalesce("cp", F.lit(0)) + 1).alias("cps"),
                     (F.coalesce("cq", F.lit(0)) + 1).alias("cqs"),
                     (F.col("tp") + PSI_BUCKETS).alias("tps"),
                     (F.col("tq") + PSI_BUCKETS).alias("tqs")))
    L = _lit_spark
    contrib = (f"CAST(FLOOR((CAST(cps AS DOUBLE) / CAST(tps AS DOUBLE)"
               f" - CAST(cqs AS DOUBLE) / CAST(tqs AS DOUBLE))"
               f" * (({_ln_det('cps', L)} + {_ln_det('tqs', L)})"
               f" - ({_ln_det('cqs', L)} + {_ln_det('tps', L)}))"
               f" * {L(1e9)} + {L(0.5)}) AS BIGINT)")
    return (cells.selectExpr("et", "tp", "tq", f"{contrib} AS ce9")
            .groupBy("et")
            .agg(F.min("tp").alias("n_ref"), F.min("tq").alias("n_cur"),
                 F.sum("ce9").alias("psi_e9"))
            .select(F.col("et").alias("event_type"),
                    "n_ref", "n_cur", "psi_e9",
                    (F.col("psi_e9") >= PSI_ALERT_E9).cast("int")
                    .alias("drifted")))


QUERIES["feat_psi_drift"] = q_feat_psi_drift


def _psi_oracle() -> str:
    from .text import _lit_duck, _ln_det

    L = _lit_duck
    contrib = (f"CAST(FLOOR((CAST(cps AS DOUBLE) / CAST(tps AS DOUBLE)"
               f" - CAST(cqs AS DOUBLE) / CAST(tqs AS DOUBLE))"
               f" * (({_ln_det('cps', L)} + {_ln_det('tqs', L)})"
               f" - ({_ln_det('cqs', L)} + {_ln_det('tps', L)}))"
               f" * {L(1e9)} + {L(0.5)}) AS BIGINT)")
    return f"""
    WITH base AS MATERIALIZED (
        SELECT event_type AS et, epoch_us(ts) AS us,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        FROM events),
    mid AS MATERIALIZED (
        SELECT MIN(us) + (MAX(us) - MIN(us)) // 2 AS mid FROM base),
    tagged AS MATERIALIZED (
        SELECT et, c, (us < mid) AS is_ref FROM base, mid),
    refstat AS MATERIALIZED (
        SELECT et, MIN(c) AS lo_c, MAX(c) AS hi_c,
               COUNT(*)::BIGINT AS tp
        FROM tagged WHERE is_ref GROUP BY et),
    curtot AS MATERIALIZED (
        SELECT et, COUNT(*)::BIGINT AS tq
        FROM tagged WHERE NOT is_ref GROUP BY et),
    counts AS MATERIALIZED (
        SELECT t.et,
               LEAST({PSI_BUCKETS - 1}, GREATEST(0,
                   ((t.c - r.lo_c) * {PSI_BUCKETS})
                   // (r.hi_c - r.lo_c + 1)))::BIGINT AS b,
               SUM(CASE WHEN t.is_ref THEN 1 ELSE 0 END)::BIGINT AS cp,
               SUM(CASE WHEN t.is_ref THEN 0 ELSE 1 END)::BIGINT AS cq
        FROM tagged t JOIN refstat r ON r.et = t.et
        GROUP BY 1, 2),
    spine AS MATERIALIZED (
        SELECT r.et, r.tp, COALESCE(ct.tq, 0) AS tq, g.b::BIGINT AS b
        FROM refstat r
        LEFT JOIN curtot ct ON ct.et = r.et,
        (SELECT unnest(generate_series(0, {PSI_BUCKETS - 1})) AS b) g),
    cells AS MATERIALIZED (
        SELECT s.et, s.tp, s.tq,
               COALESCE(c.cp, 0) + 1 AS cps,
               COALESCE(c.cq, 0) + 1 AS cqs,
               s.tp + {PSI_BUCKETS} AS tps,
               s.tq + {PSI_BUCKETS} AS tqs
        FROM spine s LEFT JOIN counts c ON c.et = s.et AND c.b = s.b)
    SELECT et AS event_type, MIN(tp)::BIGINT AS n_ref,
           MIN(tq)::BIGINT AS n_cur,
           SUM({contrib})::BIGINT AS psi_e9,
           (SUM({contrib}) >= {PSI_ALERT_E9})::INT AS drifted
    FROM cells GROUP BY et
    """


ORACLE["feat_psi_drift"] = _psi_oracle()
