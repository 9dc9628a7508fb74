"""Skew- and cardinality-at-scale operators.

These queries exist to pin the engine's 100 TB mitigation patterns as
tested, oracle-checked code rather than advice in a docstring:

* **salted join** — when one join key carries a disproportionate share
  of rows (a celebrity user, a null-ish default key), the shuffle
  partition holding it straggles.  Salting splits each hot key into S
  sub-keys: the big side gets a deterministic salt in [0, S), the small
  side is replicated S times, and the join key becomes (key, salt).
  Results are identical to the plain join (the oracle proves it); the
  hot partition shrinks by S.  AQE's skew-join handles moderate skew
  automatically — explicit salting is for the pathological tail.

* **two-phase salted aggregation** — a global/low-cardinality groupBy
  key concentrates the final agg on few reducers.  Phase 1 aggregates
  (key, salt); phase 2 merges the S partials per key.  This is the
  manual form of the partial/final split Catalyst already applies to
  algebraic aggregates; it matters for non-algebraic payloads
  (collect_list, exact distinct structures) where map-side combine
  can't help.  count_distinct here: phase 1 dedups (key, salt-of-value)
  locally, phase 2 counts — the classic distinct-at-scale rewrite.

* **approximate distinct** — HyperLogLog++ sketches replace exact
  distinct when a few % error buys back a full shuffle of the distinct
  values.  No SQL oracle (sketch estimates are engine-specific);
  tests/test_extensions.py pins the error envelope against the exact
  count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.exact import dec
from ..sources.tables import load_table
from .retrieval_index import index_for

MONEY = "decimal(12,2)"
SALT = 16


def q_join_salted(spark, sf_dir):
    """events ⋈ customer with a salted key — skew-proof equi-join.

    Big side: salt = xxhash64(event_id) mod S (deterministic, uniform).
    Small side: replicated S times via explode of a literal range — the
    replication happens on the (broadcast-size) dim, never the fact
    table.  Join on (key, salt) then aggregate; output equals the
    unsalted join, which is exactly what the oracle checks.
    """
    e = (load_table(spark, sf_dir, "events")
         .withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT))))
    c = (load_table(spark, sf_dir, "customer")
         .select("c_custkey", "c_mktsegment")
         .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)]))))
    return (e.join(c, (e.user_id == c.c_custkey) & (e.salt == c.salt))
             .groupBy("c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.countDistinct("user_id").alias("n_users"),
                  F.sum(dec("value", MONEY)).cast("double").alias("sum_value")))


def q_agg_salted_twophase(spark, sf_dir):
    """Two-phase distinct count + sum over a 5-value hot key.

    Phase 1 groups on (event_type, salt-of-user): each of the S·5 cells
    dedups its own users and partial-sums value.  Phase 2 merges S
    partials per type.  n_users stays exact because the salt is a
    function of the distinct-counted column, so equal users never land
    in different cells of one key.
    """
    e = load_table(spark, sf_dir, "events")
    p1 = (e.withColumn("salt", F.pmod(F.xxhash64("user_id"), F.lit(SALT)))
           .groupBy("event_type", "salt")
           .agg(F.countDistinct("user_id").alias("pu"),
                F.count(F.lit(1)).alias("pn"),
                F.sum(dec("value", MONEY)).alias("pv")))
    return (p1.groupBy("event_type")
              .agg(F.sum("pu").alias("n_users"),
                   F.sum("pn").alias("n_events"),
                   F.sum("pv").cast("double").alias("sum_value")))


def q_approx_distinct(spark, sf_dir):
    """HLL++ approx distinct users/orders per event type (rows-only check;
    error envelope pinned in tests against the exact counts)."""
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy("event_type")
             .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
                  F.approx_count_distinct("event_id", 0.01).alias("approx_events"),
                  F.count(F.lit(1)).alias("n_rows")))


def q_hll_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup: per-type DataSketches HLL sketches of
    the user set, UNIONED into a corpus-wide sketch — the property that
    makes pre-aggregated distinct-count cubes work at 100 TB (store one
    sketch per (day, dim) cell; any rollup is a cheap sketch union, no
    re-scan).  approx_count_distinct answers one fixed query; sketch
    columns answer every future rollup.

    The per-type sketches are one partial+final agg (sketches merge
    inside the agg too); the union row re-aggregates |types| sketch
    blobs.  Rows-only for the driver (sketch estimates are
    engine-specific); tests pin each estimate against the exact
    distinct count and pin union-of-sketches == direct whole-corpus
    sketch exactly.
    """
    e = load_table(spark, sf_dir, "events")
    sk = (e.groupBy("event_type")
           .agg(F.hll_sketch_agg("user_id").alias("sk"),
                F.count(F.lit(1)).alias("n_rows")))
    per = sk.select("event_type",
                    F.hll_sketch_estimate("sk").alias("approx_users"),
                    "n_rows")
    total = (sk.agg(F.hll_union_agg("sk").alias("sku"),
                    F.sum("n_rows").alias("n_rows"))
               .select(F.lit("ALL").alias("event_type"),
                       F.hll_sketch_estimate("sku").alias("approx_users"),
                       "n_rows"))
    return per.unionByName(total)


def q_approx_quantiles(spark, sf_dir):
    """Greenwald-Khanna approximate quantiles (percentile_approx) of event
    value per event type, with exact min/max guards.

    The scale story mirrors HLL: an exact quantile needs a full sort (or
    at least a shuffle of every value); the GK sketch is a bounded-size
    mergeable summary, so partial+final aggregation applies and the
    shuffle carries sketches, not values.  accuracy=10000 bounds rank
    error at n/10000.  Rows-only check (sketch estimates are
    engine-specific); tests pin the rank-error envelope against exact
    percentile_cont.
    """
    e = load_table(spark, sf_dir, "events")
    return (e.groupBy("event_type")
             .agg(F.percentile_approx("value", [0.25, 0.5, 0.75, 0.99], 10000)
                   .alias("q_approx"),
                  F.min("value").alias("v_min"),
                  F.max("value").alias("v_max"),
                  F.count(F.lit(1)).alias("n_rows"))
             .select("event_type",
                     F.col("q_approx")[0].alias("p25"),
                     F.col("q_approx")[1].alias("p50"),
                     F.col("q_approx")[2].alias("p75"),
                     F.col("q_approx")[3].alias("p99"),
                     "v_min", "v_max", "n_rows"))


CMS_D, CMS_W = 4, 1024          # sketch depth (hash rows) x width (slots)


SKEW_P = 32     # diagnosed partition count


def q_diag_partition_skew(spark, sf_dir):
    """Shuffle-skew diagnosis report: simulate hash-partitioning the
    event log on user_id into 32 reducers (the portable md5 hash — the
    engine-independent stand-in for hashpartitioning) and report each
    reducer's load, its share, and its ratio to the fair share — the
    report an operator reads BEFORE deciding to salt (join_salted_skew)
    or to let AQE split (the straggler is visible as ratio_e6 >> 1e6).

    One partial+final agg to 32 rows; the total joins back as an
    in-plan broadcast aggregate (no driver collect).  All outputs are
    floored integer fixed-point — engine-exact.
    """
    e = load_table(spark, sf_dir, "events")
    part = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                               1, 8), 16, 10).cast("long") % SKEW_P)
    loads = (e.groupBy(part.alias("partition"))
              .agg(F.count(F.lit(1)).alias("n_rows")))
    tot = loads.agg(F.sum("n_rows").alias("total"))
    return (loads.crossJoin(F.broadcast(tot))
            .select("partition", "n_rows",
                    F.floor(F.col("n_rows") * 1e6 / F.col("total"))
                     .cast("long").alias("share_e6"),
                    F.floor(F.col("n_rows") * SKEW_P * 1e6
                            / F.col("total"))
                     .cast("long").alias("ratio_e6")))


def q_skew_salt_advisor(spark, sf_dir):
    """Skew-REMEDY advisor — closes the loop from diagnosis
    (q_diag_partition_skew) to action (q_join_salted's salt): from the
    measured per-key histogram it computes the salt factor each hot
    key needs, salt_k = clamp(ceil(cnt_k * P / N), 1, P) — exactly
    enough cells to bring every (key, salt) cell to <= the fair share
    N/P — and emits the PROJECTED post-salting reducer report (same
    shape as the diagnosis, so before/after diff directly), plus the
    global recommendation (how many keys need salting, the largest
    factor).

    The projection assumes ADDITIVE salt placement — partition =
    (hash(key) + salt_idx) mod P, the standard trick that round-robins
    a hot key's cells across consecutive reducers instead of re-rolling
    a collision-prone independent hash per cell (with P cells on a
    32-reducer celebrity key, an independent hash would birthday two
    cells onto one reducer and waste ~2x of the salt's headroom).
    Cell loads split exactly: cnt DIV salt with the remainder spread
    one-per-cell.

    Scale: one partial+final agg to the COMPACTED key histogram, a
    broadcast total, and a <= P-per-key explode of the (tiny) salted
    key set — runs ON the 100 TB table like the diagnosis does.  All
    integer fixed-point; fully oracled; pinned <= 1.5x fair share on
    the celebrity fixture in tests/test_skew.py.
    """
    e = load_table(spark, sf_dir, "events")
    keys = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    tot = keys.agg(F.sum("cnt").alias("total"))
    salt = F.least(
        F.lit(SKEW_P).cast("long"),
        F.greatest(F.lit(1).cast("long"),
                   F.expr(f"CAST((cnt * {SKEW_P} + total - 1)"
                          f" DIV total AS BIGINT)")))
    ks = keys.crossJoin(F.broadcast(tot)).withColumn("salt", salt)
    summ = ks.agg(
        F.sum((F.col("salt") > 1).cast("long")).alias("n_salted_keys"),
        F.max("salt").alias("max_salt"))
    cells = ks.select(
        "user_id", "cnt", "salt", "total",
        F.explode(F.expr("sequence(0, CAST(salt AS INT) - 1)"))
         .alias("i"))
    h32 = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                              1, 8), 16, 10).cast("long"))
    load = (F.expr("cnt DIV salt")
            + (F.col("i") < F.col("cnt") % F.col("salt")).cast("long"))
    proj = (cells
            .groupBy(((h32 + F.col("i")) % SKEW_P).alias("partition"))
            .agg(F.sum(load).alias("n_rows")))
    return (proj.crossJoin(F.broadcast(tot))
                .crossJoin(F.broadcast(summ))
                .select("partition", "n_rows",
                        F.floor(F.col("n_rows") * 1e6 / F.col("total"))
                         .cast("long").alias("share_e6"),
                        F.floor(F.col("n_rows") * SKEW_P * 1e6
                                / F.col("total"))
                         .cast("long").alias("ratio_e6"),
                        "n_salted_keys", "max_salt"))


BLOOM_J_BITS = 1 << 20      # bitmap bits (m); 32 KB of long words
BLOOM_J_K = 4               # probes per key (4 md5 chunks, portable)


def q_join_bloom_prefilter(spark, sf_dir):
    """Bloom-prefiltered semi-join: lineitem rows are pruned against a
    FIXED-SIZE bloom filter of the urgent-order keys BEFORE the exact
    semi-join, then the survivors are re-checked exactly — the
    runtime-filter pattern (Spark's InjectRuntimeFilter, Trino's
    dynamic filtering) as an explicit, engine-portable operator.

    Why it matters at 100 TB: when the dim side is too big to
    broadcast as a hash relation, the JOIN must shuffle BOTH sides —
    but a bloom of the dim keys is m/32 = 32k words (~256 KB) NO
    MATTER how many keys it summarizes, so it always broadcasts, and
    the fact scan drops non-matching rows before they reach any
    exchange.  False positives only cost wasted recheck work; the
    exact join restores precision, so the OUTPUT is independent of the
    bloom (the oracle is the plain semi-join + agg, no bloom mirror
    needed).

    Build: one partial+final bit_or agg over the dim keys' probe
    positions (k = 4 seeded xxhash64 probes — native JVM hashing; the
    md5-chunk recipe text_contamination_bloom uses for oracle
    portability costs ~4 string conv()s per fact row, and THIS bloom
    never needs an oracle mirror because the rechecked output is
    bloom-independent), packed 32 bits/word and delivered as ONE
    broadcast dense-array row.  Probe: fully ROW-LOCAL — the fact side
    never explodes and never shuffles to test membership (probing via
    a slot JOIN would re-shuffle the fact table and defeat the point);
    the bloom prune is pinned BELOW the fact-side exchange in
    tests/test_plans.py.
    """
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT"))
    li = load_table(spark, sf_dir, "lineitem")
    m, k = BLOOM_J_BITS, BLOOM_J_K

    # Native seeded xxhash64 probes: the md5-chunk recipe costs ~4
    # string conv()s per fact row (measured 10x the whole query); this
    # bloom never needs an oracle mirror (the rechecked output is
    # bloom-independent), so portability buys nothing here.
    def probes(col):
        return F.array(*[
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m))
            for i in range(k)])

    # 32 bits per word (the portable packing — DuckDB raises on
    # 1::BIGINT << 63, and parity with text_contamination_bloom).
    # DENSE array bitmap, not a map: Spark's map element_at is a
    # LINEAR scan over the entries (32k comparisons per probe — probed
    # 4x per fact row it turned the O(1) filter into the hot loop);
    # array element_at indexes in O(1).  The dense grid is built by a
    # left join of the 32k-slot range against the sparse bit_or words
    # — build-side-only work, fixed size at any dim cardinality.
    slots = (o.select(F.explode(probes(F.col("o_orderkey"))).alias("pos"))
              .select(F.shiftright(F.col("pos"), 5).alias("slot"),
                      F.expr("shiftleft(1L, cast(pos % 32 as int))")
                       .alias("b"))
              .groupBy("slot").agg(F.bit_or("b").alias("word")))
    bloom = (spark.range(m // 32)
             .select(F.col("id").alias("slot"))
             .join(slots, "slot", "left")
             .select("slot", F.coalesce("word", F.lit(0)).alias("word"))
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("slot", "word"))),
                 lambda p: p["word"]).alias("bw")))
    hit = " AND ".join(
        f"(element_at(bw, cast(shiftright(element_at(_pp, {i + 1}), 5)"
        f" AS INT) + 1) & shiftleft(1L,"
        f" cast(element_at(_pp, {i + 1}) % 32 as int))) != 0"
        for i in range(k))
    pre = (li.crossJoin(F.broadcast(bloom))
             .withColumn("_pp", probes(F.col("l_orderkey")))
             .filter(F.expr(hit))
             .drop("bw", "_pp"))
    # Recheck as a shuffle INNER join on the unique key (== semi join):
    # a left-semi here is pushed BELOW the bloom stage by Catalyst's
    # PushDownLeftSemiAntiJoin (its condition only needs the left
    # subtree), which would broadcast-join first and make the bloom
    # dead code; inner + shuffle_hash models the too-big-to-broadcast
    # dim the pattern exists for, and the plan pin holds the bloom
    # prune BELOW the fact exchange.
    exact = (pre.hint("shuffle_hash")
                .join(o.select("o_orderkey"),
                      pre.l_orderkey == F.col("o_orderkey"), "inner")
                .drop("o_orderkey"))
    return (exact.groupBy("l_returnflag", "l_linestatus")
                 .agg(F.count(F.lit(1)).alias("n_rows"),
                      F.sum(dec("l_quantity")).cast("double")
                       .alias("sum_qty"),
                      F.sum(dec("l_extendedprice")
                            * (F.lit(1).cast(MONEY) - dec("l_discount")))
                       .cast("double").alias("revenue")))


QSK_SUB = 16        # sub-buckets per octave -> relative error <= 1/16
QSK_PCTS = (50, 90, 99)

# HDR-histogram bin index of a positive BIGINT c, pure integer ops
# shared verbatim by both engines: octave e = floor(log2 c) via
# length(bin(c))-1 (the _ln_det exponent trick), then 16 linear
# sub-buckets inside the octave.  c <= 0 collapses to bin 0.
_QSK_BIN = ("CASE WHEN c <= 0 THEN 0 ELSE"
            " (length(bin(c)) - 1) * 16"
            " + CAST(((c - (CAST(1 AS BIGINT) << (length(bin(c)) - 1)))"
            " * 16) {div} (CAST(1 AS BIGINT) << (length(bin(c)) - 1))"
            " AS INT) + 1 END")

# lower bound (cents) of bin b — the deterministic representative the
# percentile extraction reports.
_QSK_LOWER = ("CASE WHEN b = 0 THEN CAST(0 AS BIGINT) ELSE"
              " (CAST(1 AS BIGINT) << ((b - 1) {div} 16))"
              " + (CAST((b - 1) % 16 AS BIGINT)"
              " * (CAST(1 AS BIGINT) << ((b - 1) {div} 16))) {div} 16"
              " END")


def q_quantile_sketch_rollup(spark, sf_dir):
    """Mergeable QUANTILE-sketch rollup — the percentile sibling of
    hll_sketch_union_rollup, and the reference's Accumulate/Combine
    monoid contract (internal/filecrawler/crawler.go:31, 41-43) applied
    to the one aggregate family that previously had no mergeable form:
    at 100 TB you pre-aggregate a bounded sketch per (dim, day) cell
    and MERGE sketches for any rollup — you never re-rank raw values.

    The sketch is a fixed-size HDR-style log2 histogram (one octave per
    power of two, 16 linear sub-buckets each, ~700 possible bins over
    the BIGINT cents domain): per (event_type, day) the partial sketch
    is the sparse (bin -> count) map, the merge is bin-wise count
    addition (associative + commutative — the monoid), and percentiles
    read off the merged cumulative histogram with relative value error
    <= 1/16.  Unlike KLL/t-digest this sketch is DETERMINISTIC and
    integer-exact, so the whole operator carries a full DuckDB value
    oracle (hll/GK are rows-only) — and the union identity
    merge(daily sketches) == sketch(whole table) holds EXACTLY, pinned
    in tests/test_extensions.py.

    Plan shape: one partial+final agg to the daily-sketch relation, a
    second agg for the merge (|types| x ~700 bins), a window over that
    tiny relation for the CDF, and a broadcast percentile probe —
    events shuffle once, on the sketch cell key.
    """
    from ..functions.exact import ts_day
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W
    cents = (dec("value", MONEY) * 100).cast("long")
    base = e.select("event_type", ts_day().alias("day"), cents.alias("c"))
    daily = (base.selectExpr("event_type", "day",
                             _QSK_BIN.format(div="DIV") + " AS b")
                 .groupBy("event_type", "day", "b")
                 .agg(F.count(F.lit(1)).alias("cnt")))
    merged = (daily.groupBy("event_type", "b")
                   .agg(F.sum("cnt").alias("cnt")))
    tot = merged.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    w = (W.partitionBy("event_type").orderBy("b")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = merged.withColumn("cum", F.sum("cnt").over(w))
    p_df = spark.createDataFrame([(p,) for p in QSK_PCTS], "pct int")
    return (cum.join(F.broadcast(tot), "event_type")
               .crossJoin(F.broadcast(p_df))
               .filter(F.col("cum")
                       >= F.expr("CAST(CEIL(n * pct / 100.0) AS BIGINT)"))
               .groupBy("event_type", "pct")
               .agg(F.min("n").alias("n_rows"),
                    F.min(F.expr(_QSK_LOWER.format(div="DIV")))
                     .alias("approx_cents")))


def q_heavy_hitters_cms(spark, sf_dir):
    """Count-Min-Sketch heavy hitters over document words — the
    fixed-size-summary path for frequency estimation (Cormode &
    Muthukrishnan, J. Algorithms 2005), mirroring
    text_contamination_bloom's design: the sketch is AT MOST
    D x W = 4,096 (row, slot) count cells REGARDLESS of corpus size,
    built by one word-count-shaped aggregation, then broadcast to
    estimate candidate frequencies map-side.

    est(word) = min over rows of cell(row, slot(row, word)) — an upper
    bound on the true count (one-sided error: collisions only inflate),
    pinned against the exact counts in tests.  Slot hashing is md5-based
    so the whole operator is deterministic and carries a FULL value
    oracle, unlike the engine-specific HLL/GK sketches.  Emits words
    whose estimate exceeds 0.1% of total tokens (the exact operator's
    threshold: every true heavy hitter is guaranteed present).
    """
    # The word counts of the bag of words (retrieval_index): the 4-row
    # hash explode runs over the VOCABULARY, not the token stream (a
    # cell's count is the sum of its words' counts — identical values,
    # so the oracle is unchanged).  At 100 TB this is the difference
    # between exploding 4x the corpus and 4x the vocab.
    bag = index_for(spark, sf_dir).bag
    wc = bag.df.select("word", F.col("cf").alias("wcnt"))
    rows = F.array(*[F.lit(i) for i in range(CMS_D)])
    slot = (F.conv(F.substring(F.md5(F.encode(
                F.concat(F.lit("r"), F.col("row").cast("string"),
                         F.lit(":"), F.col("word")), "UTF-8")), 1, 8), 16, 10)
             .cast("long") % CMS_W)
    keyed = (wc.withColumn("row", F.explode(rows))
               .withColumn("slot", slot))
    sketch = keyed.groupBy("row", "slot").agg(F.sum("wcnt").alias("cnt"))
    est = (keyed.join(F.broadcast(sketch), ["row", "slot"])
                .groupBy("word").agg(F.min("cnt").alias("est_cnt")))
    return (est.filter(F.col("est_cnt") * 1000
                       > F.lit(bag.total_words).cast("long"))
               .select("word", "est_cnt"))


ZORDER_BITS = 16
ZORDER_FILE_SHIFT = 24   # top 8 z-bits = the target "file" (2^8 clusters)


def _zkey_sql(x: str, y: str) -> str:
    """Bit-interleaved z-order key of two 16-bit dims as ONE SQL string
    — bits are disjoint, so the interleave is a plain integer sum of
    32 shifted bit extracts, identical syntax in Spark SQL and DuckDB
    (& >> are both; Spark's shiftleft(1,k) is written as literal 2^k
    so the string parses in both dialects)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({x} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({y} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton-curve) clustering key for the events table over
    the two hot filter dims (user_id, value bucket) — the multi-dim
    data-layout technique (Delta/Iceberg OPTIMIZE ZORDER BY) that makes
    parquet min/max row-group pruning effective on BOTH dims at once,
    where a single-dim sort prunes only its leading column.

    Emits per event the two 16-bit dim encodings, the interleaved
    z-key, and the target file id (top z-bits) the layout writer would
    route the row to; the locality property that justifies the layout —
    a box filter touches ~sqrt as many z-files as value-sorted files
    touch for the off-sorted dim — is pinned in
    tests/test_extensions.py::test_zorder_box_query_locality.

    Scale: the key is a row-local integer projection (zero shuffles
    here); the physical write is repartitionByRange(zkey) + sorted
    parquet — same realization contract as shard_assignment.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.selectExpr(
        "event_id",
        "CAST(user_id % 65536 AS BIGINT) AS dx",
        "CAST(CAST(FLOOR(value * 100) AS BIGINT) % 65536 AS BIGINT) AS dy")
    return base.selectExpr(
        "event_id", "dx", "dy",
        f"{_zkey_sql('dx', 'dy')} AS zkey",
        f"CAST({_zkey_sql('dx', 'dy')} >> {ZORDER_FILE_SHIFT} AS BIGINT)"
        " AS file_id")


ADV_BCAST_B = 10 * 1024 * 1024   # autoBroadcastJoinThreshold default
ADV_SKEW_E6 = 4_000_000          # hot key > 4x fair share -> salt


def _join_side_stats(df, key, canon, side):
    """One-row side summary: rows, distinct keys, hottest key, bytes.

    Two partial+final aggs (one over the COMPACTED key histogram, one
    over the raw canon bytes) — runs ON the 100 TB table.
    """
    hist = df.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("cnt"))
    ks = hist.agg(F.sum("cnt").alias(f"{side}_rows"),
                  F.count(F.lit(1)).alias(f"{side}_keys"),
                  F.max("cnt").alias(f"{side}_maxfreq"))
    bs = df.agg(F.sum(F.octet_length(canon)).alias(f"{side}_bytes"))
    return ks.crossJoin(bs)


def advise_join(probe_stats, build_stats):
    """The decision kernel over two one-row side summaries — shared by
    the query below and the fixture tests in tests/test_r08b_ops.py (celebrity key -> salt,
    oversized dim -> sort-merge)."""
    j = probe_stats.crossJoin(build_stats)
    # DECIMAL(38,0) intermediate: maxfreq * keys * 1e6 overflows BIGINT
    # on realistic 100 TB cardinalities; integer DIV keeps both engines
    # bit-identical (no double rounding at the floor boundary).
    skew = lambda s: F.expr(  # noqa: E731
        f"CAST((CAST({s}_maxfreq AS DECIMAL(38,0)) * {s}_keys * 1000000)"
        f" DIV {s}_rows AS BIGINT)")
    j = j.withColumn("probe_skew_e6", skew("probe")) \
         .withColumn("build_skew_e6", skew("build"))
    min_bytes = F.least("probe_bytes", "build_bytes")
    bcast_side = F.when(F.col("build_bytes") <= F.col("probe_bytes"),
                        F.lit("build")).otherwise(F.lit("probe"))
    strategy = (F.when(min_bytes <= ADV_BCAST_B, F.lit("broadcast"))
                .when(F.greatest("probe_skew_e6", "build_skew_e6")
                      >= ADV_SKEW_E6, F.lit("shuffle-salt"))
                .otherwise(F.lit("sort-merge")))
    shuffle_b = F.when(min_bytes <= ADV_BCAST_B, F.lit(0).cast("long")) \
        .otherwise((F.col("probe_bytes")
                    + F.col("build_bytes")).cast("long"))
    j = (j.withColumn("strategy", strategy)
          .withColumn("bcast_side",
                      F.when(min_bytes <= ADV_BCAST_B, bcast_side)
                       .otherwise(F.lit("none")))
          .withColumn("est_shuffle_bytes", shuffle_b))
    shared = ["strategy", "bcast_side", "est_shuffle_bytes"]
    row = lambda s: j.select(  # noqa: E731
        F.lit(s).alias("side"), F.col(f"{s}_rows").alias("n_rows"),
        F.col(f"{s}_keys").alias("n_distinct_keys"),
        F.col(f"{s}_maxfreq").alias("max_key_freq"),
        F.col(f"{s}_bytes").alias("est_bytes"),
        F.col(f"{s}_skew_e6").alias("skew_ratio_e6"), *shared)
    return row("probe").unionAll(row("build"))


def q_join_strategy_advisor(spark, sf_dir):
    """Join-strategy advisor — the planning twin of skew_salt_advisor:
    MEASURE both sides of a planned join (orders ⋈ customer on
    custkey) and emit, per side, the cardinality/skew/byte statistics
    plus the physical strategy a cost-based planner would pick from
    them: broadcast when the smaller side fits under the 10 MB
    autoBroadcastJoinThreshold (shuffle cost 0 — the fact table never
    moves), shuffle-salt when the hottest key exceeds 4x its fair
    share (the straggler regime AQE's skew split handles late and a
    salt plan fixes up front), sort-merge otherwise — with the
    projected shuffle bytes for the chosen plan.

    Why it matters at 100 TB: Spark's own CBO only has these numbers
    if ANALYZE ran; on a raw-parquet lake this advisor IS the ANALYZE
    pass, scoped to one join, and its outputs (strategy, bcast side,
    projected shuffle bytes) are exactly the knobs a pipeline sets
    (broadcast hint, salt factor, shuffle partitions).  Byte sizes
    are measured from the canonicalized row text (the table_checksum
    canon), not schema guesses — compressed parquet under-reports the
    in-flight shuffle width.

    Scale shape: two aggs per side (compacted key histogram + byte
    sum), a 1x1 crossJoin of one-row summaries, integer fixed-point
    throughout.  All decision arithmetic is oracled; the celebrity
    and oversized-dim regimes are pinned on fixtures in
    tests/test_r08b_ops.py.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    o_canon = F.concat_ws(
        "|", F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"), F.col("o_orderstatus"),
        F.col("o_totalprice").cast(MONEY).cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"))
    c_canon = F.concat_ws(
        "|", F.col("c_custkey").cast("string"), F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        F.col("c_acctbal").cast(MONEY).cast("string"),
        F.col("c_mktsegment"))
    return advise_join(
        _join_side_stats(o, F.col("o_custkey"), o_canon, "probe"),
        _join_side_stats(c, F.col("c_custkey"), c_canon, "build"))


SHUF_TARGET_B = 64 * 1024 * 1024    # bytes/shuffle partition to aim at
SCAN_TARGET_B = 128 * 1024 * 1024   # spark.sql.files.maxPartitionBytes


def q_shuffle_partition_advisor(spark, sf_dir):
    """Shuffle/scan SIZING advisor — the third knob next to the join
    and skew advisors: from measured in-flight row bytes (canonical
    row text, not compressed parquet footprint — a zstd parquet
    under-reports shuffle width 3-5x) emit, per table, the
    spark.sql.shuffle.partitions and files.maxPartitionBytes-style
    split counts that land each partition at the 64 MB / 128 MB
    targets.  Mis-sizing is THE silent 100 TB regression: too few
    partitions spill (one reducer > executor memory), too many drown
    the scheduler in empty tasks; this op turns the guess into a
    measured, oracled number (the sf0.1 fixture recommends 1 — the
    point is the arithmetic is pinned so the 100 TB run can trust it).

    One partial+final byte/count agg per table; integer ceil-division
    throughout.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li_canon = F.concat_ws(
        "|", F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast(MONEY).cast("string"),
        F.col("l_extendedprice").cast(MONEY).cast("string"),
        F.col("l_discount").cast(MONEY).cast("string"),
        F.col("l_tax").cast(MONEY).cast("string"),
        F.col("l_returnflag"), F.col("l_linestatus"),
        F.date_format("l_shipdate", "yyyy-MM-dd"))
    o_canon = F.concat_ws(
        "|", F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"), F.col("o_orderstatus"),
        F.col("o_totalprice").cast(MONEY).cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"))

    def advise(df, canon, name):
        s = df.agg(F.count(F.lit(1)).alias("n_rows"),
                   F.sum(F.octet_length(canon)).alias("est_bytes"))
        return s.select(
            F.lit(name).alias("tbl"), "n_rows", "est_bytes",
            F.expr("CAST(est_bytes DIV n_rows AS BIGINT)")
             .alias("avg_row_bytes"),
            F.expr(f"CAST((est_bytes + {SHUF_TARGET_B} - 1)"
                   f" DIV {SHUF_TARGET_B} AS BIGINT)")
             .alias("rec_shuffle_partitions"),
            F.expr(f"CAST((est_bytes + {SCAN_TARGET_B} - 1)"
                   f" DIV {SCAN_TARGET_B} AS BIGINT)")
             .alias("rec_scan_splits"))

    return advise(li, li_canon, "lineitem") \
        .unionAll(advise(o, o_canon, "orders"))


BLOOM_ADV_FPP_PPM = (10_000, 1_000, 100)   # 1%, 0.1%, 0.01% targets


def _bloom_plan(p_ppm: int):
    """(bits-per-key coefficient, probe count) for a target FP rate —
    the standard optima m/n = -ln p / ln^2 2, k = -log2 p, computed
    once in Python so both engines consume the identical literal."""
    import math
    p = p_ppm / 1e6
    c = -math.log(p) / (math.log(2.0) ** 2)
    k = max(1, round(-math.log(p) / math.log(2.0)))
    return c, k


def q_bloom_filter_advisor(spark, sf_dir):
    """Bloom SIZING advisor — the fourth advisor next to join/skew/
    shuffle sizing: from the MEASURED distinct key count of the
    runtime-filter build side (the urgent-orders dim that
    join_bloom_prefilter and the decontamination blooms summarize),
    emit for each target false-positive rate the optimal bit count
    m = ceil(n * (-ln p / ln² 2)), probe count k = -log₂ p, the
    megabyte footprint, and whether the filter still broadcasts under
    the 10 MB threshold — the numbers that decide between a bloom
    prefilter and a full shuffle join at 100 TB (a bloom's size grows
    with KEYS, not rows, which is why it broadcasts when the dim
    can't).

    One distinct-count agg (the only corpus-sized work) + a 3-literal
    explode; the bits-per-key coefficients are Python-computed
    literals so the double arithmetic is bit-identical in both
    engines.
    """
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT"))
    n = o.agg(F.countDistinct("o_orderkey").alias("n_keys"))
    plans = F.explode(F.array(*[
        F.struct(F.lit(p).alias("target_fpp_ppm"),
                 F.lit(_bloom_plan(p)[0]).alias("c"),
                 F.lit(_bloom_plan(p)[1]).cast("long").alias("k"))
        for p in BLOOM_ADV_FPP_PPM])).alias("pl")
    j = n.select("n_keys", plans)
    m_bits = F.ceil(F.col("n_keys") * F.col("pl.c")).cast("long")
    return j.select(
        F.col("pl.target_fpp_ppm").alias("target_fpp_ppm"),
        "n_keys", m_bits.alias("m_bits"), F.col("pl.k").alias("k"),
        F.expr(f"CAST(CEIL(n_keys * pl.c) AS BIGINT) DIV 8388608")
         .alias("m_mb"),
        (m_bits <= ADV_BCAST_B * 8).alias("broadcastable"))


ENC_COLS = ("lang", "source", "doc_id", "n_chars")


def q_column_encoding_advisor(spark, sf_dir):
    """Column ENCODING advisor — the fifth advisor (join / skew /
    shuffle / bloom / encoding): per documents column, measure the
    exact dictionary-vs-plain byte trade and recommend the encoding a
    columnar writer should pin (dictionary pages win when ndv is low
    relative to rows — the decision parquet writers make adaptively
    per row-group and a 100 TB table layout wants decided, and
    AUDITED, from measured whole-column stats).

    Exact integer byte model over the canonical string rendering (the
    shuffle-advisor in-flight doctrine): plain = Σ value bytes over
    ROWS; dictionary = Σ value bytes over DISTINCT values + rows x
    code width (1/2/4 bytes as ndv fits 8/16/32 bits).  Each column
    costs ONE partial+final agg over its compacted (value, cnt)
    histogram — the fact table is scanned once per column and never
    shuffled wider than the histogram.
    """
    d = load_table(spark, sf_dir, "documents")
    outs = []
    for colname in ENC_COLS:
        v = F.col(colname).cast("string")
        hist = (d.groupBy(v.alias("v"))
                .agg(F.count(F.lit(1)).alias("cnt")))
        s = hist.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("ndv"),
            F.sum(F.octet_length("v") * F.col("cnt"))
             .alias("plain_bytes"),
            F.sum(F.octet_length("v")).alias("dict_content_bytes"))
        code = (F.when(F.col("ndv") <= 256, 1)
                .when(F.col("ndv") <= 65536, 2)
                .otherwise(4)).cast("long")
        s = s.withColumn("code_bytes", code)
        dict_b = (F.col("dict_content_bytes")
                  + F.col("n_rows") * F.col("code_bytes"))
        s = s.withColumn("dict_bytes", dict_b.cast("long"))
        outs.append(s.select(
            F.lit(colname).alias("col"), "n_rows", "ndv",
            "plain_bytes", "dict_bytes", "code_bytes",
            F.when(F.col("dict_bytes") < F.col("plain_bytes"),
                   F.lit("dictionary")).otherwise(F.lit("plain"))
             .alias("encoding"),
            F.expr("CAST((CAST(plain_bytes - dict_bytes AS DECIMAL(38,0))"
                   " * 1000000) DIV plain_bytes AS BIGINT)")
             .alias("savings_ppm")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


QUERIES = {
    "column_encoding_advisor": q_column_encoding_advisor,
    "bloom_filter_advisor": q_bloom_filter_advisor,
    "shuffle_partition_advisor": q_shuffle_partition_advisor,
    "join_strategy_advisor": q_join_strategy_advisor,
    "zorder_layout_key": q_zorder_layout,
    "join_salted_skew": q_join_salted,
    "agg_salted_twophase": q_agg_salted_twophase,
    "approx_distinct_hll": q_approx_distinct,
    "hll_sketch_union_rollup": q_hll_sketch_rollup,
    "approx_quantiles_gk": q_approx_quantiles,
    "quantile_sketch_rollup": q_quantile_sketch_rollup,
    "join_bloom_prefilter": q_join_bloom_prefilter,
    "diag_partition_skew": q_diag_partition_skew,
    "skew_salt_advisor": q_skew_salt_advisor,
    "text_heavy_hitters_cms": q_heavy_hitters_cms,
}

ORACLE = {
    "zorder_layout_key": f"""
        WITH b AS (
            SELECT event_id,
                   CAST(user_id % 65536 AS BIGINT) AS dx,
                   CAST(CAST(FLOOR(value * 100) AS BIGINT) % 65536 AS BIGINT) AS dy
            FROM events)
        SELECT event_id, dx, dy,
               {_zkey_sql('dx', 'dy')} AS zkey,
               CAST({_zkey_sql('dx', 'dy')} >> {ZORDER_FILE_SHIFT} AS BIGINT)
                   AS file_id
        FROM b
    """,
    "text_heavy_hitters_cms": f"""
        WITH inst AS (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        keyed AS (
            SELECT word, row,
                   ('0x' || substr(md5('r' || row || ':' || word), 1, 8))
                       ::BIGINT % {CMS_W} AS slot
            FROM inst, unnest([0, 1, 2, 3]) AS t(row)),
        sketch AS (
            SELECT row, slot, COUNT(*) AS cnt
            FROM keyed GROUP BY 1, 2),
        total AS (SELECT COUNT(*) AS total FROM inst),
        cand AS (
            SELECT DISTINCT word, row,
                   ('0x' || substr(md5('r' || row || ':' || word), 1, 8))
                       ::BIGINT % {CMS_W} AS slot
            FROM (SELECT DISTINCT word FROM inst),
                 unnest([0, 1, 2, 3]) AS t(row)),
        est AS (
            SELECT word, MIN(cnt) AS est_cnt
            FROM cand JOIN sketch USING (row, slot)
            GROUP BY word)
        SELECT word, est_cnt FROM est, total
        WHERE est_cnt * 1000 > total
    """,
    # Both salted queries must equal their UNSALTED formulations — the
    # oracle is the plain query, proving salting is a pure physical
    # rewrite.
    "join_salted_skew": """
        SELECT c_mktsegment,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               SUM(CAST(value AS DECIMAL(12,2)))::DOUBLE AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    "agg_salted_twophase": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events,
               SUM(CAST(value AS DECIMAL(12,2)))::DOUBLE AS sum_value
        FROM events GROUP BY event_type
    """,
}

_ENC_ROW = """
    SELECT '{c}' AS col, SUM(cnt)::BIGINT AS n_rows,
           COUNT(*)::BIGINT AS ndv,
           SUM(strlen(v) * cnt)::BIGINT AS plain_bytes,
           (SUM(strlen(v))
            + SUM(cnt) * (CASE WHEN COUNT(*) <= 256 THEN 1
                               WHEN COUNT(*) <= 65536 THEN 2
                               ELSE 4 END))::BIGINT AS dict_bytes,
           (CASE WHEN COUNT(*) <= 256 THEN 1
                 WHEN COUNT(*) <= 65536 THEN 2
                 ELSE 4 END)::BIGINT AS code_bytes
    FROM (SELECT CAST({c} AS VARCHAR) AS v, COUNT(*)::BIGINT AS cnt
          FROM documents GROUP BY 1)
"""

ORACLE["column_encoding_advisor"] = """
    WITH s AS (""" + " UNION ALL ".join(
    _ENC_ROW.format(c=c) for c in ENC_COLS) + """)
    SELECT col, n_rows, ndv, plain_bytes, dict_bytes, code_bytes,
           CASE WHEN dict_bytes < plain_bytes
                THEN 'dictionary' ELSE 'plain' END AS encoding,
           (((plain_bytes - dict_bytes)::HUGEINT * 1000000)
            // plain_bytes)::BIGINT AS savings_ppm
    FROM s
"""

_BLOOM_ROWS = " UNION ALL ".join(
    f"SELECT {p} AS target_fpp_ppm, {_bloom_plan(p)[0]!r} AS c,"
    f" {_bloom_plan(p)[1]} AS k"
    for p in BLOOM_ADV_FPP_PPM)

ORACLE["bloom_filter_advisor"] = f"""
    WITH n AS (SELECT COUNT(DISTINCT o_orderkey)::BIGINT AS n_keys
               FROM orders WHERE o_orderpriority = '1-URGENT'),
    p AS ({_BLOOM_ROWS})
    SELECT p.target_fpp_ppm, n.n_keys,
           CEIL(n.n_keys * p.c)::BIGINT AS m_bits,
           p.k::BIGINT AS k,
           (CEIL(n.n_keys * p.c)::BIGINT // 8388608)::BIGINT AS m_mb,
           (CEIL(n.n_keys * p.c)::BIGINT <= {ADV_BCAST_B}::BIGINT * 8)
               AS broadcastable
    FROM n, p
"""

ORACLE["shuffle_partition_advisor"] = f"""
    WITH lc AS (
        SELECT concat_ws('|', CAST(l_orderkey AS VARCHAR),
                   CAST(l_partkey AS VARCHAR),
                   CAST(l_suppkey AS VARCHAR),
                   CAST(l_linenumber AS VARCHAR),
                   CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR),
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                        AS VARCHAR),
                   CAST(CAST(l_discount AS DECIMAL(12,2)) AS VARCHAR),
                   CAST(CAST(l_tax AS DECIMAL(12,2)) AS VARCHAR),
                   l_returnflag, l_linestatus,
                   strftime(l_shipdate, '%Y-%m-%d')) AS canon
        FROM lineitem),
    oc AS (
        SELECT concat_ws('|', CAST(o_orderkey AS VARCHAR),
                   CAST(o_custkey AS VARCHAR), o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
                   strftime(o_orderdate, '%Y-%m-%d'),
                   o_orderpriority) AS canon
        FROM orders),
    s AS (
        SELECT 'lineitem' AS tbl, COUNT(*)::BIGINT AS n_rows,
               SUM(strlen(canon))::BIGINT AS est_bytes FROM lc
        UNION ALL
        SELECT 'orders', COUNT(*)::BIGINT,
               SUM(strlen(canon))::BIGINT FROM oc)
    SELECT tbl, n_rows, est_bytes,
           (est_bytes // n_rows)::BIGINT AS avg_row_bytes,
           ((est_bytes + {SHUF_TARGET_B} - 1) // {SHUF_TARGET_B})
               ::BIGINT AS rec_shuffle_partitions,
           ((est_bytes + {SCAN_TARGET_B} - 1) // {SCAN_TARGET_B})
               ::BIGINT AS rec_scan_splits
    FROM s
"""

ORACLE["join_strategy_advisor"] = f"""
    WITH oc AS (
        SELECT o_custkey AS k,
               concat_ws('|', CAST(o_orderkey AS VARCHAR),
                         CAST(o_custkey AS VARCHAR), o_orderstatus,
                         CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS VARCHAR),
                         strftime(o_orderdate, '%Y-%m-%d'),
                         o_orderpriority) AS canon
        FROM orders),
    cc AS (
        SELECT c_custkey AS k,
               concat_ws('|', CAST(c_custkey AS VARCHAR), c_name,
                         CAST(c_nationkey AS VARCHAR),
                         CAST(CAST(c_acctbal AS DECIMAL(12,2))
                              AS VARCHAR),
                         c_mktsegment) AS canon
        FROM customer),
    ph AS (SELECT k, COUNT(*) AS cnt FROM oc GROUP BY k),
    bh AS (SELECT k, COUNT(*) AS cnt FROM cc GROUP BY k),
    ps AS (SELECT SUM(cnt)::BIGINT AS probe_rows,
                  COUNT(*)::BIGINT AS probe_keys,
                  MAX(cnt)::BIGINT AS probe_maxfreq FROM ph),
    bs AS (SELECT SUM(cnt)::BIGINT AS build_rows,
                  COUNT(*)::BIGINT AS build_keys,
                  MAX(cnt)::BIGINT AS build_maxfreq FROM bh),
    pb AS (SELECT SUM(strlen(canon))::BIGINT AS probe_bytes FROM oc),
    bb AS (SELECT SUM(strlen(canon))::BIGINT AS build_bytes FROM cc),
    j AS (SELECT *,
            ((probe_maxfreq::HUGEINT * probe_keys * 1000000)
             // probe_rows)::BIGINT AS probe_skew_e6,
            ((build_maxfreq::HUGEINT * build_keys * 1000000)
             // build_rows)::BIGINT AS build_skew_e6
          FROM ps, bs, pb, bb),
    d AS (SELECT *,
            CASE WHEN LEAST(probe_bytes, build_bytes) <= {ADV_BCAST_B}
                 THEN 'broadcast'
                 WHEN GREATEST(probe_skew_e6, build_skew_e6)
                      >= {ADV_SKEW_E6}
                 THEN 'shuffle-salt'
                 ELSE 'sort-merge' END AS strategy,
            CASE WHEN LEAST(probe_bytes, build_bytes) <= {ADV_BCAST_B}
                 THEN (CASE WHEN build_bytes <= probe_bytes
                            THEN 'build' ELSE 'probe' END)
                 ELSE 'none' END AS bcast_side,
            (CASE WHEN LEAST(probe_bytes, build_bytes) <= {ADV_BCAST_B}
                  THEN 0
                  ELSE probe_bytes + build_bytes END)::BIGINT
                AS est_shuffle_bytes
          FROM j)
    SELECT 'probe' AS side, probe_rows AS n_rows,
           probe_keys AS n_distinct_keys, probe_maxfreq AS max_key_freq,
           probe_bytes AS est_bytes, probe_skew_e6 AS skew_ratio_e6,
           strategy, bcast_side, est_shuffle_bytes
    FROM d
    UNION ALL
    SELECT 'build', build_rows, build_keys, build_maxfreq, build_bytes,
           build_skew_e6, strategy, bcast_side, est_shuffle_bytes
    FROM d
"""

ORACLE["quantile_sketch_rollup"] = f"""
    WITH base AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS INT) AS day,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        FROM events),
    binned AS (
        SELECT event_type, day, {_QSK_BIN.format(div='//')} AS b
        FROM base),
    daily AS (SELECT event_type, day, b, COUNT(*)::BIGINT AS cnt
              FROM binned GROUP BY 1, 2, 3),
    merged AS (SELECT event_type, b, SUM(cnt)::BIGINT AS cnt
               FROM daily GROUP BY 1, 2),
    tot AS (SELECT event_type, SUM(cnt)::BIGINT AS n
            FROM merged GROUP BY 1),
    cum AS (SELECT event_type, b,
                   SUM(cnt) OVER (PARTITION BY event_type
                                  ORDER BY b)::BIGINT AS cum
            FROM merged),
    p(pct) AS (VALUES (50), (90), (99))
    SELECT c.event_type, p.pct, MIN(t.n) AS n_rows,
           MIN({_QSK_LOWER.format(div='//').replace('b =', 'c.b =').replace('(b -', '(c.b -')}) AS approx_cents
    FROM cum c JOIN tot t USING (event_type) CROSS JOIN p
    WHERE c.cum >= CAST(CEIL(t.n * p.pct / 100.0) AS BIGINT)
    GROUP BY 1, 2
"""

ORACLE["join_bloom_prefilter"] = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*)::BIGINT AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2))
                       - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '1-URGENT')
    GROUP BY 1, 2
"""

ORACLE["skew_salt_advisor"] = """
    WITH keys AS (
        SELECT user_id, COUNT(*)::BIGINT AS cnt FROM events GROUP BY 1),
    tot AS (SELECT SUM(cnt)::BIGINT AS total FROM keys),
    ks AS (
        SELECT user_id, cnt,
               LEAST(CAST(32 AS BIGINT), GREATEST(CAST(1 AS BIGINT),
                   CAST((cnt * 32 + total - 1) // total AS BIGINT)))
                   AS salt
        FROM keys CROSS JOIN tot),
    summ AS (
        SELECT SUM(CASE WHEN salt > 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_salted_keys,
               MAX(salt)::BIGINT AS max_salt
        FROM ks),
    cells AS (
        SELECT user_id, cnt, salt, i
        FROM ks, unnest(generate_series(0, CAST(salt AS INT) - 1))
                 AS u(i)),
    loads AS (
        SELECT ((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                     ::BIGINT + i) % 32) AS partition,
               SUM(cnt // salt
                   + CASE WHEN i < cnt % salt THEN 1 ELSE 0 END)
                   ::BIGINT AS n_rows
        FROM cells GROUP BY 1)
    SELECT partition, n_rows,
           CAST(FLOOR(n_rows * 1e6 / total) AS BIGINT) AS share_e6,
           CAST(FLOOR(n_rows * 32 * 1e6 / total) AS BIGINT) AS ratio_e6,
           n_salted_keys, max_salt
    FROM loads CROSS JOIN tot CROSS JOIN summ
"""

ORACLE["diag_partition_skew"] = """
    WITH loads AS (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 32 AS partition,
               COUNT(*)::BIGINT AS n_rows
        FROM events GROUP BY 1),
    tot AS (SELECT SUM(n_rows)::BIGINT AS total FROM loads)
    SELECT partition, n_rows,
           CAST(FLOOR(n_rows * 1e6 / total) AS BIGINT) AS share_e6,
           CAST(FLOOR(n_rows * 32 * 1e6 / total) AS BIGINT) AS ratio_e6
    FROM loads CROSS JOIN tot
"""
