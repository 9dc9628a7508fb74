"""Dataset-maintenance operators: snapshot reconciliation (table diff)
and incremental materialized-view refresh.

The reference engine recomputes its single global aggregate from scratch
per run (crawler.go:204-255 — the only entry point re-walks the tree);
a 100 TB corpus can't afford that, so the production pattern is (a) diff
the new snapshot against the old to find what changed, (b) fold only the
delta into the maintained aggregate state.  Both are pure DataFrame
plans here:

- table_diff is ONE full-outer join on the key with null-safe column
  compares — at scale both sides are bucketed/partitioned by the key so
  the join is co-located; the changed-row output is tiny relative to
  the inputs, and nothing is collected to the driver.
- mv_incremental_refresh is the reference's Accumulate/Combine monoid
  contract (pool.go:102-121, crawler.go:75-91) applied to GROUPED
  state: per-group (count, exact-decimal sum, max) partials merge with
  a full-outer join + coalesce — associative and commutative, so base
  state can be days old and deltas fold in any order.  Decimal sums
  make merge order irrelevant bit-for-bit (functions/exact.py).

The "new snapshot" for the diff is derived deterministically from
``orders`` inside the query (drop keys % 97, reprice keys % 101, add
keys % 103 re-keyed past the id space) so the operator needs no extra
fixture and the oracle can rebuild the identical snapshot.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.exact import dec
from ..functions.text import words
from ..sources.tables import load_table

MONEY = "decimal(12,2)"


_SESSION_TMP_REGISTERED: set[str] = set()


def _session_tmp(spark, tag: str, sf_dir: str) -> str:
    """Per-(tag, fixture, SESSION) sink scratch dir, removed at
    interpreter exit (r08 advice item 3): keying only on (tag, sf_dir)
    let two concurrent sessions race on the same path (one overwrites
    while the other reads) and leaked artifacts into /tmp.  The Spark
    application id is unique per session, and re-runs WITHIN a session
    stay idempotent (same path + overwrite mode).  Cleanup registers
    ONCE per path (r09 advice item 5 — a long bench session otherwise
    accumulates one duplicate atexit entry per call)."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_{tag}_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        + "_" + spark.sparkContext.applicationId)
    if out not in _SESSION_TMP_REGISTERED:
        _SESSION_TMP_REGISTERED.add(out)
        atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out


_DROP, _REPRICE, _ADD = 97, 101, 103
_REKEY = 10_000_000_000
_SPLIT = "1997-01-01"


def _snapshots(spark, sf_dir):
    old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    kept = (old.filter(F.col("o_orderkey") % _DROP != 0)
            .withColumn(
                "o_totalprice",
                F.when(F.col("o_orderkey") % _REPRICE == 0,
                       F.col("o_totalprice") + F.lit(1.0))
                .otherwise(F.col("o_totalprice"))))
    added = (old.filter(F.col("o_orderkey") % _ADD == 0)
             .select((F.col("o_orderkey") + F.lit(_REKEY)).alias("o_orderkey"),
                     "o_totalprice", F.lit("A").alias("o_orderstatus")))
    return old, kept.unionAll(added)


def q_table_diff(spark, sf_dir):
    """Row-level snapshot reconciliation: classify every key as added /
    removed / changed between two order snapshots (unchanged rows are
    filtered out — the whole point is that the diff is small).  The
    +1.0 reprice is exact IEEE double addition, so old/new prices carry
    full value parity with the oracle."""
    old, new = _snapshots(spark, sf_dir)
    o = old.select(F.col("o_orderkey").alias("k"),
                   F.col("o_totalprice").alias("old_price"),
                   F.col("o_orderstatus").alias("old_status"))
    n = new.select(F.col("o_orderkey").alias("k"),
                   F.col("o_totalprice").alias("new_price"),
                   F.col("o_orderstatus").alias("new_status"))
    j = o.join(n, "k", "full_outer")
    change = (F.when(F.col("old_price").isNull(), F.lit("added"))
              .when(F.col("new_price").isNull(), F.lit("removed"))
              .when(F.col("old_price").eqNullSafe(F.col("new_price"))
                    & F.col("old_status").eqNullSafe(F.col("new_status")),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return (j.select(F.col("k").alias("o_orderkey"),
                     change.alias("change_type"),
                     "old_price", "new_price", "old_status", "new_status")
            .filter(F.col("change_type") != "unchanged"))


def q_mv_incremental_refresh(spark, sf_dir):
    """Merge a maintained per-customer aggregate (orders before
    1997-01-01) with the delta (orders on/after): count, exact-decimal
    revenue sum, and latest order day ('yyyy-MM-dd' string — max is
    lexicographic == chronological) per customer.
    The merged state is bit-identical to a from-scratch aggregate —
    pinned by a test — because every component is a commutative monoid.
    """
    orders = load_table(spark, sf_dir, "orders")
    split = F.lit(_SPLIT).cast("timestamp")

    def state(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
            F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("m"))

    base = state(orders.filter(F.col("o_orderdate") < split))
    delta = state(orders.filter(F.col("o_orderdate") >= split))
    b = base.select(F.col("o_custkey").alias("k"),
                    F.col("n").alias("n1"), F.col("s").alias("s1"),
                    F.col("m").alias("m1"))
    d = delta.select(F.col("o_custkey").alias("k"),
                     F.col("n").alias("n2"), F.col("s").alias("s2"),
                     F.col("m").alias("m2"))
    z = F.lit(0).cast("decimal(18,2)")
    return (b.join(d, "k", "full_outer")
            .select(F.col("k").alias("o_custkey"),
                    (F.coalesce("n1", F.lit(0))
                     + F.coalesce("n2", F.lit(0))).alias("n_orders"),
                    (F.coalesce("s1", z) + F.coalesce("s2", z))
                    .cast("double").alias("sum_total"),
                    F.greatest(F.coalesce("m1", "m2"),
                               F.coalesce("m2", "m1")).alias("last_day")))


def q_sink_roundtrip(spark, sf_dir):
    """Sinks as a checked operator: aggregate orders per priority class,
    write through the engine's partitioned parquet sink
    (sources/sinks.py — hive-layout ``partition_by`` so later reads
    prune from the path, bounded file count), read the directory back,
    and return the re-read relation.  The oracle never sees the sink, so
    a green row proves write->read is lossless for decimal sums, longs,
    and the partition column's string round-trip (the reference returns
    a scalar and has no sink at all, crawler.go:253).

    Idempotent by construction: the target is a deterministic
    per-(SF, session) temp dir and the write mode is overwrite, so
    driver re-runs land the same bytes; concurrent sessions never share
    a path (_session_tmp).
    """
    from ..sources.sinks import write_parquet

    out = _session_tmp(spark, "sink", sf_dir)
    agg = (load_table(spark, sf_dir, "orders")
           .groupBy("o_orderpriority")
           .agg(F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .alias("s")))
    write_parquet(agg, out, partition_by=["o_orderpriority"], n_files=4)
    return (spark.read.parquet(out)
            .select("o_orderpriority", "n_orders",
                    F.col("s").cast("double").alias("sum_price")))


COMPACT_SMALL_FILES = 64      # the pathological ingest state
COMPACT_TARGET_FILES = 4      # bounded output file count


def q_sink_compact(spark, sf_dir):
    """Small-files compaction as a checked operator: land documents as
    64 tiny parquet files (the state a micro-batching ingest leaves
    behind — the #1 operational problem of long-running table sinks),
    compact to a bounded file count, and return the per-source
    aggregate computed from the COMPACTED directory.  The oracle
    computes the same aggregate from the original table, so a green row
    proves compaction is lossless; the file-count contract (64 -> 4) is
    asserted in tests.

    At 100 TB the target count comes from bytes/128 MB (AQE coalescing
    or maxRecordsPerFile), not a constant — the repartition here stands
    in for that sizing policy; the read->shuffle->write shape is the
    real one (one wide stage, no driver materialization).  Idempotent:
    deterministic per-SF temp dirs + overwrite mode.
    """
    import os

    base = _session_tmp(spark, "compact", sf_dir)
    small = os.path.join(base, "small")
    compacted = os.path.join(base, "compacted")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    d.repartition(COMPACT_SMALL_FILES).write.mode("overwrite").parquet(small)
    (spark.read.parquet(small)
          .repartition(COMPACT_TARGET_FILES)
          .write.mode("overwrite").parquet(compacted))
    return (spark.read.parquet(compacted)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc")))


# Insert-key shift past the whole TPC-H orderkey domain: max o_orderkey
# is 6M*sf (60M at sf10), so a 1e12 offset cannot collide with a real
# key at any SF this engine targets (ADVICE r04; non-collision asserted
# in tests/test_maintenance_ops.py).
CDC_INS_OFFSET = 1_000_000_000_000


def q_cdc_merge_apply(spark, sf_dir):
    """MERGE INTO semantics: apply a CDC changelog (insert / update /
    delete ops with a sequence number) to a base table, last-writer-
    wins per key — the lakehouse upsert primitive behind SCD1 sinks
    and Debezium-style ingestion.

    The changelog is derived deterministically from orders (keys %7
    delete, %5 update price+10 at seq 1, %15 update again at seq 2,
    %11 insert under a shifted key) so both engines rebuild it
    identically, and it deliberately contains multi-op keys and
    same-seq conflicts.  The winner per key is ONE partial+final
    max(struct(seq, op, ...)) aggregate — (seq, op) is a total order
    within every key by construction, so no window sorts the changelog
    and a hot key costs one aggregation cell.  The merge itself is a
    single full-outer join on the key; at scale both sides bucket by
    the key and the join is co-located.  The oracle uses the opposite
    construction (ROW_NUMBER over seq DESC, op DESC) — two independent
    formulations of last-writer-wins must agree.
    """
    win = (cdc_changelog(spark, sf_dir)
           .groupBy("k")
           .agg(F.max(F.struct("seq", "op", "price", "status"))
                 .alias("w"))
           .select("k", "w.op", "w.price", "w.status"))
    return cdc_apply_winners(spark, sf_dir, win)


def cdc_changelog(spark, sf_dir):
    """The deterministic CDC changelog relation (k, seq, op, price,
    status) — shared by the batch MERGE and its streaming replay
    twin (q_cdc_merge_apply's derivation, verbatim)."""
    o = (load_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    k = F.col("o_orderkey")

    def op(df, key, seq, opc, price, status):
        return df.select(key.alias("k"), F.lit(seq).alias("seq"),
                         F.lit(opc).alias("op"), price.alias("price"),
                         status.alias("status"))

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    return (op(o.filter(k % 7 == 0), k, 1, "D", null_d, null_s)
            .union(op(o.filter(k % 5 == 0), k, 1, "U",
                      F.col("o_totalprice") + 10.0,
                      F.col("o_orderstatus")))
            .union(op(o.filter(k % 15 == 0), k, 2, "U",
                      F.col("o_totalprice") + 20.0, F.lit("X")))
            .union(op(o.filter(k % 11 == 0), k + CDC_INS_OFFSET, 1, "I",
                      F.col("o_totalprice"), F.lit("N"))))


def cdc_apply_winners(spark, sf_dir, win):
    """Merge a per-key winner relation (k, op, price, status) into the
    base orders table — the batch MERGE's final join + delete filter,
    shared with the streaming replay twin."""
    o = (load_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    base = o.select(F.col("o_orderkey").alias("k"),
                    F.col("o_totalprice").alias("b_price"),
                    F.col("o_orderstatus").alias("b_status"))
    j = base.join(win, "k", "full_outer")
    return (j.filter((F.col("op").isNull()) | (F.col("op") != "D"))
             .select(F.col("k").alias("o_orderkey"),
                     F.coalesce("price", "b_price").alias("price"),
                     F.coalesce("status", "b_status").alias("status"),
                     F.when(F.col("op").isNull(), "base")
                      .otherwise("cdc").alias("src")))


def q_sink_roundtrip_jsonl(spark, sf_dir):
    """JSONL round-trip as a checked operator: write documents through
    the engine's JSON-lines sink (THE interchange format of LLM data
    pipelines), read the directory back with an explicit schema, and
    return per-source aggregates INCLUDING an md5-derived text
    checksum — so a green row proves the escape/unescape cycle
    (newlines, quotes, unicode) is byte-exact, not just that row
    counts survive.  The oracle reads the ORIGINAL parquet, so any
    corruption in the JSON cycle breaks the hash.

    Idempotent (deterministic temp dir + overwrite); file count
    bounded by the writer's repartition — the 100 TB JSONL sink is
    shards of ~256 MB plus a manifest, same shape.
    """
    from ..sources.sinks import write_json

    out = _session_tmp(spark, "jsonl", sf_dir)
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", "text", "source", "n_chars"))
    write_json(d.repartition(4), out)
    back = spark.read.schema(
        "doc_id long, text string, source string, n_chars long").json(out)
    chk = "CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)"
    return (back.selectExpr("source", "n_chars", f"{chk} AS chk")
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"),
                     F.sum("chk").alias("text_checksum")))


def q_sink_partitioned_pruning(spark, sf_dir):
    """Hive-partitioned lake layout as a checked operator: write
    documents PARTITIONED BY lang (the 100 TB layout decision — the
    column every downstream curation query filters on becomes the
    directory key), then read back with a lang predicate and return
    per-source aggregates incl. the md5 text checksum.  A green row
    proves the partition cycle is byte-exact AND that the partition
    column round-trips out of the directory name (it is no longer in
    the data files).  The pruning itself — the read plan touching
    ONLY the matching lang directories (PartitionFilters, no data
    filter residue) — is pinned in tests/test_r10_ops.py; at 100 TB
    that is the difference between scanning one language and scanning
    the lake.

    Idempotent (deterministic temp dir + overwrite); file count =
    |langs| x repartition(2) — the same bounded-writer contract as
    the other sinks.
    """
    out = _session_tmp(spark, "partlang", sf_dir)
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", "text", "source", "n_chars", "lang"))
    (d.repartition(2).write.mode("overwrite")
      .partitionBy("lang").parquet(out))
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    chk = "CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)"
    return (back.selectExpr("source", "n_chars", f"{chk} AS chk")
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"),
                     F.sum("chk").alias("text_checksum")))


def q_table_checksum(spark, sf_dir):
    """Order-independent table fingerprint: per-row md5 over the
    canonicalized row text, summed as exact integers — equal bytes <=>
    equal checksum regardless of row order, partitioning, or engine.
    The O(1)-output primitive behind replication checks and
    table_diff's cheap pre-filter ("checksums equal -> skip the diff
    join entirely").

    One scan, one partial+final agg, no shuffle of anything wider than
    the accumulator.  The row canon is pipe-joined column text with
    prices fixed to 2 decimals (format_number-free: cast to
    DECIMAL(12,2) then string, identical in both engines); two
    independent 8-hex-digit lanes of the md5 are summed so a
    collision would have to cancel in both lanes at once.
    """
    o = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|", F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"), F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"))
    h = o.select(F.md5(F.encode(canon, "UTF-8")).alias("h"))
    lane = lambda pos: F.conv(F.substring("h", pos, 8), 16, 10) \
        .cast("long")  # noqa: E731
    return h.agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(lane(1)).alias("checksum_lane1"),
                 F.sum(lane(9)).alias("checksum_lane2"))


def q_mv_join_delta_refresh(spark, sf_dir):
    """Incremental maintenance of a JOIN-aggregate view: the
    per-mktsegment (order count, exact revenue) view over
    orders x customer, refreshed under a fact-side CDC batch by the
    delta-join algebra  V' = V (+) agg(delta(O) |x| C)  — the view
    over the changed table is NEVER recomputed from scratch, which is
    the property that makes dashboard views affordable at 100 TB
    (mv_incremental_refresh maintains GROUPED state; this maintains
    state whose grouping key lives on the OTHER side of a join).

    The CDC batch derives deterministically from orders (keys %7
    delete; %5-and-not-%7 reprice +10; %11 insert under a shifted key
    — the cdc_merge_apply convention) and carries SIGNED contributions
    (delete: (-1, -price); update: (0, +10); insert: (+1, +price)), so
    folding is a pure monoid: the delta aggregates against the
    broadcast dim to |segments| rows and merges into the view with one
    full-outer join + coalesce.  Counts and revenue stay exact DECIMAL
    throughout; groups whose count reaches 0 drop out.

    The oracle is the strongest possible check: a DIRECT recompute of
    the view over the post-merge table — the incremental algebra must
    equal the full rebuild.
    """
    o = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_mktsegment")
    k = F.col("o_orderkey")
    price = dec("o_totalprice", MONEY)
    z = F.lit(0).cast(MONEY)

    v = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
          .groupBy("c_mktsegment")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum(price).alias("rev")))

    dels = o.filter(k % 7 == 0).select(
        "o_custkey", F.lit(-1).alias("dn"), (-price).alias("dv"))
    upds = o.filter((k % 5 == 0) & (k % 7 != 0)).select(
        "o_custkey", F.lit(0).alias("dn"),
        F.lit(10).cast(MONEY).alias("dv"))
    ins = o.filter(k % 11 == 0).select(
        "o_custkey", F.lit(1).alias("dn"), price.alias("dv"))
    dagg = (dels.union(upds).union(ins)
            .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv")))

    merged = (v.join(dagg, "c_mktsegment", "full_outer")
               .select("c_mktsegment",
                       (F.coalesce("n", F.lit(0))
                        + F.coalesce("dn", F.lit(0))).alias("n_orders"),
                       (F.coalesce(F.col("rev"), z)
                        + F.coalesce(F.col("dv"), z)).alias("rev")))
    return (merged.filter(F.col("n_orders") > 0)
                  .select("c_mktsegment", "n_orders",
                          F.col("rev").cast("double").alias("revenue")))


IDX_DELTA_MOD = 10   # doc_id % 10 == 0 plays the insert batch


def q_inverted_index_delta(spark, sf_dir):
    """Incremental INVERTED-INDEX maintenance (the IVM pattern of
    mv_join_delta_refresh applied to the retrieval index): the index
    over the base corpus (doc_id % {m} != 0) absorbs an insert batch
    (doc_id % {m} == 0) by a term-keyed full-outer MERGE of postings —
    V' = V (+) index(delta) — instead of a full rebuild.  Postings are
    per-term sorted (doc, tf) arrays; merge is array concat + sort
    (base and delta doc sets are disjoint, so merged == rebuilt
    exactly, which is precisely what the oracle checks: it indexes the
    POST-insert corpus directly).

    Terms are word 3-grams (the tfidf/spans convention — unigrams are
    degenerate on this vocabulary).  Output per term: df, tf, and an
    md5 digest of the sorted posting list, so the full index content
    is value-hashed without shipping arrays to the driver.

    Scale: each side is one (term, doc) partial+final agg + one
    term-keyed collect_list; the merge joins index-sized relations on
    the term key — delta cost is O(|delta index|), never corpus size.
    100 TB postings use positional delta encoding in a real store; the
    merge algebra is unchanged.
    """.format(m=IDX_DELTA_MOD)
    from .text import _token_ngrams

    d = load_table(spark, sf_dir, "documents")

    def index(docs):
        g = docs.select("doc_id", F.explode(
            _token_ngrams(words(), 3)).alias("t"))
        pd_ = (g.groupBy("t", "doc_id")
                .agg(F.count(F.lit(1)).alias("tf")))
        return (pd_.groupBy("t")
                   .agg(F.array_sort(F.collect_list(
                        F.struct("doc_id", "tf"))).alias("post")))
    base = index(d.filter(F.col("doc_id") % IDX_DELTA_MOD != 0))
    delta = index(d.filter(F.col("doc_id") % IDX_DELTA_MOD == 0))
    empty = F.array().cast("array<struct<doc_id:bigint,tf:bigint>>")
    merged = (base.withColumnRenamed("post", "pa")
                  .join(delta.withColumnRenamed("post", "pb"),
                        "t", "full_outer")
                  .select("t", F.array_sort(F.concat(
                      F.coalesce("pa", empty),
                      F.coalesce("pb", empty))).alias("post")))
    return merged.select(
        "t",
        F.size("post").cast("long").alias("df"),
        F.aggregate("post", F.lit(0).cast("long"),
                    lambda a, p: a + p["tf"]).alias("tf"),
        F.md5(F.encode(F.concat_ws(",", F.transform(
            "post", lambda p: F.concat_ws(
                ":", p["doc_id"].cast("string"),
                p["tf"].cast("string")))), "UTF-8")).alias("postings_md5"))


def q_index_compression_report(spark, sf_dir):
    """Postings-compression accounting for the inverted index: per
    df-band (1, 2-3, 4-7, ..., 32+ docs), the raw int64 postings
    bytes vs delta+varint bytes and the savings in ppm — the
    storage-planning readout behind "positional delta encoding in a
    real store" (inverted_index_delta_refresh's 100 TB note), computed
    exactly: varint size is an integer CASE ladder over the doc-id
    GAPS (first gap = id+1 so it is always positive), so both engines
    agree bit-for-bit.

    Scale: the per-term fold is row-local array math over the same
    term-keyed postings relation the index ops build (collect_list
    bounded by df, which the df-cap doctrine already bounds); the
    report is one |bands|-key agg.  Terms are word 3-grams (the index
    family's convention).
    """
    from .text import _token_ngrams

    d = load_table(spark, sf_dir, "documents")
    g = (d.select("doc_id", F.explode(
            _token_ngrams(words(), 3)).alias("t"))
         .distinct())
    post = g.groupBy("t").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds"))
    vb = F.expr("""
        aggregate(
            zip_with(ds, concat(array(-1L), slice(ds, 1, size(ds) - 1)),
                     (a, b) -> a - b),
            0L,
            (acc, gp) -> acc + CASE WHEN gp < 128L THEN 1L
                                    WHEN gp < 16384L THEN 2L
                                    WHEN gp < 2097152L THEN 3L
                                    WHEN gp < 268435456L THEN 4L
                                    ELSE 5L END)
    """)
    per_term = post.select(
        F.size("ds").cast("long").alias("df"),
        (F.size("ds") * 8).cast("long").alias("raw_bytes"),
        vb.alias("varint_bytes"))
    band = (F.when(F.col("df") == 1, "df=1")
            .when(F.col("df") <= 3, "df=2-3")
            .when(F.col("df") <= 7, "df=4-7")
            .when(F.col("df") <= 15, "df=8-15")
            .when(F.col("df") <= 31, "df=16-31")
            .otherwise("df>=32"))
    return (per_term.groupBy(band.alias("band"))
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum("raw_bytes").alias("raw_bytes"),
                 F.sum("varint_bytes").alias("varint_bytes"))
            .select("band", "n_terms", "raw_bytes", "varint_bytes",
                    F.expr("CAST((CAST(raw_bytes - varint_bytes AS DECIMAL(38,0))"
                           " * 1000000) DIV raw_bytes AS BIGINT)")
                     .alias("savings_ppm")))


_FORGET = 53           # forget-set predicate: c_custkey % _FORGET == 0


def q_gdpr_delete_cascade(spark, sf_dir):
    """Right-to-be-forgotten cascade: given a forget-set of customer
    keys, propagate the deletion through the foreign-key chain
    (customer -> orders -> lineitem) and emit the per-table deletion
    report — (table, n_total, n_deleted, n_retained) plus an
    order-independent checksum of the RETAINED keys, so replicas can
    verify they applied the same erasure without shipping row data
    (the table_checksum recipe on the survivor key set).

    The deterministic forget-set (c_custkey % 53 == 0, ~2% of
    customers) stands in for the external deletion-request table; the
    cascade itself never assumes the predicate — orders are matched by
    an explicit key relation and lineitem by the derived deleted-order
    keys, exactly as with an arbitrary request list.

    Scale shape: each fact table is scanned ONCE and aggregated with a
    deletion flag — no row is rewritten here (the report is the audit
    artifact; the rewrite is an anti-join write the sinks already
    cover).  The forget-key and deleted-order-key relations are
    deletion-request-sized, so both flag joins broadcast
    (F.broadcast pinned); at a 100 TB fact table that means two
    scan+partial-agg passes and zero fact-side shuffles.  Checksums
    are two independent md5 lanes summed as exact integers (collision
    must cancel in both lanes).

    Reference bar: the (result, recorded-error) contract of
    crawler.go:204-255 — the report surfaces exactly what was erased
    rather than silently mutating state.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    forget = (cust.filter(F.col("c_custkey") % _FORGET == 0)
              .select(F.col("c_custkey").alias("fk")))
    dead_orders = (orders.join(F.broadcast(forget),
                               orders.o_custkey == F.col("fk"))
                   .select(F.col("o_orderkey").alias("dk")))

    def report(df, key, flag, table):
        lane = lambda pos: F.conv(  # noqa: E731
            F.substring(F.md5(key.cast("string")), pos, 8), 16, 10) \
            .cast("long")
        keep = (~flag).cast("long")
        return df.groupBy(F.lit(table).alias("tbl")).agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(flag.cast("long")).alias("n_deleted"),
            F.sum(keep).alias("n_retained"),
            F.sum(keep * lane(1)).alias("retained_lane1"),
            F.sum(keep * lane(9)).alias("retained_lane2"))

    c_rep = report(
        cust.join(F.broadcast(forget),
                  cust.c_custkey == F.col("fk"), "left"),
        F.col("c_custkey"), F.col("fk").isNotNull(), "customer")
    o_rep = report(
        orders.join(F.broadcast(forget),
                    orders.o_custkey == F.col("fk"), "left"),
        F.col("o_orderkey"), F.col("fk").isNotNull(), "orders")
    l_rep = report(
        li.join(F.broadcast(dead_orders),
                li.l_orderkey == F.col("dk"), "left"),
        F.concat_ws("#", F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string")),
        F.col("dk").isNotNull(), "lineitem")
    return c_rep.unionAll(o_rep).unionAll(l_rep)


def _sink_roundtrip_fmt(spark, sf_dir, fmt: str):
    """Shared body of the CSV/ORC round-trips: per-lang doc aggregate ->
    write through the sink -> re-read -> return.  The oracle computes
    the aggregate directly, so a green row proves the format preserves
    longs, exact-decimal-derived doubles, and the partition column's
    text — for CSV that exercises the schema-on-read path (CSV is
    stringly; the explicit read schema restores types bit-for-bit)."""
    agg = (load_table(spark, sf_dir, "documents")
           .groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc")))
    out = _session_tmp(spark, f"sink_{fmt}", sf_dir)
    w = agg.coalesce(1).write.mode("overwrite")
    if fmt == "csv":
        w.option("header", "true").csv(out)
        return (spark.read.schema(
                    "lang string, n_docs long, sum_chars long,"
                    " min_doc long, max_doc long")
                .option("header", "true").csv(out))
    w.orc(out)
    return spark.read.orc(out)


def q_sink_schema_evolution(spark, sf_dir):
    """SCHEMA-EVOLUTION read contract (the sink family's forward-
    compatibility half): a v1 writer lands (batch, lang, n_docs); a v2
    writer adds sum_chars; a mergeSchema read over both file sets must
    surface the union schema with NULLs for the pre-evolution rows —
    the exact contract a 100 TB lake relies on when producers upgrade
    before consumers (no rewrite of historical files, schema-on-read
    fills the gap).

    The oracle computes the same union directly (v1 rows with NULL
    sum_chars), so a green row proves Spark's parquet schema merge is
    lossless for longs and the added column's null semantics.
    """
    import os

    d = load_table(spark, sf_dir, "documents")
    base = (d.groupBy("lang")
             .agg(F.count(F.lit(1)).alias("n_docs"))
             .select(F.lit(0).alias("batch"), "lang", "n_docs"))
    evolved = (d.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"))
                .select(F.lit(1).alias("batch"), "lang", "n_docs",
                        "sum_chars"))
    root = _session_tmp(spark, "schema_evo", sf_dir)
    p0, p1 = os.path.join(root, "v1"), os.path.join(root, "v2")
    base.coalesce(1).write.mode("overwrite").parquet(p0)
    evolved.coalesce(1).write.mode("overwrite").parquet(p1)
    return (spark.read.option("mergeSchema", "true").parquet(p0, p1)
            .select("batch", "lang", "n_docs", "sum_chars"))


def q_sink_roundtrip_csv(spark, sf_dir):
    """CSV sink round-trip (the interchange format every downstream
    spreadsheet/legacy consumer still demands): schema-on-read with an
    explicit schema — never inferSchema, which re-scans and can flip
    types between runs.  Lossless under the driver's value hash."""
    return _sink_roundtrip_fmt(spark, sf_dir, "csv")


def q_sink_roundtrip_orc(spark, sf_dir):
    """ORC sink round-trip — the second columnar interchange format
    (Hive-ecosystem consumers); same lossless contract as the parquet
    round-trip, proving the engine is not parquet-coupled."""
    return _sink_roundtrip_fmt(spark, sf_dir, "orc")


QUERIES = {
    "sink_roundtrip_csv": q_sink_roundtrip_csv,
    "sink_roundtrip_orc": q_sink_roundtrip_orc,
    "sink_schema_evolution": q_sink_schema_evolution,
    "inverted_index_compression_report": q_index_compression_report,
    "gdpr_delete_cascade": q_gdpr_delete_cascade,
    "inverted_index_delta_refresh": q_inverted_index_delta,
    "cdc_merge_apply": q_cdc_merge_apply,
    "sink_roundtrip_jsonl": q_sink_roundtrip_jsonl,
    "sink_partitioned_pruning": q_sink_partitioned_pruning,
    "table_checksum_orders": q_table_checksum,
    "table_diff": q_table_diff,
    "mv_incremental_refresh": q_mv_incremental_refresh,
    "mv_join_delta_refresh": q_mv_join_delta_refresh,
    "sink_roundtrip_parquet": q_sink_roundtrip,
    "sink_compact_small_files": q_sink_compact,
}

ORACLE = {
    # direct index over the POST-insert corpus: incremental == rebuild
    "inverted_index_delta_refresh": """
        WITH ws AS (SELECT doc_id, string_split(text, ' ') AS a
                    FROM documents),
        g AS (SELECT doc_id,
                     array_to_string(a[j:j+2], ' ') AS t
              FROM ws, unnest(generate_series(1, len(a) - 2)) AS u(j)
              WHERE len(a) >= 3),
        pd AS (SELECT t, doc_id, COUNT(*)::BIGINT AS tf
               FROM g GROUP BY 1, 2)
        SELECT t, COUNT(*)::BIGINT AS df, SUM(tf)::BIGINT AS tf,
               md5(string_agg(doc_id || ':' || tf, ','
                              ORDER BY doc_id)) AS postings_md5
        FROM pd GROUP BY t
    """,
    "table_diff": f"""
        WITH old AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                     FROM orders),
        new AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % {_REPRICE} = 0
                        THEN o_totalprice + CAST(1.0 AS DOUBLE)
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderstatus
            FROM old WHERE o_orderkey % {_DROP} <> 0
            UNION ALL
            SELECT o_orderkey + {_REKEY}, o_totalprice, 'A'
            FROM old WHERE o_orderkey % {_ADD} = 0),
        j AS (
            SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                   o.o_totalprice AS old_price, n.o_totalprice AS new_price,
                   o.o_orderstatus AS old_status, n.o_orderstatus AS new_status
            FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
        SELECT o_orderkey,
               CASE WHEN old_price IS NULL THEN 'added'
                    WHEN new_price IS NULL THEN 'removed'
                    ELSE 'changed' END AS change_type,
               old_price, new_price, old_status, new_status
        FROM j
        WHERE NOT (old_price IS NOT DISTINCT FROM new_price
                   AND old_status IS NOT DISTINCT FROM new_status)
    """,
    "mv_incremental_refresh": f"""
        WITH base AS (
            SELECT o_custkey, count(*) AS n,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
                   MAX(strftime(o_orderdate, '%Y-%m-%d')) AS m
            FROM orders WHERE o_orderdate < TIMESTAMP '{_SPLIT}'
            GROUP BY 1),
        delta AS (
            SELECT o_custkey, count(*) AS n,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
                   MAX(strftime(o_orderdate, '%Y-%m-%d')) AS m
            FROM orders WHERE o_orderdate >= TIMESTAMP '{_SPLIT}'
            GROUP BY 1)
        SELECT COALESCE(b.o_custkey, d.o_custkey) AS o_custkey,
               COALESCE(b.n, 0) + COALESCE(d.n, 0) AS n_orders,
               CAST(COALESCE(b.s, 0) + COALESCE(d.s, 0) AS DOUBLE)
                   AS sum_total,
               GREATEST(COALESCE(b.m, d.m), COALESCE(d.m, b.m)) AS last_day
        FROM base b FULL OUTER JOIN delta d ON b.o_custkey = d.o_custkey
    """,
    # The oracle computes the aggregate directly — matching it proves the
    # parquet write->read round-trip changed nothing.
    "sink_compact_small_files": """
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc,
               MAX(doc_id) AS max_doc
        FROM documents GROUP BY source
    """,
    "sink_roundtrip_parquet": """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM orders GROUP BY o_orderpriority
    """,
}

# INDEPENDENT construction: the engine cascades through explicit key
# relations (broadcast joins); the oracle re-derives deletion straight
# from the predicate and an IN-subquery — same report.
ORACLE["gdpr_delete_cascade"] = f"""
    WITH dead_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey % {_FORGET} = 0),
    c AS (
        SELECT 'customer' AS tbl, COUNT(*)::BIGINT AS n_total,
               SUM(CASE WHEN c_custkey % {_FORGET} = 0
                        THEN 1 ELSE 0 END)::BIGINT AS n_deleted,
               SUM(CASE WHEN c_custkey % {_FORGET} = 0
                        THEN 0 ELSE 1 END)::BIGINT AS n_retained,
               SUM(CASE WHEN c_custkey % {_FORGET} = 0 THEN 0 ELSE
                   ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                   1, 8))::BIGINT END)::BIGINT
                   AS retained_lane1,
               SUM(CASE WHEN c_custkey % {_FORGET} = 0 THEN 0 ELSE
                   ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                   9, 8))::BIGINT END)::BIGINT
                   AS retained_lane2
        FROM customer),
    o AS (
        SELECT 'orders' AS tbl, COUNT(*)::BIGINT AS n_total,
               SUM(CASE WHEN o_custkey % {_FORGET} = 0
                        THEN 1 ELSE 0 END)::BIGINT AS n_deleted,
               SUM(CASE WHEN o_custkey % {_FORGET} = 0
                        THEN 0 ELSE 1 END)::BIGINT AS n_retained,
               SUM(CASE WHEN o_custkey % {_FORGET} = 0 THEN 0 ELSE
                   ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                   1, 8))::BIGINT END)::BIGINT
                   AS retained_lane1,
               SUM(CASE WHEN o_custkey % {_FORGET} = 0 THEN 0 ELSE
                   ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                   9, 8))::BIGINT END)::BIGINT
                   AS retained_lane2
        FROM orders),
    lk AS (
        SELECT concat_ws('#', CAST(l_orderkey AS VARCHAR),
                         CAST(l_linenumber AS VARCHAR)) AS k,
               (l_orderkey IN (SELECT o_orderkey FROM dead_orders))
                   AS dead
        FROM lineitem),
    l AS (
        SELECT 'lineitem' AS tbl, COUNT(*)::BIGINT AS n_total,
               SUM(CASE WHEN dead THEN 1 ELSE 0 END)::BIGINT
                   AS n_deleted,
               SUM(CASE WHEN dead THEN 0 ELSE 1 END)::BIGINT
                   AS n_retained,
               SUM(CASE WHEN dead THEN 0 ELSE
                   ('0x' || substr(md5(k), 1, 8))::BIGINT END)::BIGINT
                   AS retained_lane1,
               SUM(CASE WHEN dead THEN 0 ELSE
                   ('0x' || substr(md5(k), 9, 8))::BIGINT END)::BIGINT
                   AS retained_lane2
        FROM lk)
    SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l
"""

ORACLE["cdc_merge_apply"] = f"""
    WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    log AS (
        SELECT o_orderkey AS k, 1 AS seq, 'D' AS op,
               CAST(NULL AS DOUBLE) AS price, CAST(NULL AS VARCHAR) AS status
        FROM o WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 1, 'U', o_totalprice + 10.0, o_orderstatus
        FROM o WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, 2, 'U', o_totalprice + 20.0, 'X'
        FROM o WHERE o_orderkey % 15 = 0
        UNION ALL
        SELECT o_orderkey + {CDC_INS_OFFSET}, 1, 'I', o_totalprice, 'N'
        FROM o WHERE o_orderkey % 11 = 0),
    win AS (
        SELECT k, op, price, status
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                           ORDER BY seq DESC, op DESC) AS rn
              FROM log)
        WHERE rn = 1),
    j AS (
        SELECT COALESCE(b.o_orderkey, w.k) AS o_orderkey,
               w.op, COALESCE(w.price, b.o_totalprice) AS price,
               COALESCE(w.status, b.o_orderstatus) AS status
        FROM o b FULL OUTER JOIN win w ON b.o_orderkey = w.k)
    SELECT o_orderkey, price, status,
           CASE WHEN op IS NULL THEN 'base' ELSE 'cdc' END AS src
    FROM j WHERE op IS NULL OR op != 'D'
"""

ORACLE["sink_roundtrip_jsonl"] = """
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           SUM(n_chars)::BIGINT AS sum_chars,
           SUM(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT
               AS text_checksum
    FROM documents GROUP BY 1
"""

ORACLE["sink_partitioned_pruning"] = """
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           SUM(n_chars)::BIGINT AS sum_chars,
           SUM(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT
               AS text_checksum
    FROM documents WHERE lang = 'en' GROUP BY 1
"""

ORACLE["table_checksum_orders"] = """
    WITH h AS (
        SELECT md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
                   CAST(o_custkey AS VARCHAR), o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
                   strftime(o_orderdate, '%Y-%m-%d'))) AS h
        FROM orders)
    SELECT COUNT(*)::BIGINT AS n_rows,
           SUM(('0x' || substr(h, 1, 8))::BIGINT)::BIGINT AS checksum_lane1,
           SUM(('0x' || substr(h, 9, 8))::BIGINT)::BIGINT AS checksum_lane2
    FROM h
"""

ORACLE["mv_join_delta_refresh"] = """
    WITH o2 AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 7 != 0
                    THEN CAST(o_totalprice AS DECIMAL(12,2))
                         + CAST(10 AS DECIMAL(12,2))
                    ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p
        FROM orders WHERE o_orderkey % 7 != 0
        UNION ALL
        SELECT o_orderkey + 1000000000000, o_custkey,
               CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders WHERE o_orderkey % 11 = 0)
    SELECT c.c_mktsegment, COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(p) AS DOUBLE) AS revenue
    FROM o2 JOIN customer c ON o2.o_custkey = c.c_custkey
    GROUP BY 1
"""

ORACLE["inverted_index_compression_report"] = """
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS a
                FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 array_to_string(a[j:j+2], ' ') AS t
          FROM ws, unnest(generate_series(1, len(a) - 2)) AS u(j)
          WHERE len(a) >= 3),
    post AS (SELECT t, list_sort(list(doc_id)) AS ds
             FROM g GROUP BY t),
    gaps AS (SELECT t, len(ds)::BIGINT AS df,
                    (len(ds) * 8)::BIGINT AS raw_bytes,
                    SUM(CASE
                        WHEN ds[i] - COALESCE(ds[i - 1], -1) < 128
                            THEN 1
                        WHEN ds[i] - COALESCE(ds[i - 1], -1) < 16384
                            THEN 2
                        WHEN ds[i] - COALESCE(ds[i - 1], -1) < 2097152
                            THEN 3
                        WHEN ds[i] - COALESCE(ds[i - 1], -1) < 268435456
                            THEN 4
                        ELSE 5 END)::BIGINT AS varint_bytes
             FROM post, unnest(generate_series(1, len(ds))) AS u(i)
             GROUP BY t, ds),
    banded AS (SELECT CASE WHEN df = 1 THEN 'df=1'
                           WHEN df <= 3 THEN 'df=2-3'
                           WHEN df <= 7 THEN 'df=4-7'
                           WHEN df <= 15 THEN 'df=8-15'
                           WHEN df <= 31 THEN 'df=16-31'
                           ELSE 'df>=32' END AS band,
                      raw_bytes, varint_bytes
               FROM gaps)
    SELECT band, COUNT(*)::BIGINT AS n_terms,
           SUM(raw_bytes)::BIGINT AS raw_bytes,
           SUM(varint_bytes)::BIGINT AS varint_bytes,
           (((SUM(raw_bytes) - SUM(varint_bytes)) * 1000000)
            // SUM(raw_bytes))::BIGINT AS savings_ppm
    FROM banded GROUP BY band
"""

_SINK_LANG_AGG = """
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           SUM(n_chars)::BIGINT AS sum_chars,
           MIN(doc_id)::BIGINT AS min_doc,
           MAX(doc_id)::BIGINT AS max_doc
    FROM documents GROUP BY lang
"""

# the oracle never sees the sink: matching proves the round-trip
ORACLE["sink_roundtrip_csv"] = _SINK_LANG_AGG
ORACLE["sink_roundtrip_orc"] = _SINK_LANG_AGG

# the v1 writer's rows surface with NULL in the evolved column — the
# mergeSchema forward-compatibility contract, computed directly
ORACLE["sink_schema_evolution"] = """
    SELECT 0 AS batch, lang, COUNT(*)::BIGINT AS n_docs,
           NULL::BIGINT AS sum_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 1 AS batch, lang, COUNT(*)::BIGINT AS n_docs,
           SUM(n_chars)::BIGINT AS sum_chars
    FROM documents GROUP BY lang
"""


# ------------------------------------------------ bucketed co-located join

BKT_N = 8              # bucket count (both sides MUST match for co-location)


def q_sink_bucketed_join(spark, sf_dir):
    """BUCKETED-LAYOUT co-located join — the 100 TB layout decision
    this engine's join section promises (SURVEY §4): orders and
    lineitem are written ONCE as external bucketed tables
    (bucketBy({BKT_N}, orderkey) + sortBy, Spark's hash-bucket layout),
    and the join back reads bucket-aligned files so the SortMergeJoin
    needs NO Exchange on either side — the shuffle is paid once at
    write time and amortized over every subsequent join.

    The returned relation is the per-priority order-revenue rollup of
    the bucketed join (value-oracled against the plain-table join —
    layout must never change results); the SCALE claim is the PLAN pin
    in tests/test_r11b_ops.py: SortMergeJoin present, zero
    `Exchange hashpartitioning(..orderkey..)` anywhere (only the final
    tiny per-priority agg may exchange), and the scans report selected
    buckets.  Table names carry the fixture hash + session-unique
    paths (_session_tmp), so re-runs within a session are idempotent
    catalog hits and concurrent sessions never collide.

    Port note: the reference has no layout surface at all
    (crawler.go:204-255 re-lists and re-reads the tree every run);
    bucketing is the Spark-native answer to its re-crawl cost.
    """
    import hashlib

    root = _session_tmp(spark, "bktjoin", sf_dir)
    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    to, tl = f"sg_bkt_orders_{sfx}", f"sg_bkt_lineitem_{sfx}"
    for name, tbl, key in ((to, "orders", "o_orderkey"),
                           (tl, "lineitem", "l_orderkey")):
        if not spark.catalog.tableExists(name):
            (load_table(spark, sf_dir, tbl).write
             .bucketBy(BKT_N, key).sortBy(key)
             .option("path", f"{root}/{name}")
             .mode("overwrite").saveAsTable(name))
    o = spark.table(to).hint("merge")
    l = spark.table(tl).hint("merge")
    j = o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(dec("l_extendedprice", MONEY)).cast("double")
                 .alias("revenue")))


QUERIES["sink_bucketed_join"] = q_sink_bucketed_join

ORACLE["sink_bucketed_join"] = """
    SELECT o_orderpriority, COUNT(*)::BIGINT AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
"""
