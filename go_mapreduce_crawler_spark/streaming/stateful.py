"""Custom stateful streaming operators (applyInPandasWithState) and
stream sinks.

``stream_running_totals`` is the engine's template for operators whose
state is NOT expressible as a built-in windowed aggregate: per-key state
lives in the state store (RocksDB/HDFS-backed on a cluster), arrives as
Arrow batches, and survives across micro-batches — the Structured
Streaming analogue of the reference's per-worker private accumulator
(reference internal/workerpool/pool.go:72), except keyed, fault-tolerant
and unbounded.

``stream_dedup`` is watermarked exactly-once-per-key delivery —
streaming's version of dedup.q_dedup_exact: state holds one entry per
key seen inside the watermark horizon, so memory is bounded by key
arrival rate x watermark, not stream length.

The eleven ``stream_*`` kernels that take ``state_dir`` and
``checkpoint`` keep their state as a TABLE carried across micro-batches
by one versioned-snapshot protocol, ``_snapshot_stream`` — the
reference's monoid fold (a neutral element plus an associative combine,
crawler.go:31, 41-43) applied once per micro-batch.  Each micro-batch:

1. lists the committed versions under ``state_dir`` (``_state_versions``
   is the first call of every micro-batch);
2. takes the newest version below its batch id as the predecessor
   (None on the first batch);
3. combines the batch partial with the predecessor — the kernel's own
   algebra — and writes the result as ``state_v<batch_id>``;
4. deletes every version older than the predecessor.

The query runs under an ``availableNow`` trigger with its checkpoint.
A retried micro-batch (a crash between the state write and the
checkpoint commit) keeps its batch id, so it merges from the same
predecessor and overwrites its own version, including a torn one:
the state is exactly-once with no sink transaction.  That is why the
predecessor itself is kept until the next batch commits.

Most kernels combine with ``_keyed_merge``: a full-outer join of the
predecessor and the partial on the key columns, a NULL key matching a
NULL key as the batch twin's ``groupBy`` groups them, each value
column folded with its own zero and combine (sum, ``bit_or``, postings
concat).  The two windowed dedup kernels share ``_window_stream``, which
keeps an append-only verdict log next to a postings snapshot pruned to
the trailing window.  State is bounded by key cardinality or window
size, never by stream length.
"""

from __future__ import annotations

import operator
import shutil
from functools import reduce
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from ..functions.exact import ts_day, ts_hour
from ..functions.text import words


def stream_running_totals(events: DataFrame) -> DataFrame:
    """Running per-user event count + value sum across ALL micro-batches.

    Update-mode output: one row per user per batch carrying the running
    totals (the latest row per user is the current state).  The fold is
    the monoid contract again — state (n, s) is the accumulator, Arrow
    batches are folded in, and the updated accumulator is both stored
    and emitted.
    """

    def upd(key: Tuple[Any, ...],
            pdfs: Iterable[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]],
                            "n_events": [n],
                            "sum_value": [s]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(
                upd,
                outputStructType="user_id long, n_events long, sum_value double",
                stateStructType="n long, s double",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_gap_fill(events: DataFrame) -> DataFrame:
    """Streaming hourly LOCF gap-fill — the stateful-streaming twin of
    temporal.q_ts_resample_ffill.

    Per-user state = (last observed hour bucket, its value, emit seq).
    Each micro-batch emits, per observed bucket in event-time order:
    filled copies for every skipped hour since the previous observation
    (is_gap=1), then the observation itself (is_gap=0).  A bucket that
    straddles micro-batches is RE-EMITTED with the later observation
    (update-mode semantics: the highest-seq row per (user, bucket) is
    current, which is what the parity test folds on).  Buckets older
    than the state's frontier are late data and dropped — the
    watermark-style contract; LOCF cannot retract already-emitted fills.

    State is O(1) per user (three scalars) regardless of stream length —
    the property that keeps this runnable forever, unlike any
    formulation that buffers events.
    """
    hour_us = 3_600_000_000

    def upd(key: Tuple[Any, ...],
            pdfs: Iterable[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
        last_us, last_val, seq = state.get if state.exists else (-1, 0.0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            state.update((int(last_us), float(last_val), int(seq)))
            return
        us = pdf["ts"].astype("int64") // 1000
        pdf = (pdf.assign(us=us, bucket=us - us % hour_us)
                  .sort_values(["us", "event_id"]))
        out = []
        for bucket, grp in pdf.groupby("bucket", sort=True):
            val = float(grp["value"].iloc[-1])
            if last_us >= 0 and bucket < last_us:
                continue
            if last_us >= 0:
                fill = last_us + hour_us
                while fill < bucket:
                    seq += 1
                    out.append((fill, last_val, 1, seq))
                    fill += hour_us
            seq += 1
            out.append((int(bucket), val, 0, seq))
            last_us, last_val = int(bucket), val
        state.update((int(last_us), float(last_val), int(seq)))
        if out:
            b, v, g, s = zip(*out)
            yield pd.DataFrame({"user_id": [key[0]] * len(out),
                                "bucket_us": list(b), "value_ffill": list(v),
                                "is_gap": list(g), "seq": list(s)})

    return (events.groupBy("user_id")
            .applyInPandasWithState(
                upd,
                outputStructType=("user_id long, bucket_us long, "
                                  "value_ffill double, is_gap int, seq long"),
                stateStructType="last_us long, last_val double, seq long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def stream_dedup(events: DataFrame, key: str = "event_id",
                 watermark: str = "2 hours") -> DataFrame:
    """Watermarked streaming dedup: first arrival per key wins; state for
    keys older than the watermark is evicted automatically."""
    return events.withWatermark("ts", watermark).dropDuplicates([key])


def stream_stream_purchase_view_join(events: DataFrame,
                                     window: str = "1 hour",
                                     watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: each purchase matched to view events
    by the same user within the preceding `window`.

    Both sides carry watermarks and the join condition bounds the event-
    time range, so the state store can evict rows older than
    watermark + window — the condition that keeps a stream-stream join
    runnable forever.  The batch twin is operators.asof (as-of = the
    1-row variant of this interval join).
    """
    views = (events.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("v_ts"))
             .withWatermark("v_ts", watermark))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("p_ts"))
                 .withWatermark("p_ts", watermark))
    return (purchases.join(
                views,
                (F.col("p_user") == F.col("v_user"))
                & (F.col("v_ts") <= F.col("p_ts"))
                & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}")),
                "inner")
            .select("purchase_id", "view_id",
                    F.col("p_user").alias("user_id"),
                    F.unix_micros("p_ts").alias("purchase_ts_us"),
                    F.unix_micros("v_ts").alias("view_ts_us")))


def stream_stream_left_outer_join(events: DataFrame,
                                  window: str = "1 hour",
                                  watermark: str = "2 hours") -> DataFrame:
    """LEFT OUTER stream-stream join: every purchase emits, with NULL
    view columns when no view preceded it in the window — the outer
    variant's extra semantics is that the null-padded row can only be
    emitted when the WATERMARK proves no match can still arrive, so
    unmatched rows surface with watermark latency (inner-join rows
    emit immediately).  Same bounded-state condition as the inner form:
    both sides watermarked + event-time-bounded join range.
    """
    views = (events.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("v_ts"))
             .withWatermark("v_ts", watermark))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("p_ts"))
                 .withWatermark("p_ts", watermark))
    return (purchases.join(
                views,
                (F.col("p_user") == F.col("v_user"))
                & (F.col("v_ts") <= F.col("p_ts"))
                & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}")),
                "left_outer")
            .select("purchase_id", "view_id",
                    F.col("p_user").alias("user_id"),
                    F.unix_micros("p_ts").alias("purchase_ts_us"),
                    F.unix_micros("v_ts").alias("view_ts_us")))


def stream_to_parquet(df: DataFrame, path: str, checkpoint: str,
                      available_now: bool = True):
    """Append-mode parquet sink with checkpointing (exactly-once file
    output); availableNow drains the current source then stops — the
    batch-backfill trigger."""
    w = (df.writeStream.format("parquet")
         .option("path", path)
         .option("checkpointLocation", checkpoint)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_enrich_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich each event with a (slowly-changing)
    dimension row by user_id.

    The static side is re-planned per micro-batch (so dimension updates
    between batches are picked up) and broadcast when small — no state
    store at all, unlike stream-stream joins.  The canonical shape for
    "attach account metadata to a clickstream" at any scale: the stream
    side never shuffles, the dim side broadcasts once per batch.
    """
    from pyspark.sql import functions as F  # local: keep module import light

    d = F.broadcast(dim.select(F.col("c_custkey").alias("user_id"),
                               "c_mktsegment", "c_nationkey"))
    return (events.join(d, "user_id", "left")
            .select("event_id", "user_id", "event_type",
                    F.unix_micros("ts").alias("ts_us"),
                    "c_mktsegment", "c_nationkey"))


def stream_mv_refresh(events: DataFrame, state_dir: str, checkpoint: str):
    """Continuously-maintained materialized view via ``foreachBatch``
    MERGE — the streaming face of maintenance.q_mv_incremental_refresh
    and the third state pattern next to applyInPandasWithState (store
    keyed state) and windowed aggregates (store windows): here the STATE
    IS A TABLE, merged monoid-style once per micro-batch (the
    versioned-snapshot protocol, module docstring).

    Per batch: partial-aggregate the batch (count + exact INTEGER-CENTS
    sum per event_type — map-side combine applies within the batch)
    and full-outer merge it into the previous snapshot.

    Arithmetic is engine-portable BY CONSTRUCTION: each value is
    quantized to integer cents via ``FLOOR(value * 100 + 0.5)`` —
    pure IEEE-754 double ops that every engine computes bit-identically
    — and the state sums BIGINTs.  (A ``CAST(double AS DECIMAL)`` here
    is rounding-mode-sensitive across engines/versions on .xx5 ties;
    this family's two siblings already use integer/e6-quantized state,
    and this brings the MV in line — the repo's floor-quantization
    doctrine.)

    Scale: the per-batch work shuffles |keys-in-batch| partial rows;
    the merge join is |view| x |batch-keys| keyed by the view key —
    both bounded by key cardinality, never by stream length.
    """
    spark = events.sparkSession

    def step(batch_df: DataFrame, batch_id: int, prev):
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(
                "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias("s"))
        return _keyed_merge(spark, state_dir, prev, partial, ["event_type"], {
            "n": (F.lit(0), operator.add),
            "s": (F.lit(0).cast("bigint"),
                  lambda a, b: (a + b).cast("bigint"))})

    return _snapshot_stream(events, state_dir, checkpoint, step)


def stream_cell_counts(cells: DataFrame, state_dir: str,
                       checkpoint: str):
    """foreachBatch-maintained CELL-COUNT state over an arbitrary
    2-part key (``k1``, ``k2``) — the pure count monoid (commutative,
    associative, so the maintained counts are exactly-once under the
    versioned-snapshot protocol).  Used by the streaming PSI monitor
    (streaming_replay.q_stream_psi_drift_replay): cells = (event_type,
    bucket) and the finalized state is the current-window histogram.

    Scale: per batch shuffles |cells-in-batch| partial rows; the merge
    is |state| x |batch-cells| keyed equi-join — bounded by cell
    cardinality, never stream length.
    """
    spark = cells.sparkSession

    def step(batch_df: DataFrame, batch_id: int, prev):
        partial = batch_df.groupBy("k1", "k2").agg(
            F.count(F.lit(1)).alias("n"))
        return _keyed_merge(spark, state_dir, prev, partial, ["k1", "k2"],
                            {"n": (F.lit(0), operator.add)})

    return _snapshot_stream(cells, state_dir, checkpoint, step)


def read_mv_state(spark, state_dir: str) -> DataFrame:
    """Latest snapshot of the foreachBatch-maintained view."""
    versions = _state_versions(state_dir)
    if not versions:
        raise ValueError(
            f"no committed state_v* snapshot under {state_dir} — the "
            "stream produced no snapshot")
    return spark.read.parquet(f"{state_dir}/state_v{versions[-1]}")


def stream_gdpr_forget(requests: DataFrame, orders: DataFrame,
                       state_dir: str, checkpoint: str):
    """Streaming right-to-be-forgotten: deletion REQUESTS (customer
    keys) arrive as a stream; the maintained state is the per-custkey
    retained order view, and each micro-batch ANTI-JOINS the
    accumulated view against that batch's keys — erasure keeps pace
    with the request stream instead of waiting for a nightly rewrite
    (the batch twin is maintenance.q_gdpr_delete_cascade).

    Exactly-once for free: deletion by key is commutative AND
    idempotent (removing a key twice == once), so the finalized view
    is independent of micro-batch boundaries and retries — the
    versioned snapshots just make the file writes atomic per batch.
    The first batch seeds the view from the orders table (one
    partial+final agg); every later batch's work is |view| x |batch
    keys| — the view never re-derives from raw orders.
    """
    spark = requests.sparkSession
    seed = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"))

    def step(batch_df: DataFrame, batch_id: int, prev):
        view = seed if prev is None else (
            spark.read.schema(seed.schema)
            .parquet(f"{state_dir}/state_v{prev}"))
        keys = batch_df.select("fk").distinct()
        return view.join(keys, view["o_custkey"] == keys["fk"],
                         "left_anti")

    return _snapshot_stream(requests, state_dir, checkpoint, step)


def stream_ivf_index(vecs: DataFrame, index_of, state_dir: str,
                     checkpoint: str):
    """Streaming ANN-index maintenance: vectors arrive as a stream,
    each micro-batch is assigned to the FROZEN base-trained centroids
    (``index_of`` = similarity.ivf_cell_stats_of(cell_expr) — a
    row-local argmax, zero shuffles before the per-cell partial agg)
    and the per-cell (n, checksum-lane) MONOID state merges into the
    snapshot — ANN serving keeps pace with vector ingest without ever
    re-assigning the corpus (the batch twin is
    similarity.q_ivf_index_delta).
    """
    from ..sources.tables import spread

    spark = vecs.sparkSession
    add = (F.lit(0).cast("long"), operator.add)

    def step(batch_df: DataFrame, batch_id: int, prev):
        # spread: the 1-file micro-batch's 16-centroid dot-fold
        # assignment ran in one task (guide §2.5; span-merge lesson)
        partial = index_of(spread(batch_df))
        return _keyed_merge(spark, state_dir, prev, partial, ["cell"],
                            {"n": add, "l1": add, "l2": add})

    return _snapshot_stream(vecs, state_dir, checkpoint, step)


def stream_bloom_build(docs: DataFrame, bloom_of, state_dir: str,
                       checkpoint: str):
    """Streaming BLOOM-FILTER maintenance — the ingest-time form of
    text.q_text_contamination_bloom's build stage (r09 verdict item 3,
    the inline-filter family's missing member): eval-set documents
    arrive as a stream, each micro-batch contributes its partial
    (slot, word) bitmap (``bloom_of`` = text.bloom_partial — grams ->
    k md5-chunk probes -> groupBy(slot).bit_or), and the state merges
    with ``bit_or`` — a commutative IDEMPOTENT monoid, so the
    finalized filter is independent of micro-batch boundaries AND of
    replays (a re-delivered document ORs in bits already set), the
    strongest exactly-once shape in the family.  The state is the
    fixed m/32-slot relation (~256 KB) at ANY stream length — the
    100 TB contract of the batch twin, kept under streaming ingest.
    """
    from ..sources.tables import spread

    spark = docs.sparkSession

    def step(batch_df: DataFrame, batch_id: int, prev):
        # spread: the 1-file micro-batch's gram+md5-probe pass ran in
        # one task (guide §2.5; span-merge lesson)
        partial = bloom_of(spread(batch_df.select("doc_id", "text")))
        return _keyed_merge(spark, state_dir, prev, partial, ["slot"], {
            "word": (F.lit(0).cast("long"), lambda a, b: a.bitwiseOR(b))})

    return _snapshot_stream(docs, state_dir, checkpoint, step)


def stream_cdc_merge(changes: DataFrame, state_dir: str,
                     checkpoint: str):
    """Streaming CDC MERGE maintenance (the Debezium-ingest shape):
    changelog rows (k, seq, op, price, status) arrive as a stream and
    the maintained state is the per-key WINNER — max(struct(seq, op,
    payload)), last-writer-wins under the (seq, op) total order the
    batch twin (maintenance.q_cdc_merge_apply) relies on.  ``max`` is
    a commutative IDEMPOTENT monoid, so the finalized winner relation
    is independent of micro-batch boundaries AND of replays (a
    re-delivered change can only re-assert the same winner) — the
    decontamination bloom's exactly-once class, on the lakehouse
    upsert primitive.  State is bounded by |changed keys|, never by
    changelog length; the base-table merge happens once at finalize,
    not per batch.
    """
    spark = changes.sparkSession

    def step(batch_df: DataFrame, batch_id: int, prev):
        partial = (batch_df.groupBy("k")
                   .agg(F.max(F.struct("seq", "op", "price", "status"))
                         .alias("w")))
        if prev is None:
            return partial
        return (spark.read.schema(partial.schema)
                .parquet(f"{state_dir}/state_v{prev}")
                .select("k", "w").unionByName(partial)
                .groupBy("k").agg(F.max("w").alias("w")))

    return _snapshot_stream(changes, state_dir, checkpoint, step)


def stream_inverted_index(docs: DataFrame, state_dir: str,
                          checkpoint: str):
    """Streaming LEXICAL-index maintenance — the inverted-index twin
    of stream_ivf_index, completing the retrieval pair (a hybrid
    search stack keeps BOTH indexes fresh as documents arrive): each
    micro-batch is indexed (term 3-gram -> sorted (doc_id, tf)
    postings, exactly maintenance.q_inverted_index_delta's algebra)
    and merged into the snapshot by a term-keyed full-outer array
    concat+sort — doc batches are disjoint, so merged == rebuilt
    bit-for-bit and the batch twin's direct-index oracle is an
    exactly-once value proof.

    Scale: the state is THE INDEX (what a search cluster actually
    maintains) — bounded by index size, never stream length; per-batch
    merge cost is O(|batch index|) through the term-keyed join, and
    postings ride as arrays (positional delta encoding at 100 TB — the
    batch twin's note — changes storage, not this merge algebra).
    """
    from ..operators.text import _token_ngrams
    from ..sources.tables import spread

    spark = docs.sparkSession
    empty = F.array().cast("array<struct<doc_id:bigint,tf:bigint>>")

    def index(batch):
        # spread: a 1-file micro-batch is one scan partition — the
        # 3-gram build ran serially (guide §2.5).  explode_outer +
        # null-filter keeps the inferred non-empty filter from
        # re-evaluating the zip_with gram chain below the exchange
        # (the span-merge lesson); grams are never null, so rows are
        # identical to the inner explode.  The coalesce changes no
        # value; it declares ``t`` non-nullable, so the snapshot merge
        # joins on plain = and reuses the per-term aggregation's
        # partitioning (_keyed_merge).
        g = (spread(batch.select("doc_id", "text"))
             .select("doc_id", F.explode_outer(
                 _token_ngrams(words(), 3)).alias("t"))
             .filter(F.col("t").isNotNull())
             .select("doc_id", F.coalesce("t", F.lit("")).alias("t")))
        return (g.groupBy("t", "doc_id")
                 .agg(F.count(F.lit(1)).alias("tf"))
                 .groupBy("t")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("doc_id", "tf"))).alias("post")))

    def step(batch_df: DataFrame, batch_id: int, prev):
        return _keyed_merge(spark, state_dir, prev, index(batch_df), ["t"], {
            "post": (empty, lambda a, b: F.array_sort(F.concat(a, b)))})

    return _snapshot_stream(docs, state_dir, checkpoint, step)


def inverted_index_finalize(index: DataFrame) -> DataFrame:
    """(t, post) snapshot -> the digest relation of the batch twin:
    per term df, total tf, and the md5 of the sorted posting list (the
    full index content value-hashed without shipping arrays)."""
    return index.select(
        "t",
        F.size("post").cast("long").alias("df"),
        F.aggregate("post", F.lit(0).cast("long"),
                    lambda a, p: a + p["tf"]).alias("tf"),
        F.md5(F.encode(F.concat_ws(",", F.transform(
            "post", lambda p: F.concat_ws(
                ":", p["doc_id"].cast("string"),
                p["tf"].cast("string")))), "UTF-8")).alias("postings_md5"))


def stream_anomaly_scoring(events: DataFrame,
                           cell_means: DataFrame,
                           type_vars: DataFrame) -> DataFrame:
    """Score a live event stream against a STATIC seasonal baseline
    (the online half of features.q_anomaly_seasonal_residual): the
    (event_type, dow, hour) cell means and per-type residual variances
    are batch-trained relations that broadcast onto the stream, and
    the 3-sigma verdict is row-local — so this is a pure projection
    that runs identically on a batch or streaming DataFrame (the
    blocklist_verdict pattern), with no streaming state at all.

    cell_means: (event_type, dow, hour, m_b); type_vars:
    (event_type, var_r) — exactly the intermediates of the batch
    operator, so batch-vs-stream parity is definitional.
    """
    dow = F.pmod(ts_day(), F.lit(7))
    base = events.select(
        "event_id", "event_type", dow.alias("dow"),
        ts_hour().alias("hour"),
        F.col("value").cast("decimal(12,2)").alias("v"))
    j = (base.join(F.broadcast(cell_means),
                   ["event_type", "dow", "hour"], "left")
             .join(F.broadcast(type_vars), "event_type", "left"))
    resid = F.col("v").cast("double") - F.col("m_b")
    return j.select(
        "event_id", "event_type", "dow", "hour",
        F.floor(resid * 1e6).cast("long").alias("resid_e6"),
        F.coalesce(resid * resid > F.lit(9.0) * F.col("var_r"),
                   F.lit(False)).alias("is_anomaly"))


def stream_decayed_engagement(events: DataFrame, ref_day: int,
                              state_dir: str, checkpoint: str):
    """Continuously-maintained per-user decayed-engagement score — the
    streaming twin of behavior.q_events_decayed_engagement, built on
    the stream_mv_refresh state pattern (the score is a pure monoid:
    each event's term cents x w(age) is independent of every other
    event once the reference day is FIXED, so per-batch partials merge
    by DECIMAL addition).

    ``ref_day`` is the static deployment contract (the batch operator
    derives it in-plan from the corpus max; a live scorer pins it at
    deploy time, like stream_anomaly_scoring's static baseline) —
    events newer than ref_day take weight w(0) = 1e12 via the
    age clamp, so a replayed historical stream and the batch operator
    agree bit-for-bit (pinned in tests/test_streaming.py).

    Scale: per batch the work is one |users-in-batch| partial agg; the
    merge join is |view| x |batch-users| keyed by user — bounded by
    key cardinality, never stream length.
    """
    from ..operators.behavior import _DECAY_W

    spark = events.sparkSession
    wdf = spark.createDataFrame(list(_DECAY_W), "age_d int, w_e12 long")

    def step(batch_df: DataFrame, batch_id: int, prev):
        terms = (batch_df
                 .select("user_id", ts_day().alias("day"),
                         (F.col("value").cast("decimal(12,2)") * 100)
                         .cast("long").alias("cents"))
                 .withColumn("age_d",
                             F.greatest(F.lit(ref_day) - F.col("day"),
                                        F.lit(0)))
                 .join(F.broadcast(wdf), "age_d", "left"))
        partial = terms.groupBy("user_id").agg(
            F.sum(F.col("cents").cast("decimal(38,0)")
                  * F.coalesce("w_e12", F.lit(0))).alias("s"),
            F.count(F.lit(1)).alias("n_events"))
        return _keyed_merge(spark, state_dir, prev, partial, ["user_id"], {
            "s": (F.lit(0).cast("decimal(38,0)"),
                  lambda a, b: (a + b).cast("decimal(38,0)")),
            "n_events": (F.lit(0), operator.add)})

    return _snapshot_stream(events, state_dir, checkpoint, step)


def decayed_engagement_finalize(state_df: DataFrame) -> DataFrame:
    """Snapshot -> the batch operator's output shape."""
    return state_df.select(
        "user_id", "n_events",
        F.floor(F.col("s").cast("double") / F.lit(1e12))
         .cast("long").alias("score_cents"))


def stream_quantile_sketch(events: DataFrame, state_dir: str,
                           checkpoint: str):
    """Continuously-maintained per-type quantile sketch — the streaming
    twin of scale.q_quantile_sketch_rollup and the third instance of
    the foreachBatch monoid-state pattern (MV refresh: grouped sums;
    decayed engagement: per-user scores; here: DISTRIBUTIONS).  The
    HDR-style bin counts are the canonical mergeable state: per batch
    one partial (type, bin) count, merged into the snapshot by integer
    addition — so any percentile of the stream-so-far is readable at
    every checkpoint without ever re-ranking history, which is the
    entire point of a mergeable sketch at an unbounded input.

    Scale: per-batch work is bounded by |types| x ~700 bins regardless
    of batch size (map-side combine absorbs rows); the merge join is
    sketch-sized.
    """
    from ..operators.scale import _QSK_BIN

    spark = events.sparkSession

    def step(batch_df: DataFrame, batch_id: int, prev):
        cents = (F.col("value").cast("decimal(12,2)") * 100).cast("long")
        partial = (batch_df
                   .select("event_type", cents.alias("c"))
                   .selectExpr("event_type",
                               _QSK_BIN.format(div="DIV") + " AS b")
                   .groupBy("event_type", "b")
                   .agg(F.count(F.lit(1)).alias("cnt")))
        return _keyed_merge(spark, state_dir, prev, partial,
                            ["event_type", "b"],
                            {"cnt": (F.lit(0), operator.add)})

    return _snapshot_stream(events, state_dir, checkpoint, step)


def quantile_sketch_finalize(state_df: DataFrame) -> DataFrame:
    """Snapshot -> the batch rollup's output shape (per-type approx
    percentiles with the same bin lower-bound representatives)."""
    from pyspark.sql import Window as W

    from ..operators.scale import _QSK_LOWER, QSK_PCTS

    spark = state_df.sparkSession
    tot = state_df.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    w = (W.partitionBy("event_type").orderBy("b")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = state_df.withColumn("cum", F.sum("cnt").over(w))
    p_df = spark.createDataFrame([(p,) for p in QSK_PCTS], "pct int")
    return (cum.join(F.broadcast(tot), "event_type")
               .crossJoin(F.broadcast(p_df))
               .filter(F.col("cum")
                       >= F.expr("CAST(CEIL(n * pct / 100.0) AS BIGINT)"))
               .groupBy("event_type", "pct")
               .agg(F.min("n").alias("n_rows"),
                    F.min(F.expr(_QSK_LOWER.format(div="DIV")))
                     .alias("approx_cents")))


SPAN_WIN_DOCS = 200   # trailing-window width (docs) for streaming span dedup


def _state_versions(fs_dir: str) -> list[int]:
    """Sorted committed snapshot versions under ``fs_dir`` —
    tolerates stray non-integer ``state_v*`` suffixes (temp dirs),
    unlike a bare int() parse."""
    import glob as _glob
    out = []
    for p in _glob.glob(f"{fs_dir}/state_v*"):
        try:
            out.append(int(p.rsplit("state_v", 1)[1]))
        except ValueError:
            pass
    return sorted(out)


def _snapshot_stream(stream: DataFrame, state_dir: str, checkpoint: str,
                     step):
    """Start the availableNow foreachBatch query that keeps
    ``state_dir`` under the versioned-snapshot protocol (module
    docstring).  ``step(batch_df, batch_id, prev)`` gets the
    predecessor version (None on the first batch) and returns the new
    snapshot, which is written as ``state_v<batch_id>`` — or returns
    None when it wrote that directory's parts itself (the windowed
    kernels' postings and meta)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        prevs = [v for v in _state_versions(state_dir) if v < batch_id]
        snap = step(batch_df, batch_id, prevs[-1] if prevs else None)
        if snap is not None:
            snap.write.mode("overwrite").parquet(
                f"{state_dir}/state_v{batch_id}")
        for v in prevs[:-1]:
            shutil.rmtree(f"{state_dir}/state_v{v}", ignore_errors=True)

    return (stream.writeStream.foreachBatch(run)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def _keyed_merge(spark, state_dir: str, prev, partial: DataFrame,
                 keys: list[str], fold: dict) -> DataFrame:
    """``partial`` merged into snapshot version ``prev`` (``partial``
    itself when ``prev`` is None): a full-outer join on ``keys`` and,
    for each ``fold[c] = (zero, combine)``, the value column
    ``combine(coalesce(prev.c, zero), coalesce(partial.c, zero))``.

    A key the partial's schema lets be NULL matches null-safely: under
    ``=`` a NULL key never meets its predecessor row, so the state
    would gain one NULL row per micro-batch where the batch twin's
    ``groupBy`` keeps one.  A key the partial cannot hold NULL in
    (so neither can the state folded from partials) matches on plain
    ``=`` — the same rows, and the join keeps the partial's hash
    partitioning on the key instead of shuffling it again.

    The predecessor is read with ``partial``'s schema — every fold
    keeps its column's type, so it is the snapshot's — which spares
    the schema-inference job a bare read runs on every batch after
    the first."""
    if prev is None:
        return partial
    p = (spark.read.schema(partial.schema)
         .parquet(f"{state_dir}/state_v{prev}").alias("p"))
    d = partial.alias("d")
    nullable = {f.name: f.nullable for f in partial.schema.fields}
    on = reduce(operator.and_, [
        F.col(f"p.{k}").eqNullSafe(F.col(f"d.{k}")) if nullable[k]
        else F.col(f"p.{k}") == F.col(f"d.{k}") for k in keys])
    return p.join(d, on, "full_outer").select(
        *[F.coalesce(f"p.{k}", f"d.{k}").alias(k) for k in keys],
        *[combine(F.coalesce(f"p.{c}", zero),
                  F.coalesce(f"d.{c}", zero)).alias(c)
          for c, (zero, combine) in fold.items()])


def _write_table(directory: str, table) -> None:
    """Write a small Arrow ``table`` as ``directory/part-00000.parquet``
    with pyarrow.  A Spark parquet write of a few rows costs 0.1-0.2 s
    of job and commit-protocol overhead (measured on 4 vCPUs); this
    costs milliseconds, and ``spark.read.parquet`` reads the directory
    the same way.

    Overwrite-idempotent, also across writer formats: a retried batch
    landing on a directory an earlier attempt wrote, in this format or
    Spark's (part-00000-<uuid>-*.parquet, which sorts first), leaves
    only its own file.  The file appears by an atomic rename."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    for stale in _glob.glob(f"{directory}/*.parquet"):
        os.remove(stale)
    tmp = f"{directory}/.part-00000.parquet.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, f"{directory}/part-00000.parquet")


def _write_meta(state_dir: str, batch_id: int, mx) -> None:
    """Write the 1-row running-max ``meta`` sidecar (_write_table)."""
    import pyarrow as pa

    _write_table(f"{state_dir}/state_v{batch_id}/meta",
                 pa.table({"mx": pa.array([mx], type=pa.int64())}))


def _read_meta(state_dir: str, version: int):
    """Read the ``meta`` sidecar without a Spark job (see _write_meta)."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(f"{state_dir}/state_v{version}/meta/*.parquet"))
    return pq.read_table(files[0])["mx"][0].as_py()


def _window_stream(docs: DataFrame, state_dir: str, checkpoint: str,
                   post_schema: str, keys_of, doc_cols: list,
                   verdict_cols: list):
    """Start a windowed dedup stream: the trailing-window step both
    windowed kernels share, under the versioned-snapshot protocol.

    Per micro-batch, ``keys_of(batch)`` gives one row per keyed batch
    document: ``doc_id`` and ``keys``, an array of structs whose fields
    are the posting key columns of ``post_schema``.  Each element is
    judged once per occurrence and posted once.  ``doc_cols`` (doc_id
    first) project one row per batch document: its row-local verdict
    inputs.  ``verdict_cols`` project the per-doc aggregate — the
    ``doc_cols`` plus ``n_hits``, the doc's key occurrences found in
    the window — to the verdict, written as ``verdicts_b<batch_id>``.

    The key arrays are built once per batch: a lazy ``localCheckpoint``
    keeps them for the two actions and is released before the step
    returns.  A key occurrence is a hit when the same key is posted by
    a strictly earlier doc_id inside the window, in the predecessor's
    postings (read with their known schema) or in the batch itself.
    One pass finds both: the batch's occurrences and the predecessor's
    postings are shuffled together by key, and an occurrence hits when
    the largest doc_id before it in its key group is within
    SPAN_WIN_DOCS.  Nothing is broadcast: the shuffle holds the batch's
    key occurrences plus at most SPAN_WIN_DOCS documents' postings,
    split by key across tasks.  The verdict — one row of a few longs
    per batch doc — is collected and written with pyarrow
    (_write_table); its doc_id max is the batch max.  The running max
    then advances and is written as ``meta``, and the predecessor's
    postings plus the batch's distinct keys, pruned to doc_id >
    max_seen - SPAN_WIN_DOCS, are written by Spark as ``postings``,
    both under ``state_v<batch_id>``.

    Every Column is built once per stream, not once per batch: Python
    plan building was 0.1-0.2 s of each micro-batch.  Measured on
    500-doc batches (4 vCPUs): 5 Spark jobs per micro-batch — the
    spread exchange, the key exchange, the per-doc aggregation
    exchange, the verdict collect and the postings write.
    """
    import pyarrow.compute as pc
    from pyspark.sql import Window

    spark = docs.sparkSession
    schema = StructType.fromDDL(post_schema)
    key_cols = [c for c in schema.fieldNames() if c != "doc_id"]
    new_cols = ["doc_id", F.inline(F.array_distinct("keys"))]
    probe_cols = ["doc_id", F.inline("keys"), F.lit(True).alias("probe")]
    post_cols = ["doc_id", *key_cols, F.lit(False).alias("probe")]
    before = F.max("doc_id").over(
        Window.partitionBy(*key_cols).orderBy("doc_id")
        .rangeBetween(Window.unboundedPreceding, -1))
    hit = F.col("probe") & (before >= F.col("doc_id") - SPAN_WIN_DOCS)
    doc_cols = [*doc_cols, F.lit(0).alias("n_hits")]
    names = [c for c in docs.select(*doc_cols).columns
             if c not in ("doc_id", "n_hits")]
    aggs = [*[F.max(c).alias(c) for c in names],
            F.sum("n_hits").alias("n_hits")]

    def step(batch_df: DataFrame, batch_id: int, prev) -> None:
        k = keys_of(batch_df).localCheckpoint(eager=False)
        try:
            new = k.select(*new_cols)
            occ = k.select(*probe_cols)
            if prev is None:
                hist, prev_mx = new, None
            else:
                post = (spark.read.schema(schema)
                        .parquet(f"{state_dir}/state_v{prev}/postings"))
                hist = post.unionByName(new)
                occ = occ.unionByName(post.select(*post_cols))
                prev_mx = _read_meta(state_dir, prev)
            hits = (occ.select("doc_id", hit.alias("hit"))
                    .where("hit").select("doc_id", F.lit(1).alias("n_hits")))
            # one row per batch doc: collected and written with
            # pyarrow, and its doc_id max is the batch max
            verdict = (batch_df.select(*doc_cols)
                       .unionByName(hits, allowMissingColumns=True)
                       .groupBy("doc_id").agg(*aggs).select(*verdict_cols)
                       .toArrow())
            _write_table(f"{state_dir}/verdicts_b{batch_id}", verdict)
            mx = max((x for x in (prev_mx, pc.max(verdict["doc_id"]).as_py())
                      if x is not None), default=None)
            _write_meta(state_dir, batch_id, mx)
            kept = (hist.filter(F.col("doc_id") > mx - SPAN_WIN_DOCS)
                    if mx is not None else hist)
            kept.write.mode("overwrite").parquet(
                f"{state_dir}/state_v{batch_id}/postings")
        finally:
            # the checkpointed RDD's blocks would otherwise stay until
            # the JVM collects the RDD object
            k._jdf.queryExecution().logical().rdd().unpersist(True)

    return _snapshot_stream(docs, state_dir, checkpoint, step)


def stream_windowed_span_dedup(docs: DataFrame, state_dir: str,
                               checkpoint: str):
    """Streaming WINDOWED SPAN DEDUP (r07 verdict item 6) — the
    firehose form of dedup_spans_ngram: every arriving document is
    judged against the SPAN_N-token gram postings of the trailing
    SPAN_WIN_DOCS documents (by doc_id), the semantics a 100 TB/day
    ingest actually needs (dedup against recent history, not the
    unbounded past).

    Semantics are a pure function of the data, independent of
    micro-batch boundaries: a gram position in doc d is a duplicate
    iff SOME document d' with d - W <= d' < d contains the same gram
    (strictly-earlier doc_id, trailing window W).  The state is two
    relations (``_window_stream``): ``verdicts_b<batch>`` — a LITERALLY
    append-only per-doc report (each doc's verdict is finalized in
    the batch that delivers it and written ONCE to that batch's own
    directory — never rewritten, so total verdict I/O is linear in
    stream length) — and the ``state_v<batch>`` snapshot holding
    ``postings`` (the DISTINCT (doc_id, gm) relation PRUNED to
    doc_id > max_seen - W, the bounded trailing window) and ``meta``
    (the running max doc_id, so pruning never re-reads the verdict
    log).

    Ordering contract: the file replay must deliver documents in
    doc_id order across batches (the replay fixture writes one
    doc_id-range file at a time; the file source replays mod-time
    order) — the same bounded-disorder contract a production
    watermark would enforce.  Under that contract pruning is safe:
    every future doc has id > max_seen, so it can only need postings
    with doc_id > max_seen - W.

    Scale: per batch the work is one md5 gram pass over the batch, one
    shuffle by gram digest of the batch's gram positions and the W-doc
    posting window (a position is a duplicate when the latest earlier
    doc_id in its gram group is within W), one per-doc aggregation,
    the batch's verdict rows (three longs per doc) through the driver
    and one window-sized postings write; per-batch state I/O is
    bounded by the trailing window's gram count plus the batch size,
    never stream length.  ``n_grams`` is counted from the
    token count, so it costs no second gram pass.
    """
    from ..operators.dedup import SPAN_N
    from ..sources.tables import spread

    w = words()
    grams = F.when(
        F.size(w) >= SPAN_N,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - SPAN_N),
            lambda i: F.struct(F.md5(F.encode(
                F.array_join(F.slice(w, i + 1, SPAN_N), " "),
                "UTF-8")).alias("gm")))
    ).otherwise(F.array().cast("array<struct<gm:string>>")).alias("keys")

    def keys_of(batch_df: DataFrame) -> DataFrame:
        # A maxFilesPerTrigger=1 micro-batch is ONE scan partition, so
        # the interpreted md5 gram pass would run in a single task
        # (guide §2.5); spread() fans it across the engine's cores
        # (gated: a no-op once a batch already has enough splits).
        return spread(batch_df.select("doc_id", "text"), "doc_id") \
            .select("doc_id", grams)

    return _window_stream(
        docs, state_dir, checkpoint, "doc_id long, gm string", keys_of,
        ["doc_id", F.greatest(F.size(w) - SPAN_N + 1, F.lit(0))
         .cast("long").alias("n_grams")],
        ["doc_id", "n_grams",
         F.col("n_hits").cast("long").alias("n_dup_grams")])


def _read_verdict_log(spark, state_dir: str) -> DataFrame:
    """Union of the per-batch verdict directories (the append-only
    log both windowed dedup streams write)."""
    import glob as _glob
    if not _glob.glob(f"{state_dir}/verdicts_b*"):
        raise ValueError(
            f"no committed verdict batches under {state_dir} — the "
            "replay stream produced no snapshot")
    return spark.read.parquet(f"{state_dir}/verdicts_b*")


def windowed_span_dedup_finalize(spark, state_dir: str) -> DataFrame:
    """Verdict log -> the batch twin's output shape."""
    return _read_verdict_log(spark, state_dir).select(
        "doc_id", "n_grams", "n_dup_grams",
        F.expr("(n_dup_grams * 1000000) DIV greatest(n_grams, 1)")
         .alias("dup_ppm"))


def stream_windowed_minhash_dedup(docs: DataFrame, state_dir: str,
                                  checkpoint: str):
    """Streaming WINDOWED MinHash-LSH near-dup CANDIDATE flagging —
    the fuzzy sibling of stream_windowed_span_dedup and the firehose
    form of dedup_minhash_lsh's candidate stage: every arriving
    document is flagged iff it shares ANY of its 8 LSH band buckets
    with a document in the trailing SPAN_WIN_DOCS window (strictly
    earlier doc_id).  Candidate-only BY DESIGN: this is the bounded
    filter stage a 100 TB/day ingest runs inline (banded recall, no
    verify); the flagged stream feeds the batch verifier
    (dedup_minhash_lsh) offline, exactly the two-tier split the batch
    family documents.

    Same state layout as the span form (``_window_stream``), with the
    (doc, band, bucket) relation as the postings (safe under the
    ordered-replay / ingest-watermark contract).  Band keys come from
    the batch family's own _shingles -> _band_array pipeline (the
    array form of _band_keys) — the same row-local Carter-Wegman
    construction, so the batch-twin oracle is a full value proof (a
    NULL-text doc has no band keys and is never flagged).

    Scale: per batch one row-local signature pass over the batch (md5
    once per shingle, no shuffle), one shuffle by (band, bucket) of
    the batch's 8N band keys and the W-doc posting window, one per-doc
    aggregation, the batch's verdict rows through the driver and one
    window-sized postings write; per-batch state I/O is bounded by the
    trailing window plus the batch, never stream length.
    """
    from ..operators.dedup import _band_array, _shingles
    from ..sources.tables import spread

    def keys_of(batch_df: DataFrame) -> DataFrame:
        # spread() first: a 1-file micro-batch is one scan partition and
        # the Carter-Wegman signature pass would run serially (guide
        # §2.5).  A NULL-text doc has no band keys; its verdict row
        # comes from the doc columns alone.
        return _band_array(_shingles(spread(
            batch_df.select("doc_id", "text"), "doc_id"))) \
            .select("doc_id", F.col("bands").alias("keys"))

    return _window_stream(
        docs, state_dir, checkpoint, "doc_id long, band int, bucket string",
        keys_of, ["doc_id"],
        ["doc_id", (F.col("n_hits") > 0).cast("int")
         .alias("is_near_dup_candidate"),
         F.col("n_hits").cast("long").alias("n_hit_bands")])


def windowed_minhash_dedup_finalize(spark, state_dir: str) -> DataFrame:
    """Verdict log of the windowed MinHash candidates."""
    return _read_verdict_log(spark, state_dir)
