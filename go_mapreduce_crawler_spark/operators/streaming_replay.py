"""Driver-checkable correctness rows for the foreachBatch monoid-state
streaming family (VERDICT r06 item 7).

The three continuously-maintained views (stream_mv_refresh,
stream_decayed_engagement, stream_quantile_sketch — streaming/
stateful.py) were parity-tested against their batch twins but had no
driver CORRECTNESS rows.  Each query here replays the events table as a
deterministic multi-file stream (maxFilesPerTrigger=1 under an
availableNow trigger => one micro-batch per file, so the later batches
exercise the full-outer snapshot merge), then returns the FINALIZED
view as a plain DataFrame.

Why a full value oracle is legitimate for a streaming operator: the
state is a monoid (grouped sums / decayed-score terms / HDR bin
counts), so the finalized view is provably independent of micro-batch
boundaries, and the versioned-snapshot protocol makes replays
exactly-once.  The oracle is therefore the batch twin's SQL over the
same events table — a hash MATCH is an end-to-end exactly-once proof
under the value hash, not a weakened rows-only check.

Reference parity: the monoid merge is the reference's
Accumulate/Combine contract (crawler.go:31, pool.go:102-121) carried
into streaming state; exactly-once versioning plays the role of the
reference's deterministic single-error collect (crawler.go:204-255).

Scale: per micro-batch the shuffled state is bounded by KEY cardinality
(|event_type| / |users| / |types|x~700 bins), never by stream length —
the property that lets the same code follow a 100 TB/day firehose.  The
replay fixture write is test plumbing, not the operator.
"""

from __future__ import annotations

import atexit
import glob
import itertools
import os
import shutil
import tempfile
import threading
import time

from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..streaming.stateful import (SPAN_WIN_DOCS,
                                  decayed_engagement_finalize,
                                  quantile_sketch_finalize, read_mv_state,
                                  stream_decayed_engagement,
                                  stream_mv_refresh, stream_quantile_sketch,
                                  stream_windowed_minhash_dedup,
                                  stream_windowed_span_dedup,
                                  windowed_minhash_dedup_finalize,
                                  windowed_span_dedup_finalize)
from .behavior import _decayed_engagement_oracle
from .maintenance import _FORGET
from .scale import ORACLE as _SCALE_ORACLE

REPLAY_SPLITS = 4          # micro-batches per replay
_AWAIT_S = 300

# Replay fixtures are written ONCE per (sf_dir, kind) and shared across
# the replay rows and across bench repeats (r08 verdict item 6: the
# bench was re-writing ~6 fixtures per run, charging tempdir I/O to the
# operators).  State/checkpoint dirs stay FRESH per query call — only
# the immutable input files are cached.  The lock makes the first write
# single-flight: concurrent first callers would otherwise each write
# (and leak) a fixture.
_FIXTURE_DIRS: dict[tuple[str, str], str] = {}
_FIXTURE_LOCK = threading.Lock()


def _fixture_dir(sf_dir: str, kind: str, writer) -> str:
    """Return the cached input dir for (sf_dir, kind), invoking
    ``writer(in_dir, scratch_root)`` exactly once per process.  Roots
    are removed at interpreter exit (NOT at function return — result
    DataFrames lazily read state parquet downstream of the stream)."""
    key = (sf_dir, kind)
    with _FIXTURE_LOCK:
        if key not in _FIXTURE_DIRS:
            root = tempfile.mkdtemp(prefix=f"sgraft_fix_{kind}_")
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            in_dir = f"{root}/in"
            writer(in_dir, root)
            _FIXTURE_DIRS[key] = in_dir
        return _FIXTURE_DIRS[key]


def _fresh_state(name: str) -> tuple[str, str]:
    """Per-call state + checkpoint dirs (never cached — a replay must
    start from empty state every invocation)."""
    root = tempfile.mkdtemp(prefix=f"sgraft_state_{name}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return f"{root}/state", f"{root}/ckpt"


def _file_stream(spark, in_dir: str, schema):
    """The fixture files under ``in_dir`` as a stream of one file per
    micro-batch."""
    return (spark.readStream.option("maxFilesPerTrigger", "1")
            .schema(schema).parquet(in_dir))


def _split_stream(spark, sf_dir: str, kind: str, df, name: str):
    """``df`` split into REPLAY_SPLITS parquet files (the fixture
    cached as ``kind``) and streamed one file per micro-batch, plus
    fresh state; returns (streaming_df, state_dir, ckpt_dir)."""

    def write(in_dir, _root):
        df.repartition(REPLAY_SPLITS).write.mode(
            "overwrite").parquet(in_dir)

    in_dir = _fixture_dir(sf_dir, kind, write)
    return (_file_stream(spark, in_dir, df.schema), *_fresh_state(name))


def _write_ranges(df, key, lo: int, hi: int, in_dir: str,
                  root: str) -> None:
    """Write ``df`` as REPLAY_SPLITS files covering ascending ``key``
    ranges of [lo, hi), one file per range in ascending mod-time
    order, so the file source's oldest-first replay delivers rows in
    ``key`` order across micro-batches."""
    os.makedirs(in_dir)
    for i in range(REPLAY_SPLITS):
        a = lo + (hi - lo) * i // REPLAY_SPLITS
        b = lo + (hi - lo) * (i + 1) // REPLAY_SPLITS
        stage = f"{root}/stage{i}"
        (df.filter((key >= a) & (key < b))
           .coalesce(1).write.mode("overwrite").parquet(stage))
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copyfile(part, f"{in_dir}/{i:02d}.parquet")
        time.sleep(0.05)   # strictly increasing mod-times


def _replay(spark, sf_dir: str, name: str):
    """Events as a REPLAY_SPLITS-file parquet fixture (cached) plus
    fresh (state_dir, ckpt_dir); returns (batch_df, streaming_df,
    state_dir, ckpt_dir)."""
    batch = load_table(spark, sf_dir, "events")
    return (batch, *_split_stream(spark, sf_dir, "events4", batch, name))


def _await_drained(q, name: str) -> None:
    """Block until the availableNow replay drains; FAIL LOUDLY otherwise.

    A maintenance replay that times out must surface as an error, never
    publish the partial ``state_v*`` snapshot it happened to reach — the
    reference's collect records the error instead of a wrong result
    (crawler.go:245-253).  ``awaitTermination(t)`` returns False on
    timeout; the previous code discarded that boolean, which is exactly
    the silent-partial-snapshot signature the r07 driver box observed."""
    drained = q.awaitTermination(_AWAIT_S)
    if not drained:
        q.stop()
        raise TimeoutError(
            f"streaming replay '{name}' did not drain within {_AWAIT_S}s; "
            "refusing to read a partial state snapshot")
    exc = q.exception()
    if exc is not None:
        raise RuntimeError(
            f"streaming replay '{name}' terminated with error") from exc


def q_stream_mv_refresh_replay(spark, sf_dir):
    """Replay -> foreachBatch MERGE-maintained per-type view -> final
    snapshot (event_type, n_events, sum_value_cents).

    Self-discriminating by construction (r08 verdict item 1, third
    attempt at the one recurring driver red):

    * the state arithmetic is integer cents (``FLOOR(value*100+0.5)``
      summed as BIGINT, stateful.py) — pure IEEE double ops + integer
      addition that Spark and DuckDB compute bit-identically, replacing
      the family's only double->DECIMAL cast (rounding-mode-sensitive
      on .xx5 ties across engine point-versions);
    * a post-replay SELF-AUDIT: the view's SUM(n) must equal the input
      fixture's row count (every event lands in exactly one snapshot
      merge), else this raises with the state-version ledger and
      per-version totals — so a state-protocol bug surfaces as a
      diagnosable ``err`` in the driver record instead of a bare wrong
      hash (the reference's record-the-error contract,
      crawler.go:245-253).
    """
    batch, stream, state, ckpt = _replay(spark, sf_dir, "mv")
    n_input = batch.count()
    q = stream_mv_refresh(stream, state, ckpt)
    _await_drained(q, "mv_refresh")
    view = _audit_mv_view(spark, state, n_input)
    return view.select("event_type", F.col("n").alias("n_events"),
                       F.col("s").alias("sum_value_cents"))


def _audit_mv_view(spark, state: str, n_input: int):
    """Conservation check on the finalized MV: SUM(n) over the latest
    snapshot must equal the replayed fixture's row count (every event
    contributes to exactly one merge — the monoid-state invariant).  On
    violation, raise carrying the full state-version ledger so the
    failure localizes the faulty merge instead of surfacing as an
    unexplained hash mismatch."""
    view = read_mv_state(spark, state)
    n_view = view.agg(F.sum("n")).collect()[0][0]
    if n_view != n_input:
        from ..streaming.stateful import _state_versions
        ledger = []
        for v in _state_versions(state):
            tot = (spark.read.parquet(f"{state}/state_v{v}")
                   .agg(F.sum("n"), F.sum("s")).collect()[0])
            ledger.append(f"state_v{v}: n={tot[0]} s_cents={tot[1]}")
        raise RuntimeError(
            f"mv_refresh self-audit FAILED: view SUM(n)={n_view} != "
            f"input rows={n_input}; version ledger: {'; '.join(ledger)}")
    return view


def q_stream_decayed_engagement_replay(spark, sf_dir):
    """Replay -> foreachBatch per-user decayed-engagement view with
    ref_day pinned to the corpus max (the deployment contract; the
    historical replay then agrees bit-for-bit with the batch operator)."""
    batch, stream, state, ckpt = _replay(spark, sf_dir, "deng")
    ref_day = batch.agg(F.max(F.expr(
        "CAST(unix_micros(ts) DIV 86400000000 AS INT)"))).collect()[0][0]
    q = stream_decayed_engagement(stream, ref_day, state, ckpt)
    _await_drained(q, "decayed_engagement")
    return decayed_engagement_finalize(read_mv_state(spark, state))


def q_stream_quantile_sketch_replay(spark, sf_dir):
    """Replay -> foreachBatch per-type HDR quantile sketch -> finalized
    percentiles (exactly the batch rollup's output — the mergeable-
    sketch monoid law observed through streaming checkpoints)."""
    _, stream, state, ckpt = _replay(spark, sf_dir, "qsk")
    q = stream_quantile_sketch(stream, state, ckpt)
    _await_drained(q, "quantile_sketch")
    return quantile_sketch_finalize(read_mv_state(spark, state))


def _replay_ordered_docs(spark, sf_dir: str, name: str):
    """Write documents as REPLAY_SPLITS doc_id-range files in
    ASCENDING mod-time order (one file written per range, smallest
    ids first) so the file source's oldest-first replay delivers
    documents in doc_id order across micro-batches — the ordering
    contract stream_windowed_span_dedup's trailing-window eviction
    requires (a production deployment gets the same guarantee from
    its ingest watermark)."""
    docs = load_table(spark, sf_dir, "documents")

    def write(in_dir, root):
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        _write_ranges(docs, F.col("doc_id"), 0, mx + 1, in_dir, root)

    in_dir = _fixture_dir(sf_dir, "docs_ordered", write)
    return (_file_stream(spark, in_dir, docs.schema), *_fresh_state(name))


def q_stream_windowed_span_dedup_replay(spark, sf_dir):
    """Ordered replay -> foreachBatch windowed span dedup -> finalized
    per-doc report (doc_id, n_grams, n_dup_grams, dup_ppm).  The
    oracle is the batch twin over the same documents table (dup iff
    some doc in [d - W, d - 1] shares the gram), so a hash MATCH is
    an end-to-end exactly-once proof of the windowed-history
    semantics through streaming checkpoints."""
    stream, state, ckpt = _replay_ordered_docs(spark, sf_dir, "span")
    q = stream_windowed_span_dedup(stream, state, ckpt)
    _await_drained(q, "windowed_span_dedup")
    return windowed_span_dedup_finalize(spark, state)


def q_stream_windowed_minhash_dedup_replay(spark, sf_dir):
    """Ordered replay -> foreachBatch windowed MinHash-LSH candidate
    flagging -> finalized per-doc report (doc_id,
    is_near_dup_candidate, n_hit_bands).  Candidate-only semantics by
    design (the inline filter stage; the batch verifier runs
    offline); the oracle is the batch twin over the same documents —
    a doc is flagged iff some doc in [d - W, d - 1] shares any band
    bucket under the SAME Carter-Wegman signature family."""
    stream, state, ckpt = _replay_ordered_docs(spark, sf_dir, "mh")
    q = stream_windowed_minhash_dedup(stream, state, ckpt)
    _await_drained(q, "windowed_minhash_dedup")
    return windowed_minhash_dedup_finalize(spark, state)


def q_stream_gdpr_forget_replay(spark, sf_dir):
    """Deletion-request stream replay: the forget set (c_custkey %
    {m} == 0, the batch cascade's fixture) split into REPLAY_SPLITS
    request files -> streaming anti-join maintenance of the per-custkey
    order view -> finalized per-mktsegment retention report.  Deletion
    is a commutative idempotent monoid action, so the finalized view
    is batching-independent and the batch-twin SQL is a full
    exactly-once value proof (the replay family's contract).
    """.format(m=_FORGET)
    from ..streaming.stateful import stream_gdpr_forget

    cust = load_table(spark, sf_dir, "customer")
    requests = (cust.filter(F.col("c_custkey") % _FORGET == 0)
                .select(F.col("c_custkey").alias("fk")))
    stream, state, ckpt = _split_stream(spark, sf_dir, "gdpr_requests",
                                        requests, "gdpr")
    orders = load_table(spark, sf_dir, "orders")
    q = stream_gdpr_forget(stream, orders, state, ckpt)
    _await_drained(q, "gdpr_forget")
    view = read_mv_state(spark, state)
    dim = cust.select("c_custkey", "c_mktsegment")
    return (view.join(F.broadcast(dim),
                      view["o_custkey"] == dim["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_custs"),
                 F.sum("n").alias("n_orders"),
                 F.sum("s").cast("double").alias("sum_total")))


def q_stream_ivf_index_replay(spark, sf_dir):
    """Vector-ingest stream replay: the embeddings table split into
    REPLAY_SPLITS files -> streaming per-cell monoid index maintenance
    against the FROZEN base-trained centroids -> finalized index.  The
    per-cell (n, lanes) state is a commutative monoid, so the
    finalized index is batching-independent and the full-rebuild
    oracle (shared verbatim with ivf_index_delta_refresh) is an
    exactly-once value proof.
    """
    from ..streaming.stateful import stream_ivf_index
    from .similarity import ivf_base_cell_expr, ivf_cell_stats_of

    vecs = load_table(spark, sf_dir, "embeddings")
    stream, state, ckpt = _split_stream(spark, sf_dir, "embeddings4",
                                        vecs, "ivf")
    index_of = ivf_cell_stats_of(ivf_base_cell_expr(spark, sf_dir))
    q = stream_ivf_index(stream, index_of, state, ckpt)
    _await_drained(q, "ivf_index")
    return (read_mv_state(spark, state)
            .select("cell", F.col("n").alias("n_vecs"),
                    F.col("l1").alias("members_lane1"),
                    F.col("l2").alias("members_lane2")))


def q_stream_inverted_index_replay(spark, sf_dir):
    """Document-ingest stream replay -> streaming LEXICAL-index
    maintenance (term-keyed postings merge, the inverted twin of the
    IVF row) -> finalized per-term digest relation.  Batches carry
    disjoint doc sets, so merged == rebuilt bit-for-bit and the batch
    twin's direct-index oracle (inverted_index_delta_refresh's,
    shared verbatim) is a full exactly-once value proof."""
    from ..streaming.stateful import (inverted_index_finalize,
                                      stream_inverted_index)

    stream, state, ckpt = _replay_ordered_docs(spark, sf_dir, "invidx")
    q = stream_inverted_index(stream, state, ckpt)
    _await_drained(q, "inverted_index")
    return inverted_index_finalize(read_mv_state(spark, state))


_MEM_SINK_SEQ = itertools.count(1)


def _drain_to_memory(df, label: str, mode: str, start_conf=None):
    """Run the streaming ``df`` to completion into a fresh memory-sink
    table (availableNow) and return that table.

    ``start_conf`` holds session confs the query needs: a query copies
    the session conf when it starts, so they are set around ``start()``
    only and restored before the query runs."""
    name = f"sgraft_{label}_replay_{next(_MEM_SINK_SEQ)}"
    conf = df.sparkSession.conf
    prev = {k: conf.get(k) for k in start_conf or {}}
    for k, v in (start_conf or {}).items():
        conf.set(k, v)
    try:
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode(mode).trigger(availableNow=True).start())
    finally:
        for k, v in prev.items():
            conf.set(k, v)
    _await_drained(q, label)
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def _replay_ordered_events(spark, sf_dir: str, name: str):
    """Events as REPLAY_SPLITS ts-range files in ascending mod-time
    order — the watermark contract (a later micro-batch never carries
    events older than watermark; production ingest guarantees the same
    or late rows are correctly dropped).  A random file split would
    scatter old events into late batches where the 2h watermark drops
    them — a replay-fixture artifact, not operator behavior."""
    ev = load_table(spark, sf_dir, "events")

    def write(in_dir, root):
        us = F.unix_micros("ts")
        lo_hi = ev.agg(F.min(us).alias("lo"), F.max(us).alias("hi")) \
                  .collect()[0]
        _write_ranges(ev, us, lo_hi.lo, lo_hi.hi + 1, in_dir, root)

    in_dir = _fixture_dir(sf_dir, "events_ordered", write)
    return _file_stream(spark, in_dir, ev.schema)


def q_stream_sessionize_replay(spark, sf_dir):
    """Time-ordered replay -> NATIVE session windows (session_window
    gap-close semantics, the streaming-stateful operator family — not
    a foreachBatch monoid) -> finalized per-session rows.  Complete
    output mode over an availableNow replay emits the final merged
    session set; sessions are a pure function of the event data (gap
    <= 30 min closure), so the batch-SQL oracle is a full value proof
    that micro-batch session MERGING (a session can span replay
    files) converged to the batch answer.  Session value sums ride in
    exact DECIMAL(18,2), making the hash independent of merge order.
    """
    stream = _replay_ordered_events(spark, sf_dir, "sess")
    from ..streaming.sessions import stream_sessionize

    return _drain_to_memory(stream_sessionize(stream), "sessionize",
                            "complete")


def q_stream_anomaly_scoring_replay(spark, sf_dir):
    """Replay -> STATELESS streaming scorer (stream_anomaly_scoring:
    batch-trained (type, dow, hour) baselines broadcast onto the
    stream, 3-sigma verdict row-local) -> the full scored relation.
    No state and no watermark, so the scored stream is trivially
    batching-independent — the row proves the deploy-time contract
    (train offline, score online, bit-identical to the batch
    operator) end to end under the driver's value hash.
    """
    from ..operators.features import seasonal_baseline
    from ..streaming.stateful import stream_anomaly_scoring

    batch, stream, _, _ = _replay(spark, sf_dir, "anom")
    cell_means, var_t = seasonal_baseline(batch)
    return _drain_to_memory(stream_anomaly_scoring(stream, cell_means,
                                                   var_t),
                            "anomaly_scoring", "append")


def q_stream_trending_topk_replay(spark, sf_dir):
    """Replay -> watermarked TUMBLING-window counts (native streaming
    windowed aggregation, complete mode) -> batch-side top-3 finalize
    (trending_topk_finalize — ranking is not expressible on an open
    stream; the split contract of stream_trending_counts).  Tumbling
    counts are a pure per-(window, type) function of the events, so
    the batch twin is a full exactly-once value proof that windowed
    aggregation state survives micro-batch boundaries.
    """
    from ..streaming.sessions import (stream_trending_counts,
                                      trending_topk_finalize)

    # time-ordered replay: complete mode keeps all aggregate state (no
    # watermark eviction), but ordered files make the row independent
    # of any engine-version lateness policy — same insurance as the
    # session replay.
    stream = _replay_ordered_events(spark, sf_dir, "trend")
    return trending_topk_finalize(_drain_to_memory(
        stream_trending_counts(stream), "trending_counts", "complete"))


def q_stream_decontam_bloom_replay(spark, sf_dir):
    """EVAL-SET-ingest stream replay (r09 verdict item 3 — the
    inline-filter family's missing streaming sibling): the eval
    documents (doc_id % EVAL_MOD == 0, the batch decontaminator's
    fixture) split into REPLAY_SPLITS files -> streaming bloom-filter
    maintenance (per-batch partial (slot, word) bitmaps bit_or-merged
    under the versioned-snapshot protocol) -> the finalized filter
    probes the TRAIN corpus with the batch twin's exact probe stage.
    ``bit_or`` is a commutative IDEMPOTENT monoid, so the finalized
    filter — and therefore the report — is independent of micro-batch
    boundaries and of replays; the oracle is text_contamination_bloom's
    SQL verbatim, making a hash MATCH an end-to-end exactly-once proof
    of ingest-time decontamination.
    """
    from ..streaming.stateful import stream_bloom_build
    from .text import bloom_partial

    stream, state, ckpt = _bloom_stream(spark, sf_dir)
    q = stream_bloom_build(stream, bloom_partial, state, ckpt)
    _await_drained(q, "decontam_bloom")
    return _bloom_finalize(spark, sf_dir, state)


def _bloom_stream(spark, sf_dir):
    """(stream, state, ckpt) for the eval-set bloom ingest — split out
    so the restart-recovery test (tests/test_streaming_restart.py) can
    kill and resume the same query the replay row runs."""
    from .text import EVAL_MOD

    docs = load_table(spark, sf_dir, "documents")
    return _split_stream(spark, sf_dir, "docs_eval4",
                         docs.filter(F.col("doc_id") % EVAL_MOD == 0),
                         "bloom")


def _bloom_finalize(spark, sf_dir, state):
    from .text import bloom_probe_report

    bloom = read_mv_state(spark, state)
    return bloom_probe_report(spark, sf_dir, bloom)


def q_stream_cdc_merge_replay(spark, sf_dir):
    """CDC-changelog stream replay: the deterministic changelog
    (maintenance.cdc_changelog, the batch MERGE's derivation verbatim)
    split into REPLAY_SPLITS files -> streaming per-key winner
    maintenance (max(struct(seq, op, payload)) — a commutative
    IDEMPOTENT monoid, so the finalized winner set is independent of
    micro-batch boundaries and replays) -> ONE final merge into the
    base orders table with the batch twin's join + delete filter.
    Oracle = cdc_merge_apply's SQL verbatim: a hash MATCH proves
    exactly-once last-writer-wins ingestion through streaming
    checkpoints.
    """
    from ..streaming.stateful import stream_cdc_merge

    stream, state, ckpt = _cdc_stream(spark, sf_dir)
    q = stream_cdc_merge(stream, state, ckpt)
    _await_drained(q, "cdc_merge")
    return _cdc_finalize(spark, sf_dir, state)


def _cdc_stream(spark, sf_dir):
    """(stream, state, ckpt) for the CDC changelog ingest — split out
    for the restart-recovery test."""
    from .maintenance import cdc_changelog

    return _split_stream(spark, sf_dir, "cdc_log4",
                         cdc_changelog(spark, sf_dir), "cdc")


def _cdc_finalize(spark, sf_dir, state):
    from .maintenance import cdc_apply_winners

    win = (read_mv_state(spark, state)
           .select("k", "w.op", "w.price", "w.status"))
    return cdc_apply_winners(spark, sf_dir, win)


SSJOIN_WINDOW_H = 4     # view->purchase attribution window (hours)
SSJOIN_WATERMARK = "6 hours"   # > join window, so no state is evicted
#                                before its matches can still arrive


def q_stream_stream_join_replay(spark, sf_dir):
    """STREAM-STREAM interval join — the Structured Streaming operator
    class none of the other replays cover (they are stream-batch or
    foreachBatch-stateful): purchases and views are two watermarked
    branches of the same time-ordered event replay, inner-joined on
    user with v_ts in [p_ts - {W}h, p_ts], append mode.

    Both sides buffer in join STATE until the watermark passes their
    match horizon; the 6h watermark strictly exceeds the 4h join
    window, so with time-ordered delivery (the _replay_ordered_events
    contract) no row is evicted while a future match could exist —
    making the batch interval join an exact value oracle, and a green
    row an end-to-end proof of watermarked join-state retention and
    cleanup across micro-batches.

    Scale: state is bounded by rows-per-watermark-horizon (6h of
    stream), not stream length; the join keys shuffle by user_id.
    Output gap rides as BIGINT epoch-micro difference (TZ-exact in
    both engines).
    """
    stream = _replay_ordered_events(spark, sf_dir, "ssjoin")
    p = (stream.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("p_id"), "user_id",
                 F.col("ts").alias("p_ts"))
         .withWatermark("p_ts", SSJOIN_WATERMARK))
    v = (stream.filter(F.col("event_type") == "view")
         .select(F.col("event_id").alias("v_id"),
                 F.col("user_id").alias("v_user"),
                 F.col("ts").alias("v_ts"))
         .withWatermark("v_ts", SSJOIN_WATERMARK))
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts")
           - F.expr(f"INTERVAL {SSJOIN_WINDOW_H} HOURS")),
        "inner")
    out = joined.select(
        "p_id", "v_id", "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"))
    # Skip the trailing NO-DATA micro-batch (r12, guide §1/§7 measured:
    # recentProgress showed a 5th batch with rows_in=0 whose only work
    # is state eviction — 0.9-2s of 32 state-store commits).  For an
    # INNER join in append mode every output row is emitted in the data
    # batch that completes the match, and watermark eviction is still
    # exercised across data batches 1-3 (numRowsTotal holds ~10.5k
    # while ~10k rows/batch insert), so the finalized result is
    # byte-identical (1455 rows at sf0.1 in both configs); the query
    # terminates right after the drain, so the skipped eviction freed
    # no memory anyone uses.  Set for this query's start only — an
    # OUTER stream-stream join (or any watermark-completed emission)
    # must keep no-data batches on.
    return _drain_to_memory(
        out, "stream_stream_join", "append",
        {"spark.sql.streaming.noDataMicroBatches.enabled": "false"})


def q_stream_psi_drift_replay(spark, sf_dir):
    """Streaming twin of feat_psi_drift — the deploy-time shape of a
    drift monitor: the REFERENCE bins + counts are frozen at
    calibration time (batch pass over the first half of the event-time
    range), and only the CURRENT window streams — each micro-batch
    merges (event_type, bucket) cell counts through the count-monoid
    versioned-snapshot state (stream_cell_counts; idempotent retries =
    exactly-once counts), and the finalize feeds the frozen reference
    and the streamed histogram through the SAME psi_finalize the batch
    op uses.  Oracle = feat_psi_drift's SQL VERBATIM, so a green row
    is an end-to-end proof that ingest-time drift monitoring equals
    the batch recomputation bit-for-bit.

    A conservation self-audit (sum of streamed cell counts == the
    fixture's bucketized current-row count) raises with the state
    ledger instead of publishing a wrong histogram
    (crawler.go:245-253's record-the-error contract).
    """
    from ..streaming.stateful import read_mv_state, stream_cell_counts
    from .features import PSI_BUCKETS, psi_finalize

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("et"),
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"))
    rng = base.agg(F.min("us"), F.max("us")).collect()[0]
    mid = rng[0] + (rng[1] - rng[0]) // 2    # bounded scalar collect

    refstat = (base.filter(F.col("us") < mid).groupBy("et")
               .agg(F.min("c").alias("lo_c"), F.max("c").alias("hi_c"),
                    F.count(F.lit(1)).alias("tp")))
    bkt = F.least(
        F.lit(PSI_BUCKETS - 1),
        F.greatest(F.lit(0), F.expr(
            f"((c - lo_c) * {PSI_BUCKETS}) DIV (hi_c - lo_c + 1)")))
    refcnt = (base.filter(F.col("us") < mid)
              .join(F.broadcast(refstat.select("et", "lo_c", "hi_c")), "et")
              .withColumn("b", bkt.cast("long"))
              .groupBy("et", "b").agg(F.count(F.lit(1)).alias("cp")))

    stream = _replay_ordered_events(spark, sf_dir, "psi")
    cur_cells = (stream
                 .select(F.col("event_type").alias("et"),
                         F.unix_micros("ts").alias("us"),
                         F.floor(F.col("value") * 100 + F.lit(0.5))
                         .cast("long").alias("c"))
                 .filter(F.col("us") >= mid)
                 .join(F.broadcast(refstat.select("et", "lo_c", "hi_c")),
                       "et")
                 .select(F.col("et").alias("k1"),
                         bkt.cast("long").alias("k2")))
    state, ckpt = _fresh_state("psi")
    q = stream_cell_counts(cur_cells, state, ckpt)
    _await_drained(q, "psi_drift")

    cq = (read_mv_state(spark, state)
          .select(F.col("k1").alias("et"), F.col("k2").alias("b"),
                  F.col("n").alias("cq")))
    streamed = cq.agg(F.sum("cq")).collect()[0][0] or 0
    expected = (base.filter(F.col("us") >= mid)
                .join(refstat.select("et"), "et").count())
    if streamed != expected:
        raise RuntimeError(
            f"streamed cell counts {streamed} != fixture current rows "
            f"{expected} — state merge lost or double-counted a batch")

    counts = (refcnt.join(cq, ["et", "b"], "full_outer")
              .select("et", "b",
                      F.coalesce("cp", F.lit(0)).alias("cp"),
                      F.coalesce("cq", F.lit(0)).alias("cq")))
    curtot = cq.groupBy("et").agg(F.sum("cq").alias("tq"))
    return psi_finalize(refstat.join(curtot, "et", "left"), counts)


QUERIES = {
    "stream_psi_drift_replay": q_stream_psi_drift_replay,
    "stream_stream_join_replay": q_stream_stream_join_replay,
    "stream_cdc_merge_replay": q_stream_cdc_merge_replay,
    "stream_decontam_bloom_replay": q_stream_decontam_bloom_replay,
    "stream_trending_topk_replay": q_stream_trending_topk_replay,
    "stream_anomaly_scoring_replay": q_stream_anomaly_scoring_replay,
    "stream_sessionize_replay": q_stream_sessionize_replay,
    "stream_ivf_index_replay": q_stream_ivf_index_replay,
    "stream_inverted_index_replay": q_stream_inverted_index_replay,
    "stream_gdpr_forget_replay": q_stream_gdpr_forget_replay,
    "stream_windowed_span_dedup_replay":
        q_stream_windowed_span_dedup_replay,
    "stream_minhash_dedup_replay":
        q_stream_windowed_minhash_dedup_replay,
    "stream_mv_refresh_replay": q_stream_mv_refresh_replay,
    "stream_decayed_engagement_replay": q_stream_decayed_engagement_replay,
    "stream_quantile_sketch_replay": q_stream_quantile_sketch_replay,
}

def _span_oracle() -> str:
    from ..operators.dedup import SPAN_N
    return f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
        g AS (SELECT doc_id,
                     md5(array_to_string(w[i:i+{SPAN_N - 1}], ' ')) AS gm
              FROM d, unnest(generate_series(1, len(w) - {SPAN_N - 1}))
                       AS t(i)
              WHERE len(w) >= {SPAN_N}),
        post AS (SELECT DISTINCT doc_id, gm FROM g),
        dup AS (SELECT o.doc_id, COUNT(*) AS n_dup_grams
                FROM g o
                WHERE EXISTS (SELECT 1 FROM post h
                              WHERE h.gm = o.gm
                                AND h.doc_id < o.doc_id
                                AND h.doc_id >= o.doc_id
                                               - {SPAN_WIN_DOCS})
                GROUP BY 1),
        base AS (SELECT doc_id, COUNT(*)::BIGINT AS n_grams
                 FROM g GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(base.n_grams, 0)::BIGINT AS n_grams,
               COALESCE(dup.n_dup_grams, 0)::BIGINT AS n_dup_grams,
               (COALESCE(dup.n_dup_grams, 0) * 1000000
                // greatest(COALESCE(base.n_grams, 0), 1))::BIGINT
                   AS dup_ppm
        FROM d LEFT JOIN base USING (doc_id)
               LEFT JOIN dup USING (doc_id)
    """


def _minhash_window_oracle() -> str:
    """Batch twin of the windowed MinHash candidate flagging: the
    dedup family's signature CTEs (_minhash_sig_ctes), band keys as a
    UNION ALL over the materialized signature, and the trailing-window
    EXISTS."""
    from ..operators.dedup import LSH_BANDS, MINHASH_K, _minhash_sig_ctes
    r = MINHASH_K // LSH_BANDS
    band_branches = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"h{b * r + j}" for j in range(r))
        + ")) AS bucket FROM sig"
        for b in range(LSH_BANDS))
    return "WITH " + _minhash_sig_ctes() + f""",
        bands AS MATERIALIZED ({band_branches}),
        hits AS (SELECT o.doc_id,
                        COUNT(DISTINCT o.band)::BIGINT AS n_hit_bands
                 FROM bands o
                 WHERE EXISTS (SELECT 1 FROM bands h
                               WHERE h.band = o.band
                                 AND h.bucket = o.bucket
                                 AND h.doc_id < o.doc_id
                                 AND h.doc_id >= o.doc_id
                                                - {SPAN_WIN_DOCS})
                 GROUP BY 1)
        SELECT d.doc_id,
               (CASE WHEN hits.doc_id IS NULL THEN 0 ELSE 1 END)::INT
                   AS is_near_dup_candidate,
               COALESCE(hits.n_hit_bands, 0)::BIGINT AS n_hit_bands
        FROM d LEFT JOIN hits USING (doc_id)
    """


ORACLE = {
    # the batch twin of the watermarked stream-stream interval join:
    # plain interval self-join on the events table (gap as epoch-micro
    # BIGINT, TZ-exact in both engines)
    "stream_stream_join_replay": f"""
        SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id,
               (epoch_us(p.ts) - epoch_us(v.ts))::BIGINT AS gap_us
        FROM events p JOIN events v
          ON v.user_id = p.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts <= p.ts
         AND v.ts >= p.ts - INTERVAL {SSJOIN_WINDOW_H} HOUR
    """,
    # the batch twin of the streaming forget cascade: retained ==
    # predicate-filtered join, independent of request batching
    "stream_gdpr_forget_replay": f"""
        SELECT c_mktsegment, COUNT(DISTINCT o_custkey)::BIGINT
                   AS n_custs,
               COUNT(*)::BIGINT AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS sum_total
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey % {_FORGET} <> 0
        GROUP BY 1
    """,
    # the batch twin of the windowed streaming span dedup
    "stream_windowed_span_dedup_replay": _span_oracle(),
    # the batch twin of the windowed MinHash candidate flagging
    "stream_minhash_dedup_replay": _minhash_window_oracle(),
    # the batch twin of stream_mv_refresh (maintenance MV semantics);
    # integer-cents quantization (FLOOR(v*100+0.5)) is pure IEEE double
    # arithmetic + BIGINT sum — bit-identical across engines, unlike a
    # double->DECIMAL cast whose tie rounding is engine-version-specific
    "stream_mv_refresh_replay": """
        SELECT event_type, COUNT(*)::BIGINT AS n_events,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))::BIGINT
                   AS sum_value_cents
        FROM events GROUP BY 1
    """,
    # the batch twins' oracles, verbatim
    "stream_decayed_engagement_replay": _decayed_engagement_oracle(),
    "stream_quantile_sketch_replay": _SCALE_ORACLE["quantile_sketch_rollup"],
}

# exactly-once proof: the streaming index over ALL vectors equals the
# batch delta-refresh output (both maintain base ∪ delta), whose oracle
# rebuilds the index over the full corpus directly.
from .similarity import ORACLE as _SIM_ORACLE  # noqa: E402

ORACLE["stream_ivf_index_replay"] = _SIM_ORACLE["ivf_index_delta_refresh"]

# the lexical twin: the streaming index over ALL documents equals the
# batch delta-refresh output, whose oracle indexes the corpus directly
from .maintenance import ORACLE as _MAINT_ORACLE  # noqa: E402

ORACLE["stream_inverted_index_replay"] = \
    _MAINT_ORACLE["inverted_index_delta_refresh"]

# the ingest-time bloom build equals the batch build (bit_or monoid),
# so the batch decontaminator's oracle is shared verbatim — a hash
# MATCH proves the streamed filter bit-for-bit
from .text import ORACLE as _TEXT_ORACLE  # noqa: E402

ORACLE["stream_decontam_bloom_replay"] = \
    _TEXT_ORACLE["text_contamination_bloom"]

# the streamed per-key winner equals the batch MERGE's (idempotent
# max monoid), so the batch twin's oracle is shared verbatim
ORACLE["stream_cdc_merge_replay"] = _MAINT_ORACLE["cdc_merge_apply"]

# the batch twin of native session windows: gap<=30min closure, end =
# last event + gap, DECIMAL-exact session sums
ORACLE["stream_sessionize_replay"] = """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
    s AS (SELECT user_id, us, value,
                 CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                              ORDER BY us)
                           > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM e),
    g AS (SELECT user_id, us, value,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS sid
          FROM s)
    SELECT user_id, MIN(us)::BIGINT AS start_us,
           (MAX(us) + 1800000000)::BIGINT AS end_us,
           COUNT(*)::BIGINT AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM g GROUP BY user_id, sid
"""

# the batch-trained baseline scored over ALL events (the batch
# operator's oracle without its anomaly filter, plus the flag and the
# left-join null contract for unseen cells)
ORACLE["stream_anomaly_scoring_replay"] = """
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
               AS resid_e6,
           COALESCE((CAST(b.v AS DOUBLE) - c.m_b)
                    * (CAST(b.v AS DOUBLE) - c.m_b)
                    > 9.0 * t.var_r, FALSE) AS is_anomaly
    FROM base b
    LEFT JOIN cstats c USING (event_type, dow, hour)
    LEFT JOIN var_t t USING (event_type)
"""

# the batch twin: epoch-aligned tumbling counts + deterministic top-3
ORACLE["stream_trending_topk_replay"] = """
    WITH c AS (
        SELECT (epoch_us(ts) // 3600000000) * 3600000000
                   AS win_start_us,
               event_type, COUNT(*)::BIGINT AS n_events
        FROM events GROUP BY 1, 2),
    r AS (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY win_start_us
              ORDER BY n_events DESC, event_type)::INT AS rnk
          FROM c)
    SELECT win_start_us, event_type, n_events, rnk
    FROM r WHERE rnk <= 3
"""

from .features import ORACLE as _FEAT_ORACLE  # noqa: E402

# streamed current-window histogram == batch recomputation, so the
# batch PSI oracle is the streaming row's oracle VERBATIM
ORACLE["stream_psi_drift_replay"] = _FEAT_ORACLE["feat_psi_drift"]
