"""Structured Streaming surface: drive the streaming operators through a
real file-source stream (availableNow trigger, memory sink) and check
parity against the equivalent batch computation on the same data."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from go_mapreduce_crawler_spark.sources.tables import load_table
from go_mapreduce_crawler_spark.streaming import (
    stream_dedup, stream_running_totals, stream_sessionize,
    stream_stream_purchase_view_join, stream_to_parquet,
    stream_windowed_counts)


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    """events sf0.001 written as a small parquet directory to stream from."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, "/root/testdata/sf0.001", "events") \
        .repartition(4).write.mode("overwrite").parquet(d)
    return d


def _run_stream(spark, df, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_counts_stream_matches_batch(spark, event_stream_dir):
    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema)
                     .parquet(event_stream_dir))
    got = _run_stream(spark, stream_windowed_counts(stream_events), "win_counts")

    expected = (batch_events
                .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events")))
    g = {(r.win_start_us, r.event_type): r.n_events for r in got.collect()}
    e = {(int(r.win.start.timestamp() * 1_000_000), r.event_type): r.n_events
         for r in expected.collect()}
    assert g == e


def test_sessionize_stream_matches_batch_session_window(spark, event_stream_dir):
    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema)
                     .parquet(event_stream_dir))
    got = _run_stream(spark, stream_sessionize(stream_events), "sessions")

    expected = (batch_events
                .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
                .agg(F.count(F.lit(1)).alias("n_events")))
    g = {(r.user_id, r.start_us): r.n_events for r in got.collect()}
    e = {(r.user_id, int(r.sw.start.timestamp() * 1_000_000)): r.n_events
         for r in expected.collect()}
    assert g == e
    assert sum(g.values()) == batch_events.count()


def test_stateful_running_totals_accumulate_across_batches(spark, event_stream_dir):
    """applyInPandasWithState: state must survive micro-batch boundaries —
    maxFilesPerTrigger=1 forces 4 batches; the max running count per user
    must equal the batch groupBy count."""
    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema)
                     .option("maxFilesPerTrigger", "1")
                     .parquet(event_stream_dir))
    out = stream_running_totals(stream_events)
    q = (out.writeStream.format("memory").queryName("running_totals")
         .outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql("SELECT user_id, MAX(n_events) AS n "
                     "FROM running_totals GROUP BY user_id"))
    g = {r.user_id: r.n for r in got.collect()}
    e = {r.user_id: r["count"] for r in
         batch_events.groupBy("user_id").count().collect()}
    assert g == e
    # more than one update row per user proves multi-batch state carry
    n_updates = spark.sql("SELECT COUNT(*) c FROM running_totals").collect()[0].c
    assert n_updates > len(e)


def test_stream_dedup_first_arrival_wins(spark, event_stream_dir, tmp_path):
    """Watermarked dropDuplicates over a key column with injected dups."""
    batch_events = spark.read.parquet(event_stream_dir)
    dup_dir = str(tmp_path / "dup_events")
    batch_events.union(batch_events.limit(200)).repartition(4) \
        .write.mode("overwrite").parquet(dup_dir)
    dups = spark.read.parquet(dup_dir)
    stream_events = spark.readStream.schema(dups.schema).parquet(dup_dir)
    got = _run_stream_append(spark, stream_dedup(stream_events), "deduped")
    assert got.count() == dups.select("event_id").distinct().count()


def test_stream_parquet_sink_roundtrip(spark, event_stream_dir, tmp_path):
    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema).parquet(event_stream_dir))
    q = stream_to_parquet(stream_events.filter(F.col("event_type") == "click"),
                          str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == batch_events.filter(F.col("event_type") == "click").count()


def _run_stream_append(spark, df, name):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_stream_join_matches_batch(spark, event_stream_dir):
    """Stream-stream interval join (purchase x prior views within 1h)
    must produce exactly the batch join's pairs."""
    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema).parquet(event_stream_dir))
    got = _run_stream_append(
        spark, stream_stream_purchase_view_join(stream_events), "ssj")

    v = batch_events.filter(F.col("event_type") == "view") \
        .select(F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"))
    p = batch_events.filter(F.col("event_type") == "purchase") \
        .select(F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"))
    expected = (p.join(v, (F.col("p_user") == F.col("v_user"))
                       & (F.col("v_ts") <= F.col("p_ts"))
                       & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")))
                .select("purchase_id", "view_id"))
    g = {(r.purchase_id, r.view_id) for r in got.collect()}
    e = {(r.purchase_id, r.view_id) for r in expected.collect()}
    assert g == e and len(g) > 0


def test_session_window_agrees_with_batch_lag_formulation(spark):
    """The native session_window and the lag/cumsum batch formulation
    (relational.q_sessionize) must produce the same session count."""
    from go_mapreduce_crawler_spark.operators.relational import q_sessionize
    sf = "/root/testdata/sf0.001"
    lag_sessions = q_sessionize(spark, sf).count()
    sw_sessions = (load_table(spark, sf, "events")
                   .groupBy(F.session_window("ts", "30 minutes"), "user_id")
                   .count().count())
    assert lag_sessions == sw_sessions


def test_stream_static_enrich_matches_batch(spark, event_stream_dir, sf_small):
    """Stream-static broadcast enrichment must equal the batch left join
    (including events whose user has no dimension row)."""
    from go_mapreduce_crawler_spark.streaming.stateful import stream_enrich_static
    from go_mapreduce_crawler_spark.sources.tables import load_table

    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema).parquet(event_stream_dir))
    dim = load_table(spark, sf_small, "customer")
    got = _run_stream_append(spark, stream_enrich_static(stream_events, dim),
                             "sse")
    expected = stream_enrich_static(batch_events, dim)
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e and len(g) > 0
    # left-join semantics: unmatched events survive with null segment
    assert any(r[4] is None for r in g) or all(r[4] is not None for r in g)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics pinned: a row older than the watermark at the
    time its micro-batch runs must NOT enter its (already finalized)
    window.  Two availableNow runs over one checkpoint = two
    micro-batches; the watermark persists in the checkpoint between
    them."""
    import datetime as dt
    src, ckpt, out = (str(tmp_path / "src"), str(tmp_path / "ckpt"),
                      str(tmp_path / "out"))
    schema = "ts timestamp, user_id long, event_type string, value double"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.mode("append").parquet(src)

    def run():
        events = spark.readStream.schema(schema).parquet(src)
        q = (stream_windowed_counts(events, window="5 minutes",
                                    watermark="10 minutes")
             .writeStream.format("parquet").option("path", out)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    write_batch([(t(10, 0), 1, "view", 1.0), (t(10, 2), 2, "view", 1.0),
                 (t(12, 0), 3, "view", 1.0)])
    run()
    # second batch: one row 2h older than the checkpointed watermark
    # (11:50) plus one fresh row to advance it further
    write_batch([(t(10, 1), 4, "view", 1.0), (t(12, 30), 5, "view", 1.0)])
    run()

    emitted = spark.read.parquet(out).collect()
    win_10 = [r for r in emitted
              if r.win_start_us == int(t(10, 0).timestamp() * 1_000_000)]
    assert len(win_10) == 1, win_10
    # 2 on-time rows counted; the late 10:01 row was dropped (3 = leak)
    assert win_10[0].n_events == 2, win_10


def test_stream_gap_fill_matches_batch_locf(spark, tmp_path):
    """Feed events as 4 time-ordered micro-batches; the last emission per
    (user, bucket) must equal the batch LOCF resample on the same data —
    including fills that span micro-batch boundaries (state carry)."""
    import time

    from pyspark.sql import Window
    from go_mapreduce_crawler_spark.operators.temporal import q_ts_resample_ffill
    from go_mapreduce_crawler_spark.streaming import stream_gap_fill

    base = load_table(spark, "/root/testdata/sf0.001", "events")
    quart = base.withColumn(
        "q", F.ntile(4).over(Window.orderBy("ts", "event_id")))
    src = tmp_path / "gapfill_src"
    src.mkdir()
    # one file per time-quartile, written sequentially so the file
    # source's mod-time ordering replays them in event-time order
    for i in range(1, 5):
        part = quart.filter(F.col("q") == i).drop("q").coalesce(1)
        part.write.mode("overwrite").parquet(str(tmp_path / f"stage{i}"))
        pq = next((tmp_path / f"stage{i}").glob("*.parquet"))
        (src / f"{i:02d}.parquet").write_bytes(pq.read_bytes())
        time.sleep(0.1)

    stream_events = (spark.readStream.schema(base.schema)
                     .option("maxFilesPerTrigger", "1").parquet(str(src)))
    out = stream_gap_fill(stream_events)
    q = (out.writeStream.format("memory").queryName("gap_fill")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("""
        SELECT user_id, bucket_us, value_ffill, is_gap FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bucket_us
                                         ORDER BY seq DESC) rn
            FROM gap_fill) WHERE rn = 1""")
    got_rows = sorted(map(tuple, got.collect()))

    import go_mapreduce_crawler_spark.operators.temporal as tmp_mod
    orig = tmp_mod.load_table
    try:
        tmp_mod.load_table = lambda s, d, t: base
        exp_rows = sorted(map(tuple, q_ts_resample_ffill(spark, "x").collect()))
    finally:
        tmp_mod.load_table = orig
    assert got_rows == exp_rows


def test_crawl_stream_source_tails_new_files(spark, tmp_path):
    """The crawl data source's streaming face: readStream.format("crawl")
    emits each file exactly once as it appears in the tree (offset = the
    checkpointed seen-set), across micro-batches."""
    import json as _json
    import os
    import time

    from pyspark.sql import functions as F

    from go_mapreduce_crawler_spark.sources.crawl_source import CrawlDataSource

    spark.dataSource.register(CrawlDataSource)
    root = str(tmp_path / "drop")
    os.makedirs(f"{root}/a", exist_ok=True)
    for i in range(3):
        _json.dump({"data": i}, open(f"{root}/a/w1_{i}.json", "w"))

    df = spark.readStream.format("crawl").option("path", root).load()
    q = (df.writeStream.format("memory").queryName("crawl_tail")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 second").start())
    try:
        deadline = time.monotonic() + 90
        while (spark.table("crawl_tail").count() < 3
               and time.monotonic() < deadline):
            time.sleep(0.5)
        assert spark.table("crawl_tail").count() == 3
        # second wave, nested deeper — only the NEW files arrive
        os.makedirs(f"{root}/a/b", exist_ok=True)
        for i in range(2):
            _json.dump({"data": 10 + i}, open(f"{root}/a/b/w2_{i}.json", "w"))
        while (spark.table("crawl_tail").count() < 5
               and time.monotonic() < deadline):
            time.sleep(0.5)
        got = spark.table("crawl_tail")
        assert got.count() == 5          # exactly once, no re-emits
        total = (got.select(F.get_json_object(F.col("content").cast("string"),
                                              "$.data").cast("long").alias("v"))
                 .agg(F.sum("v")).collect()[0][0])
        assert total == 0 + 1 + 2 + 10 + 11
        assert got.filter(F.col("error").isNotNull()).count() == 0
    finally:
        q.stop()


def test_crawl_stream_sink_writes_sealed_batches(spark, tmp_path):
    """writeStream.format("crawl"): each micro-batch lands as a JSON-file-
    per-row tree (the reference's data model) sealed by a _SUCCESS
    manifest, via the writable FS seam — and the batch crawler reads the
    result back to the same sum."""
    import json as _json
    import os
    import time

    from pyspark.sql import functions as F

    from go_mapreduce_crawler_spark.sources.crawl_source import CrawlDataSource

    spark.dataSource.register(CrawlDataSource)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i in range(5):
        _json.dump({"data": i}, open(f"{src}/{i}.json", "w"))
    out = str(tmp_path / "out")

    df = (spark.readStream.format("crawl").option("path", src).load()
          .select(F.get_json_object(F.col("content").cast("string"), "$.data")
                   .cast("long").alias("data")))
    q = (df.writeStream.format("crawl").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    batches = [d for d in os.listdir(out) if d.startswith("batch=")]
    assert batches, os.listdir(out)
    sealed = [d for d in batches
              if os.path.exists(f"{out}/{d}/_SUCCESS")]
    assert sealed == batches
    # crawl the sink output back: sum must round-trip
    from pyspark.sql import types as T
    from go_mapreduce_crawler_spark.crawler import Crawler
    res = Crawler(spark).collect(
        out, T.StructType([T.StructField("data", T.LongType())]))
    # _SUCCESS manifests are corrupt records for the JSON reader; data
    # files must round-trip the sum exactly
    assert res.value == {"data_sum": 10}
    assert res.n_files - res.n_corrupt == 5


def test_foreachbatch_mv_refresh_equals_from_scratch(spark, event_stream_dir,
                                                     tmp_path):
    """The foreachBatch-maintained view after 4 micro-batches must equal
    the from-scratch batch aggregate bit-for-bit (count + integer-cents
    sum are commutative monoids), and only the latest + predecessor
    snapshots may remain on disk."""
    import glob

    from go_mapreduce_crawler_spark.streaming import (read_mv_state,
                                                      stream_mv_refresh)

    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema)
                     .option("maxFilesPerTrigger", "1")
                     .parquet(event_stream_dir))
    state_dir = str(tmp_path / "mv_state")
    q = stream_mv_refresh(stream_events, state_dir,
                          str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {(r.event_type): (r.n, r.s)
           for r in read_mv_state(spark, state_dir).collect()}
    exp = {r.event_type: (r.n, r.s) for r in
           batch_events.groupBy("event_type").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
               .alias("s"))
           .collect()}
    assert got == exp
    assert len(glob.glob(f"{state_dir}/state_v*")) <= 2


def test_crawl_stream_restart_resumes_exactly_once(spark, tmp_path):
    """Kill-and-restart resilience: a crawl-source stream stopped after
    draining its first wave must resume from the CHECKPOINTED seen-set —
    pre-stop files never re-emit, files dropped while the stream was
    down arrive exactly once after restart."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from go_mapreduce_crawler_spark.sources.crawl_source import CrawlDataSource

    spark.dataSource.register(CrawlDataSource)
    root = str(tmp_path / "drop")
    os.makedirs(root, exist_ok=True)
    for i in range(3):
        _json.dump({"data": i}, open(f"{root}/f{i}.json", "w"))
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_once():
        df = spark.readStream.format("crawl").option("path", root).load()
        q = (df.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ck)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(out)

    assert run_once().count() == 3

    # stream is DOWN; two more files land
    for i in (10, 11):
        _json.dump({"data": i}, open(f"{root}/g{i}.json", "w"))

    second = run_once()
    vals = sorted(r[0] for r in second.select(
        F.get_json_object(F.col("content").cast("string"), "$.data")
         .cast("long")).collect())
    # all five exactly once: pre-stop files never re-emitted, files
    # dropped while down arrived on restart
    assert vals == [0, 1, 2, 10, 11], vals


def test_crawl_stream_settle_mode_defers_unstable_files(tmp_path):
    """With .option('settle', 'true') an unseen file is admitted only
    after its (size, mtime) fingerprint repeats across two listings: a
    file growing between micro-batches stays pending (no partial-content
    emission); once stable for one interval it surfaces exactly once."""
    import os

    from go_mapreduce_crawler_spark.sources.crawl_source import (
        CrawlStreamReader)

    root = str(tmp_path)
    reader = CrawlStreamReader({"path": root, "settle": "true"})

    p = os.path.join(root, "grow.json")
    with open(p, "w") as f:
        f.write('{"data": 1')                     # mid-write: partial
    rows, off1 = reader.read(reader.initialOffset())
    assert list(rows) == []                       # fingerprinted, not emitted
    assert p in off1["pending"]

    os.utime(p, ns=(1, 1))                        # make mtime change visible
    with open(p, "a") as f:
        f.write("}")                              # write finishes
    rows, off2 = reader.read(off1)
    assert list(rows) == []                       # fingerprint moved: wait
    assert off2["pending"][p] != off1["pending"][p]

    rows, off3 = reader.read(off2)                # stable for one interval
    assert [r[0] for r in rows] == [p]
    assert p in off3["seen"] and not off3["pending"]

    rows, off4 = reader.read(off3)                # never re-emitted
    assert list(rows) == []

    # replay between committed offsets sees exactly the admitted file
    replay = list(reader.readBetweenOffsets(off2, off3))
    assert [r[0] for r in replay] == [p]


def test_streaming_curation_filter_matches_batch(spark, tmp_path_factory):
    """Curation as streaming ingest: the row-local blocklist policy
    applies unchanged to a streaming DataFrame (no state, no
    watermark), and per-batch results equal the batch run on the same
    documents — the filter-at-the-door pattern for a 100 TB ingest."""
    from go_mapreduce_crawler_spark.operators.curation import blocklist_verdict

    d = str(tmp_path_factory.mktemp("docs_stream"))
    load_table(spark, "/root/testdata/sf0.001", "documents") \
        .repartition(4).write.mode("overwrite").parquet(d)
    batch_docs = spark.read.parquet(d)
    stream_docs = (spark.readStream.schema(batch_docs.schema)
                   .option("maxFilesPerTrigger", 1).parquet(d))
    q = (blocklist_verdict(stream_docs)
         .writeStream.format("memory").queryName("cur_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id: (r.n_words, r.reasons, r.keep)
           for r in spark.sql("SELECT * FROM cur_stream").collect()}
    want = {r.doc_id: (r.n_words, r.reasons, r.keep)
            for r in blocklist_verdict(batch_docs).collect()}
    assert got == want


def test_stream_stream_left_outer_join_matches_batch(spark, event_stream_dir):
    """LEFT OUTER stream-stream join: matched pairs equal the batch
    join, and purchases with no in-window view must surface as
    null-padded rows once the watermark passes (availableNow drains the
    source, so every unmatched purchase is final by end of stream)."""
    from go_mapreduce_crawler_spark.streaming import (
        stream_stream_left_outer_join)

    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema).parquet(event_stream_dir))
    got = _run_stream_append(
        spark, stream_stream_left_outer_join(stream_events), "ssloj")

    v = batch_events.filter(F.col("event_type") == "view") \
        .select(F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"))
    p = batch_events.filter(F.col("event_type") == "purchase") \
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"))
    expected = (p.join(v, (F.col("p_user") == F.col("v_user"))
                       & (F.col("v_ts") <= F.col("p_ts"))
                       & (F.col("v_ts") >= F.col("p_ts")
                          - F.expr("INTERVAL 1 hour")),
                       "left_outer")
                .select("purchase_id", "view_id", "p_ts"))
    # Faithful semantics: a null-padded row needs the WATERMARK to prove
    # no match can arrive; the final watermark stops at max_ts - 2h, so
    # unmatched purchases inside that tail are (correctly) never
    # emitted by the drained stream.
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    rows = expected.collect()
    e = {(r.purchase_id, r.view_id) for r in rows
         if r.view_id is not None
         or (max_ts - r.p_ts).total_seconds() > 2 * 3600}
    g = {(r.purchase_id, r.view_id) for r in got.collect()}
    assert g == e
    assert any(vid is None for _, vid in g), "no null-padded rows emitted"


def test_stream_trending_topk_matches_batch(spark, event_stream_dir):
    """Watermarked trending counts (append mode = closed windows only)
    + batch finalizer must equal the batch windowed-count ranking."""
    from go_mapreduce_crawler_spark.streaming import (
        stream_trending_counts, trending_topk_finalize)

    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream
                     .schema(batch_events.schema).parquet(event_stream_dir))
    closed = _run_stream_append(
        spark, stream_trending_counts(stream_events), "trend_counts")
    got = {tuple(r) for r in trending_topk_finalize(closed).collect()}

    batch_counts = (batch_events
                    .groupBy(F.window("ts", "1 hour").alias("win"),
                             "event_type")
                    .agg(F.count(F.lit(1)).alias("n_events"))
                    .select(F.unix_micros("win.start")
                             .alias("win_start_us"),
                            "event_type", "n_events"))
    expect = {tuple(r)
              for r in trending_topk_finalize(batch_counts).collect()}
    # availableNow + append emits only windows the final watermark
    # (max_ts - 2h) closed: got must be exactly the closed subset.
    max_us = batch_events.agg(
        F.max(F.unix_micros("ts"))).collect()[0][0]
    wm_us = max_us - 2 * 3600 * 1_000_000
    closed_expect = {r for r in expect
                     if r[0] + 3600 * 1_000_000 <= wm_us}
    assert len(got) > 0 and got == closed_expect
    by_win = {}
    for win, _, _, rnk in got:
        by_win.setdefault(win, []).append(rnk)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_win.values())


def test_stream_anomaly_scoring_matches_batch_operator(spark,
                                                       event_stream_dir,
                                                       sf_small):
    """Scoring a stream against the batch-trained seasonal baseline
    must flag exactly the rows the batch operator emits."""
    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.streaming import stream_anomaly_scoring

    batch_events = spark.read.parquet(event_stream_dir)
    cell_means, var_t = features.seasonal_baseline(batch_events)
    cell_means, var_t = cell_means.cache(), var_t.cache()
    stream_events = (spark.readStream
                     .schema(batch_events.schema).parquet(event_stream_dir))
    got = _run_stream_append(
        spark,
        stream_anomaly_scoring(stream_events, cell_means, var_t),
        "anom_scores")
    flagged = {r.event_id: r.resid_e6
               for r in got.collect() if r.is_anomaly}
    expect = {r.event_id: r.resid_e6
              for r in features.q_anomaly_seasonal_residual(
                  spark, sf_small).collect()}
    assert flagged == expect and len(flagged) > 0
    assert got.count() == batch_events.count()


def test_stream_decayed_engagement_matches_batch_operator(
        spark, event_stream_dir, sf_small, tmp_path):
    """The foreachBatch-maintained per-user decayed-engagement view,
    replayed over the historical stream with ref_day pinned to the
    corpus max day, must equal the batch operator bit-for-bit — the
    monoid-merge (Accumulate/Combine) contract carried into streaming
    state.  The stream arrives in 4 parquet splits, so at least the
    later micro-batches exercise the full-outer snapshot merge."""
    from pyspark.sql import functions as F
    from go_mapreduce_crawler_spark.operators import behavior
    from go_mapreduce_crawler_spark.streaming import (
        decayed_engagement_finalize, read_mv_state,
        stream_decayed_engagement)

    batch_events = spark.read.parquet(event_stream_dir)
    ref_day = batch_events.agg(F.max(F.expr(
        "CAST(unix_micros(ts) DIV 86400000000 AS INT)"))).collect()[0][0]
    stream_events = (spark.readStream.option("maxFilesPerTrigger", "1")
                     .schema(batch_events.schema)
                     .parquet(event_stream_dir))
    state = str(tmp_path / "deng_state")
    ckpt = str(tmp_path / "deng_ckpt")
    q = stream_decayed_engagement(stream_events, ref_day, state, ckpt)
    q.awaitTermination(180)
    got = {(r.user_id, r.n_events, r.score_cents)
           for r in decayed_engagement_finalize(
               read_mv_state(spark, state)).collect()}
    expect = {(r.user_id, r.n_events, r.score_cents)
              for r in behavior.q_decayed_engagement(
                  spark, sf_small).collect()}
    assert got == expect and len(got) > 0


def test_stream_quantile_sketch_matches_batch_rollup(
        spark, event_stream_dir, sf_small, tmp_path):
    """The foreachBatch-maintained per-type quantile sketch, replayed
    over the historical stream, must finalize to EXACTLY the batch
    rollup's percentiles — mergeable-sketch state means micro-batch
    boundaries cannot change any answer (the monoid law observed
    end-to-end through streaming checkpoints)."""
    from go_mapreduce_crawler_spark.operators import scale as sc
    from go_mapreduce_crawler_spark.streaming import (
        quantile_sketch_finalize, read_mv_state, stream_quantile_sketch)

    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream.option("maxFilesPerTrigger", "1")
                     .schema(batch_events.schema)
                     .parquet(event_stream_dir))
    state = str(tmp_path / "qsk_state")
    ckpt = str(tmp_path / "qsk_ckpt")
    q = stream_quantile_sketch(stream_events, state, ckpt)
    q.awaitTermination(180)
    got = {(r.event_type, r.pct, r.n_rows, r.approx_cents)
           for r in quantile_sketch_finalize(
               read_mv_state(spark, state)).collect()}
    expect = {(r.event_type, r.pct, r.n_rows, r.approx_cents)
              for r in sc.q_quantile_sketch_rollup(
                  spark, sf_small).collect()}
    assert got == expect and len(got) > 0


def test_mv_refresh_versioned_snapshots_are_retry_idempotent(
        spark, event_stream_dir, tmp_path):
    """The exactly-once claim of the foreachBatch monoid-state family,
    pinned directly: re-running a micro-batch's merge with the SAME
    batch_id (what a Structured Streaming retry does after a failure
    between sink write and checkpoint commit) must leave the final
    view bit-identical — the replayed batch overwrites its own version
    and merges from the same predecessor, never double-counting."""
    from go_mapreduce_crawler_spark.streaming.stateful import (
        read_mv_state, stream_mv_refresh)

    batch_events = spark.read.parquet(event_stream_dir)
    stream_events = (spark.readStream.option("maxFilesPerTrigger", "1")
                     .schema(batch_events.schema)
                     .parquet(event_stream_dir))
    state = str(tmp_path / "mv_state")
    ckpt = str(tmp_path / "mv_ckpt")
    q = stream_mv_refresh(stream_events, state, ckpt)
    q.awaitTermination(180)
    before = {tuple(r) for r in read_mv_state(spark, state).collect()}

    # simulate a retry of the LAST batch: re-run the merge body with
    # the same batch_id over the same rows (one of the 4 splits)
    import glob as _glob
    versions = sorted(int(p.rsplit("state_v", 1)[1])
                      for p in _glob.glob(f"{state}/state_v*"))
    last = versions[-1]
    from pyspark.sql import functions as F
    prevs = [v for v in versions if v < last]
    prev = spark.read.parquet(f"{state}/state_v{prevs[-1]}") if prevs \
        else None
    # the operator's merge recomputes partial(batch) + prev; replaying
    # with the same id must OVERWRITE, not accumulate.  We emulate the
    # exact merge body on the true last-batch rows, read from the
    # checkpoint's file-source log (ckpt/sources/0/<batchId> records
    # exactly which files that micro-batch consumed):
    import json as _json
    with open(f"{ckpt}/sources/0/{last}") as fh:
        entries = [_json.loads(line) for line in fh
                   if line.startswith("{")]
    last_files = [e["path"] for e in entries]
    last_batch = spark.read.parquet(*last_files)
    partial = last_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
        .alias("s"))
    if prev is not None:
        p = prev.select(F.col("event_type").alias("k"),
                        F.col("n").alias("n1"), F.col("s").alias("s1"))
        d = partial.select(F.col("event_type").alias("k"),
                           F.col("n").alias("n2"), F.col("s").alias("s2"))
        z = F.lit(0).cast("bigint")
        merged = (p.join(d, "k", "full_outer")
                  .select(F.col("k").alias("event_type"),
                          (F.coalesce("n1", F.lit(0))
                           + F.coalesce("n2", F.lit(0))).alias("n"),
                          (F.coalesce("s1", z) + F.coalesce("s2", z))
                          .cast("bigint").alias("s")))
    else:
        merged = partial
    merged.write.mode("overwrite").parquet(f"{state}/state_v{last}")
    after = {tuple(r) for r in read_mv_state(spark, state).collect()}
    assert after == before and len(after) > 0


def test_mv_refresh_merges_null_key_across_batches(spark, tmp_path):
    """A NULL event_type arriving in two micro-batches must finalize to
    ONE state row, as the batch twin's groupBy keeps it: the snapshot
    merge matches keys null-safely (under ``=`` NULL never meets NULL,
    and the view gained one NULL row per micro-batch)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_mapreduce_crawler_spark.streaming.stateful import (
        read_mv_state, stream_mv_refresh)

    src = tmp_path / "in"
    src.mkdir()
    files = [(["view", None, None], [1.0, 2.5, 0.25]),
             ([None, "purchase"], [4.0, 3.0])]
    for i, (types, values) in enumerate(files):
        pq.write_table(pa.table({"event_type": pa.array(types, pa.string()),
                                 "value": pa.array(values, pa.float64())}),
                       str(src / f"{i:02d}.parquet"))
        time.sleep(0.05)   # mod-time order = micro-batch order
    batch = spark.read.parquet(str(src))
    stream = (spark.readStream.option("maxFilesPerTrigger", "1")
              .schema(batch.schema).parquet(str(src)))
    state = str(tmp_path / "state")
    q = stream_mv_refresh(stream, state, str(tmp_path / "ckpt"))
    assert q.awaitTermination(180) and q.exception() is None
    assert len(q.recentProgress) >= 2   # both files were separate batches

    got = read_mv_state(spark, state).collect()
    nulls = [r for r in got if r.event_type is None]
    assert len(nulls) == 1
    twin = {r.event_type: r.n for r in
            batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    assert nulls[0].n == twin[None] == 3
    assert {r.event_type: r.n for r in got} == twin


def test_replay_await_raises_on_timeout_and_stream_error():
    """_await_drained (r07 verdict item 1): a replay that does not
    drain within the budget must STOP the query and raise — never let
    the caller read a partial state_v* snapshot (the r07 driver-red
    signature: rows+schema match, smaller sums) — and a terminated
    stream with a recorded exception must surface it."""
    import pytest

    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        _await_drained)

    class FakeQuery:
        def __init__(self, drained, exc=None):
            self._drained, self._exc, self.stopped = drained, exc, False

        def awaitTermination(self, timeout):
            return self._drained

        def stop(self):
            self.stopped = True

        def exception(self):
            return self._exc

    hung = FakeQuery(drained=False)
    with pytest.raises(TimeoutError, match="did not drain"):
        _await_drained(hung, "mv_refresh")
    assert hung.stopped          # no zombie stream left writing state

    died = FakeQuery(drained=True, exc=ValueError("executor lost"))
    with pytest.raises(RuntimeError, match="terminated with error"):
        _await_drained(died, "mv_refresh")

    ok = FakeQuery(drained=True)
    _await_drained(ok, "mv_refresh")   # clean drain returns silently
    assert not ok.stopped


def test_fixture_dir_first_write_is_single_flight(monkeypatch):
    """Concurrent first callers of _fixture_dir for one (sf, kind): the
    writer runs exactly once and every caller gets the same dir (no
    fixture written twice and leaked)."""
    import threading
    import time

    from go_mapreduce_crawler_spark.operators import streaming_replay

    monkeypatch.setattr(streaming_replay, "_FIXTURE_DIRS", {})
    calls = []

    def slow_writer(in_dir, root):
        calls.append(in_dir)
        time.sleep(0.2)

    got = []
    threads = [threading.Thread(target=lambda: got.append(
        streaming_replay._fixture_dir("sf", "race", slow_writer)))
        for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert len(calls) == 1
    assert got == calls * 4


def test_mv_refresh_self_audit_raises_with_version_ledger(spark, tmp_path):
    """_audit_mv_view (r08 verdict item 1b): a finalized MV whose
    SUM(n) disagrees with the replayed fixture's row count must raise
    with the per-version ledger in the message — converting a silent
    wrong-hash into a diagnosable err — and must pass through the view
    untouched when the conservation law holds."""
    import pytest

    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        _audit_mv_view)

    state = str(tmp_path / "state")
    (spark.createDataFrame([("a", 3, 150), ("b", 2, 75)],
                           "event_type string, n bigint, s bigint")
     .write.parquet(f"{state}/state_v0"))
    (spark.createDataFrame([("a", 4, 200), ("b", 3, 99)],
                           "event_type string, n bigint, s bigint")
     .write.parquet(f"{state}/state_v1"))

    ok = _audit_mv_view(spark, state, n_input=7)   # latest: 4 + 3
    assert {tuple(r) for r in ok.collect()} == {("a", 4, 200),
                                                ("b", 3, 99)}

    with pytest.raises(RuntimeError) as ei:
        _audit_mv_view(spark, state, n_input=8)
    msg = str(ei.value)
    assert "self-audit FAILED" in msg
    assert "state_v0: n=5 s_cents=225" in msg
    assert "state_v1: n=7 s_cents=299" in msg


def test_windowed_span_dedup_replay_matches_batch_twin_and_prunes(spark):
    """stream_windowed_span_dedup_replay: (a) the finalized view must
    equal an independent batch computation of the windowed-history
    semantics (dup iff some doc in [d-W, d-1] shares the SPAN_N-gram);
    (b) the surviving posting state must be PRUNED to the trailing
    window (doc_id > max_seen - W) — the bounded-state contract."""
    import glob

    from pyspark.sql import functions as F

    from go_mapreduce_crawler_spark.operators.dedup import SPAN_N
    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        _replay_ordered_docs)
    from go_mapreduce_crawler_spark.streaming.stateful import (
        SPAN_WIN_DOCS, stream_windowed_span_dedup,
        windowed_span_dedup_finalize)

    sf = "/root/testdata/sf0.001"
    stream, state, ckpt = _replay_ordered_docs(spark, sf, "spantest")
    q = stream_windowed_span_dedup(stream, state, ckpt)
    assert q.awaitTermination(300)
    got = {(r.doc_id, r.n_grams, r.n_dup_grams, r.dup_ppm)
           for r in windowed_span_dedup_finalize(spark, state).collect()}

    # independent batch twin in Spark (different construction: join,
    # not streaming state)
    d = spark.read.parquet(f"{sf}/documents.parquet")
    w = F.split("text", " ")
    grams = F.when(F.size(w) >= SPAN_N, F.transform(
        F.sequence(F.lit(0), F.size(w) - SPAN_N),
        lambda i: F.md5(F.encode(
            F.array_join(F.slice(w, i + 1, SPAN_N), " "), "UTF-8")))
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", grams.alias("grams"))
    occ = g.select("doc_id", F.explode("grams").alias("gm"))
    post = occ.distinct()
    dup = (occ.alias("o").join(
               post.alias("h"),
               (F.col("o.gm") == F.col("h.gm"))
               & (F.col("h.doc_id") < F.col("o.doc_id"))
               & (F.col("h.doc_id")
                  >= F.col("o.doc_id") - SPAN_WIN_DOCS), "left_semi")
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("nd")))
    twin = (g.select("doc_id", F.size("grams").cast("long").alias("ng"))
             .join(dup, "doc_id", "left")
             .select("doc_id", "ng",
                     F.coalesce("nd", F.lit(0)).cast("long").alias("nd"))
             .withColumn("ppm", F.expr(
                 "(nd * 1000000) DIV greatest(ng, 1)")))
    expect = {(r.doc_id, r.ng, r.nd, r.ppm) for r in twin.collect()}
    assert got == expect and len(got) == d.count()

    # pruning bound: state postings stay within the trailing window
    versions = sorted(int(p.rsplit("state_v", 1)[1])
                      for p in glob.glob(f"{state}/state_v*"))
    kept = spark.read.parquet(
        f"{state}/state_v{versions[-1]}/postings")
    mx = d.agg(F.max("doc_id")).collect()[0][0]
    assert kept.filter(
        F.col("doc_id") <= mx - SPAN_WIN_DOCS).count() == 0
    assert kept.count() > 0


def test_windowed_minhash_replay_matches_batch_twin_and_family(spark):
    """stream_minhash_dedup_replay: (a) the finalized view equals an
    independent Spark batch computation over _band_keys (join
    construction, not streaming state); (b) family consistency — for
    every VERIFIED batch near-dup pair (dedup_minhash_lsh) whose ids
    are within the trailing window, the later doc must be flagged
    (the candidate stage can only over-approximate the verified
    relation, never miss it)."""
    from pyspark.sql import functions as F

    from go_mapreduce_crawler_spark.operators.dedup import (
        _band_keys, _shingles, q_dedup_minhash_lsh)
    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        _replay_ordered_docs)
    from go_mapreduce_crawler_spark.streaming.stateful import (
        SPAN_WIN_DOCS, stream_windowed_minhash_dedup,
        windowed_minhash_dedup_finalize)

    sf = "/root/testdata/sf0.001"
    stream, state, ckpt = _replay_ordered_docs(spark, sf, "mhtest")
    q = stream_windowed_minhash_dedup(stream, state, ckpt)
    assert q.awaitTermination(300)
    got = {(r.doc_id, r.is_near_dup_candidate, r.n_hit_bands)
           for r in windowed_minhash_dedup_finalize(
               spark, state).collect()}

    d = spark.read.parquet(f"{sf}/documents.parquet")
    bands = _band_keys(_shingles(d))
    o, h = bands.alias("o"), bands.alias("h")
    hits = (o.join(h, (F.col("o.band") == F.col("h.band"))
                   & (F.col("o.bucket") == F.col("h.bucket"))
                   & (F.col("h.doc_id") < F.col("o.doc_id"))
                   & (F.col("h.doc_id")
                      >= F.col("o.doc_id") - SPAN_WIN_DOCS),
                   "left_semi")
            .groupBy("doc_id")
            .agg(F.countDistinct("band").alias("nb")))
    twin = (d.select("doc_id").join(hits, "doc_id", "left")
             .select("doc_id",
                     F.when(F.col("nb").isNotNull(), 1).otherwise(0)
                      .cast("int").alias("c"),
                     F.coalesce("nb", F.lit(0)).cast("long")
                      .alias("nb")))
    expect = {(r.doc_id, r.c, r.nb) for r in twin.collect()}
    assert got == expect and len(got) == d.count()
    assert any(c == 1 for _, c, _ in got)   # fixture has near-dups

    flagged = {doc for doc, c, _ in got if c == 1}
    pairs = q_dedup_minhash_lsh(spark, sf).collect()
    in_window = [(r.doc_a, r.doc_b) for r in pairs
                 if 0 < r.doc_b - r.doc_a <= SPAN_WIN_DOCS]
    assert in_window   # the consistency claim is non-vacuous
    missed = [p for p in in_window if p[1] not in flagged]
    assert not missed, missed[:5]


def test_decontam_bloom_replay_matches_batch_twin(spark):
    """stream_decontam_bloom_replay: (a) the ingest-time-built bloom
    state is bit-for-bit the batch build (bit_or monoid over any
    batching), and (b) the finalized report equals the batch
    decontaminator's output exactly (r09 verdict item 3)."""
    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        q_stream_decontam_bloom_replay)
    from go_mapreduce_crawler_spark.operators.text import (
        EVAL_MOD, bloom_partial, q_text_contamination_bloom)

    sf = "/root/testdata/sf0.001"
    got = {(r.doc_id, r.n_grams, r.n_shared_bloom,
            r.contamination_bloom)
           for r in q_stream_decontam_bloom_replay(spark, sf).collect()}
    want = {(r.doc_id, r.n_grams, r.n_shared_bloom,
             r.contamination_bloom)
            for r in q_text_contamination_bloom(spark, sf).collect()}
    assert got == want and got   # non-vacuous: fixture is contaminated

    # the streamed filter itself equals the batch-built filter
    # bit-for-bit (idempotent monoid: re-delivery cannot flip a bit)
    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        _FIXTURE_DIRS, _await_drained, _fresh_state)
    from go_mapreduce_crawler_spark.streaming.stateful import (
        read_mv_state, stream_bloom_build)

    assert (sf, "docs_eval4") in _FIXTURE_DIRS
    in_dir = _FIXTURE_DIRS[(sf, "docs_eval4")]
    d = spark.read.parquet(f"{sf}/documents.parquet")
    stream = (spark.readStream.option("maxFilesPerTrigger", "1")
              .schema(d.schema).parquet(in_dir))
    state, ckpt = _fresh_state("bloomtest")
    _await_drained(stream_bloom_build(stream, bloom_partial,
                                      state, ckpt), "bloomtest")
    streamed = {(r.slot, r.word)
                for r in read_mv_state(spark, state).collect()}
    batch_bloom = {(r.slot, r.word) for r in bloom_partial(
        d.filter(F.col("doc_id") % EVAL_MOD == 0)).collect()}
    assert streamed == batch_bloom and len(batch_bloom) > 100


# ---- corpus_incremental kernels: Spark jobs per micro-batch, release

_KERNEL_RUNS: dict = {}


def _kernel_run(spark, sf, kernel):
    """Run one corpus_incremental kernel over the ordered sf replay once
    per session: (jobs, data batches, CacheManager empty, RDD ids that
    gained cached blocks during the run)."""
    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        REPLAY_SPLITS, _await_drained, _replay_ordered_docs)
    from go_mapreduce_crawler_spark.streaming import stateful as st

    if kernel not in _KERNEL_RUNS:
        start = {"span": st.stream_windowed_span_dedup,
                 "minhash": st.stream_windowed_minhash_dedup,
                 "invidx": st.stream_inverted_index}[kernel]
        sc = spark.sparkContext
        spark.catalog.clearCache()
        blocks0 = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        stream, state, ckpt = _replay_ordered_docs(spark, sf, f"jobs_{kernel}")
        q = start(stream, state, ckpt)
        _await_drained(q, f"jobs_{kernel}")
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(batches) == REPLAY_SPLITS
        _KERNEL_RUNS[kernel] = (
            len(sc.statusTracker().getJobIdsForGroup(str(q.runId))),
            len(batches),
            spark._jsparkSession.sharedState().cacheManager().isEmpty(),
            {i.id() for i in sc._jsc.sc().getRDDStorageInfo()} - blocks0)
    return _KERNEL_RUNS[kernel]


@pytest.mark.parametrize("kernel,first,later", [
    ("span", 6, 6), ("minhash", 6, 6), ("invidx", 4, 5)])
def test_corpus_incremental_jobs_per_micro_batch(spark, sf_small, kernel,
                                                 first, later):
    """Spark tags a stream's jobs with its runId as the job group.  A
    windowed dedup micro-batch runs at most 6 jobs: the spread, the
    key exchange, the per-doc aggregation and the two writes.  The
    inverted index runs 4 on its first batch and 5 on each later one
    (the predecessor is read with its known schema, so no
    schema-inference job)."""
    jobs, n, _, _ = _kernel_run(spark, sf_small, kernel)
    assert jobs <= first + later * (n - 1), (kernel, jobs, n)


@pytest.mark.parametrize("kernel", ["span", "minhash"])
def test_windowed_dedup_releases_cache_and_blocks(spark, sf_small, kernel):
    """Nothing a windowed dedup micro-batch materializes outlives it:
    no CacheManager entry and no RDD with cached blocks."""
    _, _, cache_empty, new_blocks = _kernel_run(spark, sf_small, kernel)
    assert cache_empty
    assert not new_blocks, new_blocks


def test_windowed_dedup_null_and_empty_text_docs(spark, sf_small, tmp_path):
    """A NULL-text doc and an empty-text doc in a replay batch: no grams
    (n_grams = 0), the NULL doc has no band keys, neither is flagged by
    either windowed kernel, and both replays match their oracles."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_mapreduce_crawler_spark.operators import dedup
    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        ORACLE, q_stream_windowed_minhash_dedup_replay,
        q_stream_windowed_span_dedup_replay)
    from tests.oracle_utils import compare

    t = pq.read_table(os.path.join(sf_small, "documents.parquet"))
    ids = t.column("doc_id").to_pylist()
    null_id, empty_id = sorted(ids)[3], sorted(ids)[4]
    text = [None if i == null_id else "" if i == empty_id else x
            for i, x in zip(ids, t.column("text").to_pylist())]
    t = t.set_column(t.schema.get_field_index("text"), "text",
                     pa.array(text, pa.string()))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(t, os.path.join(sf, "documents.parquet"))

    span = q_stream_windowed_span_dedup_replay(spark, sf)
    mh = q_stream_windowed_minhash_dedup_replay(spark, sf)
    by_id = {r.doc_id: r for r in span.collect()}
    assert {(by_id[i].n_grams, by_id[i].n_dup_grams)
            for i in (null_id, empty_id)} == {(0, 0)}
    flagged = {r.doc_id for r in mh.collect() if r.is_near_dup_candidate}
    assert not flagged & {null_id, empty_id}
    assert flagged    # the fixture's near-dups are still found
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    keyed = {r.doc_id for r in dedup._band_keys(dedup._shingles(docs))
             .select("doc_id").distinct().collect()}
    assert null_id not in keyed and empty_id in keyed
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf}/documents.parquet')")
    try:
        assert not compare(span, con, ORACLE[
            "stream_windowed_span_dedup_replay"], "span")
        assert not compare(mh, con, ORACLE[
            "stream_minhash_dedup_replay"], "minhash")
    finally:
        con.close()


def test_stream_stream_join_conf_is_set_for_start_only(spark, sf_small,
                                                       monkeypatch):
    """The stream-stream join replay disables no-data micro-batches for
    its own query only: the session conf is unchanged while the query
    runs, and the query still skips its trailing no-data batch."""
    from go_mapreduce_crawler_spark.operators import streaming_replay as sr

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)
    seen = {}
    orig = sr._await_drained

    def spy(q, name):
        seen["conf"] = spark.conf.get(key)
        orig(q, name)
        seen["rows"] = [p["numInputRows"] for p in q.recentProgress]

    monkeypatch.setattr(sr, "_await_drained", spy)
    sr.q_stream_stream_join_replay(spark, sf_small).collect()
    assert seen["conf"] == before
    assert seen["rows"] and all(n > 0 for n in seen["rows"]), seen["rows"]
    assert spark.conf.get(key) == before
