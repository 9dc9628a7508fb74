"""Celebrity-skew stress: one bot account with ~3*10^5 events (vs ~20
per normal user) driven through the operators whose r03/r04 rewrites
were specifically designed for hot keys — funnel (chained conditional
min-aggs, no collect_list), sessionize (two windows, one shuffle), and
MAD anomalies (compacted-value ranks).  Each result is checked against
an independent Python fold over the same fixture, so the assertion is
"still CORRECT under heavy skew", the property the celebrity-safe
rewrites must preserve (wall-time balance is pinned separately by the
plan-shape tests; timing asserts are flaky in a shared sandbox).
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import Row, functions as F

BOT = 1
BOT_EVENTS = 300_000
N_USERS = 200
USER_EVENTS = 20
TYPES = ("signup", "view", "click", "purchase", "error")


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    """events.parquet with one bot holding ~98% of all rows."""
    base = 1_500_000_000_000_000  # 2017-07-14 in epoch micros
    bot = spark.range(BOT_EVENTS).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            (F.lit(base) + F.col("id") * 1_000_000)).alias("ts"),
        F.lit(BOT).alias("user_id"),
        F.element_at(F.array(*[F.lit(t) for t in TYPES]),
                     (F.col("id") % len(TYPES) + 1).cast("int"))
         .alias("event_type"),
        # constant value + a sprinkle of huge outliers for MAD
        F.when(F.col("id") % 10_000 == 7, 9_999.0)
         .otherwise(10.0 + (F.col("id") % 7).cast("double") / 100)
         .alias("value"),
        F.lit('{"k": 1}').alias("props"))
    normal = spark.range(N_USERS * USER_EVENTS).select(
        (F.lit(BOT_EVENTS) + F.col("id")).alias("event_id"),
        F.timestamp_micros(
            (F.lit(base) + (F.col("id") % USER_EVENTS) * 3_600_000_000
             + (F.col("id") / USER_EVENTS).cast("long"))).alias("ts"),
        (F.lit(100) + (F.col("id") / USER_EVENTS).cast("long"))
         .alias("user_id"),
        F.element_at(F.array(*[F.lit(t) for t in TYPES]),
                     (F.col("id") % len(TYPES) + 1).cast("int"))
         .alias("event_type"),
        (1.0 + (F.col("id") % 13).cast("double")).alias("value"),
        F.lit('{"k": 2}').alias("props"))
    d = str(tmp_path_factory.mktemp("skew"))
    bot.unionAll(normal).coalesce(4).write.mode("overwrite") \
       .parquet(os.path.join(d, "events.parquet"))
    return d


@pytest.fixture(scope="module")
def rows(spark, skew_dir):
    pdf = (spark.read.parquet(os.path.join(skew_dir, "events.parquet"))
           .toPandas())
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    return pdf


def test_funnel_correct_under_skew(spark, skew_dir, rows):
    from go_mapreduce_crawler_spark.operators import behavior

    got = {r.stage: r.users for r in
           behavior.q_funnel_conversion(spark, skew_dir).collect()}
    stages = behavior.FUNNEL_STAGES
    counts = dict.fromkeys(stages, 0)
    for _, u in rows.groupby("user_id"):
        prev_t = None
        for k, st in enumerate(stages):
            sub = u[u.event_type == st]
            if k > 0:
                sub = sub[sub.ts > prev_t]
            if sub.empty:
                break
            prev_t = sub.ts.iloc[0]
            counts[st] += 1
    assert {s: counts[s] for s in stages} == {s: got[s] for s in stages}
    # the bot must actually convert, or the stress is vacuous
    assert counts[stages[-1]] >= 1


def test_sessionize_correct_under_skew(spark, skew_dir, rows):
    from go_mapreduce_crawler_spark.operators import relational

    out = relational.q_sessionize(spark, skew_dir)
    # partition-sum identity: every event lands in exactly one session
    assert out.agg(F.sum("n_events")).collect()[0][0] == len(rows)
    # python fold for the bot: 1s cadence -> ONE session of 300k events
    bot_sessions = out.filter(F.col("user_id") == BOT).collect()
    assert len(bot_sessions) == 1
    assert bot_sessions[0].n_events == BOT_EVENTS
    # normal users: hourly cadence -> every event its own session
    n_norm = (out.filter(F.col("user_id") != BOT)
                 .agg(F.count(F.lit(1))).collect()[0][0])
    assert n_norm == N_USERS * USER_EVENTS


def test_anomaly_mad_correct_under_skew(spark, skew_dir, rows):
    from go_mapreduce_crawler_spark.operators import features

    got = features.q_events_anomaly_mad(spark, skew_dir)
    # python reference: lower median + lower-median MAD per type on
    # 2dp-decimal values, strict 3*MAD threshold
    from decimal import Decimal

    def lower_median(vals):
        vals = sorted(vals)
        return vals[(len(vals) + 1) // 2 - 1]

    expected = set()
    for t, grp in rows.groupby("event_type"):
        vals = [Decimal(str(v)).quantize(Decimal("0.01"))
                for v in grp.value]
        med = lower_median(vals)
        mad = lower_median([abs(v - med) for v in vals])
        for eid, v in zip(grp.event_id, vals):
            if abs(v - med) > 3 * mad:
                expected.add(eid)
    assert {r.event_id for r in got.collect()} == expected
    assert expected  # the planted 9999.0 outliers must be caught


def test_session_paths_correct_under_skew(spark, skew_dir, rows):
    """behavior_session_paths under the bot: one 300k-event session
    still yields exactly ONE 3-event path row (the <=3-row buffer
    claim), and totals partition the session count."""
    from go_mapreduce_crawler_spark.operators import behavior, relational

    paths = behavior.q_session_paths(spark, skew_dir).collect()
    n_sessions = relational.q_sessionize(spark, skew_dir).count()
    assert sum(r["n_sessions"] for r in paths) == n_sessions
    # bot cadence is 1s -> one giant session starting signup>view>click
    bot_path = ">".join(
        rows[rows.user_id == BOT].event_type.iloc[:3].tolist())
    assert any(r["path"] == bot_path for r in paths)
    assert all(len(r["path"].split(">")) <= 3 for r in paths)


def test_decayed_engagement_correct_under_skew(spark, skew_dir, rows):
    """events_decayed_engagement under the bot: the 300k-row hot key
    reduces to ONE exact output row matching a Python integer fold."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from go_mapreduce_crawler_spark.operators import behavior

    got = {r["user_id"]: (r["n_events"], r["score_cents"])
           for r in behavior.q_decayed_engagement(spark, skew_dir)
           .collect()}
    wt = dict(behavior._DECAY_W)
    days = rows.ts.dt.floor("D")
    epoch = days.min().floor("D")
    max_day = (days.max() - epoch).days + (epoch - epoch).days
    day_idx = (days - days.min()).dt.days
    max_idx = day_idx.max()
    acc, cnt = {}, {}
    for (u, v, d) in zip(rows.user_id, rows.value, day_idx):
        cents = int(Decimal(str(v)).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP) * 100)
        acc[u] = acc.get(u, 0) + cents * wt.get(int(max_idx - d), 0)
        cnt[u] = cnt.get(u, 0) + 1
    expect = {u: (cnt[u], math.floor(s / 1e12)) for u, s in acc.items()}
    assert got == expect
    assert got[BOT][0] == BOT_EVENTS


def test_salt_advisor_projection_within_fair_share(spark, skew_dir):
    """On the celebrity fixture (one bot ~98% of rows) the UNSALTED
    diagnosis shows a reducer at ~31x fair share; the advisor must (a)
    single out the bot (exactly one key salted, at the max factor 32),
    and (b) project every post-salting reducer at <= 1.5x fair share —
    the bar the salted funnel/sessionize plans are designed to."""
    from go_mapreduce_crawler_spark.operators.scale import (
        q_diag_partition_skew, q_skew_salt_advisor)

    before = q_diag_partition_skew(spark, skew_dir).collect()
    assert max(r.ratio_e6 for r in before) > 20_000_000  # ~31x
    after = q_skew_salt_advisor(spark, skew_dir).collect()
    assert len(after) == 32                      # every reducer loaded
    assert all(r.n_salted_keys == 1 for r in after)
    assert all(r.max_salt == 32 for r in after)
    assert max(r.ratio_e6 for r in after) <= 1_500_000
    total = sum(r.n_rows for r in after)
    assert total == sum(r.n_rows for r in before)  # loads conserved


def test_lsh_banding_advisor_recall_and_budget(spark):
    """q_lsh_banding_advisor on the near-clique sf0.001 corpus: (a)
    the recall literals must equal an independent evaluation of the
    LSH S-curve 1-(1-s^r)^b; (b) candidate mass per config must equal
    a ground-truth recount from the raw signatures (independent
    pandas path, not the engine's agg); (c) exactly ONE config is
    chosen, it clears the s=0.9 recall floor, and no ELIGIBLE config
    has smaller candidate mass — the advised (b, r) keeps the
    candidate budget minimal at the required recall."""
    import math
    from collections import Counter

    from go_mapreduce_crawler_spark.operators.dedup import (
        LSH_ADV_CONFIGS, LSH_ADV_RECALL_FLOOR_E6, _docs, _shingles,
        _signatures, q_lsh_banding_advisor)

    sf = "/root/testdata/sf0.001"
    rows = q_lsh_banding_advisor(spark, sf).collect()
    assert {(r.b, r.r) for r in rows} == set(LSH_ADV_CONFIGS)

    for r in rows:
        for s, col in ((0.5, r.recall50_e6), (0.9, r.recall90_e6)):
            assert col == math.floor(
                (1.0 - (1.0 - s ** r.r) ** r.b) * 1e6), (r.b, r.r, s)

    # ground-truth candidate mass from the raw signatures
    sig = _signatures(_shingles(_docs(spark, sf)))
    sigs = sig.toPandas().set_index("doc_id")
    by_cfg = {}
    for b, rr in LSH_ADV_CONFIGS:
        occ = Counter()
        for _, row in sigs.iterrows():
            for band in range(b):
                key = tuple(row[f"h{band * rr + j}"] for j in range(rr))
                occ[(band, key)] += 1
        by_cfg[(b, rr)] = (
            sum(m * (m - 1) // 2 for m in occ.values()),
            len(occ), sum(1 for m in occ.values() if m >= 2),
            max(occ.values()))
    for r in rows:
        assert (r.candidate_pairs, r.n_buckets, r.n_hot_buckets,
                r.max_bucket) == by_cfg[(r.b, r.r)], (r.b, r.r)

    chosen = [r for r in rows if r.chosen == 1]
    assert len(chosen) == 1
    c = chosen[0]
    eligible = [r for r in rows
                if r.recall90_e6 >= LSH_ADV_RECALL_FLOOR_E6]
    assert c.recall90_e6 >= LSH_ADV_RECALL_FLOOR_E6
    assert all(c.candidate_pairs <= r.candidate_pairs for r in eligible)


def test_cep_pattern_correct_under_skew(spark, skew_dir, rows):
    """behavior_cep_pattern under the bot (r09 verdict item 2): the
    300k-event hot key flows through <= CEP_CHUNK-struct aggregation
    buffers (never one whole-history collect_list) and still counts
    exactly what a Python re.findall over the (ts, event_id)-ordered
    type-initial string counts."""
    import re

    from go_mapreduce_crawler_spark.operators import behavior

    got = {r.user_id: (r.n_events, r.n_funnel, r.n_error_bursts)
           for r in behavior.q_behavior_cep_pattern(
               spark, skew_dir).collect()}
    want = {}
    for uid, u in rows.groupby("user_id"):
        s = "".join(t[0] for t in u.event_type)
        want[uid] = (len(s),
                     len(re.findall(behavior.CEP_FUNNEL, s)),
                     len(re.findall(behavior.CEP_ERRBURST, s)))
    assert got == want
    # the stress is non-vacuous: the bot cycles s,v,c,p,e so every
    # cycle contributes one funnel match
    assert want[BOT][1] == BOT_EVENTS // len(TYPES)
    # and the bot's history spans many chunks
    assert BOT_EVENTS > 10 * behavior.CEP_CHUNK


def test_cep_pattern_re2_guard():
    """Patterns outside the RE2-safe class (backreferences or
    lookaround) are rejected loudly instead of silently diverging
    between java.util.regex and DuckDB's RE2 (r09 advice item 3)."""
    import pytest as _pytest

    from go_mapreduce_crawler_spark.operators.behavior import \
        _assert_re2_safe

    _assert_re2_safe("v+c+p")
    _assert_re2_safe("ee+")
    _assert_re2_safe("[a-z]{2,5}(vc)+")
    for bad in (r"(v)\1", "v(?=c)", "v(?!c)", "(?<=v)c", "(?<!v)c"):
        with _pytest.raises(ValueError):
            _assert_re2_safe(bad)
