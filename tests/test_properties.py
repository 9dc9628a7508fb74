"""Property-based checks (hypothesis) for the custom composed operators —
the ones whose semantics aren't pinned by a DuckDB oracle expression but
by a definition.  Few examples, small data: each example pays a Spark
job, so the strategy space is kept tight while still exercising ties,
empty sides, and out-of-order input."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from go_mapreduce_crawler_spark.operators.asof import asof_join

KEYS = st.integers(min_value=0, max_value=2)
TS = st.integers(min_value=0, max_value=20)

left_rows = st.lists(st.tuples(KEYS, TS), min_size=0, max_size=8)
right_rows = st.lists(st.tuples(KEYS, TS), min_size=0, max_size=8)


def _reference_asof(left, right):
    """Pure-Python backward as-of: for each left row the most recent
    right row with same key, right.ts <= left.ts; ties on right.ts broken
    by the largest payload id (matches the operator's total order:
    last() over ordering (ts, side, payload_id))."""
    out = {}
    for li, (k, lts) in enumerate(left):
        best = None
        for ri, (rk, rts) in enumerate(right):
            if rk == k and rts <= lts:
                cand = (rts, ri + 1000)
                if best is None or cand > best:
                    best = cand
        out[li] = best[1] if best else None
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(left=left_rows, right=right_rows)
def test_asof_join_matches_reference(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)] or [(None, None, None)],
        "lid int, k int, ts int").filter(F.col("lid").isNotNull())
    rdf = spark.createDataFrame(
        [(i + 1000, k, t) for i, (k, t) in enumerate(right)] or [(None, None, None)],
        "rid int, k int, ts int").filter(F.col("rid").isNotNull())
    got = asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="ts",
                    payload_cols=["rid"])
    got_map = {r.lid: r.asof_rid for r in got.collect()}
    assert got_map == _reference_asof(left, right)


# ---------------------------------------------------------------------
# Gap-based sessionization vs a pure-Python reference: random users,
# out-of-order timestamps, ties — the definition the batch AND streaming
# forms both claim to implement.

SESS_ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2),      # user
              st.integers(min_value=0, max_value=120)),   # minute
    min_size=1, max_size=12)

GAP_MIN = 30


def _reference_sessions(rows):
    """Sessions = maximal runs where consecutive (sorted) events per user
    are <= GAP apart; returns {user: sorted list of (n_events, start,
    end)}."""
    from collections import defaultdict
    per_user = defaultdict(list)
    for u, m in rows:
        per_user[u].append(m)
    out = {}
    for u, ms in per_user.items():
        ms.sort()
        sessions, cur = [], [ms[0]]
        for m in ms[1:]:
            if m - cur[-1] > GAP_MIN:
                sessions.append(cur)
                cur = [m]
            else:
                cur.append(m)
        sessions.append(cur)
        out[u] = sorted((len(s), s[0], s[-1]) for s in sessions)
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=SESS_ROWS)
def test_sessionize_matches_reference(spark, rows):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=m), u, "e", 1.0)
         for i, (u, m) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double")

    # q_sessionize reads via the module-level load_table in relational
    from go_mapreduce_crawler_spark.operators.relational import q_sessionize
    import go_mapreduce_crawler_spark.operators.relational as rel
    rel_orig = rel.load_table
    try:
        rel.load_table = lambda spark, sf_dir, name: df
        got = q_sessionize(spark, "ignored").collect()
    finally:
        rel.load_table = rel_orig
    per_user = {}
    for r in got:
        mins = lambda us: int((us / 1_000_000 - base.timestamp()) // 60)
        per_user.setdefault(r.user_id, []).append(
            (r.n_events, mins(r.start_us), mins(r.end_us)))
    got_map = {u: sorted(v) for u, v in per_user.items()}
    assert got_map == _reference_sessions(rows)


def test_exact_aggregation_is_partitioning_invariant(spark):
    """The DECIMAL-routed aggregates must return bit-identical results
    at any partition count — the engine's core reproducibility claim
    (SURVEY.md §1.1 monoid contract) and what makes results stable
    between local[32] and a 1000-executor cluster."""
    from go_mapreduce_crawler_spark.operators.relational import q1_pricing_summary
    import go_mapreduce_crawler_spark.operators.relational as rel
    from go_mapreduce_crawler_spark.sources.tables import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    results = []
    orig = rel.load_table
    try:
        for n in (1, 7, 32):
            rel.load_table = (lambda nn: (lambda s, d, t: base.repartition(nn)))(n)
            rows = sorted(map(tuple, q1_pricing_summary(spark, "x").collect()))
            results.append(rows)
    finally:
        rel.load_table = orig
    assert results[0] == results[1] == results[2]


def test_gap_fill_and_weighted_sample_partitioning_invariant(spark):
    """The new resample/sample operators claim hash-determinism: results
    must be identical (not just statistically alike) at any input
    partitioning — rand()-based formulations of either would fail this."""
    import go_mapreduce_crawler_spark.operators.temporal as tmp
    import go_mapreduce_crawler_spark.operators.sampling as smp
    from go_mapreduce_crawler_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    cases = ((tmp, tmp.q_ts_resample_ffill, ev),
             (tmp, tmp.q_ts_resample_interp, ev),
             (smp, smp.q_sample_weighted, docs))
    for mod, q, base in cases:
        orig = mod.load_table
        results = []
        try:
            for n in (1, 5, 32):
                mod.load_table = (lambda nn: (lambda s, d, t: base.repartition(nn)))(n)
                results.append(sorted(map(tuple, q(spark, "x").collect())))
        finally:
            mod.load_table = orig
        assert results[0] == results[1] == results[2], q.__name__


def _reference_asof_forward(left, right):
    """Pure-Python forward as-of: first right row with same key,
    right.ts >= left.ts; ties on right.ts take the SMALLEST payload id."""
    out = {}
    for li, (k, lts) in enumerate(left):
        best = None
        for ri, (rk, rts) in enumerate(right):
            if rk == k and rts >= lts:
                cand = (rts, ri + 1000)
                if best is None or cand < best:
                    best = cand
        out[li] = best[1] if best else None
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(left=left_rows, right=right_rows)
def test_asof_join_forward_matches_reference(spark, left, right):
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)] or [(None, None, None)],
        "lid int, k int, ts int").filter(F.col("lid").isNotNull())
    rdf = spark.createDataFrame(
        [(i + 1000, k, t) for i, (k, t) in enumerate(right)] or [(None, None, None)],
        "rid int, k int, ts int").filter(F.col("rid").isNotNull())
    got = asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="ts",
                    payload_cols=["rid"], direction="forward")
    got_map = {r.lid: r.asof_rid for r in got.collect()}
    assert got_map == _reference_asof_forward(left, right)


def test_events_loader_handles_nanos_as_long(spark, tmp_path):
    """load_table's LongType branch: a parquet writer that stores event
    time as raw int64 nanoseconds (TIMESTAMP(NANOS) read without
    timestamp rebasing) must come out as the same session-TZ TIMESTAMP
    the timestamp[us] encoding produces — the loader contract is
    encoding-independent."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from go_mapreduce_crawler_spark.sources.tables import load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    tbl = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([m * 1000 for m in micros], pa.int64()),  # nanos
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["a", "b"], pa.string()),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"], pa.string()),
    })
    d = tmp_path / "nanos"
    d.mkdir()
    pq.write_table(tbl, str(d / "events.parquet"))

    df = load_table(spark, str(d), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
    assert got == micros


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=23),
              st.integers(min_value=0, max_value=23)),
    min_size=0, max_size=40))
def test_star_components_equal_minlabel_on_random_graphs(spark, edges):
    """Property: large-star/small-star contraction and min-label
    propagation compute the SAME components on arbitrary random graphs —
    including chains, cliques, self-loop-free multigraphs, and empty
    inputs (star contraction's correctness must not depend on the
    near-clique shape of real dedup graphs)."""
    from go_mapreduce_crawler_spark.operators.dedup import (
        _min_label_components, _star_components)

    pairs = (spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 0)],
        "doc_a long, doc_b long")
        .filter(F.col("doc_a") != F.col("doc_b")))
    a = sorted(map(tuple, _min_label_components(pairs).collect()))
    b = sorted(map(tuple, _star_components(pairs).collect()))
    assert a == b


def test_ln_det_is_bit_identical_across_engines(spark):
    """The deterministic-ln contract under the unigram-LM score: Spark
    and DuckDB must produce BIT-identical doubles for _ln_det over a
    spread of counts (that is the whole point — libm ln carries no such
    guarantee), and the truncated series must stay within 2e-9 of true
    ln (three orders inside the 0.5e-6 quantization slack)."""
    import math
    import random
    import struct

    import duckdb

    from go_mapreduce_crawler_spark.operators.text import (
        _ln_det, _lit_duck, _lit_spark)

    rng = random.Random(17)
    ns = sorted({rng.randrange(1, 10**14) for _ in range(200)}
                | {1, 2, 3, 2**52 - 1, 10**14})
    con = duckdb.connect()
    con.execute("CREATE TABLE nn(n BIGINT)")
    con.executemany("INSERT INTO nn VALUES (?)", [(n,) for n in ns])
    duck = dict(con.sql(f"SELECT n, {_ln_det('n', _lit_duck)} FROM nn")
                .fetchall())
    sdf = spark.createDataFrame([(n,) for n in ns], "n long")
    sp = {r[0]: r[1] for r in
          sdf.selectExpr("n", f"{_ln_det('n', _lit_spark)} AS v").collect()}
    for n in ns:
        assert struct.pack("<d", duck[n]) == struct.pack("<d", sp[n]), n
        assert abs(duck[n] - math.log(n)) < 2e-9, n


def _rand_docs_dirs(spark, tmp_path, seed=23, n_docs=80):
    """The same random documents table written under two different
    partitionings — the input pair for partitioning-invariance checks."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        text = " ".join(f"w{rng.randrange(40)}"
                        for _ in range(rng.randrange(1, 900)))
        rows.append((i * 7, text, "en", "s", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    d1, d7 = str(tmp_path / "p1"), str(tmp_path / "p7")
    df.coalesce(1).write.parquet(f"{d1}/documents.parquet")
    df.repartition(7).write.parquet(f"{d7}/documents.parquet")
    return d1, d7, rows


def test_seq_packing_is_partitioning_invariant_and_exact(spark, tmp_path):
    """The two-level prefix sum must give the SAME answer on a 1-split
    and a 7-split layout of the same random corpus, and both must equal
    a straight Python running-total model — the property that makes the
    operator safe to re-partition at 100 TB."""
    from go_mapreduce_crawler_spark.operators import text as t

    d1, d7, rows = _rand_docs_dirs(spark, tmp_path)
    a = {r["doc_id"]: (r["first_seq"], r["last_seq"], r["n_seqs"])
         for r in t.q_seq_packing(spark, d1).collect()}
    b = {r["doc_id"]: (r["first_seq"], r["last_seq"], r["n_seqs"])
         for r in t.q_seq_packing(spark, d7).collect()}
    assert a == b
    cum = 0
    for doc_id, text, *_ in sorted(rows):
        n = len(text.split(" "))
        first, last = cum // t.SEQ_LEN, (cum + n - 1) // t.SEQ_LEN
        assert a[doc_id] == (first, last, last - first + 1), doc_id
        cum += n


def test_embedding_quantize_is_partitioning_invariant(spark, tmp_path):
    """int8 quantization must not depend on the corpus partitioning:
    per-dim max is order-free, everything after is row-local."""
    import random

    from go_mapreduce_crawler_spark.operators import similarity as sim

    rng = random.Random(31)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(8)], i % 3)
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    d1, d5 = str(tmp_path / "q1"), str(tmp_path / "q5")
    df.coalesce(1).write.parquet(f"{d1}/embeddings.parquet")
    df.repartition(5).write.parquet(f"{d5}/embeddings.parquet")
    a = {r["vec_id"]: (r["q_vec"], r["err_e9"])
         for r in sim.q_embedding_quantize(spark, d1).collect()}
    b = {r["vec_id"]: (r["q_vec"], r["err_e9"])
         for r in sim.q_embedding_quantize(spark, d5).collect()}
    assert a == b
    qs = {int(v) for vec, _ in a.values() for v in vec.split(",")}
    assert qs and all(-127 <= v <= 127 for v in qs)


def test_bpe_doublespace_replace_equals_explicit_fold():
    """bpe_train_merges rewrites via a single non-overlapping string
    replace over a double-space encoding; pin its equivalence to the
    explicit leftmost-nonoverlapping merge fold on random token
    sequences (the trick both engines rely on)."""
    import random

    def enc(toks):
        return " " + "  ".join(toks) + " "

    def dec(s):
        return s.strip(" ").split("  ")

    def ref(toks, a, b):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + "_" + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    rng = random.Random(7)
    alphabet = ["a", "b", "c", "d", "a_b"]
    for _ in range(5000):
        toks = [rng.choice(alphabet) for _ in range(rng.randint(1, 10))]
        a, b = rng.choice(alphabet), rng.choice(alphabet)
        got = dec(enc(toks).replace(f" {a}  {b} ", f" {a}_{b} "))
        assert got == ref(toks, a, b), (toks, a, b, got)


def test_bpe_trainer_matches_python_reference(spark, tmp_path):
    """The full 8-step distributed BPE trainer must equal a pure-Python
    sequential reference (pair counting with the same overlap
    convention, top pair by (count desc, a, b), leftmost-nonoverlapping
    merge) on a random corpus — pins the ALGORITHM end to end, not just
    the single-merge rewrite trick."""
    import random

    from go_mapreduce_crawler_spark.operators import curation

    rng = random.Random(13)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 20))))
            for i in range(40)]

    def ref_train(corpus, steps):
        seqs = [t.split(" ") for _, t in corpus]
        out = []
        for step in range(steps):
            counts = {}
            for s in seqs:
                for x, y in zip(s, s[1:]):
                    counts[(x, y)] = counts.get((x, y), 0) + 1
            (a, b), cnt = min(counts.items(),
                              key=lambda kv: (-kv[1], kv[0]))
            out.append((step, a, b, a + "_" + b, cnt))

            def merge(s):
                r, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        r.append(a + "_" + b)
                        i += 2
                    else:
                        r.append(s[i])
                        i += 1
                return r

            seqs = [merge(s) for s in seqs]
        return out

    d = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id long, text string") \
         .write.parquet(d)

    import go_mapreduce_crawler_spark.operators.curation as cur
    orig = cur.load_table
    try:
        cur.load_table = lambda s, sd, t: s.read.parquet(d)
        got = [(r.step, r.a, r.b, r.merged, r.cnt)
               for r in cur.q_bpe_train(spark, "x").collect()]
    finally:
        cur.load_table = orig
    assert sorted(got) == ref_train(docs, curation.BPE_STEPS)


def test_shard_and_token_budget_partitioning_invariant(spark):
    """shard_assignment and sample_token_budget are hash-deterministic:
    results must be identical at any input partitioning (the property
    that makes the training shuffle reproducible on a cluster)."""
    import go_mapreduce_crawler_spark.operators.curation as cur
    from go_mapreduce_crawler_spark.sources.tables import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    for fn in (cur.q_shard_assignment, cur.q_sample_token_budget):
        results = []
        orig = cur.load_table
        try:
            for n in (1, 5, 17):
                cur.load_table = (
                    lambda nn: (lambda s, d, t: base.repartition(nn)))(n)
                results.append(sorted(map(tuple, fn(spark, "x").collect())))
        finally:
            cur.load_table = orig
        assert results[0] == results[1] == results[2], fn.__name__


# ---------------------------------------------------------------------
# r04 two-level / compacted-relation rewrites vs brute-force Python on
# RANDOM inputs with adversarial ties (duplicate timestamps, heavy value
# duplication, hash-prefix collisions) — distributions the fixed
# fixtures cannot cover.

def _rand_events_dir(spark, tmp_path, seed, n_users=6, n_events=120):
    import random as rnd
    r = rnd.Random(seed)
    types = ["signup", "view", "click", "purchase", "error"]
    rows = []
    for i in range(n_events):
        rows.append((i, r.randrange(0, 40),          # deliberate ts ties
                     r.randrange(0, n_users),
                     r.choice(types),
                     r.randrange(0, 2000) / 100.0,   # 2-dp cents, heavy dups
                     "{}"))
    df = (spark.createDataFrame(
              rows, "event_id long, sec long, user_id long, "
                    "event_type string, value double, props string")
          .select("event_id", F.timestamp_seconds("sec").alias("ts"),
                  "user_id", "event_type", "value", "props"))
    d = str(tmp_path / f"ev{seed}")
    df.repartition(5).write.parquet(f"{d}/events.parquet")
    return d, rows


def test_funnel_matches_python_fold_on_random_tied_events(spark, tmp_path):
    """Chained-min funnel vs the sorted-fold reference on random events
    with many duplicate timestamps — the strict-> tie contract."""
    from go_mapreduce_crawler_spark.operators import behavior

    for seed in (1, 2, 3):
        d, rows = _rand_events_dir(spark, tmp_path, seed)
        got = {r["stage"]: r["users"]
               for r in behavior.q_funnel_conversion(spark, d).collect()}
        by_user = {}
        for eid, sec, uid, typ, _v, _p in rows:
            if typ in behavior.FUNNEL_STAGES:
                by_user.setdefault(uid, []).append((sec, eid, typ))
        counts = dict.fromkeys(behavior.FUNNEL_STAGES, 0)
        for evs in by_user.values():
            evs.sort()
            reached = [None] * 4
            for sec, _eid, typ in evs:
                if reached[0] is None:
                    if typ == behavior.FUNNEL_STAGES[0]:
                        reached[0] = sec
                    continue
                for k in range(1, 4):
                    if (reached[k] is None and reached[k - 1] is not None
                            and typ == behavior.FUNNEL_STAGES[k]
                            and sec > reached[k - 1]):
                        reached[k] = sec
            for k, st_ in enumerate(behavior.FUNNEL_STAGES):
                counts[st_] += reached[k] is not None
        assert got == counts, (seed, got, counts)


def test_equidepth_matches_raw_ntile_on_random_duplicated_values(
        spark, tmp_path):
    """The compacted-relation NTILE distribution must equal raw-row
    NTILE over (value, event_id) for every bucket stat, under heavy
    value duplication."""
    from decimal import Decimal

    from go_mapreduce_crawler_spark.operators import features

    for seed in (4, 5):
        d, rows = _rand_events_dir(spark, tmp_path, seed)
        got = {(r.event_type, r.bucket): (r.n, r.lo, r.hi, r.mass)
               for r in features.q_histogram_equidepth(spark, d).collect()}
        by_type = {}
        for eid, _sec, _uid, typ, v, _p in rows:
            by_type.setdefault(typ, []).append(
                (Decimal(round(v * 100)) / 100, eid))
        expect = {}
        for typ, vs in by_type.items():
            vs.sort()
            n = len(vs)
            q, rm = divmod(n, 10)
            start = 0
            for b in range(1, 11):
                size = q + (1 if b <= rm else 0)
                if size == 0:
                    continue
                chunk = vs[start:start + size]
                start += size
                expect[(typ, b)] = (
                    size, float(chunk[0][0]), float(chunk[-1][0]),
                    float(sum(c for c, _ in chunk)))
        assert got == expect, (seed, set(got) ^ set(expect))


def test_token_budget_two_level_equals_python_greedy(spark, tmp_path):
    """Two-level prefix cum_tokens must equal the single-pass Python
    greedy over (md5 hex, doc_id) order per source."""
    import hashlib
    import random as rnd

    from go_mapreduce_crawler_spark.operators import curation as cur

    for seed in (7, 8):
        r = rnd.Random(seed)
        rows = [(i, " ".join(["w"] * r.randrange(1, 60)),
                 "xx", f"s{r.randrange(0, 3)}", 0)
                for i in range(80)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_chars long")
        d = str(tmp_path / f"docs{seed}")
        df.repartition(7).write.parquet(f"{d}/documents.parquet")
        got = {r.doc_id: r.cum_tokens
               for r in cur.q_sample_token_budget(spark, d).collect()}
        by_src = {}
        for doc_id, text, _l, src, _n in rows:
            h = hashlib.md5(str(doc_id).encode()).hexdigest()
            by_src.setdefault(src, []).append((h, doc_id, len(text.split())))
        expect = {}
        for docs in by_src.values():
            docs.sort()
            cum = 0
            for _h, doc_id, n in docs:
                if cum < cur.TOKEN_BUDGET:
                    expect[doc_id] = cum + n
                cum += n
        assert got == expect, (seed, set(got) ^ set(expect))


def test_abc_two_level_equals_python_global_cumsum(spark, tmp_path):
    """The value-range-bucketed ABC prefix must equal a straight Python
    revenue-descending running sum, classes included."""
    import random as rnd
    from decimal import Decimal

    from go_mapreduce_crawler_spark.operators import relational as rel

    for seed in (9, 10):
        r = rnd.Random(seed)
        rows = [(i % 30, Decimal(r.randrange(1, 10_000_000)) / 100,
                 Decimal(r.randrange(0, 10)) / 100)
                for i in range(150)]
        df = spark.createDataFrame(
            [(pk, float(p), float(dis)) for pk, p, dis in rows],
            "l_partkey long, l_extendedprice double, l_discount double")
        d = str(tmp_path / f"li{seed}")
        df.repartition(6).write.parquet(f"{d}/lineitem.parquet")
        got = {r.l_partkey: (r.revenue, r.cum_share_ppm, r.abc_class)
               for r in rel.q_abc_analysis(spark, d).collect()}
        rev = {}
        for pk, p, dis in rows:
            rev[pk] = rev.get(pk, Decimal(0)) + p * (1 - dis)
        total = sum(rev.values())
        cum = Decimal(0)
        expect = {}
        for pk in sorted(rev, key=lambda k: (-rev[k], k)):
            cum += rev[pk]
            ppm = int(float(cum) / float(total) * 1e6)  # floor
            cls = "A" if ppm <= 800_000 else ("B" if ppm <= 950_000 else "C")
            expect[pk] = (float(rev[pk]), ppm, cls)
        assert got == expect, (seed,
                               {k: (got[k], expect[k]) for k in got
                                if got[k] != expect[k]})


@given(st.lists(st.integers(min_value=-10**8, max_value=10**8),
                min_size=1, max_size=60))
@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_holt_lag_weights_reproduce_the_recurrence(ys):
    """The closed-form property behind events_holt_forecast, on random
    integer series: evaluating the UNQUANTIZED lag weights (M^lag
    columns) must equal running the sequential Holt recurrence — the
    linearity argument itself, independent of Spark and of the e6
    quantization."""
    from go_mapreduce_crawler_spark.operators.temporal import (HOLT_ALPHA,
                                                               HOLT_BETA)
    a, b = HOLT_ALPHA, HOLT_BETA
    # sequential recurrence
    l, tr = float(ys[0]), 0.0
    for y in ys[1:]:
        l_new = a * y + (1 - a) * (l + tr)
        tr = b * (l_new - l) + (1 - b) * tr
        l = l_new
    seq = l + tr
    # closed form: forecast = sum_t w(lag_t) * y_t with exact M^lag
    m = ((1.0 - a, 1.0 - a), (-a * b, 1.0 - a * b))
    p = ((1.0, 0.0), (0.0, 1.0))
    w_g, w_e1 = {}, {}
    for lag in range(len(ys)):
        w_g[lag] = (p[0][0] + p[1][0]) * a + (p[0][1] + p[1][1]) * a * b
        w_e1[lag] = p[0][0] + p[1][0]
        p = ((m[0][0] * p[0][0] + m[0][1] * p[1][0],
              m[0][0] * p[0][1] + m[0][1] * p[1][1]),
             (m[1][0] * p[0][0] + m[1][1] * p[1][0],
              m[1][0] * p[0][1] + m[1][1] * p[1][1]))
    n = len(ys)
    closed = sum((w_e1 if rn == 1 else w_g)[n - rn] * y
                 for rn, y in enumerate(ys, 1))
    assert abs(closed - seq) <= 1e-9 * max(1.0, abs(seq), *map(abs, ys))


def test_bpe_batched_trainer_matches_python_reference(spark, tmp_path):
    """q_bpe_train_batched must equal a pure-Python reference of the
    SAME batched semantics (per round: frequency snapshot -> top-N pool
    by (count desc, a, b) -> greedy NON-CHAINING acceptance capped
    at the batch size -> leftmost-nonoverlapping rewrite of every
    accepted pair) on a random corpus — pins the round structure, the
    greedy walk, and the batch rewrite end to end."""
    import random

    import go_mapreduce_crawler_spark.operators.curation as cur

    rng = random.Random(29)
    vocab = [c + d for c in "abcdef" for d in "xyz"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 30))))
            for i in range(60)]

    def ref_train(corpus, rounds, topn, batch):
        texts = [" " + t.replace(" ", "  ") + " " for _, t in corpus]
        out = []
        for rnd in range(rounds):
            counts = {}
            for s in texts:
                toks = s.strip(" ").split("  ")
                for x, y in zip(toks, toks[1:]):
                    counts[(x, y)] = counts.get((x, y), 0) + 1
            pool = sorted(counts.items(),
                          key=lambda kv: (-kv[1], kv[0]))[:topn]
            used_l, used_r, acc = set(), set(), []
            for (a, b), c in pool:
                if len(acc) >= batch:
                    break
                if a in used_r or b in used_l or a == b:
                    continue
                used_l.add(a)
                used_r.add(b)
                acc.append((a, b, c))
            if not acc:
                break
            for bid, (a, b, c) in enumerate(acc, 1):
                out.append((len(out), rnd, bid, a, b, a + "_" + b, c))
            texts = [sfull for sfull in (
                _apply(s, acc) for s in texts)]
        return out

    def _apply(s, acc):
        for a, b, _ in acc:
            s = s.replace(f" {a}  {b} ", f" {a}_{b} ")
        return s

    d = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id long, text string") \
         .write.parquet(d)
    orig = cur.load_table
    try:
        cur.load_table = lambda s, sd, t: s.read.parquet(d)
        got = [(r.merge_id, r.round, r.bid, r.a, r.b, r.merged, r.cnt)
               for r in cur.q_bpe_train_batched(spark, "x").collect()]
    finally:
        cur.load_table = orig
    assert sorted(got) == ref_train(docs, cur.BPE_B_ROUNDS,
                                    cur.BPE_B_TOPN, cur.BPE_B_BATCH)


def test_cdc_chunk_boundaries_are_insert_stable():
    """The content-defined chunking property the operator exists for:
    prepending words to a document disturbs only chunks up to the
    first boundary AFTER the edit — every later chunk is bit-identical
    (fixed-size windows would re-offset all of them).  Pure-Python
    replication of the operator's boundary rule (md5_32(word) % 16)."""
    import hashlib
    import random

    from go_mapreduce_crawler_spark.operators.text import CDC_MOD

    def is_boundary(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) \
            % CDC_MOD == 0

    def chunks(words):
        out, cur = [], []
        for w in words:
            cur.append(w)
            if is_boundary(w):
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    words = [rng.choice(vocab) for _ in range(400)]
    base = chunks(words)
    assert len(base) > 10          # boundaries actually fire
    edited = chunks(["inserted", "stuff"] + words)
    # all chunks after the first boundary are shared verbatim
    shared = set(base) & set(edited)
    assert len(shared) >= len(base) - 1
    # and a FIXED window of the same average size shares almost nothing
    k = max(1, len(words) // max(len(base), 1))
    fixed = [" ".join(words[i:i + k]) for i in range(0, len(words), k)]
    fixed_edited = [" ".join((["inserted", "stuff"] + words)[i:i + k])
                    for i in range(0, len(words) + 2, k)]
    assert len(set(fixed) & set(fixed_edited)) <= len(base) // 2


def test_substring_dedup_matches_python_suffix_array(spark, tmp_path):
    """The prefix-doubling leader-naming engine must agree with a REAL
    Python suffix array (sorted suffixes + adjacent-LCP detection, the
    Lee et al. ACL'22 construction): a position starts a duplicated
    >= K window iff its suffix shares an LCP >= K with an adjacent
    suffix in suffix-array order; the rewrite removes the union of
    those [s, s+K) spans.  Unique per-doc separators stop matches from
    crossing document boundaries, exactly like the engine's per-doc
    windows."""
    import hashlib

    from go_mapreduce_crawler_spark.operators.dedup import (
        SUBSTR_K, q_dedup_substring_suffix)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .orderBy("doc_id").limit(80).collect())
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        f"{d}/documents.parquet")

    # ---- Python ground truth: true suffix array over the token
    # concatenation with unique separators ----
    seq, where = [], []            # where[g] = (doc_id, pos-in-doc)
    for i, r in enumerate(docs):
        toks = r.text.split(" ")
        for p, w in enumerate(toks):
            seq.append(w)
            where.append((r.doc_id, p))
        seq.append(f"\x00sep{i}")
        where.append((None, None))
    n = len(seq)
    sa = sorted(range(n), key=lambda i: seq[i:])

    def lcp(i, j):
        l = 0
        while i + l < n and j + l < n and seq[i + l] == seq[j + l]:
            l += 1
        return l

    dup_start = set()
    for a, b in zip(sa, sa[1:]):
        if lcp(a, b) >= SUBSTR_K:
            dup_start.add(a)
            dup_start.add(b)
    removed = set()                # global positions covered
    for s in dup_start:
        removed.update(range(s, s + SUBSTR_K))
    expect = {}
    for i, r in enumerate(docs):
        toks = r.text.split(" ")
        offs = [g for g, (di, _) in enumerate(where) if di == r.doc_id]
        kept = [seq[g] for g in offs if g not in removed]
        md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
        expect[r.doc_id] = (len(toks), len(toks) - len(kept), md5)

    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_md5)
           for r in q_dedup_substring_suffix(spark, d).collect()}
    assert got == expect
    assert sum(v[1] for v in expect.values()) > 0   # fixture non-trivial


def test_unigram_lm_trainer_matches_python_reference(spark):
    """q_unigram_lm_train vs an independent pure-Python trainer: same
    candidate seeding + cap, the same integer-micro-nat costs via an
    IEEE-double replica of _ln_det (every op in that formula is
    correctly rounded, so Python evaluates the identical doubles), the
    same smallest-j Viterbi tie-break, prune and char-floor M-steps —
    the full EM run must agree bit-for-bit."""
    import math
    from collections import Counter

    from go_mapreduce_crawler_spark.operators.curation import (
        UNIG_MAXP, UNIG_ROUNDS, UNIG_V, q_unigram_lm_train)

    rows = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").collect())
    words = Counter()
    for r in rows:
        words.update(r.text.split(" "))

    def ln_det(n: int) -> float:
        e = n.bit_length() - 1
        m = n / (2.0 ** e)
        t = (m - 1.0) / (m + 1.0)
        t2 = t * t
        poly = 1.0 / 15.0
        for k in (13, 11, 9, 7, 5, 3):
            poly = (1.0 / k) + t2 * poly
        lnm = 2.0 * t * (1.0 + t2 * poly)
        return lnm + float(e) * math.log(2)

    def costs_of(vocab):
        total = sum(c for _, c in vocab)
        lt = ln_det(total)
        # round-half-even like SQL round(x, 0) on doubles
        return {p: int(round((lt - ln_det(c)) * 1e6, 0))
                for p, c in vocab}

    cand = Counter()
    for w, c in words.items():
        for s in range(len(w)):
            for l in range(1, min(UNIG_MAXP, len(w) - s) + 1):
                cand[w[s:s + l]] += c
    multi = sorted((p for p in cand if len(p) > 1),
                   key=lambda p: (-cand[p], p))[:UNIG_V]
    chars = [p for p in cand if len(p) == 1]
    vocab = [(p, cand[p]) for p in multi] + [(p, cand[p]) for p in chars]

    def viterbi(w, costs):
        n = len(w)
        inf = 1 << 62
        dp = [0] + [inf] * n
        bj = [0] * (n + 1)
        for i in range(1, n + 1):
            best, bestj = inf, 0
            for j in range(max(0, i - UNIG_MAXP), i):
                pc = costs.get(w[j:i])
                if pc is None:
                    continue
                if dp[j] + pc < best:
                    best, bestj = dp[j] + pc, j
            dp[i], bj[i] = best, bestj
        i, seg = n, []
        while i > 0:
            seg.append(w[bj[i]:i])
            i = bj[i]
        return seg

    for _ in range(UNIG_ROUNDS):
        costs = costs_of(vocab)
        usage = Counter()
        for w, c in words.items():
            for p in viterbi(w, costs):
                usage[p] += c
        vocab = ([(p, usage[p]) for p, _ in vocab
                  if len(p) > 1 and usage[p] > 0]
                 + [(p, max(usage[p], 1)) for p, _ in vocab
                    if len(p) == 1])
    costs = costs_of(vocab)
    expect = {(p, len(p), c, costs[p]) for p, c in vocab}
    got = {(r.piece, r.piece_len, r.cnt, r.cost_un)
           for r in q_unigram_lm_train(
               spark, "/root/testdata/sf0.001").collect()}
    assert got == expect and len(got) > 30


def test_bpe_batched_512_matches_python_reference_on_corpus(spark):
    """The production-shaped 4x2048x128 configuration must train
    EXACTLY 512 merges on the sf0.001 corpus (the non-chaining rule
    fills the 128-batch every round) and agree merge-for-merge with
    the pure-Python reference of the same batched semantics."""
    import go_mapreduce_crawler_spark.operators.curation as cur

    docs = [(r.doc_id, r.text) for r in spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").collect()]

    def ref_train(corpus, rounds, topn, batch):
        texts = [" " + t.replace(" ", "  ") + " " for _, t in corpus]
        out = []
        for rnd in range(rounds):
            counts = {}
            for s in texts:
                toks = s.strip(" ").split("  ")
                for x, y in zip(toks, toks[1:]):
                    counts[(x, y)] = counts.get((x, y), 0) + 1
            pool = sorted(counts.items(),
                          key=lambda kv: (-kv[1], kv[0]))[:topn]
            used_l, used_r, acc = set(), set(), []
            for (a, b), c in pool:
                if len(acc) >= batch:
                    break
                if a in used_r or b in used_l or a == b:
                    continue
                used_l.add(a)
                used_r.add(b)
                acc.append((a, b, c))
            if not acc:
                break
            for bid, (a, b, c) in enumerate(acc, 1):
                out.append((len(out), rnd, bid, a, b, a + "_" + b, c))
            nt = []
            for s in texts:
                for a, b, _ in acc:
                    s = s.replace(f" {a}  {b} ", f" {a}_{b} ")
                nt.append(s)
            texts = nt
        return out

    expect = ref_train(docs, cur.BPE_512_ROUNDS, cur.BPE_512_TOPN,
                       cur.BPE_512_BATCH)
    assert len(expect) == 512
    got = sorted(
        (r.merge_id, r.round, r.bid, r.a, r.b, r.merged, r.cnt)
        for r in cur.q_bpe_train_batched512(
            spark, "/root/testdata/sf0.001").collect())
    assert got == expect


def test_unigram_train_rejects_words_beyond_oracle_unroll_bound(
        spark, tmp_path):
    """UNIG_MAXW guard (r07 advice item 1): the bound unrolls only the
    ORACLE's DP — the Spark kernels are unbounded — so a corpus word
    longer than UNIG_MAXW would silently vanish from the oracle's
    usage counts and the apply/mixture inner joins.  The trainer must
    fail LOUDLY instead (driver records err, never a silent hash
    divergence)."""
    import pytest

    from go_mapreduce_crawler_spark.operators.curation import (
        UNIG_MAXW, _unigram_train)

    long_word = "x" * (UNIG_MAXW + 1)
    df = spark.createDataFrame(
        [(1, f"alpha {long_word} beta", "en", "web", 20)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    d = str(tmp_path / "documents.parquet")
    df.write.mode("overwrite").parquet(d)
    with pytest.raises(ValueError, match="UNIG_MAXW"):
        _unigram_train(spark, str(tmp_path))


def test_bm25_retrieval_matches_python_reference(spark):
    """q_text_bm25_retrieval vs an independent pure-Python BM25 ranker
    (IEEE-double _ln_det replica, identical operation order): same
    derived query workload (top-15 df terms, 3 per query), same
    per-term floor(score*1e6) integers, same (score desc, doc_id)
    top-10 per query."""
    import math
    from collections import Counter, defaultdict

    from go_mapreduce_crawler_spark.operators.text import (
        BM25R_QLEN, BM25R_QUERIES, BM25R_TOPK, q_text_bm25_retrieval)

    def ln_det(n: int) -> float:
        e = n.bit_length() - 1
        m = n / (2.0 ** e)
        t = (m - 1.0) / (m + 1.0)
        t2 = t * t
        poly = 1.0 / 15.0
        for k in (13, 11, 9, 7, 5, 3):
            poly = (1.0 / k) + t2 * poly
        lnm = 2.0 * t * (1.0 + t2 * poly)
        return lnm + float(e) * math.log(2)

    rows = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").collect())
    tf = Counter()
    for r in rows:
        for w in r.text.split(" "):
            tf[(r.doc_id, w)] += 1
    df = Counter(w for (_, w) in tf)
    dl = Counter()
    for (d, w), c in tf.items():
        dl[d] += c
    total_words, n_docs = sum(dl.values()), len(dl)

    nterms = BM25R_QUERIES * BM25R_QLEN
    head = sorted(df, key=lambda w: (-df[w], w))[:nterms]
    qid = {w: i // BM25R_QLEN for i, w in enumerate(head)}
    qterms = {q: " ".join(head[q * BM25R_QLEN:(q + 1) * BM25R_QLEN])
              for q in range(BM25R_QUERIES)}

    score = defaultdict(int)
    for (d, w), c in tf.items():
        if w not in qid:
            continue
        idf = (ln_det(2 * n_docs - 2 * df[w] + 1)
               - ln_det(2 * df[w] + 1))
        dln = 0.25 + 0.75 * (float(dl[d] * n_docs) / float(total_words))
        score[(qid[w], d)] += math.floor(
            (idf * (float(c) * 2.2)) / (float(c) + 1.2 * dln) * 1e6)
    expect = set()
    for q in range(BM25R_QUERIES):
        docs = sorted(((d, s) for (qq, d), s in score.items()
                       if qq == q), key=lambda x: (-x[1], x[0]))
        for rk, (d, s) in enumerate(docs[:BM25R_TOPK], 1):
            expect.add((q, qterms[q], d, s, rk))

    got = {(r.query_id, r.query_terms, r.doc_id, r.score_e6, r.rk)
           for r in q_text_bm25_retrieval(
               spark, "/root/testdata/sf0.001").collect()}
    assert got == expect and len(got) == BM25R_QUERIES * BM25R_TOPK


def test_unigram_v1k_trainer_matches_python_reference(spark):
    """q_unigram_lm_train_v1k (production-shaped: chunked word stream,
    1024-candidate cap, 4 hard-EM rounds) vs the same pure-Python
    trainer replica used for the toy — the full run must agree
    bit-for-bit, and the cap must actually BIND (more candidates than
    cap, exactly 1024 multi-char pieces seeded)."""
    import math
    from collections import Counter

    from go_mapreduce_crawler_spark.operators.curation import (
        UNIG1K_ROUNDS, UNIG1K_V, UNIG_CHUNK_W, UNIG_MAXP,
        q_unigram_lm_train_v1k)

    def ln_det(n: int) -> float:
        e = n.bit_length() - 1
        m = n / (2.0 ** e)
        t = (m - 1.0) / (m + 1.0)
        t2 = t * t
        poly = 1.0 / 15.0
        for k in (13, 11, 9, 7, 5, 3):
            poly = (1.0 / k) + t2 * poly
        lnm = 2.0 * t * (1.0 + t2 * poly)
        return lnm + float(e) * math.log(2)

    def costs_of(vocab):
        total = sum(c for _, c in vocab)
        lt = ln_det(total)
        return {p: int(round((lt - ln_det(c)) * 1e6, 0))
                for p, c in vocab}

    def viterbi(w, costs):
        n = len(w)
        inf = 1 << 62
        dp = [0] + [inf] * n
        bj = [0] * (n + 1)
        for i in range(1, n + 1):
            best, bestj = inf, 0
            for j in range(max(0, i - UNIG_MAXP), i):
                pc = costs.get(w[j:i])
                if pc is None:
                    continue
                if dp[j] + pc < best:
                    best, bestj = dp[j] + pc, j
            dp[i], bj[i] = best, bestj
        i, seg = n, []
        while i > 0:
            seg.append(w[bj[i]:i])
            i = bj[i]
        return seg

    rows = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").collect())
    words = Counter()
    W = UNIG_CHUNK_W
    for r in rows:
        if not r.text:
            continue
        b = r.text.replace(" ", "_")
        for i in range(0, len(b), W):
            words[b[i:i + W]] += 1

    cand = Counter()
    for w, c in words.items():
        for s in range(len(w)):
            for l in range(1, min(UNIG_MAXP, len(w) - s) + 1):
                cand[w[s:s + l]] += c
    multis = sorted((p for p in cand if len(p) > 1),
                    key=lambda p: (-cand[p], p))
    assert len(multis) > UNIG1K_V          # the cap binds
    multi = multis[:UNIG1K_V]
    chars = [p for p in cand if len(p) == 1]
    vocab = [(p, cand[p]) for p in multi] + [(p, cand[p]) for p in chars]

    for _ in range(UNIG1K_ROUNDS):
        costs = costs_of(vocab)
        usage = Counter()
        for w, c in words.items():
            for p in viterbi(w, costs):
                usage[p] += c
        vocab = ([(p, usage[p]) for p, _ in vocab
                  if len(p) > 1 and usage[p] > 0]
                 + [(p, max(usage[p], 1)) for p, _ in vocab
                    if len(p) == 1])
    costs = costs_of(vocab)
    expect = {(p, len(p), c, costs[p]) for p, c in vocab}
    got = {(r.piece, r.piece_len, r.cnt, r.cost_un)
           for r in q_unigram_lm_train_v1k(
               spark, "/root/testdata/sf0.001").collect()}
    assert got == expect and len(got) > 200


def test_domain_mixture_mw_matches_python_reference(spark):
    """q_domain_mixture_mw vs an independent pure-Python computation
    of the excess losses (ln_det replica over raw token/bigram counts)
    and the multiplicative-weights trajectory; plus the DoReMi
    property: weight mass moves monotonically toward the max-excess
    source and the trajectory stays normalized."""
    import math
    from collections import Counter

    from go_mapreduce_crawler_spark.operators.curation import (
        DOREMI_ETA_PPM, DOREMI_ROUNDS, q_domain_mixture_mw)

    def ln_det(n: int) -> float:
        e = n.bit_length() - 1
        m = n / (2.0 ** e)
        t = (m - 1.0) / (m + 1.0)
        t2 = t * t
        poly = 1.0 / 15.0
        for kk in (13, 11, 9, 7, 5, 3):
            poly = (1.0 / kk) + t2 * poly
        return 2.0 * t * (1.0 + t2 * poly) + float(e) * math.log(2)

    rows = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").collect())
    uni, bi = Counter(), Counter()
    src_tok, src_bg = Counter(), Counter()
    su, sb = Counter(), Counter()
    for r in rows:
        ws = r.text.split(" ")
        uni.update(ws)
    N = sum(uni.values())
    for r in rows:
        ws = r.text.split(" ")
        bi.update(zip(ws, ws[1:]))
    lp_u = {w: int(round((ln_det(c) - ln_det(N)) * 1e6, 0))
            for w, c in uni.items()}
    lp_b = {p: int(round((ln_det(c_ab * N + uni[p[0]] * uni[p[1]])
                          - ln_det(2 * uni[p[0]] * N)) * 1e6, 0))
            for p, c_ab in bi.items()}
    for r in rows:
        ws = r.text.split(" ")
        src_tok[r.source] += len(ws)
        su[r.source] += sum(lp_u[w] for w in ws)
        src_bg[r.source] += len(ws) - 1
        sb[r.source] += sum(lp_b[p] for p in zip(ws, ws[1:]))
    base = sorted(
        (s, max((-su[s]) // src_tok[s] - (-sb[s]) // src_bg[s], 0))
        for s in src_tok)
    k = len(base)
    te = sum(e for _, e in base)
    enorm = {s: e * 10**6 // max(te, 1) for s, e in base}
    w = {s: 10**6 // k for s, _ in base}
    expect = {(0, s, e, w[s]) for s, e in base}
    for t in range(1, DOREMI_ROUNDS + 1):
        stepped = {s: (w[s] * (10**6 + (DOREMI_ETA_PPM * enorm[s])
                               // 10**6)) // 10**6 for s, _ in base}
        sw = sum(stepped.values())
        w = {s: stepped[s] * 10**6 // sw for s, _ in base}
        expect |= {(t, s, e, w[s]) for s, e in base}

    got_rows = q_domain_mixture_mw(
        spark, "/root/testdata/sf0.001").collect()
    got = {(r["round"], r.source, r.excess_ppw, r.weight_ppm)
           for r in got_rows}
    assert got == expect
    assert len(got) == k * (DOREMI_ROUNDS + 1)

    # MW property: the max-excess source's weight is non-decreasing
    # and ends strictly above uniform; every round stays ~normalized
    smax = max(base, key=lambda x: (x[1], x[0]))[0]
    per_round = {}
    for (t, s, e, wt) in got:
        per_round.setdefault(t, {})[s] = wt
    ws_max = [per_round[t][smax] for t in range(DOREMI_ROUNDS + 1)]
    assert all(a <= b for a, b in zip(ws_max, ws_max[1:]))
    if te > 0:
        assert ws_max[-1] > 10**6 // k
    for t, wm in per_round.items():
        assert abs(sum(wm.values()) - 10**6) <= k


def test_substring_len_profile_matches_python_literal_grams(spark):
    """q_dedup_substring_len_profile vs a pure-Python literal K-gram
    count at every profiled length (independent of both the engine's
    prefix doubling AND the oracle's md5 grams)."""
    from collections import Counter

    from go_mapreduce_crawler_spark.operators.dedup import (
        SUBSTR_LEVELS, q_dedup_substring_len_profile)

    rows = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").collect())
    expect = {}
    for L in SUBSTR_LEVELS:
        occ = Counter()
        docs_of = {}
        for r in rows:
            ws = r.text.split(" ")
            for i in range(len(ws) - L + 1):
                gm = tuple(ws[i:i + L])
                occ[gm] += 1
                docs_of.setdefault(gm, set()).add(r.doc_id)
        dup = {g for g, c in occ.items() if c >= 2}
        expect[L] = (sum(occ[g] for g in dup),
                     len(set().union(*(docs_of[g] for g in dup))
                         if dup else set()),
                     len(dup))
    got = {r.k: (r.n_dup_positions, r.n_docs_with_dup, r.n_dup_classes)
           for r in q_dedup_substring_len_profile(
               spark, "/root/testdata/sf0.001").collect()}
    assert got == expect
    # sanity on the profile shape: longer windows can only shrink
    ks = sorted(got)
    for a, b in zip(ks, ks[1:]):
        assert got[b][0] <= got[a][0]


def test_substring_len_profile_leaves_no_cache_entries(spark, sf_small):
    """Each doubling level's dup relation is cut with a lazy local
    checkpoint, not .cache(): collecting the query leaves the
    CacheManager as empty as it found it."""
    from go_mapreduce_crawler_spark.operators.dedup import (
        q_dedup_substring_len_profile)

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    rows = q_dedup_substring_len_profile(spark, sf_small).collect()
    assert rows
    assert cache.isEmpty()


def test_minhash_family_leaves_no_cache_entries(spark, sf_small):
    """The batch MinHash queries cut their shared shingles (and the
    precision report its candidates) with lazy local checkpoints, not
    .cache(): collecting each leaves the CacheManager empty."""
    from go_mapreduce_crawler_spark.operators import dedup

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    for q in (dedup.q_dedup_minhash_lsh, dedup.q_decontaminate_fuzzy,
              dedup.q_dedup_lsh_report, dedup.q_dedup_incremental_lsh,
              dedup.q_lsh_banding_advisor):
        assert q(spark, sf_small).collect(), q.__name__
        assert cache.isEmpty(), q.__name__


def test_minhash_null_text_has_no_shingles(spark, sf_small, tmp_path):
    """NULL-text contract: a document with NULL text has no shingles,
    signature or band keys, so it is never a near-duplicate — not of
    another NULL doc either.  Batch dedup_minhash_lsh and
    decontaminate_fuzzy_minhash (900010 is an eval doc) match their
    DuckDB oracles on a corpus with two NULL-text rows, and the
    streaming band keys have no rows for them."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_mapreduce_crawler_spark.operators import dedup
    from tests.oracle_utils import compare

    nulls = (900001, 900010)
    src = pq.read_table(f"{sf_small}/documents.parquet")
    extra = pa.table({f.name: pa.array(
        list(nulls) if f.name == "doc_id"
        else [None] * len(nulls) if f.name == "text"
        else src.column(f.name).to_pylist()[:len(nulls)],
        type=f.type) for f in src.schema})
    d = str(tmp_path)
    pq.write_table(pa.concat_tables([src, extra]),
                   f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet')")

    for name, q, a, b in (
            ("dedup_minhash_lsh", dedup.q_dedup_minhash_lsh,
             "doc_a", "doc_b"),
            ("decontaminate_fuzzy_minhash", dedup.q_decontaminate_fuzzy,
             "train_doc_id", "eval_doc_id")):
        df = q(spark, d)
        rows = df.collect()
        assert rows, name
        assert not {x for r in rows for x in (r[a], r[b])} & set(nulls)
        assert compare(df, con, dedup.ORACLE[name], name) == []

    docs = spark.read.parquet(f"{d}/documents.parquet")
    bands = dedup._band_keys(dedup._shingles(docs))
    assert bands.filter(F.col("doc_id").isin(*nulls)).count() == 0
    assert bands.count() == dedup.LSH_BANDS * src.num_rows


def test_cosine_sim_zero_vector_is_null(spark):
    """functions.vectors.cosine_sim: a zero vector has no direction, so
    its cosine is NULL instead of DIVIDE_BY_ZERO under ANSI; a non-zero
    pair keeps its value."""
    from go_mapreduce_crawler_spark.functions import cosine_sim

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([3.0, 4.0], [4.0, 3.0])],
        "a array<double>, b array<double>")
    got = [r.c for r in df.select(cosine_sim("a", "b").alias("c")).collect()]
    assert got[0] is None
    assert got[1] == 24.0 / (5.0 * 5.0)


def test_textrank_keywords_matches_python_reference(spark):
    """q_text_textrank_keywords vs a pure-Python weighted-PageRank
    replica (same co-occurrence graph, same floor(c*1e15)
    quantize-sum-dequantize per iteration, same tie order)."""
    import math
    from collections import Counter, defaultdict

    from go_mapreduce_crawler_spark.operators.text import (
        TR_D, TR_ITER, TR_TOP, TR_V, q_text_textrank_keywords)

    rows = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").collect())
    wc = Counter()
    for r in rows:
        wc.update(r.text.split(" "))
    vocab = set(sorted(wc, key=lambda x: (-wc[x], x))[:TR_V])

    wedges = Counter()
    for r in rows:
        ws = r.text.split(" ")
        for k in (1, 2):
            for a, b in zip(ws, ws[k:]):
                if a != b and a in vocab and b in vocab:
                    wedges[(min(a, b), max(a, b))] += 1
    adj = defaultdict(list)
    for (a, b), g in wedges.items():
        adj[a].append((b, g))
        adj[b].append((a, g))
    wsum = {u: sum(g for _, g in nb) for u, nb in adj.items()}
    n = len(adj)
    rank = {u: 1.0 / n for u in adj}
    for _ in range(TR_ITER):
        inflow = defaultdict(int)
        for u, nb in adj.items():
            for v, g in nb:
                inflow[v] += math.floor((rank[u] * g / wsum[u]) * 1e15)
        rank = {v: (1.0 - TR_D) / n + TR_D * (float(f) / 1e15)
                for v, f in inflow.items()}
    scored = sorted(((math.floor(r * 1e9), w) for w, r in rank.items()),
                    key=lambda x: (-x[0], x[1]))[:TR_TOP]
    expect = {(i + 1, w, s) for i, (s, w) in enumerate(scored)}
    got = {(r.rk, r.word, r.rank_e9)
           for r in q_text_textrank_keywords(
               spark, "/root/testdata/sf0.001").collect()}
    assert got == expect and len(got) == TR_TOP


def test_textrank_tolerates_single_word_documents(spark, tmp_path):
    """Regression (review finding): a 1-token document used to crash
    offs(2) with slice length -1; the clamped form must yield the
    same keywords the oracle's generate_series semantics produce."""
    from go_mapreduce_crawler_spark.operators.text import (
        q_text_textrank_keywords)

    df = spark.createDataFrame(
        [(1, "solo", "en", "web", 4),
         (2, "alpha beta", "en", "web", 10),
         (3, "alpha beta gamma alpha beta", "en", "web", 27)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    d = str(tmp_path / "documents.parquet")
    df.write.mode("overwrite").parquet(d)
    rows = q_text_textrank_keywords(spark, str(tmp_path)).collect()
    words = {r.word for r in rows}
    assert words == {"alpha", "beta", "gamma"}   # 'solo' has no edges
    assert all(r.rank_e9 > 0 for r in rows)


def test_domain_mixture_rejects_bigram_free_source(spark, tmp_path):
    """Loud guard (review finding): a source whose every document is
    a single word has no bigram statistics and must fail explicitly,
    never silently vanish from the mixture."""
    import pytest

    from go_mapreduce_crawler_spark.operators.curation import (
        q_domain_mixture_mw)

    df = spark.createDataFrame(
        [(1, "alpha beta alpha", "en", "srcA", 16),
         (2, "beta gamma beta", "en", "srcA", 15),
         (3, "solo", "en", "srcB", 4)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    d = str(tmp_path / "documents.parquet")
    df.write.mode("overwrite").parquet(d)
    with pytest.raises(ValueError, match="bigram"):
        q_domain_mixture_mw(spark, str(tmp_path))
