"""Ground-truth / property tests for the r11 additions: the
query-likelihood Dirichlet retrieval scorer (r10 verdict item 4),
its rank relationship to the BM25 arm, and the two-scorer lexical
RRF hybrid.  (The checkpoint restart-recovery leg lives in
tests/test_streaming_restart.py; the pca iteration pin in
tests/test_extensions.py.)
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from go_mapreduce_crawler_spark.operators import similarity
from go_mapreduce_crawler_spark.operators.retrieval_index import index_for
from go_mapreduce_crawler_spark.operators.similarity import (HYB_QTERMS,
                                                             HYB_TOPK,
                                                             QLD_MU,
                                                             RRF_K)


def _corpus_stats(spark, sf):
    """Pure-Python tokenization + stats — independent of both the
    Spark relations and the DuckDB oracle."""
    from go_mapreduce_crawler_spark.operators.text import _docs

    docs = {r.doc_id: r.text.split(" ")
            for r in _docs(spark, sf).select("doc_id", "text").collect()}
    tf = {}
    for d, toks in docs.items():
        for t in toks:
            tf[(d, t)] = tf.get((d, t), 0) + 1
    dl = {d: len(toks) for d, toks in docs.items()}
    cf = {}
    for (_, t), c in tf.items():
        cf[t] = cf.get(t, 0) + c
    total = sum(dl.values())
    return tf, dl, cf, total


def _py_ln(n: int) -> float:
    """The _ln_det recurrence in Python — same fixed-order atanh
    series, so it reproduces the engines' doubles bit-for-bit."""
    e = n.bit_length() - 1
    m = float(n) / (2.0 ** e)
    t = (m - 1.0) / (m + 1.0)
    t2 = t * t
    poly = 1.0 / 15.0
    for k in (13, 11, 9, 7, 5, 3):
        poly = (1.0 / k) + t2 * poly
    lnm = 2.0 * t * (1.0 + t2 * poly)
    return lnm + float(e) * math.log(2)


def test_qld_scores_match_python_reference(spark, sf_small):
    """Every (q_doc, doc_id, score_e6) row of the QLD top-k must equal
    a from-scratch Python recomputation of the Dirichlet query
    likelihood (posting-bounded candidates, integer micro-nat
    quantization, (score desc, doc_id) ties)."""
    tf, dl, cf, total = _corpus_stats(spark, sf_small)
    qterms = defaultdict(list)
    qt = similarity._seed_terms(index_for(spark, sf_small))
    for r in qt.collect():
        qterms[r.q_doc].append(r.word)

    got = defaultdict(list)
    for r in similarity.q_retrieval_qld_dirichlet(
            spark, sf_small).collect():
        got[r.q_doc].append((r.rk, r.doc_id, r.score_e6))

    assert set(got) == set(qterms)
    for q, terms in qterms.items():
        scores = defaultdict(int)
        docs_hit = set()
        for t in terms:
            for (d, w), n in tf.items():
                if w == t and d != q:
                    docs_hit.add(d)
                    gain = (_py_ln(n * total + QLD_MU * cf[t])
                            - _py_ln(QLD_MU * cf[t]))
                    scores[d] += math.floor(gain * 1e6 + 0.5)
        want = []
        for d in docs_hit:
            pen = math.floor(_py_ln(dl[d] + QLD_MU) * 1e6 + 0.5)
            want.append((d, scores[d] - len(terms) * pen))
        want.sort(key=lambda x: (-x[1], x[0]))
        want = [(i + 1, d, s) for i, (d, s) in
                enumerate(want[:HYB_TOPK])]
        assert sorted(got[q]) == want, (q, sorted(got[q])[:3], want[:3])


def test_qld_bm25_rank_relationship_pinned(spark, sf_small):
    """The two lexical scorers must measure the SAME match signal:
    per-query Spearman between full-candidate BM25 and QLD scores is
    pinned STRONGLY NEGATIVE on this corpus — every vocabulary term
    appears in ~76% of documents, so Robertson idf is negative for
    every query term and BM25 ranks matching documents LAST (the
    degeneracy Lucene clamps idf>=0 for), while QLD's smoothed
    likelihood always rewards matches.  |rho| >= 0.3 per query and
    mean rho <= -0.5 (measured -0.68 at sf0.001, -0.75 at sf0.01);
    a natural positive-idf workload flips the sign, not the
    magnitude.  This anti-correlation is also why fusing them (the
    hybrid row) is informative rather than redundant."""
    ix = index_for(spark, sf_small)
    qt = similarity._seed_terms(ix)
    lex = ix.bm25(qt, 10 ** 9, exclude_self=True)
    bm25 = {(r.q_doc, r.doc_id): r.score_e6 for r in lex.collect()}

    # full-candidate QLD scores: rebuild without the top-k cut
    tf, dl, cf, total = _corpus_stats(spark, sf_small)
    qterms = defaultdict(list)
    for r in qt.collect():
        qterms[r.q_doc].append(r.word)
    rhos = []
    for q, terms in qterms.items():
        qld = defaultdict(int)
        for t in terms:
            for (d, w), n in tf.items():
                if w == t and d != q:
                    gain = (_py_ln(n * total + QLD_MU * cf[t])
                            - _py_ln(QLD_MU * cf[t]))
                    qld[d] += math.floor(gain * 1e6 + 0.5)
        for d in list(qld):
            pen = math.floor(_py_ln(dl[d] + QLD_MU) * 1e6 + 0.5)
            qld[d] -= len(terms) * pen
        common = sorted(set(qld) & {dd for (qq, dd) in bm25 if qq == q})
        n = len(common)
        assert n >= 20, f"query {q} has only {n} shared candidates"

        def ranks(vals):
            order = sorted(range(n), key=lambda i: vals[i])
            out = [0.0] * n
            i = 0
            while i < n:
                j = i
                while j + 1 < n and vals[order[j + 1]] == vals[order[i]]:
                    j += 1
                for t_ in range(i, j + 1):
                    out[order[t_]] = (i + j) / 2
                i = j + 1
            return out

        xs = ranks([bm25[(q, d)] for d in common])
        ys = ranks([qld[d] for d in common])
        mx, my = sum(xs) / n, sum(ys) / n
        cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
        vx = sum((a - mx) ** 2 for a in xs)
        vy = sum((b - my) ** 2 for b in ys)
        rho = cov / (vx * vy) ** 0.5
        rhos.append(rho)
        assert abs(rho) >= 0.3, (q, rho)
    mean_rho = sum(rhos) / len(rhos)
    assert mean_rho <= -0.5, rhos


def test_hybrid_qld_bm25_rrf_arithmetic(spark, sf_small):
    """Every fused row's rrf_e9 must equal the integer reciprocal-rank
    sum of its arms' ranks, rank must be dense per query from 1, and
    every both-arm doc must outrank any single-arm doc with weaker
    combined evidence."""
    lexr = {}
    for r in similarity._lex_bm25_topk(spark, sf_small).collect():
        lexr[(r.q_doc, r.doc_id)] = r.lex_rk
    qldr = {(r.q_doc, r.doc_id): r.rk
            for r in similarity.q_retrieval_qld_dirichlet(
                spark, sf_small).collect()}
    fused = similarity.q_hybrid_qld_bm25_rrf(spark, sf_small).collect()
    assert fused
    byq = defaultdict(list)
    for r in fused:
        want = ((10 ** 9 // (RRF_K + lexr[(r.q_doc, r.doc_id)])
                 if (r.q_doc, r.doc_id) in lexr else 0)
                + (10 ** 9 // (RRF_K + qldr[(r.q_doc, r.doc_id)])
                   if (r.q_doc, r.doc_id) in qldr else 0))
        assert r.rrf_e9 == want, (r, want)
        assert (r.lex_rk is not None) == ((r.q_doc, r.doc_id) in lexr)
        assert (r.qld_rk is not None) == ((r.q_doc, r.doc_id) in qldr)
        byq[r.q_doc].append(r)
    for q, rows in byq.items():
        rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= HYB_TOPK
        # fused order follows (rrf desc, doc_id)
        keys = [(-r.rrf_e9, r.doc_id) for r in rows]
        assert keys == sorted(keys)


def _exact_sets(spark, sf):
    import hashlib

    from go_mapreduce_crawler_spark.sources.tables import load_table
    rows = load_table(spark, sf, "documents").select(
        "source", "text").collect()
    by_src = defaultdict(set)
    for r in rows:
        h = int(hashlib.md5(r.text.encode()).hexdigest()[:15], 16)
        by_src[r.source].add(h)
    return by_src


def test_kmv_theta_exact_when_unsaturated(spark, sf_small):
    """At sf0.001 every source holds 25 distinct docs < KMV_K=32, so
    no sketch saturates, theta* stays the full hash space, and the
    single estimator formula must return the EXACT distinct/union/
    intersection/difference counts for every pair."""
    from go_mapreduce_crawler_spark.operators import dedup

    by_src = _exact_sets(spark, sf_small)
    assert all(len(s) < dedup.KMV_K for s in by_src.values()), \
        "fixture saturated — this test's premise changed"
    got = {(r.src_a, r.src_b): r for r in
           dedup.q_kmv_theta_setops(spark, sf_small).collect()}
    srcs = sorted(by_src)
    expect_pairs = {(a, b) for i, a in enumerate(srcs)
                    for b in srcs[i + 1:]}
    assert set(got) == expect_pairs
    for (a, b), r in got.items():
        A, B = by_src[a], by_src[b]
        assert r.est_a == len(A) and r.est_b == len(B)
        assert r.est_union == len(A | B), (a, b)
        assert r.est_inter == len(A & B)
        assert r.est_a_only == len(A - B)
        assert r.est_b_only == len(B - A)
        assert r.jaccard_permille_est == \
            len(A & B) * 1000 // max(len(A | B), 1)


def test_kmv_theta_estimator_accuracy_when_saturated(spark):
    """At sf0.1 every source holds 250 distinct docs > KMV_K=32, so
    every sketch saturates and the theta estimator engages: pin the
    relative error of the union and per-source estimates within 3x
    the KMV standard error (1/sqrt(K-2) ~ 18% -> 55%), and exact-zero
    intersections must estimate exactly zero (no false mass)."""
    from go_mapreduce_crawler_spark.operators import dedup

    sf = "/root/testdata/sf0.1"
    by_src = _exact_sets(spark, sf)
    assert all(len(s) > dedup.KMV_K for s in by_src.values())
    rows = dedup.q_kmv_theta_setops(spark, sf).collect()
    assert rows
    bound = 3.0 / math.sqrt(dedup.KMV_K - 2)
    for r in rows:
        A, B = by_src[r.src_a], by_src[r.src_b]
        for est, true in ((r.est_a, len(A)), (r.est_b, len(B)),
                          (r.est_union, len(A | B))):
            assert abs(est - true) <= bound * true, \
                (r.src_a, r.src_b, est, true)
        if not (A & B):
            assert r.est_inter == 0, (r.src_a, r.src_b, r.est_inter)


def test_lateness_audit_matches_python_reference(spark, sf_small):
    """The audit must equal a from-scratch Python replay (md5 jitter,
    arrival-order prefix max, per-delay drop counts), drop_ppm must be
    non-increasing in the delay, and the 600s candidate must drop
    ZERO events — the jitter bound guarantees lateness < 600s
    (an event B arriving before A satisfies tsB - tsA <= dA - dB
    < 600s, so the running max never leads an event's own time by a
    full jitter span)."""
    import hashlib

    from go_mapreduce_crawler_spark.operators import temporal
    from go_mapreduce_crawler_spark.sources.tables import load_table

    ev = (load_table(spark, sf_small, "events")
          .selectExpr("event_id", "unix_micros(ts) AS ts_us").collect())
    pts = []
    for r in ev:
        d = int(hashlib.md5(str(r.event_id).encode())
                .hexdigest()[:8], 16) % temporal.LATE_DELAY_MOD
        pts.append((r.ts_us + d * 1_000_000, r.event_id, r.ts_us))
    pts.sort()
    want = {w: 0 for w in temporal.LATE_CANDS}
    rmax, max_late = 0, 0
    for arr, _eid, ts in pts:
        rmax = max(rmax, ts)
        late = (rmax - ts) // 1_000_000
        max_late = max(max_late, late)
        for w in temporal.LATE_CANDS:
            if late > w:
                want[w] += 1
    got = {r.delay_s: r for r in
           temporal.q_stream_lateness_audit(spark, sf_small).collect()}
    assert set(got) == set(temporal.LATE_CANDS)
    for w in temporal.LATE_CANDS:
        assert got[w].n_dropped == want[w], (w, got[w], want[w])
        assert got[w].n_total == len(pts)
        assert got[w].max_late_s == max_late
        assert got[w].drop_ppm == want[w] * 1_000_000 // len(pts)
    ppms = [got[w].drop_ppm for w in sorted(temporal.LATE_CANDS)]
    assert ppms == sorted(ppms, reverse=True)
    assert got[600].n_dropped == 0
    assert got[30].n_dropped > 0, "jitter produced no late events"


def test_target_encode_oof_matches_python_and_is_leakage_safe(
        spark, sf_small):
    """The (category x fold) grid must equal a from-scratch Python
    replay (md5 folds, integer-cents sums, smoothed out-of-fold
    means), and be leakage-safe by construction: recomputing any
    cell's encoding after ARBITRARILY corrupting that fold's own
    targets must not change it (the fold's rows appear in neither
    numerator nor denominator)."""
    import hashlib

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table

    rows = (load_table(spark, sf_small, "orders")
            .selectExpr("o_orderkey", "o_orderpriority",
                        "CAST(o_totalprice AS DOUBLE) AS p").collect())
    K, M = features.TE_FOLDS, features.TE_SMOOTH_M

    def grid_of(corrupt_fold=None):
        g = defaultdict(lambda: [0, 0])       # (cat, fold) -> [n, s]
        for r in rows:
            f = int(hashlib.md5(str(r.o_orderkey).encode())
                    .hexdigest()[:8], 16) % K
            cents = math.floor(r.p * 100 + 0.5)
            if corrupt_fold is not None and f == corrupt_fold:
                cents += 10 ** 9              # absurd corruption
            cell = g[(r.o_orderpriority, f)]
            cell[0] += 1
            cell[1] += cents
        return g

    def encode(g):
        cats = defaultdict(lambda: [0, 0])
        folds = defaultdict(lambda: [0, 0])
        nt = st = 0
        for (c, f), (n, s) in g.items():
            cats[c][0] += n
            cats[c][1] += s
            folds[f][0] += n
            folds[f][1] += s
            nt += n
            st += s
        out = {}
        for (c, f), (n, s) in g.items():
            prior = (st - folds[f][1]) * 1_000_000 // (nt - folds[f][0])
            enc = ((cats[c][1] - s) * 1_000_000 + M * prior) \
                // (cats[c][0] - n + M)
            out[(c, f)] = (n, cats[c][0] - n, enc)
        return out

    want = encode(grid_of())
    got = {(r.category, r.fold): (r.n_in, r.n_oof, r.enc_e6)
           for r in features.q_feat_target_encode_oof(
               spark, sf_small).collect()}
    assert got == want
    # leakage-safety: corrupting fold 2's targets must change every
    # OTHER fold's encodings (they average fold 2's rows) but NEVER
    # fold 2's own
    corrupted = encode(grid_of(corrupt_fold=2))
    for (c, f), v in want.items():
        if f == 2:
            assert corrupted[(c, f)] == v, (c, f)
        else:
            assert corrupted[(c, f)] != v, (c, f)


def test_approx_groupby_ci_matches_python_and_covers_truth(
        spark, sf_small):
    """The sampled-group grid must equal a from-scratch Python replay
    (md5 sample, integer-cent moments, z*sqrt(var/n) CI), and the
    estimate must actually be useful: within 4 CI half-widths of the
    EXACT full-table mean for every group (normal-approx sanity, not
    a coverage-rate claim)."""
    import hashlib

    from go_mapreduce_crawler_spark.operators import sampling
    from go_mapreduce_crawler_spark.sources.tables import load_table

    rows = (load_table(spark, sf_small, "lineitem")
            .selectExpr("l_orderkey", "l_linenumber", "l_returnflag",
                        "l_linestatus",
                        "CAST(l_extendedprice AS DOUBLE) AS p")
            .collect())
    M = sampling.AGB_MOD
    samp = defaultdict(list)
    exact = defaultdict(list)
    for r in rows:
        cents = math.floor(r.p * 100 + 0.5)
        g = (r.l_returnflag, r.l_linestatus)
        exact[g].append(cents)
        key = f"{r.l_orderkey}-{r.l_linenumber}"
        if int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % M == 0:
            samp[g].append(cents)
    want = {}
    for g, cs in samp.items():
        n, s = len(cs), sum(cs)
        if n <= 1:
            continue
        ssq = sum(c * c for c in cs)
        var = float(n * ssq - s * s) / float(n * (n - 1))
        ci = math.floor(1.959964 * math.sqrt(var / float(n)) * 10000)
        want[g] = (n, n * M, s * 10000 // n, ci)
    got = {(r.l_returnflag, r.l_linestatus):
           (r.n_sample, r.est_n_total, r.mean_e4, r.ci_half_e4)
           for r in sampling.q_approx_groupby_sample_ci(
               spark, sf_small).collect()}
    assert got == want
    for g, (n, _nt, mean_e4, ci_e4) in got.items():
        true_mean_e4 = sum(exact[g]) * 10000 // len(exact[g])
        assert abs(mean_e4 - true_mean_e4) <= 4 * max(ci_e4, 1), \
            (g, mean_e4, true_mean_e4, ci_e4)


def test_recall_mrr_eval_consistent_with_parents(spark, sf_medium):
    """The eval row must agree with a direct Python comparison of its
    two parent rankings, and its aggregates must sit in the legal
    range (recall in [0,1000]; mrr_e6 = 1e6//first-rank or 0; a
    perfect-overlap query must read 1000/1e6)."""
    from go_mapreduce_crawler_spark.operators import similarity

    truth = defaultdict(set)
    for r in similarity.q_hybrid_retrieval_rrf(
            spark, sf_medium).collect():
        truth[r.q_doc].add(r.doc_id)
    sysr = defaultdict(dict)
    for r in similarity.q_hybrid_retrieval_rrf_ivf(
            spark, sf_medium).collect():
        sysr[r.q_doc][r.doc_id] = r.rk
    got = {r.q_doc: r for r in
           similarity.q_eval_retrieval_recall_mrr(
               spark, sf_medium).collect()}
    assert set(got) == set(truth)
    for q, t in truth.items():
        hits = [rk for d, rk in sysr[q].items() if d in t]
        g = got[q]
        assert g.n_truth == len(t)
        assert g.n_hits == len(hits)
        assert g.recall_permille == len(hits) * 1000 // len(t)
        assert g.mrr_e6 == (10 ** 6 // min(hits) if hits else 0)
        assert 0 <= g.recall_permille <= 1000
        if t == set(sysr[q]):
            assert g.recall_permille == 1000
