"""Round-9 additions: enforcement guards and new operators.

Pins for the r08 verdict items landed this round — the exact-Jaccard
sample-contract guard (item 3) and the round's new operators (each
also carries a full DuckDB oracle; these tests pin the Python-replica
ground truth / property the oracle can't express).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_exact_jaccard_guard_fires_on_oversized_corpus(spark):
    """_enforce_exact_pair_bound (r08 verdict item 3): the exact
    quadratic diagnostics must REFUSE a corpus past the sample bound
    (previously a docstring promise with nothing enforcing it), and
    pass corpora at or under it untouched."""
    from go_mapreduce_crawler_spark.operators.dedup import (
        _enforce_exact_pair_bound)

    small = spark.range(10).withColumnRenamed("id", "doc_id")
    _enforce_exact_pair_bound(small.count(), "dedup_jaccard_pairs",
                              max_docs=10)

    big = spark.range(11).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sample bound"):
        _enforce_exact_pair_bound(big.count(), "dedup_jaccard_pairs",
                                  max_docs=10)


def test_exact_jaccard_ops_still_run_and_guard_is_wired(spark):
    """The guarded ops still produce their pairs at test SF (the bound
    is generous for any sample), and the guard is actually WIRED into
    the three public entry points — shrinking the bound makes all of
    them refuse."""
    import go_mapreduce_crawler_spark.operators.dedup as dd

    assert dd.q_dedup_jaccard_pairs(spark, SF).count() > 0

    orig = dd.JACCARD_EXACT_MAX_DOCS
    dd.JACCARD_EXACT_MAX_DOCS = 1
    try:
        for op in (dd.q_dedup_jaccard_pairs, dd.q_dedup_containment,
                   dd.q_dedup_family_overlap):
            with pytest.raises(ValueError, match="sample bound"):
                op(spark, SF)
    finally:
        dd.JACCARD_EXACT_MAX_DOCS = orig


def _load_embeddings(sf=SF):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = t["vec_id"].to_numpy()
    m = np.array([np.asarray(v, dtype=np.float64)
                  for v in t["embedding"].to_pylist()])
    labels = t["label"].to_numpy()
    order = np.argsort(ids)
    return ids[order], m[order], labels[order]


def _seq_dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def test_eval_retrieval_ndcg_python_replica(spark):
    """eval_retrieval_ndcg against an independent pyarrow+numpy
    replica: exact-cosine top-10 with sequential-fold dots, label-match
    relevance, the same integer discount weights, ppm division — the
    whole row set must agree exactly."""
    import math

    import go_mapreduce_crawler_spark.operators.similarity as sim

    got = {r.q_id: (r.label, r.n_rel_topk, r.r_total, r.dcg_w,
                    r.idcg_w, r.ndcg_ppm)
           for r in sim.q_eval_retrieval_ndcg(spark, SF).collect()}

    ids, m, labels = _load_embeddings()
    nrm = [math.sqrt(_seq_dot(v, v)) for v in m]
    W = [int(1e6 // math.log2(r + 1)) for r in range(1, 11)]
    label_counts = {}
    for lb in labels:
        label_counts[lb] = label_counts.get(lb, 0) + 1
    exp = {}
    for qi in range(len(ids)):
        if ids[qi] % 100 != 0:
            continue
        scored = sorted(
            (round(-_seq_dot(m[qi], m[ci]) / (nrm[qi] * nrm[ci]), 6),
             ids[ci], ci)
            for ci in range(len(ids)) if ci != qi)[:10]
        rel = [1 if labels[ci] == labels[qi] else 0
               for _, _, ci in scored]
        dcg = sum(r * w for r, w in zip(rel, W))
        r_total = label_counts[labels[qi]] - 1
        idcg = sum(W[:min(r_total, 10)])
        exp[ids[qi]] = (labels[qi], sum(rel), r_total, dcg, idcg,
                        dcg * 10**6 // idcg if idcg > 0 else 0)
    assert got == exp and len(got) >= 5


def test_retrieval_mmr_python_replica(spark):
    """retrieval_mmr_diversify against an independent greedy replica
    (pyarrow+numpy, sequential-fold dots, e6 floors): the selected
    documents, their order, and every integer score must agree."""
    import math

    import go_mapreduce_crawler_spark.operators.similarity as sim

    got = [(r.q_id, r.rk, r.vec_id, r.rel_e6, r.mmr_score)
           for r in sim.q_retrieval_mmr(spark, SF).collect()]
    got.sort()

    ids, m, labels = _load_embeddings()
    nrm = [math.sqrt(_seq_dot(v, v)) for v in m]

    def cos_e6(i, j):
        return math.floor(_seq_dot(m[i], m[j]) / (nrm[i] * nrm[j]) * 1e6)

    exp = []
    for qi in range(len(ids)):
        if ids[qi] % 100 != 0:
            continue
        rels = {ci: cos_e6(qi, ci)
                for ci in range(len(ids)) if ci != qi}
        cand = sorted(rels, key=lambda c: (-rels[c], ids[c]))[:20]
        selected = []
        for rk in range(1, 11):
            best, best_s = None, None
            for c in cand:
                if c in selected:
                    continue
                mx = max((cos_e6(c, s) for s in selected), default=0)
                s = 70 * rels[c] - 30 * mx
                if best_s is None or s > best_s \
                        or (s == best_s and ids[c] < ids[best]):
                    best, best_s = c, s
            selected.append(best)
            exp.append((int(ids[qi]), rk, int(ids[best]),
                        rels[best], best_s))
    exp.sort()
    assert got == exp and len(got) >= 50


def test_stream_inverted_index_equals_batch_twin(spark):
    """stream_inverted_index_replay must equal the batch
    inverted_index_delta_refresh output bit-for-bit (both relations
    describe the index over the full corpus; disjoint doc batches make
    the streaming merge == rebuild) — the lexical half of the
    streaming index-maintenance pair, pinned against its batch twin
    the way the IVF half is."""
    from go_mapreduce_crawler_spark.operators.maintenance import (
        q_inverted_index_delta)
    from go_mapreduce_crawler_spark.operators.streaming_replay import (
        q_stream_inverted_index_replay)

    got = {tuple(r) for r in
           q_stream_inverted_index_replay(spark, SF).collect()}
    exp = {tuple(r) for r in q_inverted_index_delta(spark, SF).collect()}
    assert got == exp and len(got) > 0


def test_quality_ensemble_gate_agrees_with_parents(spark):
    """quality_ensemble_gate: every per-arm point column must equal
    the parent operator's own verdict x weight, pts_lm must equal the
    exact-integer cross-multiplied mean comparison computed in Python,
    and the gate is pts >= 70."""
    import go_mapreduce_crawler_spark.operators.text as tx

    ens = {r.doc_id: r for r in
           tx.q_quality_ensemble_gate(spark, SF).collect()}
    assert ens

    passes = {r.doc_id: r.passes_quality
              for r in tx.q_text_quality(spark, SF).collect()}
    keeps = {r.doc_id: r.keep
             for r in tx.q_text_repetition(spark, SF).collect()}
    langok = {r.doc_id: r.pred_lang == r.lang
              for r in tx.q_text_langid(spark, SF).collect()}
    lm = {r.doc_id: (r.n_tokens, r.sum_logp_u)
          for r in tx.q_text_lm_score(spark, SF).collect()}
    n_all = sum(n for n, _ in lm.values())
    s_all = sum(s for _, s in lm.values())

    assert set(ens) == set(passes)
    for d, r in ens.items():
        assert r.pts_quality == 30 * int(passes[d])
        assert r.pts_gopher == 30 * int(keeps[d])
        assert r.pts_lang == 20 * int(langok[d])
        n_d, s_d = lm[d]
        assert r.pts_lm == 20 * int(s_d * n_all > s_all * n_d)
        total = r.pts_quality + r.pts_gopher + r.pts_lang + r.pts_lm
        assert r.ensemble_pts == total
        assert r.keep_ensemble == (total >= 70)
    # the gate must be non-degenerate on the fixture
    kept = sum(1 for r in ens.values() if r.keep_ensemble)
    assert 0 < kept < len(ens)


def test_epoch_schedule_conserves_budget_and_anneals(spark):
    """curation_epoch_schedule: every epoch's allocations must sum to
    EXACTLY the budget (largest-remainder contract), epoch 0 must
    carry the natural weights, the last epoch the target mixture, and
    each source's weight must move monotonically between the two."""
    from go_mapreduce_crawler_spark.operators.curation import (
        EPOCH_TOKENS, EPOCHS, q_curation_epoch_schedule)

    rows = q_curation_epoch_schedule(spark, SF).collect()
    assert rows
    by_epoch: dict = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == set(range(EPOCHS))
    for ep, rs in by_epoch.items():
        assert sum(r.alloc_tokens for r in rs) == EPOCH_TOKENS
    for r in by_epoch[0]:
        assert r.w_ppm == r.natural_ppm
    for r in by_epoch[EPOCHS - 1]:
        assert r.w_ppm == r.mixture_ppm
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r.source, {})[r.epoch] = r.w_ppm
    for src, w in per_src.items():
        seq = [w[e] for e in range(EPOCHS)]
        assert seq == sorted(seq) or seq == sorted(seq, reverse=True)


def test_behavior_cep_pattern_python_replica(spark):
    """behavior_cep_pattern against Python's re module on sequences
    rebuilt from raw parquet — a third regex engine agreeing on the
    non-overlapping greedy count rules out a shared Spark/DuckDB
    semantic quirk."""
    import re

    import pyarrow.parquet as pq

    from go_mapreduce_crawler_spark.operators.behavior import (
        q_behavior_cep_pattern)

    got = {r.user_id: (r.n_events, r.n_funnel, r.n_error_bursts)
           for r in q_behavior_cep_pattern(spark, SF).collect()}

    t = pq.read_table(f"{SF}/events.parquet",
                      columns=["user_id", "ts", "event_id",
                               "event_type"])
    rows = sorted(zip(t["user_id"].to_pylist(),
                      [v.timestamp() for v in t["ts"].to_pylist()],
                      t["event_id"].to_pylist(),
                      t["event_type"].to_pylist()),
                  key=lambda r: (r[0], r[1], r[2]))
    seqs: dict = {}
    for u, _, _, et in rows:
        seqs[u] = seqs.get(u, "") + et[0]
    exp = {u: (len(s), len(re.findall("v+c+p", s)),
               len(re.findall("ee+", s))) for u, s in seqs.items()}
    assert got == exp and len(got) >= 10


def test_text_keyphrase_rake_python_replica(spark):
    """text_keyphrase_rake against a pure-Python RAKE from raw parquet:
    phrase segmentation, per-instance word degree/frequency, the e6
    floor quantization, and the top-20 ordering must agree exactly."""
    import pyarrow.parquet as pq

    from go_mapreduce_crawler_spark.operators.text import (
        RAKE_MAX_PHRASE, RAKE_TOP, STOPWORDS, q_text_keyphrase_rake)

    got = [(r.rk, r.phrase, r.n_occurrences, r.score_e6)
           for r in q_text_keyphrase_rake(spark, SF).collect()]

    stops = set(STOPWORDS["en"])
    texts = pq.read_table(f"{SF}/documents.parquet",
                          columns=["text"])["text"].to_pylist()
    phrases = []
    for t in texts:
        run = []
        for w in t.lower().split(" "):
            if w in stops:
                if run:
                    phrases.append(run)
                run = []
            else:
                run.append(w)
        if run:
            phrases.append(run)
    phrases = [p for p in phrases if len(p) <= RAKE_MAX_PHRASE]
    freq, deg = {}, {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    ws = {w: deg[w] * 10**6 // freq[w] for w in freq}
    occ, score = {}, {}
    for p in phrases:
        k = " ".join(p)
        occ[k] = occ.get(k, 0) + 1
        score[k] = sum(ws[w] for w in p)
    top = sorted(score, key=lambda k: (-score[k], k))[:RAKE_TOP]
    exp = [(i + 1, k, occ[k], score[k]) for i, k in enumerate(top)]
    assert got == exp and len(got) == RAKE_TOP


def test_text_word_burstiness_python_replica(spark):
    """text_word_burstiness against pure-Python sufficient statistics:
    (df, cf, q) per word and the exact-integer VMR formula."""
    import pyarrow.parquet as pq

    from go_mapreduce_crawler_spark.operators.text import (
        BURST_MIN_DF, BURST_TOP, q_text_word_burstiness)

    got = [(r.rk, r.word, r.df, r.cf, r.vmr_e6)
           for r in q_text_word_burstiness(spark, SF).collect()]

    texts = pq.read_table(f"{SF}/documents.parquet",
                          columns=["text"])["text"].to_pylist()
    per_doc: list = []
    for t in texts:
        c: dict = {}
        for w in t.lower().split(" "):
            c[w] = c.get(w, 0) + 1
        per_doc.append(c)
    stats: dict = {}
    for c in per_doc:
        for w, n in c.items():
            df_, cf_, q_ = stats.get(w, (0, 0, 0))
            stats[w] = (df_ + 1, cf_ + n, q_ + n * n)
    scored = {w: (df_, cf_,
                  (df_ * q_ - cf_ * cf_) * 10**6 // (cf_ * (df_ - 1)))
              for w, (df_, cf_, q_) in stats.items()
              if df_ >= BURST_MIN_DF}
    top = sorted(scored, key=lambda w: (-scored[w][2], w))[:BURST_TOP]
    exp = [(i + 1, w, scored[w][0], scored[w][1], scored[w][2])
           for i, w in enumerate(top)]
    assert got == exp and len(got) == BURST_TOP


def test_sample_coreset_kcenter_python_replica(spark):
    """sample_coreset_kcenter against a pure-Python greedy
    farthest-point replica (sequential-fold squared-L2, e6 floors):
    the selected ids, order, and radii must agree exactly, and the
    selection radius must be non-increasing (the k-center invariant
    behind the 2-approximation)."""
    import math

    from go_mapreduce_crawler_spark.operators.sampling import (
        KCENTER_K, q_sample_coreset_kcenter)

    got = [(r.rk, r.vec_id, r.sel_d2_e6)
           for r in q_sample_coreset_kcenter(spark, SF).collect()]
    got.sort()

    ids, m, _ = _load_embeddings()

    def d2e6(i, j):
        s = 0.0
        for x, y in zip(m[i], m[j]):
            s += (x - y) * (x - y)
        return math.floor(s * 1e6)

    sel = [0]           # min vec_id is index 0 (ids sorted, start at 0)
    exp = [(1, int(ids[0]), 0)]
    mind = {i: d2e6(i, 0) for i in range(1, len(ids))}
    for rk in range(2, KCENTER_K + 1):
        best = max(mind, key=lambda i: (mind[i], -ids[i]))
        exp.append((rk, int(ids[best]), mind[best]))
        sel.append(best)
        del mind[best]
        for i in mind:
            mind[i] = min(mind[i], d2e6(i, best))
    assert got == exp
    radii = [r for _, _, r in got[1:]]
    assert radii == sorted(radii, reverse=True)


def test_hybrid_rrf_fusion_arithmetic_and_dense_parent_recall(spark):
    """hybrid_retrieval_rrf (r08 verdict item 5) pins the properties
    the DuckDB value oracle can't localize:

    * the fusion arithmetic replica: every emitted rrf_e9 must equal
      the pure-Python floor(1e9/(60+rk)) sum of its own arm ranks;
    * dense-parent recall: every fused dense_rk must agree with
      knn_bruteforce_cosine's independent rank for that (query,
      candidate), and any dense candidate ranked high enough that no
      10 fused rows can outscore it MUST appear in the fused top-10
      (a dense rank-r single-arm score floor(1e9/(60+r)) beats a
      fused row's score whenever that row's rrf_e9 is lower);
    * ranking consistency: per query, rk is 1..n and rrf_e9 is
      non-increasing in rk.
    """
    import go_mapreduce_crawler_spark.operators.similarity as sim

    fused = {(r.q_doc, r.doc_id): (r.lex_rk, r.dense_rk, r.rrf_e9, r.rk)
             for r in sim.q_hybrid_retrieval_rrf(spark, SF).collect()}
    assert fused

    dense = {(r.q_id, r.neighbor_id): r.rk
             for r in sim.q_knn_bruteforce(spark, SF).collect()}

    for (q, c), (lrk, drk, rrf, rk) in fused.items():
        expect = (10**9 // (60 + lrk) if lrk else 0) \
            + (10**9 // (60 + drk) if drk else 0)
        assert rrf == expect, (q, c, rrf, expect)
        assert lrk is not None or drk is not None
        if drk is not None:
            assert dense[(q, c)] == drk, (q, c)

    # dense-parent recall: a dense candidate absent from the fused
    # top-10 must be OUTSCORED by all 10 fused rows of its query
    by_q: dict = {}
    for (q, c), (_, _, rrf, rk) in fused.items():
        by_q.setdefault(q, []).append((rk, rrf, c))
    for (q, c), drk in dense.items():
        if (q, c) in fused:
            continue
        score = 10**9 // (60 + drk)
        rows = by_q[q]
        assert len(rows) == 10
        worst = min(r[1] for r in rows)
        # ties broken by doc_id: equal score is only a legal exclusion
        # if every tied fused doc has a smaller doc_id
        assert worst > score or (
            worst == score
            and all(r[2] < c for r in rows if r[1] == score)), (q, c)

    for q, rows in by_q.items():
        rows.sort()
        assert all(rows[i][1] >= rows[i + 1][1]
                   for i in range(len(rows) - 1))
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
