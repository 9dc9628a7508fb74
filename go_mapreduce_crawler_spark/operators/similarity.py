"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

The request-serving entry points — knn_bruteforce_cosine,
ann_ivf_cosine, ann_lsh_cosine and the hybrid family's lexical and
dense arms — are thin wrappers over ``retrieval_index``: the corpus
side (norms, IVF cells, LSH sketches, BM25 postings) is built once per
corpus version and held there, and each wrapper derives only its query
set per request (the vec_id % 100 == 0 seeds, the seed documents' top
terms) and calls the index's knn / ivf / lsh / bm25 search.

* brute-force cosine top-k — exact baseline.  Query set x corpus join
  with the query side broadcast (queries are few), cosine via JVM-side
  sequential fold (functions.vectors), top-k with a rank window
  partitioned by query.  Cost O(|Q| x |corpus|): fine for small |Q| even
  on huge corpora since it is a single broadcast-join scan, but wrong for
  all-pairs — that's what the LSH variant is for.

* random-hyperplane LSH ANN — the scale path.  Sign-bit sketch against
  H fixed hyperplanes (seeded, deterministic), multi-probe over bands,
  cosine re-rank within buckets.  Shuffles only (bucket, id) pairs;
  never quadratic.

* IVF ANN — coarse quantization to frozen centroids, probe re-rank.

A zero vector's cosine is NULL (never a divide-by-zero error) and ranks
last; the oracles state the same contract.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.text import words
from ..functions.vectors import cosine_sim, dot, l2_norm
from ..sources.tables import load_table, spread
from .retrieval_index import (DIM, IVF_CELLS, LSH_BANDS_ANN,
                              N_PLANES, cell_scores_sql, cosine,
                              first_rows, index_for, ivf_centroids,
                              lsh_planes, salted_topk)

TOP_K = 10

# Every similarity search ships its query set whole — broadcast
# (bruteforce, IVF), kernel closure (pandas), or bucket-local id sets
# (LSH).  That is the "queries are few" contract; this bound ENFORCES
# it: 100k queries x 64 dims x 8 B is ~50 MB per executor, the sane
# ceiling.  The vec_id % 100 selection grows with the corpus, so at
# 100x scale the gate refuses instead of silently shipping a
# corpus-sized "query set" everywhere.  Beyond the bound, batch the
# queries or flip the plan to a shuffle join on ids.
KNN_MAX_QUERIES = 100_000


def _gate(spark, sf_dir, op_name: str):
    """Refuse oversized query sets.  The seed count is probed once per
    corpus version and held on its retrieval index (a corpus rewritten
    in place gets a new probe); the bound is read on every call, so a
    tightened KNN_MAX_QUERIES is never bypassed.  Returns the index."""
    ix = index_for(spark, sf_dir)
    if ix.seed_count() > KNN_MAX_QUERIES:
        raise ValueError(
            f"{op_name}: query set exceeds the {KNN_MAX_QUERIES}-row "
            f"broadcast/closure bound; batch the query set or use a "
            f"shuffle join on query ids at this scale.")
    return ix


def _dot_sql(vec_col: str, values) -> str:
    """Literal-vector dot product as ONE SQL string.

    Building the same expression from Python Column objects costs a py4j
    round-trip per literal — 48 planes x 64 dims was 4-6s of driver-side
    plan CONSTRUCTION per q_ann_lsh call (vs 1.6s of execution).  A
    generated SQL string is one parse on the JVM.  repr() round-trips
    float64 exactly, so the plan is identical.
    """
    arr = "array(" + ",".join(repr(float(x)) + "D" for x in values) + ")"
    return (f"aggregate(zip_with({vec_col}, {arr},"
            " (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, x) -> acc + x)")


def _seeds(ix):
    """The seed query set — every corpus vector with vec_id % 100 == 0 —
    as (q_id, q_vec, q_nrm), read from the index per request."""
    return (ix.vectors.vec.filter(F.col("vec_id") % 100 == 0)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec"),
                    F.col("nrm").alias("q_nrm")))


def _emb(spark, sf_dir):
    """embeddings, spread to engine parallelism — the corpus side of the
    scoring joins carries the per-row fold work (see dedup._docs).
    Gated: no shuffle when the scan already yields enough splits."""
    return spread(load_table(spark, sf_dir, "embeddings"), "vec_id")


def q_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-10 neighbors for each query vector.

    Norms are folded ONCE per row on each side before the pair join (the
    corpus side's are held by the index), so each of the |Q| x |corpus|
    pairs costs one dot-product fold instead of three (dot + two norms).
    sqrt/division order matches cosine_sim exactly, so scores are
    bit-identical to the naive form (and to the DuckDB oracle).

    Deterministic: rank on (rounded score desc, vec_id) — the rounding is
    part of the operator contract so results are reproducible across
    engines and partitionings.
    """
    ix = _gate(spark, sf_dir, "knn_bruteforce_cosine")
    return ix.knn(_seeds(ix), TOP_K)


def q_ann_lsh(spark, sf_dir):
    """Approximate top-10 via sign-bit LSH buckets + cosine re-rank.

    Candidates = corpus vectors sharing >= 1 of the 12 4-bit bands with
    the query's sketch; re-rank candidates exactly.  The sketches are
    held by the retrieval index (one Arrow-vectorized pass per corpus
    version).  Approximate relative to true kNN, but deterministic, so
    it carries a full value oracle; recall vs q_knn_bruteforce is pinned
    by tests/test_extensions.py.
    """
    ix = _gate(spark, sf_dir, "ann_lsh_cosine")
    return ix.lsh(_seeds(ix), TOP_K)


# 6-of-16 probes: this corpus's vectors are near-uniform (true neighbors
# at cos 0.2-0.5), so cell affinity is a weak signal and wide probing is
# the right operating point — still a ~2.7x candidate cut.  Clustered
# real-world embeddings sharpen the signal and allow P=1-2.
IVF_PROBES = 6


def q_ann_ivf(spark, sf_dir):
    """Approximate top-10 via IVF coarse quantization + probe re-rank.

    The other scale path next to LSH (q_ann_lsh): corpus vectors are
    assigned to their nearest of C coarse centroids (held by the
    retrieval index); each query probes its P nearest cells and re-ranks
    only those candidates exactly, cutting scored pairs by ~C/P.
    Centroids are the C lowest vec_ids (deterministic "training").
    "Approximate" only relative to true kNN: the output itself is
    deterministic and carries a full value oracle (recall vs
    q_knn_bruteforce is pinned separately in tests).
    """
    ix = _gate(spark, sf_dir, "ann_ivf_cosine")
    return ix.ivf(_seeds(ix), TOP_K, IVF_PROBES)


IVF_ADV_PROBES = (1, 2, 4, 6, 8)      # nprobe operating points swept
IVF_ADV_RECALL_FLOOR_PPM = 500_000    # required mean recall@10 vs exact


def q_ivf_probe_sweep(spark, sf_dir):
    """IVF nprobe TUNING ADVISOR (the ANN twin of lsh_banding_advisor):
    sweep the probe count over {ps} against the SAME frozen centroids
    as ann_ivf_cosine and report, per operating point, the MEASURED
    mean recall@{k} vs the exact kNN ground truth, the candidate-pair
    cost, and the chosen point — the smallest nprobe whose recall
    clears {floor} ppm (else the largest swept).  This is the
    recall/cost frontier an ANN deployment reads before fixing
    nprobe; the repo's own IVF_PROBES=6 sits on it.

    Deterministic end to end (exact re-ranked cosines, integer hit
    counts, ppm DIV), so the advisor carries a FULL value oracle —
    the recall numbers in the driver record are MEASURED quality, not
    a closed-form estimate (contrast: lsh_banding_advisor's analytic
    recall curve, pinned separately).

    Scale: affinities and probe ranks are row-local (centroid
    literals); candidates score ONCE at the max swept nprobe and
    every sweep point filters that one relation by probe rank (prk)
    — the sweep costs one candidate pass, not |sweep| passes.  The
    exact arm is the gated query-set closure (KNN_MAX_QUERIES); a
    100 TB deployment runs this advisor on a query SAMPLE by
    construction.

    Output: (nprobe, n_queries, sum_hits, recall_ppm, cand_pairs,
    chosen).
    """.format(ps=IVF_ADV_PROBES, k=TOP_K,
               floor=IVF_ADV_RECALL_FLOOR_PPM)
    ix = _gate(spark, sf_dir, "ivf_probe_sweep_advisor")
    q = _seeds(ix).select(
        "q_id", "q_vec", "q_nrm",
        F.posexplode(ix.probes("q_vec", max(IVF_ADV_PROBES)))
         .alias("pi", "probe"))
    scored = (ix.vectors.vec
              .join(F.broadcast(q), (F.col("cell") == F.col("probe"))
                    & (F.col("vec_id") != F.col("q_id")))
              .withColumn("cos", cosine())
              .select("q_id", "vec_id", (F.col("pi") + 1).alias("prk"),
                      "cos")
              .localCheckpoint(eager=False))   # scored once, 5 readers
    ex = F.broadcast(q_knn_bruteforce(spark, sf_dir)
                     .select("q_id", F.col("neighbor_id")
                             .alias("vec_id")))
    nq = ex.agg(F.countDistinct("q_id").alias("n_queries"))
    wnd = W.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                        F.col("vec_id"))
    parts = []
    for p in IVF_ADV_PROBES:
        sub = scored.filter(F.col("prk") <= p)
        top = (sub.withColumn("rk", F.row_number().over(wnd))
                  .filter(F.col("rk") <= TOP_K)
                  .select("q_id", "vec_id"))
        hits = top.join(ex, ["q_id", "vec_id"]).agg(
            F.count(F.lit(1)).alias("sum_hits"))
        cnt = sub.agg(F.count(F.lit(1)).alias("cand_pairs"))
        parts.append(hits.crossJoin(cnt)
                     .select(F.lit(p).cast("int").alias("nprobe"),
                             "sum_hits", "cand_pairs"))
    rows = parts[0]
    for pt in parts[1:]:
        rows = rows.unionAll(pt)
    calc = (rows.crossJoin(F.broadcast(nq))
            .withColumn("recall_ppm", F.expr(
                f"sum_hits * 1000000 DIV ({TOP_K} * n_queries)")
                .cast("long")))
    sel = calc.agg(F.coalesce(
        F.min(F.when(F.col("recall_ppm")
                     >= IVF_ADV_RECALL_FLOOR_PPM, F.col("nprobe"))),
        F.max("nprobe")).alias("ch"))
    return (calc.crossJoin(F.broadcast(sel))
            .select("nprobe",
                    F.col("n_queries").cast("long").alias("n_queries"),
                    F.col("sum_hits").cast("long").alias("sum_hits"),
                    "recall_ppm",
                    F.col("cand_pairs").cast("long").alias("cand_pairs"),
                    (F.col("nprobe") == F.col("ch")).cast("int")
                    .alias("chosen")))


def q_knn_pandas(spark, sf_dir):
    """Brute-force kNN with a vectorized (Arrow + numpy) kernel and an
    exact re-score — same output contract (and oracle) as
    q_knn_bruteforce.

    The counterpart to q_knn_bruteforce's JVM fold: higher-order array
    expressions are interpreted (not codegen'd), so a numpy matrix
    product over Arrow batches wins once the pair count is large, and
    the gap widens with corpus size.  Shape: the (tiny, bounded) query
    matrix rides inside the kernel closure; each corpus batch computes
    batch @ Q.T and emits only candidates within 2e-6 of its per-batch
    k-th score per query, so the shuffle after the kernel carries ~k
    rows per (query, batch), not the full score matrix — the
    partial-top-k pattern every distributed brute-force ANN uses.

    The candidate margin is what buys back the full value oracle
    (dedup_embedding_cosine's two-phase trick, dedup.py:293): BLAS
    matmul doubles can differ from the sequential fold in the last few
    ulps (~1e-13) and the output rounds to 6 dp (quantum 5e-7), so any
    row that could make the true top-k by (rounded exact cos,
    neighbor_id) sits within 2e-6 of the batch boundary and survives.
    Survivors re-score with the SAME JVM fold as q_knn_bruteforce —
    bit-identical to DuckDB's list_reduce — and the final window ranks
    only exact values.

    Zero vectors follow cosine_sim's contract: their cos is NULL
    (try_divide), ranked after every finite score.  A zero query makes
    every row of a batch a candidate (its neighbours rank by id), and
    a zero corpus vector scores -inf in the kernel, so it is a
    candidate only where a batch has fewer than k finite scores.
    """
    import numpy as np
    import pandas as pd

    _gate(spark, sf_dir, "knn_pandas_vectorized")
    e = load_table(spark, sf_dir, "embeddings")
    q_rows = (e.filter(F.col("vec_id") % 100 == 0)
              .select("vec_id", "embedding").collect())   # gated query set
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    q_nrm = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = np.divide(Q, q_nrm, out=np.zeros_like(Q), where=q_nrm > 0)
    zero_q = q_nrm[:, 0] == 0

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            S = np.divide(M, nrm, out=np.zeros_like(M),
                          where=nrm > 0) @ Qn.T             # (batch, |Q|)
            # A zero vector's cos is NULL, which ranks below every
            # finite score: -inf, never NaN, so it cannot hide them.
            S[nrm[:, 0] == 0] = -np.inf
            other = ids[:, None] != q_ids[None, :]          # no self-match
            S[~other] = -np.inf
            k = min(TOP_K, len(pdf))
            kth = -np.partition(-S, k - 1, axis=0)[k - 1]   # per-query k-th
            # a zero query ranks every neighbour at NULL cos, by id
            bi, qi = np.nonzero(other & ((S >= kth[None, :] - 2e-6)
                                         | zero_q[None, :]))
            yield pd.DataFrame({"q_id": q_ids[qi], "neighbor_id": ids[bi]})

    cand = e.select("vec_id", "embedding").mapInPandas(
        kernel, schema="q_id long, neighbor_id long")
    en = e.withColumn("nrm", l2_norm("embedding"))
    qb = F.broadcast(
        en.filter(F.col("vec_id").isin([int(i) for i in q_ids]))
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec"),
                  F.col("nrm").alias("q_nrm")))
    scored = (en.join(F.broadcast(cand), en.vec_id == cand.neighbor_id)
                .join(qb, "q_id")
                .withColumn("cos", F.round(F.try_divide(
                    dot("q_vec", "embedding"),
                    F.col("q_nrm") * F.col("nrm")), 6)))
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= TOP_K)
                  .select("q_id", "neighbor_id", "cos", "rk"))


def q_embedding_quantize(spark, sf_dir):
    """Symmetric per-dimension int8 scalar quantization of the embedding
    column — the compression step in front of large-scale ANN (4× smaller
    vectors, int8 SIMD dot products at serve time).  Emits the quantized
    vector (comma-joined, the driver-hash rule for list cells) and the
    per-row reconstruction error in integer nano-units.

    Deterministic across engines end to end: the per-dim scale is
    127/max|x| (max is exact and order-free; one IEEE divide), q =
    round(x·scale) on identical doubles with both engines'
    away-from-zero tie rule, and the error total quantizes each |q/scale
    − x| to integer nanos BEFORE summing — associative, so no float
    accumulation order anywhere.

    Scale shape: the only aggregation is the 64-row per-dim max (one
    posexplode + partial+final agg), whose result folds into a single
    scales ARRAY broadcast to the corpus scan; quantization itself is
    row-local zip_with — NO regroup shuffle of the corpus, unlike the
    naive explode→quantize→collect_list formulation.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("dim", "xf")) \
          .select("dim", F.abs(F.col("xf").cast("double")).alias("ax"))
    sc_arr = (ex.groupBy("dim").agg(F.max("ax").alias("mx"))
              .agg(F.transform(
                  F.array_sort(F.collect_list(F.struct("dim", "mx"))),
                  lambda s: F.when(s["mx"] > 0, F.lit(127.0) / s["mx"])
                             .otherwise(F.lit(0.0))).alias("scales")))
    q_item = lambda xf, s: F.round(xf.cast("double") * s, 0).cast("int")
    err_item = lambda xf, s: F.round(F.abs(
        F.when(s > 0, q_item(xf, s).cast("double") / s).otherwise(F.lit(0.0))
        - xf.cast("double")) * 1e9, 0).cast("long")
    return (e.crossJoin(F.broadcast(sc_arr))
            .select(
                "vec_id",
                F.array_join(F.transform(
                    F.zip_with("embedding", "scales", q_item),
                    lambda q: q.cast("string")), ",").alias("q_vec"),
                F.aggregate(F.zip_with("embedding", "scales", err_item),
                            F.lit(0).cast("long"),
                            lambda acc, x: acc + x).alias("err_e9")))


INT8_CAND = 40   # approximate candidates per query before exact re-rank


def q_ann_int8(spark, sf_dir):
    """Two-stage serving-scale ANN: int8-quantized approximate scoring,
    exact cosine re-rank of the top INT8_CAND candidates per query.

    The production pattern this encodes (FAISS's SQ8 flat index, run as
    a dataflow): the first-stage scan reads 4x fewer bytes (int8 vs
    float32) and scores with an integer dot product — SIMD-friendly and
    overflow-free (64 dims x 127^2 << 2^63) — and only the INT8_CAND
    survivors per query pay the exact float re-rank.  Unlike the LSH /
    IVF paths, every stage is deterministic AND order-independent
    (per-dim scales are exact 127/max|x|; round() ties follow both
    engines' away-from-zero rule — the invariant q_embedding_quantize
    already pins; integer sums commute), so this approximate index
    carries a FULL value oracle.

    Plan shape: one 64-row per-dim max aggregate folds into a scales
    array broadcast to the corpus scan; quantization is row-local
    zip_with; approximate scoring is the broadcast-query join; a
    per-query top-C window cuts candidates 25x before the exact
    re-rank.  At 100 TB the quantized corpus would be a materialized
    column (write-once), making the first stage a pure int8 scan.
    """
    ix = _gate(spark, sf_dir, "ann_int8_rerank")
    e = ix.vectors.vec.select("vec_id", "embedding", "nrm")
    ex = e.select(F.posexplode("embedding").alias("dim", "xf")) \
          .select("dim", F.abs(F.col("xf").cast("double")).alias("ax"))
    sc_arr = (ex.groupBy("dim").agg(F.max("ax").alias("mx"))
              .agg(F.transform(
                  F.array_sort(F.collect_list(F.struct("dim", "mx"))),
                  lambda s: F.when(s["mx"] > 0, F.lit(127.0) / s["mx"])
                             .otherwise(F.lit(0.0))).alias("scales")))
    qz = F.zip_with("embedding", "scales",
                    lambda x, s: F.round(x.cast("double") * s, 0).cast("long"))
    eq = (e.crossJoin(F.broadcast(sc_arr))
           .select("vec_id", "embedding", "nrm", qz.alias("qv")))
    q = F.broadcast(
        eq.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"),
                F.col("nrm").alias("q_nrm"),
                F.col("qv").alias("q_qv")))
    s_int = F.aggregate(F.zip_with("qv", "q_qv", lambda a, b: a * b),
                        F.lit(0).cast("long"), lambda acc, x: acc + x)
    wc = W.partitionBy("q_id").orderBy(F.col("s").desc(), F.col("vec_id"))
    cand = (q.join(eq, F.col("vec_id") != F.col("q_id"))
             .withColumn("s", s_int)
             .withColumn("crk", F.row_number().over(wc))
             .filter(F.col("crk") <= INT8_CAND))
    rer = cand.withColumn("cos", F.round(F.try_divide(
        dot("q_vec", "embedding"), F.col("q_nrm") * F.col("nrm")), 6))
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (rer.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") <= TOP_K)
               .select("q_id", F.col("vec_id").alias("neighbor_id"),
                       "cos", "rk"))


def q_embedding_norms(spark, sf_dir):
    """Norm/moment stats per label — sanity surface for the vector ops."""
    e = _emb(spark, sf_dir)
    sq = F.aggregate(F.col("embedding"), F.lit(0.0),
                     lambda acc, x: acc + x.cast("double") * x.cast("double"))
    return (e.select("label", F.round(sq, 6).alias("sq_norm"))
             .groupBy("label")
             .agg(F.count(F.lit(1)).alias("n_vecs"),
                  F.round(F.min("sq_norm"), 6).alias("min_sq_norm"),
                  F.round(F.max("sq_norm"), 6).alias("max_sq_norm")))


def q_embedding_centroids(spark, sf_dir):
    """Exact per-label centroid of the embedding vectors, one row per
    (label, dimension) — the class-prototype computation under IVF
    coarse quantizers and dataset-cartography analyses.

    Float sums are NOT order-independent, so a naive array-sum would be
    partitioning-dependent (and oracle-unmatchable); each float32
    component casts float->DOUBLE->DECIMAL(20,7) — exact, commutative,
    and identical in DuckDB.  The double hop is load-bearing: DuckDB's
    direct FLOAT->DECIMAL scales in float32 precision (0.19657294 ->
    0.1965730), Spark's in double; routing both through DOUBLE makes
    the casts agree, and a double's binary fraction essentially never
    sits on a 1e-7 half-way tie.
    posexplode x 64 dims before a (label, dim) partial+final aggregate:
    the map-side combine absorbs the 64x row fan-out, shuffling only
    |labels| x 64 partial rows per task — the word-count shape again.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "x"))
    g = (ex.groupBy("label", "dim")
           .agg(F.sum(F.col("x").cast("double").cast("decimal(20,7)")).alias("sx"),
                F.count(F.lit(1)).alias("n")))
    return g.select(
        "label", "dim",
        F.round(F.col("sx").cast("double") / F.col("n").cast("double"), 6)
         .alias("centroid"),
        "n")


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive/embedding training: for
    each query vector, the top-10 MOST similar vectors carrying a
    DIFFERENT label — the negatives that actually move a contrastive
    loss (random negatives are trivially separable; the hard ones sit
    just across the decision boundary).

    Same plan shape (and scale contract) as q_knn_bruteforce: the gated
    query set broadcasts, the corpus never shuffles, each pair costs
    one dot fold, and the label-mismatch predicate rides in the
    broadcast-join condition so mismatching pairs are dropped before
    any scoring work.  Per-query top-k via rank window over the scored
    pairs, deterministic on (rounded cos desc, vec_id).
    """
    e = _emb(spark, sf_dir).withColumn("nrm", l2_norm("embedding"))
    _gate(spark, sf_dir, "hard_negative_mining")
    q = F.broadcast(
        e.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("q_id"),
                F.col("label").alias("q_label"),
                F.col("embedding").alias("q_vec"),
                F.col("nrm").alias("q_nrm")))
    scored = (q.join(e, (F.col("vec_id") != F.col("q_id"))
                     & (F.col("label") != F.col("q_label")))
               .withColumn("cos", F.round(F.try_divide(
                   dot("q_vec", "embedding"),
                   F.col("q_nrm") * F.col("nrm")), 6)))
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= TOP_K)
                  .select("q_id", "q_label",
                          F.col("vec_id").alias("neg_id"),
                          F.col("label").alias("neg_label"), "cos", "rk"))


RP_DIM = 16
_RP_SEED = 11


def _rp_planes() -> np.ndarray:
    """Seeded Gaussian projection matrix (RP_DIM x DIM) — the
    Johnson-Lindenstrauss random projection, shared verbatim (as
    repr'd double literals) by the Spark plan and the DuckDB oracle."""
    return np.random.default_rng(_RP_SEED).standard_normal((RP_DIM, DIM))


def q_embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64 -> 16 dims: each
    output coordinate is one dot product against a seeded Gaussian
    hyperplane — the standard cheap dimensionality reduction in front
    of clustering / dedup passes over embedding corpora (pairwise
    distances preserved within (1 +/- eps) w.h.p.).

    Scale: ZERO shuffles — a row-local projection (narrow map over the
    scan; at 100 TB the projected table writes straight out of the
    executors).  The planes are plan literals (16 x 64 doubles, one
    generated SQL string — see _dot_sql on why not Column objects) and
    every dot accumulates left-to-right IEEE, so the DuckDB oracle
    recomputes bit-identical doubles; coordinates quantize once to
    integer micro-units and leave as one comma-joined string.
    """
    e = load_table(spark, sf_dir, "embeddings")
    coords = ",".join(
        f"CAST(ROUND({_dot_sql('embedding', p)} * 1e6, 0) AS BIGINT)"
        for p in _rp_planes())
    return e.selectExpr(
        "vec_id", "label",
        f"array_join(array({coords}), ',') AS proj_e6")


def q_embedding_gram(spark, sf_dir):
    """Gram matrix of the embedding corpus: G[i][j] = sum over vectors
    of x_i * x_j, upper triangle in long form — the one-pass sufficient
    statistic behind PCA / whitening / covariance of an embedding
    column (eigendecompose the d x d result driver-side; d is tiny).

    The 100 TB shape: per Arrow batch a vectorized int64 Q^T @ Q
    accumulates a d x d partial (mapInPandas — one d(d+1)/2-row output
    per PARTITION's worth of batches, not per vector), then ONE
    partial+final agg sums partials; the shuffle carries
    |partitions| x 2080 rows, never vectors.  Components quantize to
    floor(x * 1e6 + 0.5) int64 first (float->double widening is exact;
    floor of identical doubles is identical), so the matmul and the
    cross-partition sum are exact integer arithmetic — independent of
    batch boundaries, partition count, and engine.  Headroom: |x|<=1-ish
    components give ~1e12 per product; int64 overflows only past ~9M
    vectors per (i,j) cell — shard the sum by vec_id range (one extra
    groupBy key) beyond that, same plan shape.
    """
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    iu, ju = np.triu_indices(DIM)

    def kernel(batches):
        G = np.zeros((DIM, DIM), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            Q = np.floor(M * 1e6 + 0.5).astype(np.int64)
            G += Q.T @ Q
        if seen:
            yield pd.DataFrame({"i": iu.astype(np.int32),
                                "j": ju.astype(np.int32),
                                "partial": G[iu, ju]})

    parts = e.select("embedding").mapInPandas(
        kernel, schema="i int, j int, partial long")
    return (parts.groupBy("i", "j")
                 .agg(F.sum("partial").alias("gram_e12"))
                 .select("i", "j", "gram_e12"))


PCA_K = 2
PCA_ROUNDS = 32    # fixed iteration budget — part of the op's identity


def _pca_seed(k: int, i: int) -> int:
    """Deterministic integer seed matrix for the orthogonal iteration —
    small co-prime-modulus pseudo-randoms, never near-parallel columns.
    Shared verbatim (as an arithmetic formula) by the Python driver
    math and the DuckDB oracle."""
    return 1 + (i * 37) % 19 if k == 1 else 1 + (i * 53 + 7) % 23


def _pca_iterate(C: list[list[float]], dim: int,
                 rounds: int = PCA_ROUNDS) -> list[list[float]]:
    """Fixed-round orthogonal (subspace) iteration for the top-2
    directions of a d x d covariance, in PURE Python with explicit
    left-to-right folds.

    Every accumulation is written as `acc = 0.0; acc += term` in index
    order because the DuckDB oracle computes the identical recurrence
    via `list_reduce(list(expr ORDER BY idx), (a,b) -> a+b)` — a left
    fold (verified: seeds with the first element, so 0.0+t0 == t0
    bitwise).  Identical IEEE-754 op sequences on identical inputs give
    bit-identical doubles, which is what lets the projection quantize
    to the SAME integers in both engines.  numpy is deliberately NOT
    used here: its dot/sum use pairwise/SIMD summation whose order
    differs from SQL's fold.  Cost is irrelevant — 64x64x2 multiply-
    adds per round on the driver.
    """
    v = [[float(_pca_seed(1, i)) for i in range(dim)],
         [float(_pca_seed(2, i)) for i in range(dim)]]
    for _ in range(rounds):
        w = []
        for kk in range(PCA_K):
            col = []
            for i in range(dim):
                acc = 0.0
                for j in range(dim):
                    acc += C[i][j] * v[kk][j]
                col.append(acc)
            w.append(col)
        acc = 0.0
        for i in range(dim):
            acc += w[0][i] * w[0][i]
        n1 = math.sqrt(acc)
        u1 = [w[0][i] / n1 for i in range(dim)]
        acc = 0.0
        for i in range(dim):
            acc += w[1][i] * u1[i]
        d = acc
        w2o = [w[1][i] - d * u1[i] for i in range(dim)]
        acc = 0.0
        for i in range(dim):
            acc += w2o[i] * w2o[i]
        n2 = math.sqrt(acc)
        v = [u1, [w2o[i] / n2 for i in range(dim)]]
    comps = []
    for kk in range(PCA_K):
        # sign convention: largest-|component| entry positive, lowest
        # index on exact ties (mirrors ROW_NUMBER ... ORDER BY ABS(v)
        # DESC, i ASC in the oracle)
        piv = max(range(dim), key=lambda i: (abs(v[kk][i]), -i))
        comps.append(v[kk] if v[kk][piv] >= 0
                     else [-x for x in v[kk]])
    return comps


def q_embedding_pca(spark, sf_dir):
    """PCA projection of the embedding corpus onto the top-2 directions
    of a PCA_ROUNDS-round seeded orthogonal iteration — the
    dimensionality-reduction / visualization step of an embedding
    pipeline, built the distributed-sufficient-statistic way.

    The heavy pass is q_embedding_gram's exact integer Q'Q plus one
    d-wide column-sum agg; the d x d covariance C = E[xx'] - mu mu'
    assembles DRIVER-side from those (bounded: 64x64 — the IVF-centroid
    collect pattern), the fixed-budget orthogonal iteration runs on the
    driver (_pca_iterate — O(rounds * d^2), microseconds), and the two
    components broadcast back as literal vectors into a JVM-side
    zip_with/aggregate fold that projects every embedding in one narrow
    pass.  No iteration touches distributed data; vectors never shuffle
    — the 100 TB cost is one gram pass + one projection scan.

    The FIXED iteration budget (not run-to-convergence eigh) is the
    op's definition: on a near-isotropic corpus (top eigengap ~2%, as
    here) no bounded computation pins the exact eigenvectors, but a
    seeded fixed-round iterate is a deterministic function of the data
    that any engine can replicate — the DuckDB oracle re-runs the
    identical recurrence (gram -> covariance -> 32 unrolled rounds ->
    sign pin -> fold projection) in matching IEEE op order, so the
    e6-quantized projections value-MATCH, not just rows-match.  Quality
    is pinned separately: the iterate captures >= 99% of eigh's top-2
    variance (tests/test_extensions.py).

    All divisions convert int -> double FIRST (float(g)/float(n), the
    SQL CAST(g AS DOUBLE)/CAST(n AS DOUBLE) semantics) — gram entries
    can exceed 2^53 at ~1e7 vectors, where Python's exact-rational
    int/int would round differently than the cast-then-divide the
    oracle performs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    gram = {(r.i, r.j): r.gram_e12
            for r in q_embedding_gram(spark, sf_dir).collect()}
    sums = e.select(*[
        F.sum(F.floor(F.col("embedding")[i].cast("double") * 1e6 + 0.5)
              .cast("long")).alias(f"s{i}")
        for i in range(DIM)]).collect()[0]
    n = e.count()
    if n == 0:
        return e.select("vec_id",
                        *[F.lit(0).alias(f"pc{k+1}_e6")
                          for k in range(PCA_K)]).limit(0)
    nd = float(n)
    mu = [float(sums[f"s{i}"]) / nd for i in range(DIM)]
    G = [[0] * DIM for _ in range(DIM)]
    for (i, j), val in gram.items():
        G[i][j] = G[j][i] = val
    C = [[float(G[i][j]) / nd - mu[i] * mu[j] for j in range(DIM)]
         for i in range(DIM)]
    comps = _pca_iterate(C, DIM)
    # Project on the QUANTIZED components via one generated SQL fold
    # per k (the _dot_sql rationale: one JVM parse, no py4j literal
    # round-trips; repr() round-trips float64 exactly).  The centered
    # array is staged as its OWN projection column so the two folds
    # share one evaluation (CollapseProject keeps multiply-referenced
    # non-cheap aliases as a stage boundary).
    mu_arr = "array(" + ",".join(repr(m) + "D" for m in mu) + ")"
    centered = (f"zip_with(transform(embedding, x ->"
                f" FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)),"
                f" {mu_arr}, (q, m) -> q - m)")
    folds = []
    for k in range(PCA_K):
        c_arr = ("array(" + ",".join(repr(float(c)) + "D"
                                     for c in comps[k]) + ")")
        folds.append(
            f"CAST(FLOOR(aggregate(zip_with(qm, {c_arr},"
            f" (x, y) -> x * y), 0D, (acc, x) -> acc + x))"
            f" AS BIGINT) AS pc{k+1}_e6")
    return (e.selectExpr("vec_id", f"{centered} AS qm")
             .selectExpr("vec_id", *folds))


def q_embedding_outliers(spark, sf_dir):
    """Centroid-distance outlier score per embedding: the squared
    distance to the corpus mean, scaled by n^2 so the whole computation
    stays EXACT integer arithmetic — dist2_scaled = sum_d (n*q_d -
    S_d)^2 over the e6-quantized components (q = floor(x*1e6 + 0.5),
    S = per-dimension sum).  Rank-equivalent to ||x - mu||^2; the top
    of the list is the mislabeled/garbage-vector review queue.

    Two scans, no window: the per-dimension sums are a posexplode +
    partial+final agg to 64 rows (broadcast back), and the per-vector
    fold re-aggregates posexplode output partition-locally (each
    vec_id's 64 rows never cross partitions before the partial agg,
    so the shuffle carries one row per vector).  All products in
    DECIMAL(38,0) — exact for corpora to ~1e9 vectors — and the exact
    integer converts to double ONCE at the end (correctly rounded from
    the same integer in both engines).
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.selectExpr(
        "vec_id",
        "transform(embedding, x ->"
        " cast(floor(cast(x as double) * 1e6 + 0.5) as bigint)) AS qv")
    qe = q.select("vec_id", F.posexplode("qv").alias("pos", "qd"))
    s = qe.groupBy("pos").agg(F.sum("qd").alias("s"))
    n = q.agg(F.count(F.lit(1)).alias("n"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    dev = d38("n") * d38("qd") - d38("s")
    return (qe.join(F.broadcast(s), "pos").crossJoin(F.broadcast(n))
              .select("vec_id", (dev * dev).alias("t"))
              .groupBy("vec_id")
              .agg(F.sum("t").cast("double").alias("dist2_scaled")))


def q_knn_label_vote(spark, sf_dir):
    """kNN classification by majority vote: each query vector's top-10
    cosine neighbors vote with their labels (ties -> smaller label),
    and the row records whether the vote recovers the query's own
    label — leave-one-out eval of embedding quality, the metric a
    training pipeline tracks across embedding versions.

    Pure composition: the neighbor lists come from q_knn_bruteforce
    (same gating, same broadcast shape), labels join in by vec_id, and
    the vote is one tiny agg + row_number over |queries| x |labels|
    rows.  The oracle wraps the knn oracle's CTE verbatim, so any
    divergence localizes to the vote step.
    """
    nn = q_knn_bruteforce(spark, sf_dir)
    lbl = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (nn.join(lbl.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("label").alias("nl")), "neighbor_id")
               .groupBy("q_id", "nl")
               .agg(F.count(F.lit(1)).alias("votes")))
    w = W.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("nl"))
    pred = (votes.withColumn("rk", F.row_number().over(w))
                 .filter(F.col("rk") == 1)
                 .select("q_id", F.col("nl").alias("pred_label"), "votes"))
    truth = lbl.select(F.col("vec_id").alias("q_id"),
                       F.col("label").alias("true_label"))
    return (pred.join(truth, "q_id")
                .withColumn("correct",
                            (F.col("pred_label") == F.col("true_label"))
                            .cast("int")))


def q_ann_recall(spark, sf_dir):
    """ANN quality report: per-query recall@10 of the LSH index against
    the exact brute-force top-10 — the eval row an index rebuild gates
    on (recall dropping under target means re-tune bands/planes, not
    ship).

    Pure composition of the two existing operators (same gates, same
    broadcast shapes); the overlap is one |queries| x k semi-join-like
    LEFT join + count, and recall leaves as exact fixed-point ppm.
    """
    brute = q_knn_bruteforce(spark, sf_dir).select("q_id", "neighbor_id")
    ann = (q_ann_lsh(spark, sf_dir)
           .select("q_id", "neighbor_id", F.lit(1).alias("hit")))
    j = brute.join(ann, ["q_id", "neighbor_id"], "left")
    return (j.groupBy("q_id")
             .agg(F.count(F.lit(1)).alias("k"),
                  F.sum(F.coalesce("hit", F.lit(0))).alias("hits"))
             .select("q_id", "k", "hits",
                     F.floor(F.col("hits").cast("double") * 1e6
                             / F.col("k").cast("double")).cast("long")
                      .alias("recall_ppm")))


PQ_M, PQ_DSUB = 8, 8        # 8 subspaces x 8 dims over the 64-dim vectors
PQ_K, PQ_ITER = 32, 2       # centroids per subspace, Lloyd rounds
PQ_SHORTLIST = 50           # ADC shortlist re-ranked exactly
PQ_TOP = 10


def _pq_d2(sub_col, cvec_col):
    """Squared L2 between two double arrays, sequential fold — the
    bit-identical pair of the DuckDB list_reduce (the kmeans recipe)."""
    diff2 = F.zip_with(sub_col, cvec_col,
                       lambda x, c: (x - c) * (x - c))
    return F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)


def _pq_sub(df, id_col="vec_id"):
    """(id, m, sub): the M subvector slices per vector, cast double."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.array(*[
            F.transform(F.slice("embedding", m * PQ_DSUB + 1, PQ_DSUB),
                        lambda x: x.cast("double"))
            for m in range(PQ_M)])).alias("m", "sub"))


def q_ann_pq_adc(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-bound trillion-vector serving layout (Jegou et
    al., PQ 2011; FAISS's IndexPQ): the corpus is compressed to M={m}
    one-byte codes per vector (a {m}x{k}-centroid codebook per
    subspace, trained by the same deterministic Lloyd recipe as
    kmeans_embeddings, all {m} subspaces in ONE loop), and each query
    scores the WHOLE corpus through a {m}x{k}-cell lookup table of
    exact subvector distances — embeddings are never touched after
    encoding.

    Determinism: codebook means go through the exact-DECIMAL(20,7)
    double-hop; subvector distances are sequential folds; the ADC sum
    adds its {m} per-subspace terms in fixed subspace order (four
    conditional single-element aggregates, then one left-to-right
    expression — never a float SUM whose order floats); ranks break
    ties on (adc, vec_id); the score leaves as floor(adc * 1e6).

    Scale: codebooks are {m}x{k} rows — broadcast everywhere; the
    encoded corpus is pivoted ONCE to (vec_id, array<int>[{m}]) — the
    64-float vector compressed to {m} bytes, the entire point of PQ.
    ADC is then a row-local LUT walk exactly as in FAISS: the
    |Q| x {m}x{k} table of exact subvector distances (computed by the
    same Spark fold, so every double is engine-exact) is broadcast as
    one numpy array and ONE Arrow mapInPandas pass scores every local
    code row against every query and emits only its partition-local
    top-{s} per query — so the only pre-top-k shuffle is the code
    pivot (N x {m} -> N int rows) and the global rank exchange carries
    ~partitions x |Q| x {s} skinny rows, never N x |Q| (the r05 shape
    joined the code stream to the distance table and shuffled
    N x {m} x |Q| rows into a groupBy — ~4e11 rows at 1e9 vectors;
    this shape is invariant in N past the scan).  Query set gated by
    KNN_MAX_QUERIES like every ANN entry point; the LUT closure is
    |Q| x {m}x{k} doubles, bounded by the same gate.
    """.format(m=PQ_M, k=PQ_K, s=PQ_SHORTLIST)
    e = _emb(spark, sf_dir)
    sub = _pq_sub(e).cache()
    seeds = F.broadcast(e.orderBy("vec_id").limit(PQ_K).select("vec_id"))
    cent = (sub.join(seeds, "vec_id")
               .select("m", F.col("vec_id").alias("cid"),
                       F.col("sub").alias("cvec")))

    def assign(cent_df):
        scored = (sub.join(F.broadcast(cent_df), "m")
                     .select("vec_id", "m", "cid",
                             _pq_d2(F.col("sub"), F.col("cvec"))
                             .alias("d2")))
        rk = F.row_number().over(
            W.partitionBy("vec_id", "m").orderBy("d2", "cid"))
        return (scored.withColumn("rk", rk)
                      .filter(F.col("rk") == 1)
                      .select("vec_id", "m", "cid"))

    for _ in range(PQ_ITER):
        a = assign(cent)
        ex = (a.join(sub, ["vec_id", "m"])
               .select("m", "cid", F.posexplode("sub").alias("dim", "x")))
        sums = (ex.groupBy("m", "cid", "dim")
                  .agg(F.sum(F.col("x").cast("decimal(20,7)")).alias("s"),
                       F.count(F.lit(1)).alias("n")))
        cent = (sums.select(
                    "m", "cid", "dim",
                    (F.col("s").cast("double") / F.col("n").cast("double"))
                    .alias("mean"))
                .groupBy("m", "cid")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                    lambda p: p["mean"]).alias("cvec")))
        # Materialize each round's M x K codebook (tiny): otherwise
        # round i's lineage re-executes rounds 0..i-1, and the encode
        # pass + LUT collect below would re-run the whole loop again
        # (iterative-algorithm doctrine — cut lineage every round).
        cent = cent.cache()
    codes = assign(cent)
    # Pivot the code stream once: N x M (vec_id, m, cid) rows -> N rows
    # of (vec_id, array<int>[M]) — the scan the ADC kernel reads.
    code_arr = (codes.groupBy("vec_id")
                     .agg(F.transform(
                         F.array_sort(F.collect_list(F.struct("m", "cid"))),
                         lambda p: p["cid"]).alias("code")))
    _gate(spark, sf_dir, "ann_pq_adc")
    q = e.filter(F.col("vec_id") % 100 == 0)
    qsub = _pq_sub(q.select(F.col("vec_id").alias("q_id"), "embedding"),
                   "q_id")
    dist = (qsub.join(F.broadcast(cent), "m")
                .select("q_id", "m", "cid",
                        _pq_d2(F.col("sub"), F.col("cvec")).alias("pd2")))
    # ONE tiny LUT-build job: |Q| x M x K exact doubles (gate-bounded)
    # collected and re-broadcast as a numpy array — the same Spark fold
    # computes every cell, so the doubles are bit-identical to the r05
    # join form; only the delivery mechanism changed.
    import numpy as np
    lut_rows = dist.collect()
    q_ids = sorted({r["q_id"] for r in lut_rows})
    q_pos = {qid: i for i, qid in enumerate(q_ids)}
    lut_np = np.zeros((len(q_ids), PQ_M * PQ_K), dtype=np.float64)
    for r in lut_rows:
        lut_np[q_pos[r["q_id"]], r["m"] * PQ_K + r["cid"]] = r["pd2"]
    b_lut = spark.sparkContext.broadcast(lut_np)
    b_qids = spark.sparkContext.broadcast(
        np.array(q_ids, dtype=np.int64))

    def adc_scan(batches):
        import pandas as pd
        lut = b_lut.value
        qids = b_qids.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vid = pdf["vec_id"].to_numpy(np.int64)
            cm = np.stack(pdf["code"].to_numpy()).astype(np.int64)
            offs = cm + np.arange(PQ_M, dtype=np.int64) * PQ_K
            outs = []
            for qi in range(lut.shape[0]):
                row = lut[qi]
                # fixed left-to-right subspace order: the same IEEE
                # addition chain as the oracle's p0 + p1 + ... + p7
                adc = row[offs[:, 0]].copy()
                for m in range(1, PQ_M):
                    adc += row[offs[:, m]]
                mask = vid != qids[qi]
                av, vv = adc[mask], vid[mask]
                if len(vv) == 0:
                    continue
                k = min(PQ_SHORTLIST, len(vv))
                top = np.lexsort((vv, av))[:k]   # (adc, vec_id) order
                outs.append(pd.DataFrame(
                    {"q_id": np.full(k, qids[qi], dtype=np.int64),
                     "vec_id": vv[top], "adc": av[top]}))
            if outs:
                yield pd.concat(outs)

    scanned = code_arr.mapInPandas(
        adc_scan, "q_id long, vec_id long, adc double")
    ws = W.partitionBy("q_id").orderBy(F.col("adc"), F.col("vec_id"))
    shortlist = (scanned.withColumn("srk", F.row_number().over(ws))
                        .filter(F.col("srk") <= PQ_SHORTLIST)
                        .select("q_id", "vec_id"))
    # exact re-rank of the compressed-domain shortlist (the
    # ann_int8_rerank two-stage shape): |Q| x shortlist pairs fetch
    # their true vectors and one sequential fold decides the final
    # ranks — output quality comes from the exact stage, PQ only
    # prunes (on featureless synthetic embeddings the coarse ADC rank
    # alone is noisy; on clustered real corpora it is the FAISS
    # IndexPQ serving path either way).
    qv = q.select(F.col("vec_id").alias("q_id"),
                  F.transform("embedding", lambda x: x.cast("double"))
                   .alias("qvec"))
    ev = e.select("vec_id",
                  F.transform("embedding", lambda x: x.cast("double"))
                   .alias("evec"))
    rer = (shortlist.join(F.broadcast(qv), "q_id")
                    .hint("shuffle_hash").join(ev, "vec_id")
                    .withColumn("d2", _pq_d2(F.col("qvec"), F.col("evec"))))
    wk = W.partitionBy("q_id").orderBy(F.col("d2"), F.col("vec_id"))
    return (rer.withColumn("rk", F.row_number().over(wk))
               .filter(F.col("rk") <= PQ_TOP)
               .select("q_id", F.col("vec_id").alias("neighbor_id"), "rk",
                       F.floor(F.col("d2") * 1e6).cast("long")
                        .alias("d2_e6")))


def q_embedding_drift(spark, sf_dir):
    """Per-dimension embedding drift between two corpus snapshots
    (vec_id parity stands in for old/new): each dimension's snapshot
    means and their difference — the model-monitoring report that
    catches a re-embedded corpus whose distribution silently moved
    (a drifted dimension invalidates IVF centroids and LSH planes).

    Components quantize to e6 ints row-locally (the gram-matrix
    recipe); one posexplode + conditional partial+final agg produces
    the 64-row per-dimension sums, and every emitted number is a
    fixed-order expression over those exact integers, floored at 1e-9
    of the ORIGINAL float scale.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.selectExpr(
        "vec_id % 2 AS snap",
        "posexplode(transform(embedding, x ->"
        " cast(floor(cast(x as double) * 1e6 + 0.5) as bigint)))"
        " AS (dim, qd)")
    agg = (q.groupBy("dim")
            .agg(F.sum(F.when(F.col("snap") == 0, F.col("qd"))).alias("sa"),
                 F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
                  .alias("na"),
                 F.sum(F.when(F.col("snap") == 1, F.col("qd"))).alias("sb"),
                 F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
                  .alias("nb")))
    mean = lambda s_, n_: (F.col(s_).cast("double")  # noqa: E731
                           / F.col(n_).cast("double") / 1e6)
    drift = mean("sa", "na") - mean("sb", "nb")
    return agg.select(
        "dim", F.col("na").alias("n_old"), F.col("nb").alias("n_new"),
        F.floor(mean("sa", "na") * 1e9).cast("long").alias("mean_old_e9"),
        F.floor(mean("sb", "nb") * 1e9).cast("long").alias("mean_new_e9"),
        F.floor(drift * 1e9).cast("long").alias("drift_e9"))


IVF_DELTA_MOD = 10     # vec_id % 10 == 0 stands in for "today's vectors"


def ivf_base_cell_expr(spark, sf_dir) -> str:
    """Row-local cell-affinity SQL expr from the FROZEN base-trained
    centroids (lowest IVF_CELLS base vec_ids) — shared by the batch
    delta refresh and the streaming index replay so both maintain the
    identical index."""
    base = (load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") % IVF_DELTA_MOD != 0))
    return cell_scores_sql("embedding", *ivf_centroids(base))


def ivf_cell_stats_of(cell_scores: str):
    """df -> per-cell (n, two md5 checksum lanes) monoid partials."""
    lane = lambda pos: F.conv(  # noqa: E731
        F.substring(F.md5(F.col("vec_id").cast("string")), pos, 8),
        16, 10).cast("long")

    def index(df):
        assigned = df.withColumn(
            "cell",
            F.array_max(F.expr(cell_scores)).getField("cell")
             .cast("long"))
        return assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(lane(1)).alias("l1"),
            F.sum(lane(9)).alias("l2"))

    return index


def q_ivf_index_delta(spark, sf_dir):
    """Incremental maintenance of the IVF ANN index — the IVM pattern
    (inverted_index_delta_refresh) applied to the vector index: the
    cell->stats index over the BASE vectors (vec_id % 10 != 0) absorbs
    an insert batch by assigning ONLY the new vectors to the FROZEN
    base-trained centroids and monoid-merging per-cell stats — never
    re-assigning the base corpus (at 100 TB of vectors a full re-index
    per ingest is the cost this op exists to avoid; centroid RE-train
    is the rare offline event, not the ingest path).

    Per-cell state is (n_vecs, two md5 checksum lanes over member
    vec_ids) — an order-independent commutative monoid, so merged ==
    rebuilt exactly (assignment is row-local per vector), which is
    what the oracle checks by rebuilding the index over the POST-insert
    corpus directly.  No posting arrays are collected: the state is
    |cells| rows of integers (production sizes C ~ sqrt(N), postings
    stay columnar in the store; the lanes verify full membership
    without shipping it).

    Scale: centroid literals are a bounded collect (IVF_CELLS rows);
    assignment is a zero-shuffle row-local argmax projection; each
    side's index is ONE partial+final agg keyed by cell; the merge
    joins |cells|-sized relations.
    """
    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % IVF_DELTA_MOD != 0)
    delta = e.filter(F.col("vec_id") % IVF_DELTA_MOD == 0)
    cell_scores = ivf_base_cell_expr(spark, sf_dir)
    index = ivf_cell_stats_of(cell_scores)

    b, d = index(base), index(delta)
    z = F.lit(0).cast("long")
    return (b.select("cell", F.col("n").alias("n1"),
                     F.col("l1").alias("a1"), F.col("l2").alias("a2"))
            .join(d.select("cell", F.col("n").alias("n2"),
                           F.col("l1").alias("b1"),
                           F.col("l2").alias("b2")),
                  "cell", "full_outer")
            .select("cell",
                    (F.coalesce("n1", z) + F.coalesce("n2", z))
                    .alias("n_vecs"),
                    (F.coalesce("a1", z) + F.coalesce("b1", z))
                    .alias("members_lane1"),
                    (F.coalesce("a2", z) + F.coalesce("b2", z))
                    .alias("members_lane2")))


KNN_GRAPH_K = 5


def q_knn_graph_ivf(spark, sf_dir):
    """CORPUS-WIDE kNN graph, IVF-cell-bounded — the precursor
    relation for SemDeDup clustering, label propagation over
    embeddings, and graph-based diversity sampling: every vector's
    top-{k} cosine neighbors WITHIN its coarse cell, built for the
    whole corpus (the kNN/ANN entry points answer a bounded QUERY set;
    this materializes the all-vectors graph the pipeline stores).

    Scale: assignment to the deterministic base centroids is a
    row-local argmax projection; pair work is the per-cell self-join —
    quadratic in CELL size, never corpus size, the dedup_semantic
    geometry bound (production sizes C ~ sqrt(N), so cell-pair work is
    ~N^1.5 spread over C independent tasks; the probe-multiple recall
    trade lives in ann_ivf_cosine).  Exact re-scored cosine with the
    knn tie-break contract (rounded score desc, neighbor id) — full
    value oracle.
    """.format(k=KNN_GRAPH_K)
    vec = index_for(spark, sf_dir).vectors.vec
    a = vec.select("cell", F.col("vec_id").alias("q_id"),
                   F.col("embedding").alias("q_vec"),
                   F.col("nrm").alias("q_nrm"))
    scored = (a.join(vec, "cell")
              .filter(F.col("vec_id") != F.col("q_id"))
              .withColumn("cos", cosine()))
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                      F.col("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= KNN_GRAPH_K)
            .select("q_id", F.col("vec_id").alias("neighbor_id"),
                    "cos", "rk"))


KNN_CLUSTER_COS = 0.45    # edge threshold over the kNN graph


def q_semantic_knn_clusters(spark, sf_dir):
    """Semantic clusters = connected components over the THRESHOLDED
    kNN graph — the step after q_knn_graph_ivf in the SemDeDup-style
    pipeline (the graph materializes candidate structure; clustering
    turns it into "these documents say the same thing" groups for
    dedup-aware sampling and mixture math).  Edges are kNN pairs with
    cos >= {t}; the graph is symmetrized (kNN is directed) and
    min-label propagated to a fixpoint — the dedup_components engine
    reused on embedding space.

    Scale: pair work is the IVF-cell-bounded kNN graph (never
    all-pairs); the component loop is O(diameter) joins over the
    id-pair relation.  Output: (cluster_id = min vec_id, n_members)
    for clusters >= 2.  Oracle: the knn-graph oracle CTEs + a
    recursive-CTE transitive closure — composed verbatim.
    """.format(t=KNN_CLUSTER_COS)
    from .dedup import _min_label_components

    g = (q_knn_graph_ivf(spark, sf_dir)
         .filter(F.col("cos") >= KNN_CLUSTER_COS)
         .select(F.col("q_id").alias("doc_a"),
                 F.col("neighbor_id").alias("doc_b")))
    return (_min_label_components(g)
            .select(F.col("cluster_id").alias("cluster_vec_id"),
                    "n_members"))


DIM_BUDGETS = (64, 32, 16, 8)
DIM_EVAL_K = 10


def q_embedding_dim_budget(spark, sf_dir):
    """Matryoshka-style DIMENSION-BUDGET eval: recall@10 of kNN over
    PREFIX-TRUNCATED vectors (64 -> 32 -> 16 -> 8 dims) against the
    full-dimension ground truth — the measurement that decides how
    many dims the dedup/retrieval index actually pays for at 100 TB
    (embedding storage and ANN cost scale linearly in dims; MRL-style
    truncation is the standard budget knob, and this op measures what
    it costs in recall ON THIS corpus instead of trusting the model
    card).

    One gated |Q| x corpus pair join computes ALL four cosines in the
    same projection (the slices share the scan); four q_id-keyed
    rank windows reuse one exchange; the report is a single agg
    unpivoted to one row per budget.  Exact integer recall; full
    value oracle.
    """
    e = _emb(spark, sf_dir)
    _gate(spark, sf_dir, "embedding_dim_budget")
    q = F.broadcast(e.filter(F.col("vec_id") % 100 == 0)
                    .select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_vec")))
    pairs = q.join(e, F.col("vec_id") != F.col("q_id"))
    cols = ["q_id", "vec_id"]
    for d in DIM_BUDGETS:
        qs, es = F.slice("q_vec", 1, d), F.slice("embedding", 1, d)
        cos = F.round(cosine_sim(qs, es), 6)
        cols.append(cos.alias(f"cos_{d}"))
    scored = pairs.select(*cols)
    for d in DIM_BUDGETS:
        w = W.partitionBy("q_id").orderBy(F.col(f"cos_{d}").desc(),
                                          F.col("vec_id"))
        scored = scored.withColumn(
            f"in_{d}",
            (F.row_number().over(w) <= DIM_EVAL_K).cast("long"))
    base = DIM_BUDGETS[0]
    aggs = [F.countDistinct("q_id").alias("nq")]
    for d in DIM_BUDGETS:
        aggs.append(F.sum(F.col(f"in_{base}")
                          * F.col(f"in_{d}")).alias(f"hits_{d}"))
    wide = scored.agg(*aggs)
    stack = "stack(%d, %s) as (dims, hits)" % (
        len(DIM_BUDGETS),
        ", ".join(f"{d}L, hits_{d}" for d in DIM_BUDGETS))
    return (wide.select("nq", F.expr(stack))
            .select(F.col("dims").cast("long").alias("dims"),
                    F.col("nq").alias("n_queries"), "hits",
                    F.expr(f"CAST((hits * 1000000)"
                           f" DIV (nq * {DIM_EVAL_K}) AS BIGINT)")
                     .alias("recall_ppm")))


import math as _math

# NDCG@10 discount weights as INTEGER LITERALS, floor(1e6/log2(r+1)).
# Computed once in Python and inlined into BOTH engines' plans — the
# cross-engine log2 question never arises (the repo's shared-literal
# doctrine, cf. the Carter-Wegman MH_AB family).
NDCG_K = 10
NDCG_W = tuple(int(1e6 // _math.log2(r + 1)) for r in range(1, NDCG_K + 1))
NDCG_PREFIX = tuple(sum(NDCG_W[:m]) for m in range(NDCG_K + 1))


def q_eval_retrieval_ndcg(spark, sf_dir):
    """Retrieval-quality EVAL: NDCG@{k} per query for the exact-cosine
    kNN arm, with graded relevance = label match (the embeddings
    table's label column is the ground-truth class, the same contract
    knn_label_vote_accuracy grades) — the ranking-quality readout a
    retrieval stack reports next to recall (ann_recall_report) and
    vote accuracy.

    All ranking arithmetic is INTEGER: the discount weights
    floor(1e6/log2(r+1)) are Python-computed literals shared by both
    engines, DCG is their rel-masked sum, IDCG is the prefix sum over
    min(R, {k}) ideal slots (R = corpus size of the query's label
    minus the query itself), and ndcg_ppm = dcg*1e6 DIV idcg.

    Scale: the kNN arm is the gated broadcast-query join; the label
    sizes are one |labels|-row agg broadcast back; everything after
    the arm is |Q|x{k} rows.

    Output: (q_id, label, n_rel_topk, r_total, dcg_w, idcg_w,
    ndcg_ppm).
    """.format(k=NDCG_K)
    e = load_table(spark, sf_dir, "embeddings")
    nn = q_knn_bruteforce(spark, sf_dir)
    lab = e.select("vec_id", "label")
    ql = lab.select(F.col("vec_id").alias("q_id"),
                    F.col("label").alias("q_label"))
    nl = lab.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("n_label"))
    w_case = "CASE rk " + " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(NDCG_W)) + " END"
    scored = (nn.join(F.broadcast(ql), "q_id")
                .join(nl, "neighbor_id")
                .withColumn("rel", (F.col("n_label") == F.col("q_label"))
                            .cast("long"))
                .withColumn("w", F.expr(w_case)))
    sizes = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_label_all"))
    per_q = (scored.groupBy("q_id", F.col("q_label").alias("label"))
                   .agg(F.sum("rel").alias("n_rel_topk"),
                        F.sum(F.col("rel") * F.col("w")).alias("dcg_w")))
    idcg_case = ("CASE LEAST(r_total, " + str(NDCG_K) + ") "
                 + " ".join(f"WHEN {m} THEN {p}"
                            for m, p in enumerate(NDCG_PREFIX))
                 + " END")
    return (per_q.join(F.broadcast(sizes), "label")
            .withColumn("r_total", (F.col("n_label_all") - 1).cast("long"))
            .withColumn("idcg_w", F.expr(idcg_case).cast("long"))
            .select("q_id", "label", "n_rel_topk", "r_total",
                    F.col("dcg_w").cast("long").alias("dcg_w"), "idcg_w",
                    F.expr("CASE WHEN idcg_w > 0 THEN"
                           " (dcg_w * 1000000) DIV idcg_w"
                           " ELSE 0 END").cast("long").alias("ndcg_ppm")))


RAG_DIMS = 32       # hashed-3-gram projection dims (the embed proxy)
RAG_CELLS = 8       # IVF coarse cells over chunk vectors
RAG_PROBES = 3      # probed cells per query document
RAG_QMOD = 20       # seed queries: every 20th document


def _rag_chunk_vecs(spark, sf_dir):
    """(doc_id, chunk_idx, v): doc_chunking_rag's overlapping windows
    (text.q_doc_chunking verbatim, keeping the chunk text one stage
    longer) carried to a RAG_DIMS(=32)-dim INTEGER embedding via a
    hashed-3-gram
    projection — the deterministic embed-proxy seam (a production
    pipeline swaps this projection for a model server / Pandas-UDF
    batch; the plan shape — a row-local map over the scan, zero
    shuffles — is identical).  One md5 per 3-gram supplies both the
    dim bucket (hex chars 1-8) and the signed milli-weight (chars
    9-16, the quality_classifier_hashed recipe), so every vector
    coordinate is an exact BIGINT both engines reproduce bit-for-bit.
    """
    from .text import CHUNK_LEN, CHUNK_STRIDE, _docs, _token_ngrams

    d = _docs(spark, sf_dir)
    n = F.length("text")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(CHUNK_STRIDE))
    chunks = (d.select("doc_id", "text",
                       F.posexplode(starts)
                        .alias("chunk_idx", "chunk_start"))
               .select("doc_id", "chunk_idx",
                       F.expr(f"substr(text, chunk_start + 1, "
                              f"{CHUNK_LEN})").alias("sub")))

    def tok(g):
        h = F.md5(F.encode(g, "UTF-8"))
        return F.struct(
            (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
             % RAG_DIMS).alias("b"),
            (F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
             % 2001 - 1000).alias("wt"))

    # Stage the hashed gram structs as their OWN projection: the 32
    # dim folds below each reference `gs`, and collapsing the two
    # projects would re-inline (and re-evaluate) the md5 transform
    # once per dim — 32x the digest work.  CollapseProject keeps a
    # multiply-referenced non-cheap alias as a boundary, so the
    # transform runs once per row.
    staged = chunks.select(
        "doc_id", "chunk_idx",
        F.transform(_token_ngrams(words("sub"), 3),
                    tok).alias("gs"))

    def dim_sum(j):
        return F.aggregate(
            F.col("gs"), F.lit(0).cast("long"),
            lambda acc, s: acc + F.when(s["b"] == j, s["wt"])
                                  .otherwise(F.lit(0)))

    dims = F.array(*[dim_sum(j) for j in range(RAG_DIMS)])
    return staged.select("doc_id", "chunk_idx", dims.alias("v"))


def q_pipeline_rag_index(spark, sf_dir):
    """RAG INDEX-BUILD end to end as ONE declarative chain (r09
    verdict item 5 — the retrieval twin of pipeline_pretraining_e2e):
    chunk (doc_chunking_rag's windows) -> embed (hashed-3-gram
    integer projection, the deterministic proxy seam) -> IVF-assign
    (argmax inner product against {c} frozen centroids — the first
    {c} chunks by (doc_id, chunk_idx), a bounded {c}-row collect, the
    trainers' contract) -> retrieve -> NDCG@{k} readout as DOC->CHUNK
    SELF-RETRIEVAL: each seed document queries the index with its
    doc-level vector (the per-dim sum of its chunk vectors) and its
    own chunks are the graded ground truth — the label-free
    index-build sanity eval (a perfectly-probed index scores
    ndcg_ppm = 1e6 per query; every shortfall is an IVF probe miss or
    a hash-collision impostor outranking a true chunk, so the readout
    measures exactly what the index build controls).

    Every stage is integer-exact (dims are signed milli-weights, dots
    are BIGINT sums, NDCG uses the shared floor(1e6/log2(r+1))
    literals), so the whole composition carries a FULL value oracle
    built from the parents' CTEs.

    Scale: chunk+embed+assign are row-local over the scan (zero
    shuffles); the doc-vector agg is one doc_id-keyed shuffle; the
    retrieve join is EQUI on the cell key (broadcast seed queries —
    no |Q| x |chunks| relation, the IVF contract); ranking windows
    over ~{p}/{c} of the corpus per query; the NDCG readout is
    |Q| x {k} rows.

    Output: (q_doc, n_rel_topk, r_total, dcg_w, idcg_w, ndcg_ppm).
    """.format(c=RAG_CELLS, p=RAG_PROBES, k=NDCG_K)
    # One embed pass serves all four consumers (centroid collect,
    # cell assignment, doc vectors, the re-rank join) — the ann_lsh
    # sketch-cache pattern; ~(16+8*RAG_DIMS) bytes/chunk, corpus-sized
    # metadata, never the text.
    vecs = _rag_chunk_vecs(spark, sf_dir).cache()
    cents = first_rows(vecs, ["doc_id", "chunk_idx"], RAG_CELLS, "v")

    def cdot(c, col):
        return F.expr(" + ".join(
            f"{col}[{i}] * {int(x)}L" for i, x in enumerate(c)))

    def cell_scores(col):
        return F.array(*[
            F.struct(cdot(c, col).alias("a"),
                     F.lit(i).cast("int").alias("cell"))
            for i, c in enumerate(cents)])

    assigned = vecs.withColumn(
        "cell", F.array_max(cell_scores("v"))["cell"])
    # docv feeds the probe-exploded query relation AND the per-query
    # size join — cache so the 32-dim sum agg runs once per call
    docv = (vecs.groupBy("doc_id")
            .agg(F.array(*[F.sum(F.col("v")[i]).cast("long")
                           for i in range(RAG_DIMS)]).alias("dv"),
                 F.count(F.lit(1)).alias("n_chunks"))
            .cache())
    probes = F.transform(
        F.slice(F.reverse(F.array_sort(cell_scores("dv"))), 1,
                RAG_PROBES),
        lambda s: s["cell"])
    qs = (docv.filter(F.col("doc_id") % RAG_QMOD == 0)
          .select(F.col("doc_id").alias("q_doc"), "dv",
                  F.explode(probes).alias("probe")))
    # (r12: a null-safe-key/outer-explode rewrite of this join was
    # A/B'd here and REGRESSED 4.6 -> 11.2s — both join inputs are
    # cached, so the inferred filters read the cache and the rewrite
    # only perturbed the join plan; kept as-is.)
    cand = assigned.join(F.broadcast(qs),
                         F.col("cell") == F.col("probe"))
    # Explicit 32-term sum instead of a zip_with+aggregate HOF: the
    # HOF pair is interpreted (CodegenFallback) and ran once per
    # candidate row in the probe join's hot loop; the unrolled sum is
    # whole-stage-codegen'd.  BIGINT addition is exact and
    # order-free, so the values are bit-identical.
    dot_i = F.expr(" + ".join(
        f"dv[{i}] * v[{i}]" for i in range(RAG_DIMS))).cast("long")
    w = W.partitionBy("q_doc").orderBy(
        F.desc("dot"), F.asc("doc_id"), F.asc("chunk_idx"))
    topk = (cand.withColumn("dot", dot_i)
                .withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= NDCG_K))
    w_case = "CASE rk " + " ".join(
        f"WHEN {r + 1} THEN {wt}"
        for r, wt in enumerate(NDCG_W)) + " ELSE 0 END"
    per_q = (topk.withColumn("rel", (F.col("doc_id") == F.col("q_doc"))
                             .cast("long"))
                 .withColumn("w", F.expr(w_case).cast("long"))
                 .groupBy("q_doc")
                 .agg(F.sum("rel").alias("n_rel_topk"),
                      F.sum(F.col("rel") * F.col("w")).alias("dcg_w")))
    idcg_case = ("CASE LEAST(r_total, " + str(NDCG_K) + ") "
                 + " ".join(f"WHEN {m} THEN {p}"
                            for m, p in enumerate(NDCG_PREFIX))
                 + " END")
    sizes = docv.select(F.col("doc_id").alias("q_doc"), "n_chunks")
    return (per_q.join(F.broadcast(sizes), "q_doc")
            .withColumn("r_total", F.col("n_chunks").cast("long"))
            .withColumn("idcg_w", F.expr(idcg_case).cast("long"))
            .select("q_doc",
                    F.col("n_rel_topk").cast("long").alias("n_rel_topk"),
                    "r_total",
                    F.col("dcg_w").cast("long").alias("dcg_w"),
                    "idcg_w",
                    F.expr("CASE WHEN idcg_w > 0 THEN"
                           " (dcg_w * 1000000) DIV idcg_w"
                           " ELSE 0 END").cast("long")
                     .alias("ndcg_ppm")))


MMR_C = 20          # dense candidates considered per query
MMR_K = 10          # diversified results returned per query
MMR_LAM = 70        # lambda in e2 (0.70 relevance / 0.30 diversity)


def q_retrieval_mmr(spark, sf_dir):
    """MMR result DIVERSIFICATION (Carbonell & Goldstein, SIGIR'98) —
    the post-retrieval stage every RAG stack runs so the top-k isn't
    ten near-copies of one source: greedily select {k} of the top-{c}
    dense candidates per query, each step maximizing
    ``{lam}*rel_e6 - {ilam}*max_sim_to_selected_e6`` (integer e6
    arithmetic; ties break on vec_id).

    Engine-exact by construction: relevance and candidate-pair cosines
    are floor-quantized to e6 BEFORE any ranking (the IEEE fold both
    engines share), and the greedy loop is pure integer comparison —
    the Arrow kernel's per-dimension sequential accumulation is the
    same left-to-right IEEE order as the oracle's list_reduce fold
    (the _ann_bucket_kernel doctrine), so the oracle's UNROLLED
    {k}-step SQL selects identical documents.

    Scale: candidate generation is the gated broadcast-query join with
    a per-query window over {c} rows; the greedy step runs in ONE
    grouped-map applyInPandas over ≤{c}-row groups — per-group work is
    O({c}^2) sims + O({k}*{c}) comparisons, constant per query, and
    groups never co-reside beyond a shuffle partition.

    Output: (q_id, vec_id, rel_e6, mmr_score, rk).
    """.format(k=MMR_K, c=MMR_C, lam=MMR_LAM, ilam=100 - MMR_LAM)
    import numpy as np
    import pandas as pd

    e = (_gate(spark, sf_dir, "retrieval_mmr_diversify").vectors.vec
         .select("vec_id", "embedding", "nrm"))
    q = F.broadcast(
        e.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"),
                F.col("nrm").alias("q_nrm")))
    rel = (q.join(e, F.col("vec_id") != F.col("q_id"))
            .withColumn("rel_e6", F.floor(F.try_divide(
                dot("q_vec", "embedding"), F.col("q_nrm") * F.col("nrm"))
                * 1e6).cast("long")))
    w = W.partitionBy("q_id").orderBy(F.desc("rel_e6"), F.asc("vec_id"))
    cand = (rel.withColumn("crk", F.row_number().over(w))
               .filter(F.col("crk") <= MMR_C)
               .select("q_id", "vec_id", "rel_e6", "embedding", "nrm"))

    lam, ilam = MMR_LAM, 100 - MMR_LAM

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        m = np.array(list(pdf["embedding"]), dtype=np.float64)
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        # sequential per-dimension accumulation == the oracle's
        # list_reduce fold order (see _ann_bucket_kernel)
        acc = np.zeros((n, n))
        for d_ in range(m.shape[1]):
            acc += m[:, d_:d_ + 1] * m[None, :, d_]
        # a zero vector's similarities are NaN here and NULL in the
        # oracle (and so is a zero query's rel_e6): MAX skips them, a
        # NULL score ranks last
        with np.errstate(divide="ignore", invalid="ignore"):
            sim_e6 = np.floor(acc / (nrm[:, None] * nrm[None, :]) * 1e6)
        rel_e6 = [None if pd.isna(r) else int(r) for r in pdf["rel_e6"]]
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        selected: list[int] = []
        out = []
        remaining = list(range(n))
        while remaining and len(selected) < MMR_K:
            score = {}
            for i in remaining:
                sims = [int(sim_e6[i, j]) for j in selected
                        if not np.isnan(sim_e6[i, j])]
                mx = max(sims) if sims else (None if selected else 0)
                score[i] = (None if rel_e6[i] is None or mx is None
                            else lam * rel_e6[i] - ilam * mx)
            # mmr_score DESC NULLS LAST, then vec_id
            best_i = min(remaining, key=lambda i: (
                score[i] is None, -(score[i] or 0), ids[i]))
            selected.append(best_i)
            remaining.remove(best_i)
            out.append((int(pdf["q_id"].iloc[0]), int(ids[best_i]),
                        rel_e6[best_i], score[best_i], len(selected)))
        return pd.DataFrame(out, columns=["q_id", "vec_id", "rel_e6",
                                          "mmr_score", "rk"])

    return cand.groupBy("q_id").applyInPandas(
        kernel,
        "q_id long, vec_id long, rel_e6 long, mmr_score long, rk int")


RRF_K = 60          # the standard reciprocal-rank-fusion constant
HYB_TOPK = 10       # fused results per query (== TOP_K of both arms)
HYB_QTERMS = 3      # lexical query terms taken from the seed document


def q_hybrid_retrieval_rrf(spark, sf_dir):
    """HYBRID lexical+dense retrieval with reciprocal-rank fusion (r08
    verdict item 5) — the "more-like-this" shape every production
    RAG / data-curation stack runs: for each SEED document (the kNN
    query workload, id % 100 == 0; doc and vec ids share the corpus id
    space), retrieve top-{k} candidates by (a) BM25 over the seed's own
    top-{t} salient terms (the lexical arm — text_bm25_retrieval's
    scoring and two-phase salted top-k verbatim) and (b) exact cosine
    kNN on the seed's embedding (the dense arm — knn_bruteforce_cosine
    verbatim), then fuse with RRF: rrf_e9 = Σ_arms floor(1e9 / ({rk0} +
    rank)), missing arm contributing 0 — pure integer arithmetic, so
    the fused ranking is engine-exact and fully value-oracle-able.

    Scale: the lexical arm broadcasts the ≤{t}·|Q| query-term relation
    onto the posting-list-sized tf relation and ranks with the salted
    two-phase top-k (no global window); the dense arm is the gated
    broadcast-query kNN; fusion joins two ≤{k}·|Q|-row relations — the
    fused stage is metadata-sized no matter the corpus.  Candidates in
    BOTH arms' top-{k} strictly dominate single-arm candidates
    (2·⌊1e9/({rk0}+{k})⌋ > ⌊1e9/({rk0}+1)⌋), pinned in tests.

    Output: (q_doc, doc_id, lex_rk, dense_rk, rrf_e9, rk).
    """.format(k=HYB_TOPK, t=HYB_QTERMS, rk0=RRF_K)
    dense_rk = (q_knn_bruteforce(spark, sf_dir)
                .select(F.col("q_id").alias("q_doc"),
                        F.col("neighbor_id").alias("doc_id"),
                        F.col("rk").alias("dense_rk")))
    return _rrf_fuse(_lex_bm25_topk(spark, sf_dir), dense_rk)


def _seed_terms(ix):
    """The hybrid family's lexical query set, derived per request: each
    seed document's (doc_id % 100 == 0) own top-HYB_QTERMS BM25 terms,
    ties (score desc, word) — (q_doc, word).  Reads the index's
    postings, whose per-posting BM25 score is the seed's own term
    score."""
    wq = W.partitionBy("q_doc").orderBy(F.desc("bm25_e6"), F.asc("word"))
    return (ix.text.tf.filter(F.col("doc_id") % 100 == 0)
            .select(F.col("doc_id").alias("q_doc"), "word", "bm25_e6")
            .withColumn("trk", F.row_number().over(wq))
            .filter(F.col("trk") <= HYB_QTERMS)
            .select("q_doc", "word"))


def _lex_bm25_topk(spark, sf_dir):
    """The hybrid family's shared LEXICAL arm: per seed doc, top-k
    BM25 candidates over the seed's own top salient terms —
    text_bm25_retrieval's scoring and two-phase salted top-k (the
    index's bm25 search).  Returns (q_doc, doc_id, lex_rk)."""
    ix = index_for(spark, sf_dir)
    return (ix.bm25(_seed_terms(ix), HYB_TOPK, exclude_self=True)
            .select("q_doc", "doc_id", F.col("rk").alias("lex_rk")))


def _rrf_fuse(lex_rk, dense_rk):
    """Reciprocal-rank fusion of the two ≤HYB_TOPK·|Q|-row arm
    relations — integer arithmetic, metadata-sized at any corpus.  The
    arms meet in ONE (q_doc, doc_id) aggregation over their union (a
    full outer join would shuffle each arm separately)."""
    return (lex_rk.selectExpr("q_doc", "doc_id", "lex_rk",
                              "CAST(NULL AS INT) AS dense_rk")
            .unionByName(dense_rk.selectExpr(
                "q_doc", "doc_id", "CAST(NULL AS INT) AS lex_rk", "dense_rk"))
            .groupBy("q_doc", "doc_id")
            .agg(F.max("lex_rk").alias("lex_rk"),
                 F.max("dense_rk").alias("dense_rk"))
            .selectExpr("*",
                        f"COALESCE(1000000000 DIV ({RRF_K} + lex_rk), 0)"
                        f" + COALESCE(1000000000 DIV ({RRF_K} + dense_rk), 0)"
                        " AS rrf_e9")
            .selectExpr("*", "row_number() OVER (PARTITION BY q_doc"
                        " ORDER BY rrf_e9 DESC, doc_id) AS rk")
            .filter(f"rk <= {HYB_TOPK}"))


PRF_EXP_TERMS = 3     # expansion terms mined from the feedback docs


def q_retrieval_prf_expansion(spark, sf_dir):
    """PSEUDO-RELEVANCE-FEEDBACK query expansion (the RM3 skeleton —
    Lavrenko & Croft 2001 relevance models, as deployed in every
    Lucene/Anserini stack): round 1 retrieves the BM25 top-{k} for
    each seed query (the hybrid family's lexical arm verbatim); the
    {e} terms scoring highest SUMMED BM25 across those feedback
    documents (minus the original query terms) join the query; round
    2 re-retrieves with the expanded term set.  All integer (summed
    bm25_e6, rank ties on word/doc_id), so the whole two-round chain
    is engine-exact and fully value-oracled.

    Scale: both rounds are the salted two-phase top-k over
    posting-sized relations with ≤({t}+{e})·|Q| broadcast query
    terms; the feedback-mining stage joins the {k}·|Q|-row feedback
    relation to tf by doc_id — metadata-sized against the corpus.
    No stage holds a global window or a |Q| x |corpus| relation.

    Output: (q_doc, doc_id, score_e6, rk, r1_rk) — r1_rk is the
    document's round-1 rank (NULL = surfaced only by expansion, the
    recall the technique exists to buy).
    """.format(k=HYB_TOPK, e=PRF_EXP_TERMS, t=HYB_QTERMS)
    ix = index_for(spark, sf_dir)
    qterms = _seed_terms(ix)
    r1 = ix.bm25(qterms, HYB_TOPK, exclude_self=True)
    fb = r1.select("q_doc", "doc_id")
    # a feedback posting's BM25 weight is the index's per-posting score
    fbterms = (ix.text.tf.join(F.broadcast(fb), "doc_id")
                 .groupBy("q_doc", "word")
                 .agg(F.sum("bm25_e6").alias("fb_e6"))
                 .join(qterms, ["q_doc", "word"], "left_anti"))
    we = W.partitionBy("q_doc").orderBy(F.desc("fb_e6"), F.asc("word"))
    exp = (fbterms.withColumn("erk", F.row_number().over(we))
                  .filter(F.col("erk") <= PRF_EXP_TERMS)
                  .select("q_doc", "word"))
    r2 = ix.bm25(qterms.unionAll(exp), HYB_TOPK, exclude_self=True)
    return (r2.join(r1.select("q_doc", "doc_id",
                              F.col("rk").alias("r1_rk")),
                    ["q_doc", "doc_id"], "left")
              .select("q_doc", "doc_id", "score_e6", "rk", "r1_rk"))


def q_hybrid_retrieval_rrf_ivf(spark, sf_dir):
    """ANN-backed hybrid retrieval (r09 verdict item 4): the same
    lexical arm and RRF arithmetic as q_hybrid_retrieval_rrf, with
    the dense arm swapped from exact kNN to the IVF scale path
    (q_ann_ivf: coarse-quantize to {c} frozen centroids, probe the
    {p} nearest cells per query, re-rank probed candidates exactly).

    This is the form that survives |Q| growth at 100 TB: the exact
    hybrid's dense leg is gated by KNN_MAX_QUERIES (it scores
    |Q| x |corpus| pairs); the IVF leg scores only ~{p}/{c} of the
    corpus per query, with the same two-phase top-k fan-in — no
    |Q| x |N| relation anywhere in the plan.  Fully deterministic
    (frozen deterministic centroids, exact re-rank, integer RRF), so
    the row carries a FULL value oracle; recall vs the exact hybrid
    is pinned separately in tests (the approximation shows up only
    through which candidates the probes surface, exactly like
    ann_ivf_cosine vs knn_bruteforce_cosine).

    Output: (q_doc, doc_id, lex_rk, dense_rk, rrf_e9, rk).
    """.format(c=IVF_CELLS, p=IVF_PROBES)
    dense_rk = (q_ann_ivf(spark, sf_dir)
                .select(F.col("q_id").alias("q_doc"),
                        F.col("neighbor_id").alias("doc_id"),
                        F.col("rk").alias("dense_rk")))
    return _rrf_fuse(_lex_bm25_topk(spark, sf_dir), dense_rk)


QLD_MU = 1000   # Dirichlet pseudo-count (the Anserini/INQUERY default)


def _qld_gain_pen(lit) -> tuple[str, str]:
    """Query-likelihood Dirichlet scoring as two engine-deterministic
    integer micro-nat expressions (the _ln_det recipe — every log is
    of a positive INTEGER, so both engines compute bit-identical
    doubles and quantize to the same BIGINT).

    The Dirichlet query likelihood  log((tf + MU*cf/T) / (dl + MU))
    summed over query terms decomposes (Zhai & Lafferty 2001, the
    Lucene/Anserini LMDirichletSimilarity form) into

      sum_{t in Q and D} [ln(tf*T + MU*cf) - ln(MU*cf)]       (gain)
      - |Q| * ln(dl + MU)                                     (penalty)
      + |Q|-dependent constants that cancel within a query.

    gain's log argument tf*T + MU*cf is an exact BIGINT (headroom:
    T ~ 1e13 corpus tokens with tf <= 1e3 stays under 2^63 with MU*cf
    <= 1e16 — beyond that, pre-scale T by a power of two, which only
    shifts the cancelled constant)."""
    gain_arg = f"(tf * total_words + {QLD_MU} * cf)"
    smooth_arg = f"({QLD_MU} * cf)"
    from .text import _ln_det
    gain = (f"CAST(FLOOR(({_ln_det(gain_arg, lit)}"
            f" - {_ln_det(smooth_arg, lit)})"
            f" * 1000000.0 + 0.5) AS BIGINT)")
    pen = (f"CAST(FLOOR({_ln_det(f'(dl + {QLD_MU})', lit)}"
           f" * 1000000.0 + 0.5) AS BIGINT)")
    return gain, pen


def q_retrieval_qld_dirichlet(spark, sf_dir):
    """QUERY-LIKELIHOOD retrieval with Dirichlet smoothing (r10
    verdict item 4 — the hybrid stack's second lexical scorer): rank
    documents by log P(Q|D) under a Dirichlet-smoothed document
    language model (Zhai & Lafferty, SIGIR'01; the
    LMDirichletSimilarity every Lucene/Anserini deployment ships next
    to BM25).  Same seed-query workload as the hybrid family
    (each doc_id % 100 == 0 document's own top-{t} BM25 terms), so
    the two scorers rank the same posting universe and fuse directly.

    Candidates are the union of the query terms' postings (the
    standard posting-bounded evaluation — a doc sharing no query term
    scores only the length prior and is never surfaced).  Per-posting
    gain and per-doc length penalty are integer micro-nats via
    _ln_det, so the whole scorer is engine-exact and fully
    value-oracled; ranking ties break (score desc, doc_id).

    Scale: identical shape to the BM25 arm — posting-sized joins with
    the |Q|x{t}-row term relation broadcast, collection frequencies
    joined only for query terms (broadcast), and the two-phase salted
    top-{k} fold; no global window, no |Q| x |corpus| relation.

    Output: (q_doc, doc_id, score_e6, rk).
    """.format(t=HYB_QTERMS, k=HYB_TOPK)
    from .text import _lit_spark

    ix = index_for(spark, sf_dir)
    t, qterms = ix.text, _seed_terms(ix)
    cfq = t.df.join(qterms.select("word").distinct(), "word")
    qlen = qterms.groupBy("q_doc").agg(F.count(F.lit(1)).alias("qlen"))
    gain, pen = _qld_gain_pen(_lit_spark)
    cand = (t.tf.select("doc_id", "word", "tf")
              .join(F.broadcast(qterms), "word")
              .filter(F.col("doc_id") != F.col("q_doc"))
              .join(F.broadcast(cfq.select("word", "cf")), "word")
              .select("q_doc", "doc_id", "tf", "cf", *t.scalars())
              .selectExpr("q_doc", "doc_id", gain + " AS gain_e6"))
    m = (cand.groupBy("q_doc", "doc_id")
             .agg(F.sum("gain_e6").alias("match_e6")))
    scored = (m.join(t.dl, "doc_id")
               .join(F.broadcast(qlen), "q_doc")
               .selectExpr("q_doc", "doc_id",
                           f"match_e6 - qlen * {pen} AS score_e6"))
    return salted_topk(scored, HYB_TOPK)


def q_hybrid_qld_bm25_rrf(spark, sf_dir):
    """Two-scorer LEXICAL hybrid: BM25 and query-likelihood-Dirichlet
    rank the same posting universe for the same seed queries, fused
    with the family's integer reciprocal-rank fusion (_rrf_fuse
    verbatim; qld_rk rides the fuse's second slot).  The production
    rationale: BM25's tf saturation and QLD's length prior fail on
    different documents, and RRF needs no score calibration between
    them — the same reason the dense hybrid exists, applied across
    lexical model families.  Both arms integer-exact => fully
    value-oracled.

    Output: (q_doc, doc_id, lex_rk, qld_rk, rrf_e9, rk).
    """
    qld = (q_retrieval_qld_dirichlet(spark, sf_dir)
           .select("q_doc", "doc_id", F.col("rk").alias("dense_rk")))
    return (_rrf_fuse(_lex_bm25_topk(spark, sf_dir), qld)
            .select("q_doc", "doc_id", "lex_rk",
                    F.col("dense_rk").alias("qld_rk"), "rrf_e9", "rk"))


QUERIES = {
    "retrieval_qld_dirichlet": q_retrieval_qld_dirichlet,
    "hybrid_qld_bm25_rrf": q_hybrid_qld_bm25_rrf,
    "hybrid_retrieval_rrf": q_hybrid_retrieval_rrf,
    "hybrid_retrieval_rrf_ivf": q_hybrid_retrieval_rrf_ivf,
    "pipeline_rag_index_e2e": q_pipeline_rag_index,
    "ivf_probe_sweep_advisor": q_ivf_probe_sweep,
    "retrieval_prf_expansion": q_retrieval_prf_expansion,
    "eval_retrieval_ndcg": q_eval_retrieval_ndcg,
    "retrieval_mmr_diversify": q_retrieval_mmr,
    "embedding_dim_budget_eval": q_embedding_dim_budget,
    "semantic_knn_clusters": q_semantic_knn_clusters,
    "knn_graph_ivf": q_knn_graph_ivf,
    "ivf_index_delta_refresh": q_ivf_index_delta,
    "knn_bruteforce_cosine": q_knn_bruteforce,
    "knn_label_vote_accuracy": q_knn_label_vote,
    "ann_recall_report": q_ann_recall,
    "embedding_drift_report": q_embedding_drift,
    "embedding_outlier_scores": q_embedding_outliers,
    "embedding_gram_matrix": q_embedding_gram,
    "embedding_pca_project": q_embedding_pca,
    "ann_lsh_cosine": q_ann_lsh,
    "ann_ivf_cosine": q_ann_ivf,
    "ann_int8_rerank": q_ann_int8,
    "knn_pandas_vectorized": q_knn_pandas,
    "hard_negative_mining": q_hard_negatives,
    "embedding_random_projection": q_embedding_random_projection,
    "embedding_norms": q_embedding_norms,
    "embedding_centroids_exact": q_embedding_centroids,
    "embedding_quantize_int8": q_embedding_quantize,
    "ann_pq_adc": q_ann_pq_adc,
}

# Spark's sequential array fold (F.aggregate starting at 0.0) and
# DuckDB's list_reduce (starting at the first element) produce
# bit-identical doubles — IEEE 0.0+x == x — verified over every sf0.01
# pair.  So the exact vector queries carry full value oracles; only the
# approximate ANN stays rows-only.
_DOT = ("list_reduce(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)")
_SQN = ("list_reduce(list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), "
        "(acc, x) -> acc + x)")
# A zero vector's norm is 0 and DuckDB's double division by zero is
# NULL, so its cosine is NULL here as on the Spark side (try_divide);
# the retrieval oracles rank it last with an explicit NULLS LAST.
_COS = (_DOT + " / (sqrt(" + _SQN.replace("{a}", "{a}") + ") * sqrt("
        + _SQN.replace("{a}", "{b}") + "))")

ORACLE = {
    "embedding_quantize_int8": """
        WITH sc AS (
            SELECT list(CASE WHEN mx > 0
                             THEN CAST('127.0' AS DOUBLE) / mx
                             ELSE CAST('0.0' AS DOUBLE) END
                        ORDER BY dim) AS scales
            FROM (SELECT i AS dim,
                         MAX(ABS(CAST(embedding[i + 1] AS DOUBLE))) AS mx
                  FROM embeddings, unnest(range(len(embedding))) AS t(i)
                  GROUP BY i))
        SELECT vec_id,
               array_to_string(list_transform(list_zip(embedding, scales),
                   p -> CAST(ROUND(CAST(p[1] AS DOUBLE) * p[2], 0) AS INT)),
                   ',') AS q_vec,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_zip(embedding, scales),
                       p -> CAST(ROUND(ABS(
                           CASE WHEN p[2] > 0
                                THEN CAST(ROUND(CAST(p[1] AS DOUBLE) * p[2], 0)
                                          AS INT) / p[2]
                                ELSE CAST('0.0' AS DOUBLE) END
                           - CAST(p[1] AS DOUBLE)) * 1e9, 0) AS BIGINT))),
                   (acc, x) -> acc + x) AS BIGINT) AS err_e9
        FROM embeddings CROSS JOIN sc
    """,
    "embedding_centroids_exact": """
        WITH ex AS (
            SELECT label, i AS dim, embedding[i + 1] AS x
            FROM embeddings, unnest(range(len(embedding))) AS t(i))
        SELECT label, dim,
               ROUND((SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,7))))::DOUBLE
                     / COUNT(*)::DOUBLE, 6) AS centroid,
               COUNT(*) AS n
        FROM ex GROUP BY label, dim
    """,
    "knn_bruteforce_cosine": f"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                   FROM embeddings WHERE vec_id % 100 = 0),
        scored AS (
            SELECT q_id, e.vec_id AS neighbor_id,
                   ROUND({_COS.format(a='q_vec', b='e.embedding')}, 6) AS cos
            FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
        ranked AS (
            SELECT q_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC NULLS LAST, neighbor_id) AS rk
            FROM scored)
        SELECT q_id, neighbor_id, cos, rk FROM ranked WHERE rk <= 10
    """,
    "embedding_norms": f"""
        WITH n AS (SELECT label, ROUND({_SQN.format(a='embedding')}, 6) AS sq_norm
                   FROM embeddings)
        SELECT label, COUNT(*) AS n_vecs,
               ROUND(MIN(sq_norm), 6) AS min_sq_norm,
               ROUND(MAX(sq_norm), 6) AS max_sq_norm
        FROM n GROUP BY label
    """,
}

# The vectorized kernel is candidate discovery only; final ranks come
# from the same exact fold as the JVM path, so both share one oracle.
ORACLE["knn_pandas_vectorized"] = ORACLE["knn_bruteforce_cosine"]


def _lex_oracle_ctes() -> str:
    """The lexical arm's CTE prefix (BM25 stats + seed top-terms +
    round-1 salted top-k as `lexrk`) — shared by the hybrid fusion
    oracles and the PRF expansion oracle."""
    from .text import _bm25_e6_expr, _lit_duck

    bm25 = _bm25_e6_expr(_lit_duck)
    return f"""
    words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
    tf AS MATERIALIZED (SELECT doc_id, word, COUNT(*) AS tf
                        FROM words GROUP BY 1, 2),
    dfr AS MATERIALIZED (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
    dl AS MATERIALIZED (SELECT doc_id, SUM(tf)::BIGINT AS dl
                        FROM tf GROUP BY 1),
    scal AS (SELECT SUM(dl)::BIGINT AS total_words,
                    COUNT(*)::BIGINT AS n_docs FROM dl),
    qown AS (
        SELECT tf.doc_id AS q_doc, tf.word, tf.tf, dfr.df, dl.dl,
               {bm25} AS own_e6
        FROM tf JOIN dfr USING (word) JOIN dl ON dl.doc_id = tf.doc_id,
             scal
        WHERE tf.doc_id % 100 = 0),
    qterms AS MATERIALIZED (
        SELECT q_doc, word, df FROM (
            SELECT q_doc, word, df,
                   ROW_NUMBER() OVER (PARTITION BY q_doc
                                      ORDER BY own_e6 DESC, word) AS trk
            FROM qown)
        WHERE trk <= {HYB_QTERMS}),
    cand AS (
        SELECT qt.q_doc, tf.doc_id, tf.tf, qt.df, dl.dl,
               {bm25} AS bm25_e6
        FROM tf JOIN qterms qt USING (word)
                JOIN dl ON dl.doc_id = tf.doc_id, scal
        WHERE tf.doc_id <> qt.q_doc),
    lex AS (SELECT q_doc, doc_id, SUM(bm25_e6)::BIGINT AS score_e6
            FROM cand GROUP BY 1, 2),
    lexrk AS MATERIALIZED (
        SELECT q_doc, doc_id, score_e6, lex_rk FROM (
            SELECT q_doc, doc_id, score_e6,
                   ROW_NUMBER() OVER (PARTITION BY q_doc
                                      ORDER BY score_e6 DESC, doc_id)
                       AS lex_rk
            FROM lex)
        WHERE lex_rk <= {HYB_TOPK})"""


def _hybrid_rrf_oracle(dense: str = "exact") -> str:
    """Composes the parents' oracle constructions: the BM25 tf/df/dl
    CTEs (text_bm25_retrieval) for the lexical arm and — per the
    ``dense`` switch — either the exact-cosine ranking
    (knn_bruteforce_cosine) or the IVF probe-and-rerank chain
    (ann_ivf_cosine, verbatim up to column renames) for the dense
    arm, fused with integer RRF."""
    if dense == "exact":
        dense_ctes = f"""
    q AS (SELECT vec_id AS q_doc, embedding AS q_vec
          FROM embeddings WHERE vec_id % 100 = 0),
    dscored AS (
        SELECT q_doc, e.vec_id AS doc_id,
               ROUND({_COS.format(a='q_vec', b='e.embedding')}, 6) AS cos
        FROM q JOIN embeddings e ON e.vec_id <> q.q_doc),"""
    else:
        dense_ctes = f"""
    cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cvec,
               sqrt({_SQN.format(a='embedding')}) AS cnrm
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {IVF_CELLS})),
    affin AS MATERIALIZED (
        SELECT e.vec_id, c.cell,
               {_DOT.format(a='e.embedding', b='c.cvec')} / c.cnrm AS a
        FROM embeddings e CROSS JOIN cent c),
    ranked_aff AS MATERIALIZED (
        SELECT vec_id, cell, a,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY a DESC, cell DESC) AS rk
        FROM affin),
    assigned AS (SELECT vec_id, cell FROM ranked_aff WHERE rk = 1),
    dprobes AS (
        SELECT vec_id AS q_doc, cell AS probe
        FROM ranked_aff WHERE vec_id % 100 = 0 AND rk <= {IVF_PROBES}),
    dcand AS (
        SELECT p.q_doc, a.vec_id
        FROM dprobes p JOIN assigned a ON a.cell = p.probe
        WHERE a.vec_id <> p.q_doc),
    dscored AS (
        SELECT cd.q_doc, cd.vec_id AS doc_id,
               ROUND({_DOT.format(a='q.embedding', b='e.embedding')}
                     / (sqrt({_SQN.format(a='q.embedding')})
                        * sqrt({_SQN.format(a='e.embedding')})), 6) AS cos
        FROM dcand cd
        JOIN embeddings e ON e.vec_id = cd.vec_id
        JOIN embeddings q ON q.vec_id = cd.q_doc),"""
    return f"""
    WITH {_lex_oracle_ctes()},{dense_ctes}
    densrk AS (
        SELECT q_doc, doc_id, dense_rk FROM (
            SELECT q_doc, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY q_doc
                                      ORDER BY cos DESC NULLS LAST, doc_id)
                       AS dense_rk
            FROM dscored)
        WHERE dense_rk <= {HYB_TOPK}),
    fused AS (
        SELECT COALESCE(l.q_doc, d.q_doc) AS q_doc,
               COALESCE(l.doc_id, d.doc_id) AS doc_id,
               l.lex_rk, d.dense_rk,
               (COALESCE(1000000000 // ({RRF_K} + l.lex_rk), 0)
                + COALESCE(1000000000 // ({RRF_K} + d.dense_rk), 0)
               )::BIGINT AS rrf_e9
        FROM lexrk l FULL OUTER JOIN densrk d
          ON l.q_doc = d.q_doc AND l.doc_id = d.doc_id)
    SELECT q_doc, doc_id, lex_rk, dense_rk, rrf_e9, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_doc
                                     ORDER BY rrf_e9 DESC, doc_id) AS rk
        FROM fused)
    WHERE rk <= {HYB_TOPK}
    """


ORACLE["hybrid_retrieval_rrf"] = _hybrid_rrf_oracle()
ORACLE["hybrid_retrieval_rrf_ivf"] = _hybrid_rrf_oracle("ivf")


def _qld_oracle_ctes() -> str:
    """The QLD arm's CTE suffix (collection frequencies + posting
    gains + length penalty + salted-equivalent ranked top-k as
    `qldrk`) — appended after _lex_oracle_ctes' prefix, whose tf/dl/
    scal/qterms it reuses verbatim."""
    from .text import _lit_duck

    gain, pen = _qld_gain_pen(_lit_duck)
    return f"""
    cfr AS MATERIALIZED (
        SELECT word, SUM(tf)::BIGINT AS cf FROM tf
        WHERE word IN (SELECT word FROM qterms) GROUP BY 1),
    qcand AS (
        SELECT qt.q_doc, tf.doc_id, {gain} AS gain_e6
        FROM tf JOIN qterms qt USING (word)
                JOIN cfr USING (word), scal
        WHERE tf.doc_id <> qt.q_doc),
    qlen AS (SELECT q_doc, COUNT(*)::BIGINT AS qlen
             FROM qterms GROUP BY 1),
    qmatch AS (SELECT q_doc, doc_id, SUM(gain_e6)::BIGINT AS match_e6
               FROM qcand GROUP BY 1, 2),
    qscored AS (
        SELECT m.q_doc, m.doc_id,
               (m.match_e6 - ql.qlen * {pen})::BIGINT AS score_e6
        FROM qmatch m JOIN dl ON dl.doc_id = m.doc_id
                      JOIN qlen ql ON ql.q_doc = m.q_doc),
    qldrk AS MATERIALIZED (
        SELECT q_doc, doc_id, score_e6, qld_rk FROM (
            SELECT q_doc, doc_id, score_e6,
                   ROW_NUMBER() OVER (PARTITION BY q_doc
                                      ORDER BY score_e6 DESC, doc_id)
                       AS qld_rk
            FROM qscored)
        WHERE qld_rk <= {HYB_TOPK})"""


ORACLE["retrieval_qld_dirichlet"] = f"""
    WITH {_lex_oracle_ctes()},{_qld_oracle_ctes()}
    SELECT q_doc, doc_id, score_e6, qld_rk AS rk FROM qldrk
"""

ORACLE["hybrid_qld_bm25_rrf"] = f"""
    WITH {_lex_oracle_ctes()},{_qld_oracle_ctes()},
    fused AS (
        SELECT COALESCE(l.q_doc, d.q_doc) AS q_doc,
               COALESCE(l.doc_id, d.doc_id) AS doc_id,
               l.lex_rk, d.qld_rk,
               (COALESCE(1000000000 // ({RRF_K} + l.lex_rk), 0)
                + COALESCE(1000000000 // ({RRF_K} + d.qld_rk), 0)
               )::BIGINT AS rrf_e9
        FROM lexrk l FULL OUTER JOIN qldrk d
          ON l.q_doc = d.q_doc AND l.doc_id = d.doc_id)
    SELECT q_doc, doc_id, lex_rk, qld_rk, rrf_e9, rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_doc
                                     ORDER BY rrf_e9 DESC, doc_id) AS rk
        FROM fused)
    WHERE rk <= {HYB_TOPK}
"""


def _ndcg_oracle() -> str:
    w_case = "CASE rk " + " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(NDCG_W)) + " END"
    idcg_case = (f"CASE LEAST(r_total, {NDCG_K}) "
                 + " ".join(f"WHEN {m} THEN {p}"
                            for m, p in enumerate(NDCG_PREFIX))
                 + " END")
    return f"""
    WITH nn AS ({ORACLE["knn_bruteforce_cosine"]}),
    lab AS (SELECT vec_id, label FROM embeddings),
    scored AS (
        SELECT nn.q_id, ql.label AS q_label,
               CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS rel,
               {w_case} AS w
        FROM nn JOIN lab ql ON ql.vec_id = nn.q_id
                JOIN lab nl ON nl.vec_id = nn.neighbor_id),
    per_q AS (
        SELECT q_id, q_label AS label,
               SUM(rel)::BIGINT AS n_rel_topk,
               SUM(rel * w)::BIGINT AS dcg_w
        FROM scored GROUP BY 1, 2),
    sizes AS (SELECT label, COUNT(*)::BIGINT AS n_label_all
              FROM lab GROUP BY 1),
    j AS (SELECT q_id, label, n_rel_topk, dcg_w,
                 (n_label_all - 1)::BIGINT AS r_total
          FROM per_q JOIN sizes USING (label)),
    k AS (SELECT *, ({idcg_case})::BIGINT AS idcg_w FROM j)
    SELECT q_id, label, n_rel_topk, r_total, dcg_w, idcg_w,
           (CASE WHEN idcg_w > 0
                 THEN (dcg_w * 1000000) // idcg_w
                 ELSE 0 END)::BIGINT AS ndcg_ppm
    FROM k
    """


ORACLE["eval_retrieval_ndcg"] = _ndcg_oracle()


def _rag_index_oracle() -> str:
    """DuckDB twin of q_pipeline_rag_index, composing the parents'
    constructions: doc_chunking_rag's window CTE (keeping the chunk
    text one stage longer), the hashed-3-gram projection, the IVF
    assign/probe chain (ann_ivf_cosine's shape over integer dots),
    and the NDCG readout's shared integer weights."""
    from .text import CHUNK_LEN, CHUNK_STRIDE

    idot = ("list_reduce(list_prepend(0::BIGINT, "
            "list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), "
            "(acc, x) -> acc + x)")
    dim_exprs = ", ".join(
        "list_reduce(list_prepend(0::BIGINT, list_transform(gs, "
        f"s -> CASE WHEN s.b = {j} THEN s.wt ELSE 0::BIGINT END)), "
        "(acc, x) -> acc + x)"
        for j in range(RAG_DIMS))
    dv_exprs = ", ".join(f"SUM(v[{i + 1}])::BIGINT"
                         for i in range(RAG_DIMS))
    w_case = "CASE rk " + " ".join(
        f"WHEN {r + 1} THEN {wt}"
        for r, wt in enumerate(NDCG_W)) + " ELSE 0 END"
    idcg_case = (f"CASE LEAST(n_chunks, {NDCG_K}) "
                 + " ".join(f"WHEN {m} THEN {p}"
                            for m, p in enumerate(NDCG_PREFIX))
                 + " END")
    return f"""
    WITH chunks AS MATERIALIZED (
        SELECT doc_id, CAST(s // {CHUNK_STRIDE} AS INT) AS chunk_idx,
               substr(text, CAST(s + 1 AS INT), {CHUNK_LEN}) AS sub
        FROM documents,
             unnest(generate_series(0, greatest(length(text) - 1, 0),
                                    {CHUNK_STRIDE})) AS t(s)),
    toks AS MATERIALIZED (
        SELECT doc_id, chunk_idx,
               list_transform(
                   list_transform(
                       generate_series(1, greatest(len(w) - 2, 0)),
                       i -> concat_ws(' ', w[i], w[i+1], w[i+2])),
                   g -> struct_pack(
                       b := ('0x' || substr(md5(g), 1, 8))::BIGINT
                            % {RAG_DIMS},
                       wt := ('0x' || substr(md5(g), 9, 8))::BIGINT
                             % 2001 - 1000)) AS gs
        FROM (SELECT doc_id, chunk_idx, string_split(sub, ' ') AS w
              FROM chunks)),
    vecs AS MATERIALIZED (
        SELECT doc_id, chunk_idx, [{dim_exprs}] AS v FROM toks),
    docv AS MATERIALIZED (
        SELECT doc_id, [{dv_exprs}] AS dv,
               COUNT(*)::BIGINT AS n_chunks
        FROM vecs GROUP BY doc_id),
    cent AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY doc_id, chunk_idx) - 1
                   AS cell,
               v AS cvec
        FROM (SELECT doc_id, chunk_idx, v FROM vecs
              ORDER BY doc_id, chunk_idx LIMIT {RAG_CELLS})),
    affin AS MATERIALIZED (
        SELECT e.doc_id, e.chunk_idx, c.cell,
               {idot.format(a='e.v', b='c.cvec')} AS a
        FROM vecs e CROSS JOIN cent c),
    assigned AS (
        SELECT doc_id, chunk_idx, cell FROM (
            SELECT doc_id, chunk_idx, cell,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, chunk_idx
                                      ORDER BY a DESC, cell DESC) AS rk
            FROM affin)
        WHERE rk = 1),
    qaffin AS MATERIALIZED (
        SELECT q.doc_id AS q_doc, c.cell,
               {idot.format(a='q.dv', b='c.cvec')} AS a
        FROM docv q CROSS JOIN cent c
        WHERE q.doc_id % {RAG_QMOD} = 0),
    qprobes AS (
        SELECT q_doc, cell AS probe FROM (
            SELECT q_doc, cell,
                   ROW_NUMBER() OVER (PARTITION BY q_doc
                                      ORDER BY a DESC, cell DESC) AS rk
            FROM qaffin)
        WHERE rk <= {RAG_PROBES}),
    cand AS (
        SELECT p.q_doc, a.doc_id, a.chunk_idx
        FROM qprobes p JOIN assigned a ON a.cell = p.probe),
    scored AS MATERIALIZED (
        SELECT cd.q_doc, cd.doc_id, cd.chunk_idx,
               {idot.format(a='q.dv', b='e.v')} AS dot
        FROM cand cd
        JOIN vecs e ON e.doc_id = cd.doc_id
                   AND e.chunk_idx = cd.chunk_idx
        JOIN docv q ON q.doc_id = cd.q_doc),
    topk AS (
        SELECT * FROM (
            SELECT q_doc, doc_id, chunk_idx,
                   ROW_NUMBER() OVER (PARTITION BY q_doc
                                      ORDER BY dot DESC, doc_id,
                                               chunk_idx) AS rk
            FROM scored)
        WHERE rk <= {NDCG_K}),
    perq AS (
        SELECT q_doc,
               SUM(CASE WHEN doc_id = q_doc THEN 1 ELSE 0 END)::BIGINT
                   AS n_rel_topk,
               SUM(CASE WHEN doc_id = q_doc THEN {w_case} ELSE 0 END
                   )::BIGINT AS dcg_w
        FROM topk GROUP BY 1)
    SELECT q_doc, n_rel_topk,
           n_chunks::BIGINT AS r_total, dcg_w,
           ({idcg_case})::BIGINT AS idcg_w,
           (CASE WHEN ({idcg_case}) > 0
                 THEN dcg_w * 1000000 // ({idcg_case})
                 ELSE 0 END)::BIGINT AS ndcg_ppm
    FROM perq JOIN docv ON docv.doc_id = perq.q_doc
    """


ORACLE["pipeline_rag_index_e2e"] = _rag_index_oracle()


def _ivf_probe_sweep_oracle() -> str:
    """DuckDB twin of q_ivf_probe_sweep: the ann_ivf_cosine
    affinity/assignment CTEs, candidates scored once at max nprobe
    with their probe rank, the exact-kNN CTE (knn_bruteforce_cosine's
    construction) as ground truth, and one unrolled stat block per
    swept operating point."""
    pmax = max(IVF_ADV_PROBES)
    stats, unions = [], []
    for p in IVF_ADV_PROBES:
        stats.append(f""",
    top{p} AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC NULLS LAST, vec_id) AS rk
            FROM cscored WHERE prk <= {p})
        WHERE rk <= {TOP_K}),
    stat{p} AS (
        SELECT {p} AS nprobe,
               (SELECT COUNT(*)::BIGINT FROM top{p} t
                JOIN nn ON nn.q_id = t.q_id
                       AND nn.neighbor_id = t.vec_id) AS sum_hits,
               (SELECT COUNT(*)::BIGINT FROM cscored
                WHERE prk <= {p}) AS cand_pairs)""")
        unions.append(f"SELECT * FROM stat{p}")
    return f"""
    WITH cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cvec,
               sqrt({_SQN.format(a='embedding')}) AS cnrm
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {IVF_CELLS})),
    affin AS MATERIALIZED (
        SELECT e.vec_id, c.cell,
               {_DOT.format(a='e.embedding', b='c.cvec')} / c.cnrm AS a
        FROM embeddings e CROSS JOIN cent c),
    ranked_aff AS MATERIALIZED (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY a DESC, cell DESC) AS rk
        FROM affin),
    assigned AS (SELECT vec_id, cell FROM ranked_aff WHERE rk = 1),
    qprobes AS (
        SELECT vec_id AS q_id, cell AS probe, rk AS prk
        FROM ranked_aff
        WHERE vec_id % 100 = 0 AND rk <= {pmax}),
    cscored AS MATERIALIZED (
        SELECT p.q_id, a.vec_id, p.prk,
               ROUND({_DOT.format(a='q.embedding', b='e.embedding')}
                     / (sqrt({_SQN.format(a='q.embedding')})
                        * sqrt({_SQN.format(a='e.embedding')})), 6)
                   AS cos
        FROM qprobes p
        JOIN assigned a ON a.cell = p.probe AND a.vec_id <> p.q_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN embeddings q ON q.vec_id = p.q_id),
    nn AS MATERIALIZED (
        SELECT q_id, neighbor_id
        FROM ({ORACLE["knn_bruteforce_cosine"]})){''.join(stats)},
    rows AS ({' UNION ALL '.join(unions)}),
    nq AS (SELECT COUNT(DISTINCT q_id)::BIGINT AS n_queries FROM nn),
    calc AS (
        SELECT nprobe, n_queries, sum_hits,
               (sum_hits * 1000000 // ({TOP_K} * n_queries))::BIGINT
                   AS recall_ppm,
               cand_pairs
        FROM rows, nq),
    sel AS (SELECT COALESCE(
                MIN(CASE WHEN recall_ppm >= {IVF_ADV_RECALL_FLOOR_PPM}
                         THEN nprobe END),
                MAX(nprobe)) AS ch
            FROM calc)
    SELECT nprobe::INT AS nprobe, n_queries, sum_hits, recall_ppm,
           cand_pairs,
           (CASE WHEN nprobe = ch THEN 1 ELSE 0 END)::INT AS chosen
    FROM calc, sel
    """


ORACLE["ivf_probe_sweep_advisor"] = _ivf_probe_sweep_oracle()


def _prf_oracle() -> str:
    """DuckDB twin of q_retrieval_prf_expansion: the shared lexical
    CTE prefix (round 1 = lexrk), feedback-term mining with the same
    BM25 weight, the expanded term set, and the round-2 rerank."""
    from .text import _bm25_e6_expr, _lit_duck

    bm25 = _bm25_e6_expr(_lit_duck)
    return f"""
    WITH {_lex_oracle_ctes()},
    fbterms AS (
        SELECT q_doc, word, MAX(df) AS df,
               SUM(w_e6)::BIGINT AS fb_e6
        FROM (
            SELECT fb.q_doc, tf.word, tf.tf, dfr.df, dl.dl,
                   {bm25} AS w_e6
            FROM tf
            JOIN (SELECT q_doc, doc_id FROM lexrk) fb
              ON fb.doc_id = tf.doc_id
            JOIN dfr USING (word)
            JOIN dl ON dl.doc_id = tf.doc_id, scal)
        GROUP BY 1, 2),
    expterms AS (
        SELECT q_doc, word, df FROM (
            SELECT f.q_doc, f.word, f.df,
                   ROW_NUMBER() OVER (PARTITION BY f.q_doc
                                      ORDER BY f.fb_e6 DESC, f.word)
                       AS erk
            FROM fbterms f
            ANTI JOIN qterms qt
              ON qt.q_doc = f.q_doc AND qt.word = f.word)
        WHERE erk <= {PRF_EXP_TERMS}),
    q2 AS (SELECT q_doc, word, df FROM qterms
           UNION ALL SELECT q_doc, word, df FROM expterms),
    cand2 AS (
        SELECT qt.q_doc, tf.doc_id, tf.tf, qt.df, dl.dl,
               {bm25} AS bm25_e6
        FROM tf JOIN q2 qt USING (word)
                JOIN dl ON dl.doc_id = tf.doc_id, scal
        WHERE tf.doc_id <> qt.q_doc),
    lex2 AS (SELECT q_doc, doc_id, SUM(bm25_e6)::BIGINT AS score_e6
             FROM cand2 GROUP BY 1, 2),
    r2 AS (
        SELECT q_doc, doc_id, score_e6, rk FROM (
            SELECT q_doc, doc_id, score_e6,
                   ROW_NUMBER() OVER (PARTITION BY q_doc
                                      ORDER BY score_e6 DESC, doc_id)
                       AS rk
            FROM lex2)
        WHERE rk <= {HYB_TOPK})
    SELECT r2.q_doc, r2.doc_id, r2.score_e6, r2.rk,
           l.lex_rk AS r1_rk
    FROM r2 LEFT JOIN lexrk l
      ON l.q_doc = r2.q_doc AND l.doc_id = r2.doc_id
    """


ORACLE["retrieval_prf_expansion"] = _prf_oracle()


def _mmr_oracle() -> str:
    """UNROLLED greedy: MMR's sequential argmax is not a monotone
    recursion (each step needs an argmax over the remainder), so the
    oracle unrolls the MMR_K steps as generated CTE blocks — the
    batched-BPE oracle pattern.  Every comparison is on e6-quantized
    integers, so the SQL selects exactly the kernel's documents."""
    cos = _COS.format(a="{a}", b="{b}")
    lam, ilam = MMR_LAM, 100 - MMR_LAM

    def q6(a, b):
        return ("CAST(FLOOR((" + cos.format(a=a, b=b)
                + ") * 1e6) AS BIGINT)")

    steps = []
    for i in range(2, MMR_K + 1):
        prev = f"sel{i - 1}"
        steps.append(f"""
    sel{i} AS MATERIALIZED (
        SELECT * FROM {prev}
        UNION ALL
        SELECT q_id, vec_id, rel_e6, mmr_score, {i} AS rk FROM (
            SELECT t.*, ROW_NUMBER() OVER (PARTITION BY t.q_id
                           ORDER BY t.mmr_score DESC, t.vec_id) AS rn
            FROM (SELECT c.q_id, c.vec_id, c.rel_e6,
                         {lam} * c.rel_e6 - {ilam} * m.mx AS mmr_score
                  FROM cand c
                  JOIN (SELECT p.q_id, p.a_id, MAX(p.sim_e6) AS mx
                        FROM psym p JOIN {prev} s
                          ON s.q_id = p.q_id AND s.vec_id = p.b_id
                        GROUP BY 1, 2) m
                    ON m.q_id = c.q_id AND m.a_id = c.vec_id
                  WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                                    WHERE x.q_id = c.q_id
                                      AND x.vec_id = c.vec_id)) t)
        WHERE rn = 1)""")
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
    rel AS MATERIALIZED (
        SELECT q.vec_id AS q_id, c.vec_id,
               {q6('q.embedding', 'c.embedding')} AS rel_e6
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id % 100 = 0),
    cand AS MATERIALIZED (
        SELECT q_id, vec_id, rel_e6 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                          ORDER BY rel_e6 DESC, vec_id) AS crk
            FROM rel)
        WHERE crk <= {MMR_C}),
    psim AS MATERIALIZED (
        SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
               {q6('ea.embedding', 'eb.embedding')} AS sim_e6
        FROM cand a JOIN cand b
          ON a.q_id = b.q_id AND a.vec_id < b.vec_id
             JOIN e ea ON ea.vec_id = a.vec_id
             JOIN e eb ON eb.vec_id = b.vec_id),
    psym AS MATERIALIZED (SELECT q_id, a_id, b_id, sim_e6 FROM psim
             UNION ALL
             SELECT q_id, b_id AS a_id, a_id AS b_id, sim_e6 FROM psim),
    sel1 AS MATERIALIZED (
        SELECT q_id, vec_id, rel_e6,
               {lam} * rel_e6 AS mmr_score, 1 AS rk FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                          ORDER BY rel_e6 DESC, vec_id) AS rn
            FROM cand)
        WHERE rn = 1),{','.join(steps)}
    SELECT q_id, vec_id, rel_e6, mmr_score, rk FROM sel{MMR_K}
    """


ORACLE["retrieval_mmr_diversify"] = _mmr_oracle()


def _ann_lsh_oracle_sql() -> str:
    """Full value oracle for q_ann_lsh: the hyperplanes are seeded
    literals and the kernel's dot accumulation is left-to-right IEEE
    order, so DuckDB can recompute the IDENTICAL sketch (sign bits ->
    band buckets), candidate set, and exact re-rank.  Literal doubles
    go through CAST('repr' AS DOUBLE) (string parse is correctly
    rounded — the same doubles numpy holds in the kernel closure)."""
    r = N_PLANES // LSH_BANDS_ANN
    dots = []
    for i, p in enumerate(lsh_planes()):
        arr = "[" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)"
                             for x in p) + "]"
        dots.append(
            f"list_reduce(list_transform(list_zip(embedding, {arr}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
            f"(acc, x) -> acc + x) AS d{i}")
    weights = [1 << (r - 1 - j) for j in range(r)]
    buckets = []
    for b in range(LSH_BANDS_ANN):
        terms = " + ".join(
            f"(CASE WHEN d{b * r + j} >= 0 THEN {weights[j]} ELSE 0 END)"
            for j in range(r))
        buckets.append(f"({b} * 65536 + {terms})")
    cos = _COS.format(a="q.q_vec", b="e.embedding")
    return f"""
        WITH d AS (SELECT vec_id, embedding, {", ".join(dots)}
                   FROM embeddings),
        sk AS (SELECT vec_id, unnest([{", ".join(buckets)}]) AS bb
               FROM d),
        qk AS (SELECT vec_id AS q_id, bb FROM sk WHERE vec_id % 100 = 0),
        cand AS (SELECT DISTINCT qk.q_id, sk.vec_id
                 FROM sk JOIN qk USING (bb)
                 WHERE sk.vec_id <> qk.q_id),
        q AS (SELECT vec_id AS q_id, embedding AS q_vec
              FROM embeddings WHERE vec_id % 100 = 0),
        scored AS (
            SELECT c.q_id, e.vec_id AS neighbor_id,
                   ROUND({cos}, 6) AS cos
            FROM cand c
            JOIN embeddings e ON c.vec_id = e.vec_id
            JOIN q ON c.q_id = q.q_id),
        ranked AS (
            SELECT q_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC NULLS LAST, neighbor_id) AS rk
            FROM scored)
        SELECT q_id, neighbor_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """


ORACLE["ann_lsh_cosine"] = _ann_lsh_oracle_sql()

# int8 two-stage ANN: the scales CTE is the same (oracle-pinned)
# expression as embedding_quantize_int8; the first-stage score is an
# integer fold (order-free, exact), so candidate selection and the
# exact re-rank are both reproducible bit-for-bit.
ORACLE["ann_int8_rerank"] = f"""
    WITH sc AS (
        SELECT list(CASE WHEN mx > 0
                         THEN CAST('127.0' AS DOUBLE) / mx
                         ELSE CAST('0.0' AS DOUBLE) END
                    ORDER BY dim) AS scales
        FROM (SELECT i AS dim,
                     MAX(ABS(CAST(embedding[i + 1] AS DOUBLE))) AS mx
              FROM embeddings, unnest(range(len(embedding))) AS t(i)
              GROUP BY i)),
    eq AS (
        SELECT vec_id, embedding,
               list_transform(list_zip(embedding, scales),
                   p -> CAST(ROUND(CAST(p[1] AS DOUBLE) * p[2], 0)
                             AS BIGINT)) AS qv
        FROM embeddings CROSS JOIN sc),
    cand AS (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY s DESC, vec_id) AS crk
        FROM (SELECT q.vec_id AS q_id, e.vec_id,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(list_zip(q.qv, e.qv),
                                        p -> p[1] * p[2])),
                         (acc, x) -> acc + x) AS s
              FROM eq q JOIN eq e
                ON q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id)),
    scored AS (
        SELECT c.q_id, c.vec_id AS neighbor_id,
               ROUND({_COS.format(a='q.embedding', b='e.embedding')}, 6)
                   AS cos
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN embeddings q ON q.vec_id = c.q_id
        WHERE c.crk <= {INT8_CAND}),
    final AS (
        SELECT q_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored)
    SELECT q_id, neighbor_id, cos, rk FROM final WHERE rk <= {TOP_K}
"""

# IVF is approximate ONLY relative to true kNN — its own output is fully
# deterministic (seeded centroids, fixed probe count, exact re-rank), so
# it carries a full value oracle: the CTEs rebuild the same centroid
# table, argmax cell assignment (ties -> larger cell, matching
# array_max/reverse-array_sort struct order), 6-probe set, and exact
# rounded re-rank.  The Spark side's centroid norms are Python
# math.sqrt over a left-to-right sum — bit-identical to
# sqrt(list_reduce(...)) here.

def _dim_budget_oracle() -> str:
    cos_cols = ",\n               ".join(
        f"ROUND({_DOT.format(a=f'q.q_vec[1:{d}]', b=f'e.embedding[1:{d}]')}"
        f" / (sqrt({_SQN.format(a=f'q.q_vec[1:{d}]')})"
        f" * sqrt({_SQN.format(a=f'e.embedding[1:{d}]')})), 6)"
        f" AS cos_{d}"
        for d in DIM_BUDGETS)
    in_cols = ",\n               ".join(
        f"CASE WHEN ROW_NUMBER() OVER (PARTITION BY q_id"
        f" ORDER BY cos_{d} DESC, vec_id) <= {DIM_EVAL_K}"
        f" THEN 1 ELSE 0 END AS in_{d}"
        for d in DIM_BUDGETS)
    base = DIM_BUDGETS[0]
    hit_cols = ", ".join(
        f"SUM(in_{base} * in_{d})::BIGINT AS hits_{d}"
        for d in DIM_BUDGETS)
    rows = " UNION ALL ".join(
        f"SELECT {d}::BIGINT AS dims, nq AS n_queries,"
        f" hits_{d} AS hits,"
        f" ((hits_{d} * 1000000) // (nq * {DIM_EVAL_K}))::BIGINT"
        f" AS recall_ppm FROM w"
        for d in DIM_BUDGETS)
    return f"""
        WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                   FROM embeddings WHERE vec_id % 100 = 0),
        p AS (SELECT q.q_id, e.vec_id,
               {cos_cols}
              FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
        r AS (SELECT q_id, vec_id,
               {in_cols}
              FROM p),
        w AS (SELECT COUNT(DISTINCT q_id)::BIGINT AS nq, {hit_cols}
              FROM r)
        {rows}
    """


ORACLE["embedding_dim_budget_eval"] = _dim_budget_oracle()

ORACLE["knn_graph_ivf"] = f"""
    WITH cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cvec,
               sqrt({_SQN.format(a='embedding')}) AS cnrm
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {IVF_CELLS})),
    affin AS (
        SELECT e.vec_id, c.cell,
               {_DOT.format(a='e.embedding', b='c.cvec')} / c.cnrm AS a
        FROM embeddings e CROSS JOIN cent c),
    ranked_aff AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY a DESC, cell DESC) AS rk
        FROM affin),
    assigned AS (SELECT vec_id, cell FROM ranked_aff WHERE rk = 1),
    pairs AS (
        SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
    scored AS (
        SELECT p.q_id, p.neighbor_id,
               ROUND({_DOT.format(a='q.embedding', b='e.embedding')}
                     / (sqrt({_SQN.format(a='q.embedding')})
                        * sqrt({_SQN.format(a='e.embedding')})), 6)
                   AS cos
        FROM pairs p
        JOIN embeddings q ON q.vec_id = p.q_id
        JOIN embeddings e ON e.vec_id = p.neighbor_id),
    fin AS (
        SELECT q_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC NULLS LAST, neighbor_id) AS rk
        FROM scored)
    SELECT q_id, neighbor_id, cos, rk FROM fin WHERE rk <= {KNN_GRAPH_K}
"""

# Direct index over the POST-insert corpus with BASE-trained centroids:
# incremental == rebuild (assignment is row-local per vector).
# kNN-graph oracle composed verbatim + recursive transitive closure
ORACLE["semantic_knn_clusters"] = f"""
    WITH RECURSIVE g AS MATERIALIZED (
        SELECT q_id AS doc_a, neighbor_id AS doc_b
        FROM ({ORACLE["knn_graph_ivf"]})
        WHERE cos >= {KNN_CLUSTER_COS}),
    edges AS MATERIALIZED (
        SELECT doc_a, doc_b FROM g
        UNION SELECT doc_b, doc_a FROM g),
    nodes AS (SELECT DISTINCT doc_a AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.doc_a, r.lbl FROM edges e JOIN reach r
          ON r.node = e.doc_b),
    minlbl AS (SELECT node, MIN(lbl) AS cluster_vec_id
               FROM reach GROUP BY node)
    SELECT cluster_vec_id, COUNT(*) AS n_members
    FROM minlbl GROUP BY 1 HAVING COUNT(*) >= 2
"""

ORACLE["ivf_index_delta_refresh"] = f"""
    WITH cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cvec,
               sqrt({_SQN.format(a='embedding')}) AS cnrm
        FROM (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id % {IVF_DELTA_MOD} <> 0
              ORDER BY vec_id LIMIT {IVF_CELLS})),
    affin AS (
        SELECT e.vec_id, c.cell,
               {_DOT.format(a='e.embedding', b='c.cvec')} / c.cnrm AS a
        FROM embeddings e CROSS JOIN cent c),
    ranked AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY a DESC, cell DESC) AS rk
        FROM affin),
    assigned AS (SELECT vec_id, cell FROM ranked WHERE rk = 1)
    SELECT cell, COUNT(*)::BIGINT AS n_vecs,
           SUM(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
               ::BIGINT)::BIGINT AS members_lane1,
           SUM(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 9, 8))
               ::BIGINT)::BIGINT AS members_lane2
    FROM assigned GROUP BY cell
"""

ORACLE["ann_ivf_cosine"] = f"""
    WITH cent AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cvec,
               sqrt({_SQN.format(a='embedding')}) AS cnrm
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {IVF_CELLS})),
    affin AS (
        SELECT e.vec_id, c.cell,
               {_DOT.format(a='e.embedding', b='c.cvec')} / c.cnrm AS a
        FROM embeddings e CROSS JOIN cent c),
    ranked_aff AS (
        SELECT vec_id, cell, a,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY a DESC, cell DESC) AS rk
        FROM affin),
    assigned AS (SELECT vec_id, cell FROM ranked_aff WHERE rk = 1),
    probes AS (
        SELECT vec_id AS q_id, cell AS probe
        FROM ranked_aff WHERE vec_id % 100 = 0 AND rk <= {IVF_PROBES}),
    cand AS (
        SELECT p.q_id, a.vec_id
        FROM probes p JOIN assigned a ON a.cell = p.probe
        WHERE a.vec_id <> p.q_id),
    scored AS (
        SELECT cd.q_id, cd.vec_id AS neighbor_id,
               ROUND({_DOT.format(a='q.embedding', b='e.embedding')}
                     / (sqrt({_SQN.format(a='q.embedding')})
                        * sqrt({_SQN.format(a='e.embedding')})), 6) AS cos
        FROM cand cd
        JOIN embeddings e ON e.vec_id = cd.vec_id
        JOIN embeddings q ON q.vec_id = cd.q_id),
    final AS (
        SELECT q_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC NULLS LAST, neighbor_id) AS rk
        FROM scored)
    SELECT q_id, neighbor_id, cos, rk FROM final WHERE rk <= {TOP_K}
"""

ORACLE["hard_negative_mining"] = f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                      embedding AS q_vec
               FROM embeddings WHERE vec_id % 100 = 0),
    scored AS (
        SELECT q_id, q_label, e.vec_id AS neg_id, e.label AS neg_label,
               ROUND({_COS.format(a='q_vec', b='e.embedding')}, 6) AS cos
        FROM q JOIN embeddings e
          ON e.vec_id <> q.q_id AND e.label <> q.q_label),
    ranked AS (
        SELECT q_id, q_label, neg_id, neg_label, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, neg_id) AS rk
        FROM scored)
    SELECT q_id, q_label, neg_id, neg_label, cos, rk
    FROM ranked WHERE rk <= {TOP_K}
"""


def _rp_oracle_sql() -> str:
    """Random-projection oracle: the same seeded planes as repr'd
    literals, the same left-to-right list_reduce fold per coordinate,
    the same micro-unit quantization."""
    coords = []
    for p in _rp_planes():
        arr = "[" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)"
                             for x in p) + "]"
        coords.append(
            "CAST(ROUND(list_reduce(list_transform("
            f"list_zip(embedding, {arr}), "
            "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), "
            "(acc, x) -> acc + x) * 1e6, 0) AS BIGINT)")
    return f"""
        SELECT vec_id, label,
               array_to_string([{", ".join(coords)}], ',') AS proj_e6
        FROM embeddings
    """


ORACLE["embedding_random_projection"] = _rp_oracle_sql()

ORACLE["embedding_gram_matrix"] = """
    WITH comp AS (
        SELECT vec_id,
               unnest(generate_series(0, len(embedding) - 1)) AS i,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0
                          + 0.5) AS BIGINT) AS q
        FROM embeddings)
    SELECT a.i AS i, b.i AS j, SUM(a.q * b.q)::BIGINT AS gram_e12
    FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
"""

def _pca_oracle_sql() -> str:
    """DuckDB replica of q_embedding_pca's full recurrence: e6
    quantization -> exact integer gram + sums -> covariance (CAST AS
    DOUBLE divisions) -> PCA_ROUNDS unrolled orthogonal-iteration
    rounds -> sign pin -> left-fold projection.  Every accumulation is
    list_reduce over a list(expr ORDER BY idx) — a left fold in index
    order, bit-matching _pca_iterate's `acc +=` loops (IEEE doubles,
    identical op sequence).  One nested-WITH CTE per round; every
    multiply-referenced relation is MATERIALIZED (tiny: |cov| = d^2 =
    4096 rows, |v_r| = 2d rows)."""
    rounds = []
    prev = "v0"
    for r in range(1, PCA_ROUNDS + 1):
        rounds.append(f"""
    v{r} AS MATERIALIZED (
        WITH w AS MATERIALIZED (
            SELECT p.k AS k, C.i AS i,
                   list_reduce(list(C.c * p.v ORDER BY C.j),
                               (a, b) -> a + b) AS w
            FROM cov C JOIN {prev} p ON p.i = C.j
            GROUP BY p.k, C.i),
        u1 AS MATERIALIZED (
            SELECT i, w / (SELECT SQRT(list_reduce(list(w * w ORDER BY i),
                                                   (a, b) -> a + b))
                           FROM w WHERE k = 1) AS v
            FROM w WHERE k = 1),
        w2o AS MATERIALIZED (
            SELECT w.i, w.w - (SELECT list_reduce(list(w.w * u1.v
                                                       ORDER BY w.i),
                                                  (a, b) -> a + b)
                               FROM w JOIN u1 USING (i) WHERE w.k = 2)
                              * u1.v AS w
            FROM w JOIN u1 USING (i) WHERE w.k = 2)
        SELECT 1 AS k, i, v FROM u1
        UNION ALL
        SELECT 2 AS k, i,
               w / (SELECT SQRT(list_reduce(list(w * w ORDER BY i),
                                            (a, b) -> a + b))
                    FROM w2o) AS v
        FROM w2o)""")
        prev = f"v{r}"
    return f"""
    WITH comp AS MATERIALIZED (
        SELECT vec_id,
               unnest(generate_series(0, len(embedding) - 1)) AS i,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0
                          + 0.5) AS BIGINT) AS q
        FROM embeddings),
    nrow AS MATERIALIZED (SELECT COUNT(DISTINCT vec_id) AS n FROM comp),
    gram AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, SUM(a.q * b.q)::BIGINT AS gram_e12
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2),
    gfull AS MATERIALIZED (
        SELECT i, j, gram_e12 FROM gram
        UNION ALL
        SELECT j AS i, i AS j, gram_e12 FROM gram WHERE i < j),
    mu AS MATERIALIZED (
        SELECT i, CAST(SUM(q) AS DOUBLE)
                  / (SELECT CAST(n AS DOUBLE) FROM nrow) AS mu
        FROM comp GROUP BY i),
    cov AS MATERIALIZED (
        SELECT g.i, g.j,
               CAST(g.gram_e12 AS DOUBLE)
               / (SELECT CAST(n AS DOUBLE) FROM nrow)
               - mi.mu * mj.mu AS c
        FROM gfull g JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j),
    v0 AS MATERIALIZED (
        SELECT 1 AS k, i, CAST(1 + (i * 37) % 19 AS DOUBLE) AS v
        FROM generate_series(0, {DIM - 1}) t(i)
        UNION ALL
        SELECT 2 AS k, i, CAST(1 + (i * 53 + 7) % 23 AS DOUBLE) AS v
        FROM generate_series(0, {DIM - 1}) t(i)),
    {",".join(rounds)},
    sgn AS MATERIALIZED (
        SELECT k, CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
        FROM (SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k
                  ORDER BY ABS(v) DESC, i ASC) AS rn FROM {prev})
        WHERE rn = 1),
    comps AS MATERIALIZED (
        SELECT p.k, p.i, p.v * sgn.s AS c FROM {prev} p JOIN sgn USING (k)),
    proj AS (
        SELECT comp.vec_id, c.k,
               CAST(FLOOR(list_reduce(
                   list((comp.q - mu.mu) * c.c ORDER BY comp.i),
                   (a, b) -> a + b)) AS BIGINT) AS pc
        FROM comp JOIN mu USING (i) JOIN comps c USING (i)
        GROUP BY comp.vec_id, c.k)
    SELECT vec_id,
           MAX(CASE WHEN k = 1 THEN pc END) AS pc1_e6,
           MAX(CASE WHEN k = 2 THEN pc END) AS pc2_e6
    FROM proj GROUP BY vec_id
    """


ORACLE["embedding_pca_project"] = _pca_oracle_sql()

ORACLE["embedding_outlier_scores"] = f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS HUGEINT))
                   AS qv
        FROM embeddings),
    n AS (SELECT COUNT(*)::HUGEINT AS n FROM q),
    comp AS (
        SELECT vec_id, i, qv[i] AS qd
        FROM q, generate_series(1, {DIM}) g(i)),
    s AS (SELECT i, SUM(qd)::HUGEINT AS s FROM comp GROUP BY 1)
    SELECT c.vec_id,
           CAST(SUM((n.n * c.qd - s.s) * (n.n * c.qd - s.s)) AS DOUBLE)
               AS dist2_scaled
    FROM comp c JOIN s USING (i) CROSS JOIN n
    GROUP BY 1
"""

ORACLE["knn_label_vote_accuracy"] = f"""
    WITH nn AS ({ORACLE["knn_bruteforce_cosine"]}),
    votes AS (
        SELECT nn.q_id, e.label AS nl, COUNT(*)::BIGINT AS votes
        FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
        GROUP BY 1, 2),
    pred AS (
        SELECT q_id, nl AS pred_label, votes
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                           ORDER BY votes DESC, nl) AS rk
              FROM votes)
        WHERE rk = 1)
    SELECT p.q_id, p.pred_label, p.votes, e.label AS true_label,
           CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END AS correct
    FROM pred p JOIN embeddings e ON e.vec_id = p.q_id
"""

ORACLE["ann_recall_report"] = f"""
    WITH brute AS ({ORACLE["knn_bruteforce_cosine"]}),
    ann AS ({ORACLE["ann_lsh_cosine"]})
    SELECT b.q_id, COUNT(*)::BIGINT AS k,
           SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               ::BIGINT AS hits,
           CAST(FLOOR(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                               THEN 1 ELSE 0 END)::DOUBLE * 1e6
                      / COUNT(*)::DOUBLE) AS BIGINT) AS recall_ppm
    FROM brute b LEFT JOIN ann a
      ON a.q_id = b.q_id AND a.neighbor_id = b.neighbor_id
    GROUP BY 1
"""

ORACLE["embedding_drift_report"] = """
    WITH q AS (
        SELECT vec_id % 2 AS snap, i - 1 AS dim,
               CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5)
                    AS BIGINT) AS qd
        FROM embeddings, generate_series(1, 64) g(i)),
    agg AS (
        SELECT dim,
               SUM(CASE WHEN snap = 0 THEN qd END)::BIGINT AS sa,
               SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
               SUM(CASE WHEN snap = 1 THEN qd END)::BIGINT AS sb,
               SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END)::BIGINT AS nb
        FROM q GROUP BY 1)
    SELECT dim, na AS n_old, nb AS n_new,
           CAST(FLOOR(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6 * 1e9)
                AS BIGINT) AS mean_old_e9,
           CAST(FLOOR(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6 * 1e9)
                AS BIGINT) AS mean_new_e9,
           CAST(FLOOR((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e6
                       - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e6)
                      * 1e9) AS BIGINT) AS drift_e9
    FROM agg
"""


def _pq_oracle() -> str:
    """Unrolled DuckDB twin of q_ann_pq_adc: subvector slices ->
    seeded codebooks -> PQ_ITER Lloyd rounds (all subspaces at once) ->
    codes -> query distance table -> fixed-order ADC -> top-k.  Same
    fold shape, decimal double-hop, and (d2, cid)/(adc, vec_id) total
    orders as the engine."""
    d2 = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(list_zip(s.sub, c.cvec), "
          "p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)")
    ms = ", ".join(str(m) for m in range(PQ_M))
    ctes = [f"""
        sub AS (
            SELECT vec_id, t.m AS m,
                   list_transform(
                       embedding[t.m * {PQ_DSUB} + 1 : (t.m + 1) * {PQ_DSUB}],
                       v -> CAST(v AS DOUBLE)) AS sub
            FROM embeddings, unnest([{ms}]) AS t(m)),
        cent0 AS (
            SELECT m, vec_id AS cid, sub AS cvec FROM sub
            WHERE vec_id IN (SELECT vec_id FROM embeddings
                             ORDER BY vec_id LIMIT {PQ_K}))"""]
    for i in range(1, PQ_ITER + 1):
        ctes.append(f"""
        assign{i} AS (
            SELECT vec_id, m, cid FROM (
                SELECT s.vec_id, s.m, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                          ORDER BY {d2}, c.cid) AS rk
                FROM sub s JOIN cent{i - 1} c USING (m))
            WHERE rk = 1),
        sums{i} AS (
            SELECT a.m, a.cid, t.i AS dim,
                   SUM(CAST(s.sub[t.i + 1] AS DECIMAL(20,7))) AS sm,
                   COUNT(*) AS n
            FROM assign{i} a JOIN sub s USING (vec_id, m),
                 unnest(range({PQ_DSUB})) AS t(i)
            GROUP BY 1, 2, 3),
        cent{i} AS (
            SELECT m, cid,
                   list(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
                        ORDER BY dim) AS cvec
            FROM sums{i} GROUP BY m, cid)""")
    pcols = ", ".join(
        f"SUM(CASE WHEN m = {m} THEN pd2 END) AS p{m}"
        for m in range(PQ_M))
    adc = "p0"
    for m in range(1, PQ_M):                 # fixed left-to-right order
        adc = f"({adc} + p{m})"
    full_d2 = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
               "list_transform(list_zip(qv.qvec, ev.evec), "
               "p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)")
    ctes.append(f"""
        codes AS (
            SELECT vec_id, m, cid FROM (
                SELECT s.vec_id, s.m, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                          ORDER BY {d2}, c.cid) AS rk
                FROM sub s JOIN cent{PQ_ITER} c USING (m))
            WHERE rk = 1),
        dist AS (
            SELECT s.vec_id AS q_id, s.m AS m, c.cid, {d2} AS pd2
            FROM sub s JOIN cent{PQ_ITER} c USING (m)
            WHERE s.vec_id % 100 = 0),
        per AS (
            SELECT d.q_id, k.vec_id, {pcols}
            FROM codes k JOIN dist d USING (m, cid)
            WHERE k.vec_id <> d.q_id
            GROUP BY 1, 2),
        shortlist AS (
            SELECT q_id, vec_id FROM per
            QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY {adc}, vec_id) <= {PQ_SHORTLIST}),
        rer AS (
            SELECT sl.q_id, sl.vec_id, {full_d2} AS d2
            FROM shortlist sl
            JOIN (SELECT vec_id AS q_id,
                         list_transform(embedding, v -> CAST(v AS DOUBLE))
                             AS qvec
                  FROM embeddings) qv USING (q_id)
            JOIN (SELECT vec_id,
                         list_transform(embedding, v -> CAST(v AS DOUBLE))
                             AS evec
                  FROM embeddings) ev USING (vec_id))""")
    return ("WITH" + ",".join(ctes) + f"""
        SELECT q_id, vec_id AS neighbor_id,
               CAST(ROW_NUMBER() OVER w AS INT) AS rk,
               CAST(FLOOR(d2 * 1e6) AS BIGINT) AS d2_e6
        FROM rer
        WINDOW w AS (PARTITION BY q_id ORDER BY d2, vec_id)
        QUALIFY ROW_NUMBER() OVER w <= {PQ_TOP}""")


ORACLE["ann_pq_adc"] = _pq_oracle()


def q_eval_retrieval_recall_mrr(spark, sf_dir):
    """Retrieval EVAL #2 — recall@k and MRR of the IVF-backed hybrid
    against the exact hybrid as ground truth (the production question
    for an ANN rollout: how much of the exact stack's top-{k} does
    the scale path keep, and how early does the first agreed-relevant
    document appear?).  Completes the eval family next to NDCG
    (ranking quality vs labels) and ann_recall_report (dense arm
    only): this row grades the FUSED end-to-end ranking.

    Integer arithmetic throughout: recall_permille = hits*1000 DIV
    |truth|, mrr_e6 = 1e6 DIV (first hit's system rank), 0 when no
    overlap — so the row is engine-exact and fully value-oracled
    (both parents' oracles splice in as derived-table CTEs).

    Scale: both parents are probe/posting-bounded (no |Q| x |corpus|
    relation — the exact hybrid's dense arm stays KNN_MAX_QUERIES-
    gated as ground truth generation, the audited cost of evaluating
    an ANN rollout); this row adds one |Q| x {k} join.

    Output: (q_doc, n_truth, n_hits, recall_permille, mrr_e6).
    """.format(k=HYB_TOPK)
    truth = (q_hybrid_retrieval_rrf(spark, sf_dir)
             .select("q_doc", F.col("doc_id").alias("t_doc")))
    sys = (q_hybrid_retrieval_rrf_ivf(spark, sf_dir)
           .select("q_doc", F.col("doc_id").alias("s_doc"),
                   F.col("rk").alias("s_rk")))
    nt = truth.groupBy("q_doc").agg(F.count(F.lit(1)).alias("n_truth"))
    hits = (sys.join(truth,
                     (sys["q_doc"] == truth["q_doc"])
                     & (sys["s_doc"] == truth["t_doc"]))
               .select(sys["q_doc"].alias("q"), "s_rk"))
    per_q = (hits.groupBy("q")
                 .agg(F.count(F.lit(1)).alias("n_hits"),
                      F.min("s_rk").alias("first_rk")))
    return (nt.join(per_q, nt["q_doc"] == per_q["q"], "left")
              .selectExpr(
                  "q_doc", "n_truth",
                  "COALESCE(n_hits, 0) AS n_hits",
                  "(COALESCE(n_hits, 0) * 1000) DIV n_truth"
                  " AS recall_permille",
                  "CASE WHEN first_rk IS NULL THEN 0"
                  " ELSE 1000000 DIV first_rk END AS mrr_e6"))


QUERIES["eval_retrieval_recall_mrr"] = q_eval_retrieval_recall_mrr

ORACLE["eval_retrieval_recall_mrr"] = f"""
    WITH truth AS MATERIALIZED (
        SELECT q_doc, doc_id AS t_doc FROM ({_hybrid_rrf_oracle()})),
    sys AS MATERIALIZED (
        SELECT q_doc, doc_id AS s_doc, rk AS s_rk
        FROM ({_hybrid_rrf_oracle("ivf")})),
    nt AS (SELECT q_doc, COUNT(*)::BIGINT AS n_truth
           FROM truth GROUP BY 1),
    per_q AS (
        SELECT s.q_doc, COUNT(*)::BIGINT AS n_hits,
               MIN(s.s_rk) AS first_rk
        FROM sys s JOIN truth t
          ON t.q_doc = s.q_doc AND t.t_doc = s.s_doc
        GROUP BY 1)
    SELECT nt.q_doc, nt.n_truth,
           COALESCE(p.n_hits, 0)::BIGINT AS n_hits,
           (COALESCE(p.n_hits, 0) * 1000 // nt.n_truth)::BIGINT
               AS recall_permille,
           CASE WHEN p.first_rk IS NULL THEN 0
                ELSE 1000000 // p.first_rk END::BIGINT AS mrr_e6
    FROM nt LEFT JOIN per_q p USING (q_doc)
"""
