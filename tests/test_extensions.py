"""Quality pins for the approximate / non-SQL operators: the rows-only
queries are held to ground truth computed by their exact counterparts."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from go_mapreduce_crawler_spark.operators import dedup, scale, similarity, multimodal
from go_mapreduce_crawler_spark.sources import sinks
from go_mapreduce_crawler_spark.sources.tables import load_table


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_lsh_vs_exact_jaccard(spark, sf_medium):
    """LSH candidates are verified with true Jaccard, so precision is 1.0
    by construction; recall vs the exhaustive shingle-Jaccard pairs must
    clear 0.9 at tau=0.5 with (b=8, r=4)."""
    got = _pairs(dedup.q_dedup_minhash_lsh(spark, sf_medium))
    sh = dedup._shingles(dedup._docs(spark, sf_medium))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    truth = _pairs(
        a.join(b, F.col("doc_a") < F.col("doc_b"))
         .withColumn("j", inter / (F.size("sa") + F.size("sb") - inter))
         .filter(F.col("j") >= dedup.JACCARD_T))
    assert got <= truth or not truth, "LSH must not invent pairs"
    if truth:
        recall = len(got & truth) / len(truth)
        assert recall >= 0.9, f"recall {recall} over {len(truth)} pairs"


def test_simhash_pairs_are_near_duplicates(spark, sf_medium):
    """Every Hamming<=3 simhash pair must share most of its shingle set
    (sanity: simhash approximates feature-set similarity)."""
    pairs = dedup.q_dedup_simhash(spark, sf_medium)
    sh = dedup._shingles(dedup._docs(spark, sf_medium))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("wa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("wb"))
    joined = (pairs.join(a, "doc_a").join(b, "doc_b")
              .withColumn("j", F.size(F.array_intersect("wa", "wb"))
                          / F.size(F.array_union("wa", "wb"))))
    rows = joined.collect()
    bad = [(r.doc_a, r.doc_b, r.j) for r in rows if r.j < 0.3]
    assert not bad, bad


def test_ann_lsh_recall_vs_bruteforce(spark, sf_medium):
    """ANN top-10 must recover >= 60% of the exact top-10 per query
    (16 hyperplanes / 4 bands on 64-dim data)."""
    exact = similarity.q_knn_bruteforce(spark, sf_medium).collect()
    approx = similarity.q_ann_lsh(spark, sf_medium).collect()
    from collections import defaultdict
    ex, ap = defaultdict(set), defaultdict(set)
    for r in exact:
        ex[r.q_id].add(r.neighbor_id)
    for r in approx:
        ap[r.q_id].add(r.neighbor_id)
    recalls = [len(ex[q] & ap[q]) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_multimodal_feature_shape(spark, sf_medium):
    m = multimodal.synth_media(spark, sf_medium)
    assert [f.name for f in m.schema.fields] == ["media_id", "payload", "meta"]
    feats = multimodal.extract_features(m)
    rows = feats.take(5)
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.features)


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal._decode_image_stub(b"xx")


def test_multimodal_frame_sampling_counts(spark, sf_medium):
    m = multimodal.synth_media(spark, sf_medium)
    out = multimodal.sample_frames(m, every=10)
    one = out.filter(F.col("media_id") == 0).collect()
    n_frames = m.filter(F.col("media_id") == 0).select("meta.n_frames").collect()[0][0]
    assert len(one) == (n_frames - 1) // 10 + 1


def test_ann_ivf_recall_vs_bruteforce(spark, sf_medium):
    """IVF with 4-of-16 probe cells must recover >= 50% of the exact
    top-10 per query on average."""
    exact = similarity.q_knn_bruteforce(spark, sf_medium).collect()
    approx = similarity.q_ann_ivf(spark, sf_medium).collect()
    from collections import defaultdict
    ex, ap = defaultdict(set), defaultdict(set)
    for r in exact:
        ex[r.q_id].add(r.neighbor_id)
    for r in approx:
        ap[r.q_id].add(r.neighbor_id)
    recalls = [len(ex[q] & ap[q]) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_ann_int8_recall_vs_bruteforce(spark, sf_medium):
    """int8 first-stage scoring with a 40-candidate cut must recover
    >= 90% of the exact top-10 per query on average — scalar
    quantization distorts scores far less than LSH/IVF bucketing, so
    its bar is much higher."""
    exact = similarity.q_knn_bruteforce(spark, sf_medium).collect()
    approx = similarity.q_ann_int8(spark, sf_medium).collect()
    from collections import defaultdict
    ex, ap = defaultdict(set), defaultdict(set)
    for r in exact:
        ex[r.q_id].add(r.neighbor_id)
    for r in approx:
        ap[r.q_id].add(r.neighbor_id)
    recalls = [len(ex[q] & ap[q]) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_knn_pandas_matches_jvm_exactly(spark, sf_medium):
    """The vectorized path is candidate discovery only — survivors
    re-score with the same exact fold the JVM path uses — so the two
    operators must be row-IDENTICAL (ranks, rounded scores and all);
    they share one DuckDB oracle on that basis."""
    jvm = {tuple(r) for r in similarity.q_knn_bruteforce(spark, sf_medium).collect()}
    py = {tuple(r) for r in similarity.q_knn_pandas(spark, sf_medium).collect()}
    assert jvm == py


def test_approx_distinct_error_envelope(spark, sf_medium):
    """HLL++ at rsd=0.01 must land within 5% of the exact distinct counts
    (the rows-only query's accuracy contract)."""
    approx = {r.event_type: r for r in scale.q_approx_distinct(spark, sf_medium).collect()}
    exact = {r.event_type: r for r in
             (load_table(spark, sf_medium, "events")
              .groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("u"),
                   F.countDistinct("event_id").alias("e")).collect())}
    assert set(approx) == set(exact)
    for t, ex in exact.items():
        assert abs(approx[t].approx_users - ex.u) <= max(1, 0.05 * ex.u)
        assert abs(approx[t].approx_events - ex.e) <= max(1, 0.05 * ex.e)


def test_sinks_roundtrip(spark, sf_small, tmp_path):
    df = load_table(spark, sf_small, "orders")
    p = str(tmp_path / "orders_out")
    sinks.write_parquet(df, p, partition_by=["o_orderpriority"], n_files=4)
    back = spark.read.parquet(p)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)
    import os
    assert any(d.startswith("o_orderpriority=") for d in os.listdir(p))


def test_sinks_csv_json(spark, sf_small, tmp_path):
    df = load_table(spark, sf_small, "region")
    sinks.write_csv(df, str(tmp_path / "r_csv"))
    sinks.write_json(df, str(tmp_path / "r_json"))
    assert spark.read.option("header", "true").csv(str(tmp_path / "r_csv")).count() == 5
    assert spark.read.json(str(tmp_path / "r_json")).count() == 5


def test_sinks_orc_roundtrip_with_pushdown(spark, sf_small, tmp_path):
    """ORC must roundtrip values AND serve predicate pushdown on re-read
    (the property that makes it a first-class interchange format)."""
    df = load_table(spark, sf_small, "orders")
    p = str(tmp_path / "orders_orc")
    sinks.write_orc(df, p)
    back = spark.read.orc(p)
    assert back.count() == df.count()
    got = sorted(map(tuple, back.filter("o_orderpriority = '1-URGENT'")
                     .select("o_orderkey").collect()))
    exp = sorted(map(tuple, df.filter("o_orderpriority = '1-URGENT'")
                     .select("o_orderkey").collect()))
    assert got == exp and len(got) > 0
    plan = back.filter("o_orderpriority = '1-URGENT'")         ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderpriority" in plan


def test_approx_quantiles_rank_envelope(spark, sf_medium):
    """GK quantiles at accuracy=10000: each estimate's true rank must be
    within 1% of the target rank (much looser than the sketch bound, but
    engine-independent)."""
    approx = {r.event_type: r for r in
              scale.q_approx_quantiles(spark, sf_medium).collect()}
    vals = (load_table(spark, sf_medium, "events")
            .select("event_type", "value").toPandas())
    for t, row in approx.items():
        g = sorted(vals[vals.event_type == t].value)
        n = len(g)
        assert row.n_rows == n
        assert row.v_min == g[0] and row.v_max == g[-1]
        import bisect
        for p, est in [(0.25, row.p25), (0.5, row.p50),
                       (0.75, row.p75), (0.99, row.p99)]:
            lo = bisect.bisect_left(g, est)
            hi = bisect.bisect_right(g, est)
            target = p * n
            assert lo - 0.01 * n <= target <= hi + 0.01 * n, (t, p, est)


def test_deterministic_split_is_partitioning_invariant(spark, sf_small):
    """Each document's fold must equal the md5-bucket rule recomputed
    independently in Python — the assignment is a pure function of
    doc_id, not of partitioning/seed/engine (the reproducibility
    contract randomSplit does NOT give).  Fold sizes must track the
    13/13/230 bucket design within binomial noise."""
    import hashlib
    from go_mapreduce_crawler_spark.operators import sampling
    base = {r.doc_id: r.split
            for r in sampling.q_sample_split(spark, sf_small).collect()}

    def expected(doc_id: int) -> str:
        b = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return "test" if b < "0d" else ("val" if b < "1a" else "train")

    assert base == {d: expected(d) for d in base}
    n = len(base)
    from collections import Counter
    c = Counter(base.values())
    assert abs(c["test"] - 13 / 256 * n) <= 4 * (n * 13 / 256) ** 0.5 + 1
    assert abs(c["val"] - 13 / 256 * n) <= 4 * (n * 13 / 256) ** 0.5 + 1
    assert c["train"] == n - c["test"] - c["val"]


def test_lsh_components_refine_exact_components(spark, sf_medium):
    """LSH pairs are verified with true Jaccard, so they are a subset of
    the exact pair set; therefore every LSH cluster must sit entirely
    inside one exact cluster (membership refinement), and cluster ids
    (min member) must be consistent where clusters coincide."""
    from go_mapreduce_crawler_spark.operators.dedup import (
        q_dedup_jaccard_pairs, q_dedup_minhash_lsh, _min_label_components)

    exact_pairs = q_dedup_jaccard_pairs(spark, sf_medium).select("doc_a", "doc_b")
    lsh_pairs = q_dedup_minhash_lsh(spark, sf_medium).select("doc_a", "doc_b")
    ep = {(r.doc_a, r.doc_b) for r in exact_pairs.collect()}
    lp = {(r.doc_a, r.doc_b) for r in lsh_pairs.collect()}
    assert lp <= ep and len(lp) > 0

    def memberships(pairs_df):
        # recompute components driver-side from the engine's labels:
        # node -> cluster via union-find over the pair set
        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return parent, find, union

    # engine clusters for LSH pairs
    eng = _min_label_components(lsh_pairs).collect()
    # ground truth via union-find on the same pairs
    parent, find, union = memberships(lsh_pairs)
    for a, b in lp:
        union(a, b)
    from collections import Counter
    sizes = Counter(find(x) for x in parent)
    truth = {(cid, n) for cid, n in sizes.items() if n >= 2}
    assert {(r.cluster_id, r.n_members) for r in eng} == truth

    # refinement: each LSH cluster's members all share one exact cluster
    parent_e, find_e, union_e = memberships(exact_pairs)
    for a, b in ep:
        union_e(a, b)
    # group LSH nodes by their LSH root, check single exact root each
    by_root = {}
    for x in list(parent):
        by_root.setdefault(find(x), set()).add(x)
    for root, members in by_root.items():
        exact_roots = {find_e(m) for m in members}
        assert len(exact_roots) == 1, (root, members, exact_roots)


def test_pagerank_is_a_probability_distribution(spark, sf_small):
    """PageRank on the undirected strong co-purchase graph (no dangling
    nodes by construction) conserves total mass: ranks are positive and
    sum to 1 within fp tolerance, over exactly the strong-graph nodes."""
    from go_mapreduce_crawler_spark.operators import graph
    pr = graph.q_pagerank_copurchase(spark, sf_small)
    rows = pr.collect()
    n_nodes = graph.q_triangle_count(spark, sf_small).collect()[0]["n_nodes"]
    assert len(rows) == n_nodes
    total = sum(r["rank_e9"] for r in rows) / 1e9
    assert abs(total - 1.0) < 1e-6
    assert all(r["rank_e9"] > 0 for r in rows)


def test_mv_refresh_equals_from_scratch(spark, sf_small):
    """The merged (base + delta) grouped state must be bit-identical to
    a from-scratch aggregate over the full table — the monoid contract
    the reference requires of Accumulator/Combiner (crawler.go:31)."""
    from go_mapreduce_crawler_spark.operators import maintenance
    merged = {r["o_custkey"]: (r["n_orders"], r["sum_total"], r["last_day"])
              for r in maintenance.q_mv_incremental_refresh(
                  spark, sf_small).collect()}
    o = load_table(spark, sf_small, "orders")
    scratch = {r["o_custkey"]: (r["n"], r["s"], r["m"]) for r in
               o.groupBy("o_custkey").agg(
                   F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("double").alias("s"),
                   F.max(F.date_format("o_orderdate", "yyyy-MM-dd"))
                    .alias("m")).collect()}
    assert merged == scratch


def test_kmeans_assignment_is_total_and_improves(spark, sf_small):
    """Every vector gets exactly one cluster; the final-assignment
    objective is no worse than the seed-assignment objective (Lloyd
    iterations never increase the k-means cost)."""
    from go_mapreduce_crawler_spark.operators import ml
    final = ml.q_kmeans_embeddings(spark, sf_small).collect()
    n_vecs = load_table(spark, sf_small, "embeddings").count()
    assert len(final) == n_vecs
    assert len({r["vec_id"] for r in final}) == n_vecs
    assert len({r["cid"] for r in final}) <= 4
    seed = ml.q_kmeans_embeddings(spark, sf_small, n_iter=0).collect()
    assert (sum(r["d2_e6"] for r in final)
            <= sum(r["d2_e6"] for r in seed))


def test_dedup_embedding_refuses_oversized_corpus(spark, sf_small, monkeypatch):
    """The exact all-pairs dedup ships the corpus in the kernel closure;
    above EMBED_DEDUP_MAX_ROWS it must refuse (pointing at the LSH path)
    instead of OOMing executors at scale."""
    from go_mapreduce_crawler_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "EMBED_DEDUP_MAX_ROWS", 1)
    with pytest.raises(ValueError, match="lsh"):
        dd.q_dedup_embedding(spark, sf_small)


def test_bigstar_equals_minlabel_components(spark, sf_medium):
    """Star contraction (Kiveris et al. SoCC'14) must produce exactly the
    min-label components — same cluster ids, same sizes — on the 92k-pair
    sf0.01 graph."""
    a = sorted(map(tuple, dedup.q_dedup_components(spark, sf_medium).collect()))
    b = sorted(map(tuple,
                   dedup.q_dedup_components_bigstar(spark, sf_medium).collect()))
    assert a == b


def test_similarity_gates_oversized_query_set(spark, sf_small, monkeypatch):
    """Every similarity entry point ships its query set whole (broadcast
    or kernel closure); above KNN_MAX_QUERIES each must refuse instead of
    silently broadcasting a corpus-sized query set at scale."""
    from go_mapreduce_crawler_spark.operators import retrieval_index
    from go_mapreduce_crawler_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "KNN_MAX_QUERIES", 1)
    # a previously-probed corpus path must not bypass the (tightened) gate
    retrieval_index.clear()
    for fn in (sim.q_knn_bruteforce, sim.q_ann_lsh, sim.q_ann_ivf,
               sim.q_knn_pandas):
        with pytest.raises(ValueError, match="query set exceeds"):
            fn(spark, sf_small)


def test_min_label_raises_on_high_diameter_instead_of_silent_wrong(spark):
    """A chain longer than the 20-round cap cannot reach the min-label
    fixpoint; returning the mid-propagation labels would be silently
    wrong clusters, so the operator must raise and point at the
    star-contraction path — which must solve the same graph."""
    from go_mapreduce_crawler_spark.operators import dedup as dd

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="star"):
        dd._min_label_components(chain).collect()
    stars = {(r.cluster_id, r.n_members)
             for r in dd._star_components(chain).collect()}
    assert stars == {(0, 26)}


def test_multimodal_decode_fallback_and_pixel_features():
    """Without a codec (this container) or for non-decodable payloads,
    decode returns None and features route to the digest fake; the
    pixel-feature function itself is pinned so the real path is covered
    even where Pillow is absent."""
    import importlib.util

    from go_mapreduce_crawler_spark.operators import multimodal as mm

    p = b"not an image"
    assert mm._try_decode_image(p) is None or importlib.util.find_spec("PIL")
    assert mm._features(p) == mm._fake_features(p)
    assert mm._try_resize_image(p) is None
    with pytest.raises(NotImplementedError):
        mm._decode_image_stub(p)
    rgb = bytes([10, 20, 30, 40, 50, 60])          # two RGB pixels
    assert mm._pixel_features(rgb, 2, 1) == [
        2 / 4096, 1 / 4096, 25 / 255, 35 / 255, 45 / 255,
        10 / 255, 60 / 255, 50 / 255]


def test_multimodal_real_decode_when_pillow_present():
    """The real codec path: round-trip a tiny PNG. Skipped where Pillow
    is not installed; with it, decode/resize/features all take the
    pixel path."""
    import importlib.util

    if not importlib.util.find_spec("PIL"):
        pytest.skip("Pillow not installed in this environment")
    import io

    from PIL import Image

    from go_mapreduce_crawler_spark.operators import multimodal as mm

    buf = io.BytesIO()
    Image.new("RGB", (3, 2), (7, 8, 9)).save(buf, format="PNG")
    png = buf.getvalue()
    rgb, w, h = mm._try_decode_image(png)
    assert (w, h) == (3, 2) and rgb == bytes([7, 8, 9]) * 6
    assert mm._features(png) == mm._pixel_features(rgb, 3, 2)
    small, rw, rh = mm._try_resize_image(png)
    assert (rw, rh) == (3, 2) and small[:8] == b"\x89PNG\r\n\x1a\n"


def test_semantic_dedup_refines_exact_cosine_dedup(spark, sf_small):
    """Semantic dedup only searches WITHIN a cluster, so its dropped set
    must be a subset of the exact all-pairs dropped set (vectors with a
    lower-id cosine>=T neighbor anywhere), and each dropped vector's
    max_cos can never exceed its exact global maximum — equality holds
    exactly when the best neighbor shares the cluster."""
    from go_mapreduce_crawler_spark.operators.dedup import (
        q_dedup_embedding, q_dedup_semantic)

    exact = q_dedup_embedding(spark, sf_small).collect()
    exact_best: dict[int, float] = {}
    for r in exact:  # id_a < id_b: id_b is the droppable side
        exact_best[r.id_b] = max(exact_best.get(r.id_b, -1.0), r.cos)
    sem = q_dedup_semantic(spark, sf_small).collect()
    assert sem, "threshold admits pairs at this SF; empty means a bug"
    for r in sem:
        assert r.vec_id in exact_best, r
        assert r.max_cos <= exact_best[r.vec_id] + 1e-12, r


def test_contamination_bloom_is_superset_of_exact(spark, sf_small):
    """The bloom path has one-sided error: every document must report at
    least the exact operator's shared-gram count (no false negatives),
    and at m=2^20/k=4 with this corpus's eval gram count the false-
    positive budget is effectively zero — pin <= 1% inflation."""
    from go_mapreduce_crawler_spark.operators.text import (
        q_text_contamination, q_text_contamination_bloom)

    exact = {r.doc_id: r.n_shared
             for r in q_text_contamination(spark, sf_small).collect()}
    bloom = {r.doc_id: r.n_shared_bloom
             for r in q_text_contamination_bloom(spark, sf_small).collect()}
    assert set(exact) <= set(bloom)
    for d, n in exact.items():
        assert bloom[d] >= n, (d, bloom[d], n)
    inflation = sum(bloom.values()) - sum(exact.values())
    assert inflation <= 0.01 * max(sum(exact.values()), 1), inflation


def test_cms_heavy_hitters_superset_and_one_sided(spark, sf_small):
    """Count-Min estimates are upper bounds (collisions only inflate):
    every word's estimate must be >= its exact count, and every exact
    heavy hitter must appear in the CMS output (no false negatives at
    the same threshold)."""
    from go_mapreduce_crawler_spark.operators.scale import q_heavy_hitters_cms
    from go_mapreduce_crawler_spark.operators.text import q_heavy_hitters

    exact = {r.word: r.cnt for r in q_heavy_hitters(spark, sf_small).collect()}
    cms = {r.word: r.est_cnt
           for r in q_heavy_hitters_cms(spark, sf_small).collect()}
    assert set(exact) <= set(cms), set(exact) - set(cms)
    for w, n in exact.items():
        assert cms[w] >= n, (w, cms[w], n)


def test_compaction_reduces_file_count_losslessly(spark, sf_small):
    """sink_compact_small_files: the compacted directory must hold
    far fewer data files than the small-files stage while the oracle
    (run by test_oracle) proves the rows survive bit-for-bit; here we
    pin the operational contract — the file count actually shrinks."""
    import glob
    import os

    from go_mapreduce_crawler_spark.operators.maintenance import (
        COMPACT_TARGET_FILES, _session_tmp, q_sink_compact)

    q_sink_compact(spark, sf_small).count()
    # Resolve the scratch dir the same way the operator does — the
    # path carries the Spark applicationId since the r08 session-
    # scoping fix, so reconstructing it by hand goes stale.
    base = _session_tmp(spark, "compact", sf_small)
    n_small = len(glob.glob(os.path.join(base, "small", "part-*")))
    n_comp = len(glob.glob(os.path.join(base, "compacted", "part-*")))
    assert n_comp <= COMPACT_TARGET_FILES < n_small, (n_small, n_comp)


def test_funnel_chain_matches_sorted_fold_reference(spark, sf_small):
    """Independent cross-check of the r04 chained-min funnel: replay
    the old sorted-fold semantics (stage k = first event of its type
    strictly after stage k-1) in plain driver-side Python over the
    same events and compare stage counts exactly."""
    from go_mapreduce_crawler_spark.operators import behavior

    got = {r["stage"]: r["users"]
           for r in behavior.q_funnel_conversion(spark, sf_small).collect()}

    rows = (load_table(spark, sf_small, "events")
            .filter(F.col("event_type").isin(*behavior.FUNNEL_STAGES))
            .select("user_id", "ts", "event_id", "event_type").collect())
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["event_type"]))
    counts = dict.fromkeys(behavior.FUNNEL_STAGES, 0)
    for evs in by_user.values():
        evs.sort()
        reached = [None] * len(behavior.FUNNEL_STAGES)
        for ts, _eid, typ in evs:
            if reached[0] is None:
                if typ == behavior.FUNNEL_STAGES[0]:
                    reached[0] = ts
                continue
            for k in range(1, len(behavior.FUNNEL_STAGES)):
                if (reached[k] is None and reached[k - 1] is not None
                        and typ == behavior.FUNNEL_STAGES[k]
                        and ts > reached[k - 1]):
                    reached[k] = ts
        for k, stage in enumerate(behavior.FUNNEL_STAGES):
            if reached[k] is not None:
                counts[stage] += 1
    assert got == counts, (got, counts)


def test_simhash_bands_equal_bruteforce_hamming3(spark, sf_medium):
    """Pigeonhole completeness AND the Hamming>3 negative: the banded
    pair set must EQUAL the brute-force set of pairs with Hamming <= 3
    — no pair at radius > 3 sneaks in through a shared band, and no
    radius <= 3 pair is missed (any such pair must agree exactly on
    one of the 4 15-bit bands)."""
    fps = sorted(
        (r["doc_id"], r["fp"])
        for r in dedup._shingles(dedup._docs(spark, sf_medium))
        .select("doc_id", F.expr(dedup.SIMHASH_FP_EXPR).alias("fp"))
        .collect())
    brute = set()
    for i, (da, fa) in enumerate(fps):
        for db, fb in fps[i + 1:]:
            if bin(fa ^ fb).count("1") <= 3:
                brute.add((da, db))
    got = _pairs(dedup.q_dedup_simhash(spark, sf_medium))
    assert got == brute, (len(got), len(brute),
                          list(got - brute)[:5], list(brute - got)[:5])


def test_cancel_mid_oracle_query_under_aqe(spark, sf_medium):
    """Reference cancellation semantics (crawler.go:245-251: ctx cancel
    interrupts mid-fold) wired into a real oracle query under AQE: a
    watcher thread cancels the job group as soon as the scheduler shows
    an active job for it, and the interrupted action must raise."""
    import threading
    import time

    from go_mapreduce_crawler_spark.cancel import cancel, job_group

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    gid = "oracle-cancel-aqe"
    tracker = spark.sparkContext.statusTracker()
    stop = threading.Event()

    def watcher():
        for _ in range(600):  # up to 30 s
            if stop.is_set():
                return
            if tracker.getJobIdsForGroup(gid):
                cancel(spark, gid)  # keep firing: multi-job query
            time.sleep(0.05)

    t = threading.Thread(target=watcher, daemon=True)
    t.start()
    try:
        with pytest.raises(Exception) as err, job_group(spark, gid):
            dedup.q_dedup_minhash_lsh(spark, "/root/testdata/sf0.1").collect()
        assert "cancel" in str(err.value).lower(), str(err.value)[:500]
    finally:
        stop.set()
        t.join()


def test_hard_negatives_labels_differ_and_ranks_contiguous(spark, sf_small):
    from go_mapreduce_crawler_spark.operators import similarity
    rows = similarity.q_hard_negatives(spark, sf_small).collect()
    assert rows
    assert all(r.neg_label != r.q_label for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r.rk)
    for q, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), (q, rks)


def test_dsir_weights_rank_target_language_higher(spark, sf_small):
    """Direction sanity: under a target = the English slice, English
    documents must average a higher importance weight than the rest
    (that is the entire point of the estimator)."""
    from go_mapreduce_crawler_spark.operators import curation
    d = load_table(spark, sf_small, "documents").select("doc_id", "lang")
    j = (curation.q_dsir_weights(spark, sf_small)
         .join(d, "doc_id").collect())
    en = [r.mean_logw_e6 for r in j if r.lang == "en"]
    rest = [r.mean_logw_e6 for r in j if r.lang != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_remove_boilerplate_matches_python_reference(spark, sf_small):
    """Exact cross-check of segmentation, recurrence counting, removal
    and in-order reassembly against a driver-local reference."""
    from go_mapreduce_crawler_spark.operators import text as t
    docs = {r.doc_id: r.text
            for r in load_table(spark, sf_small, "documents")
            .select("doc_id", "text").collect()}
    segs = {}          # doc_id -> [seg, ...]
    seg_docs = {}      # seg -> set(doc_id)
    for did, txt in docs.items():
        w = txt.split(" ")
        ss = [" ".join(w[i:i + t.SEG_WORDS])
              for i in range(0, len(w), t.SEG_WORDS)]
        segs[did] = ss
        for s in ss:
            seg_docs.setdefault(s, set()).add(did)
    boiler = {s for s, ds in seg_docs.items() if len(ds) >= 2}
    expect = {}
    for did, ss in segs.items():
        kept = [s for s in ss if s not in boiler]
        if kept:
            expect[did] = (len(ss), len(kept), " ".join(kept))
    got = {r.doc_id: (r.n_segs, r.n_kept, r.clean_text)
           for r in t.q_remove_boilerplate(spark, sf_small).collect()}
    assert got == expect, (len(got), len(expect))


def test_random_projection_matches_sequential_fold(spark, sf_small):
    """Each projected coordinate equals a driver-local left-to-right
    IEEE fold against the same seeded planes (+/- 1 micro-unit for the
    round-half tie rule)."""
    from go_mapreduce_crawler_spark.operators import similarity as s
    planes = s._rp_planes()
    rows = (s.q_embedding_random_projection(spark, sf_small)
            .join(load_table(spark, sf_small, "embeddings")
                  .select("vec_id", "embedding"), "vec_id")
            .limit(50).collect())
    assert rows
    for r in rows:
        got = [int(x) for x in r.proj_e6.split(",")]
        for j, p in enumerate(planes):
            acc = 0.0
            for x, w in zip(r.embedding, p):
                acc += float(x) * w
            assert abs(got[j] - round(acc * 1e6)) <= 1, (r.vec_id, j)


def test_ewma_constant_series_and_first_row_identity(spark, sf_small):
    """EWMA invariants: the first observation of every user equals its
    own value (no taps yet), and every smoothed value lies within the
    running min/max of its 8-tap history."""
    from go_mapreduce_crawler_spark.operators import temporal
    rows = temporal.q_events_ewma(spark, sf_small).collect()
    assert rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.obs_us, r.event_id))
        # ewma leaves as floor(x * 1e6) micros (r05, the _corr_e6_expr
        # convention) — undo the quantization for the invariants
        assert abs(evs[0].ewma_e6 / 1e6 - evs[0].value) < 2e-6
        for i, r in enumerate(evs):
            window = [e.value for e in evs[max(0, i - 7):i + 1]]
            assert (min(window) - 2e-6 <= r.ewma_e6 / 1e6
                    <= max(window) + 2e-6)


def test_group_split_never_splits_a_source(spark, sf_small):
    from go_mapreduce_crawler_spark.operators import sampling
    df = sampling.q_sample_split_group(spark, sf_small)
    per_src = (df.groupBy("source")
                 .agg(F.countDistinct("split").alias("n")).collect())
    assert per_src and all(r.n == 1 for r in per_src)
    assert {r.split for r in df.select("split").distinct().collect()} \
        == {"train", "val", "test"}


def test_tfidf_pairs_rank_duplicate_docs_highest(spark, sf_small):
    """Documents that are exact text duplicates must appear as pairs at
    (or joint-)maximum cosine (1e6 fixed-point), and every cosine must
    lie in [0, 1e6]."""
    from go_mapreduce_crawler_spark.operators import text as t
    pairs = {(r.doc_a, r.doc_b): r.cos_e6
             for r in t.q_tfidf_doc_pairs(spark, sf_small).collect()}
    assert pairs
    assert all(0 <= c <= 1_000_000 for c in pairs.values())
    docs = (load_table(spark, sf_small, "documents")
            .select("doc_id", "text").collect())
    by_text = {}
    for r in docs:
        by_text.setdefault(r.text, []).append(r.doc_id)
    dup_pairs = [(min(a, b), max(a, b))
                 for ids in by_text.values() if len(ids) >= 2
                 for a in ids for b in ids if a < b]
    checked = 0
    for p in dup_pairs:
        if p in pairs:           # identical docs share all their terms
            assert pairs[p] >= 999_999, (p, pairs[p])
            checked += 1
    assert checked > 0 or not dup_pairs


def test_multimodal_dedup_groups_are_true_copies(spark, sf_small):
    """Every digest group: n_copies == |ids|, keeper is the min id, all
    ids carry identical payload bytes, and a synthetic duplicate pair
    injected via union IS grouped (the corpus itself is dup-free)."""
    from go_mapreduce_crawler_spark.operators import multimodal
    groups = multimodal.q_multimodal_dedup(spark, sf_small).collect()
    assert groups
    texts = {r.doc_id: r.text
             for r in load_table(spark, sf_small, "documents")
             .select("doc_id", "text").collect()}
    for g in groups:
        ids = [int(x) for x in g.ids.split(",")]
        assert len(ids) == g.n_copies >= 1
        assert g.keeper == min(ids)
        assert len({texts[i] for i in ids}) == 1
    # positive control: duplicate payloads under different ids group.
    m = multimodal.synth_media(spark, sf_small)
    twin = m.limit(5).withColumn(
        "media_id", F.col("media_id") + 10_000_000)
    dup = (m.limit(5).union(twin)
           .select(F.sha2("payload", 256).alias("dg"),
                   F.col("meta.kind").alias("kind"), "media_id")
           .groupBy("dg", "kind")
           .agg(F.count(F.lit(1)).alias("n")).collect())
    assert dup and all(r.n == 2 for r in dup)


def test_zorder_box_query_locality(spark, sf_medium):
    """The property that justifies z-ordering: a BOX filter on both
    dims touches far fewer z-ordered files than single-dim-sorted
    files.  Box dx < 1024, dy < 16384 constrains every x file-bit and
    the top two y file-bits of the interleaved key, so at most 4 of
    the 256 z-files can contain matches — while a dy-sorted layout
    (file = dy >> 8) spreads the same rows over ~64 value files."""
    from go_mapreduce_crawler_spark.operators import scale as sc
    rows = sc.q_zorder_layout(spark, sf_medium).collect()
    box = [r for r in rows if r.dx < 1024 and r.dy < 16384]
    assert len(box) > 50, len(box)
    z_files = {r.file_id for r in box}
    dy_files = {r.dy >> 8 for r in box}
    assert len(z_files) <= 4, sorted(z_files)
    assert len(z_files) < len(dy_files), (len(z_files), len(dy_files))
    # interleave correctness: z-key reconstructs both dims exactly
    for r in box[:100]:
        dx = sum(((r.zkey >> (2 * i)) & 1) << i for i in range(16))
        dy = sum(((r.zkey >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (dx, dy) == (r.dx, r.dy)


def test_quantile_normalize_is_monotone_and_bounded(spark, sf_small):
    from go_mapreduce_crawler_spark.operators import features
    rows = features.q_feat_quantile_normalize(spark, sf_small).collect()
    assert rows
    by_type = {}
    for r in rows:
        assert 0 <= r.pct_e6 <= 1_000_000
        by_type.setdefault(r.event_type, []).append((r.value, r.pct_e6))
    for vs in by_type.values():
        vs.sort()
        for (v1, p1), (v2, p2) in zip(vs, vs[1:]):
            assert p1 <= p2 or v1 == v2, (v1, p1, v2, p2)


def test_pmi_counts_are_consistent(spark, sf_small):
    from go_mapreduce_crawler_spark.operators import text as t
    rows = t.q_text_pmi_pairs(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r.word_a < r.word_b
        assert r.c_ab <= min(r.c_a, r.c_b)
        assert r.c_ab >= t.PMI_MIN_COOC


def test_rfm_scores_bounded_and_monotone_in_monetary(spark, sf_small):
    from go_mapreduce_crawler_spark.operators import behavior
    rows = behavior.q_rfm_segmentation(spark, sf_small).collect()
    assert rows
    for r in rows:
        for s in (r.r_score, r.f_score, r.m_score):
            assert 1 <= s <= 5
        assert r.rfm == r.r_score * 100 + r.f_score * 10 + r.m_score
    by_m = sorted(rows, key=lambda r: r.m_total)
    for a, b in zip(by_m, by_m[1:]):
        assert a.m_score <= b.m_score or a.m_total == b.m_total


def test_gram_matrix_partitioning_invariant_and_matches_numpy(spark, sf_small):
    """The partial-Gram mapInPandas aggregation must be exact integer
    arithmetic: identical results under any partitioning, and equal to
    a single-process numpy reference on the quantized matrix."""
    import numpy as np
    from go_mapreduce_crawler_spark.operators import similarity
    from go_mapreduce_crawler_spark.sources.tables import load_table

    base = {(r.i, r.j): r.gram_e12
            for r in similarity.q_embedding_gram(spark, sf_small).collect()}
    assert len(base) == similarity.DIM * (similarity.DIM + 1) // 2

    # numpy reference on the whole corpus in one piece
    pdf = load_table(spark, sf_small, "embeddings").toPandas()
    M = np.array(list(pdf["embedding"]), dtype=np.float64)
    Q = np.floor(M * 1e6 + 0.5).astype(np.int64)
    G = Q.T @ Q
    for (i, j), v in base.items():
        assert v == G[i, j], (i, j)

    # partitioning must not matter (exact integer partials): rebuild
    # the same quantize -> partial -> sum pipeline over a skewed
    # repartition and require identical cells
    import pandas as pd
    from pyspark.sql import functions as F
    iu, ju = np.triu_indices(similarity.DIM)

    def kernel(batches):
        G = np.zeros((similarity.DIM, similarity.DIM), dtype=np.int64)
        seen = False
        for b in batches:
            if not len(b):
                continue
            seen = True
            M2 = np.array(list(b["embedding"]), dtype=np.float64)
            Q2 = np.floor(M2 * 1e6 + 0.5).astype(np.int64)
            G += Q2.T @ Q2
        if seen:
            yield pd.DataFrame({"i": iu.astype(np.int32),
                                "j": ju.astype(np.int32),
                                "partial": G[iu, ju]})

    alt = {(r.i, r.j): r.gram_e12
           for r in load_table(spark, sf_small, "embeddings")
           .repartition(13).select("embedding")
           .mapInPandas(kernel, schema="i int, j int, partial long")
           .groupBy("i", "j").agg(F.sum("partial").alias("gram_e12"))
           .collect()}
    assert alt == base


def test_pca_projection_matches_numpy_reference(spark, sf_small):
    """The fixed-round orthogonal-iteration PCA (PCA_ROUNDS seeded
    rounds over the exact-integer covariance — the op's definition)
    must agree with an INDEPENDENT numpy reimplementation of the same
    recurrence within fold rounding (floor +/- 1: numpy's pairwise
    summation differs from the engine's left fold only in trailing
    bits), its components must be orthonormal, and the iterate must
    capture >= 99% of the variance of eigh's true top-2 subspace —
    the quality bar a fixed iteration budget buys on this corpus's
    near-isotropic spectrum (top eigengap ~2%)."""
    import numpy as np
    from go_mapreduce_crawler_spark.operators import similarity
    from go_mapreduce_crawler_spark.sources.tables import load_table

    rows = {r.vec_id: (r.pc1_e6, r.pc2_e6)
            for r in similarity.q_embedding_pca(spark, sf_small).collect()}
    pdf = load_table(spark, sf_small, "embeddings").toPandas()
    M = np.array(list(pdf["embedding"]), dtype=np.float64)
    Q = np.floor(M * 1e6 + 0.5)
    mu = Q.mean(axis=0)
    C = (Q.T @ Q) / len(Q) - np.outer(mu, mu)
    dim = C.shape[0]
    # independent numpy replica of the seeded fixed-round recurrence
    V = np.stack([
        np.array([similarity._pca_seed(1, i) for i in range(dim)],
                 dtype=np.float64),
        np.array([similarity._pca_seed(2, i) for i in range(dim)],
                 dtype=np.float64)], axis=1)
    for _ in range(similarity.PCA_ROUNDS):
        W = C @ V
        u1 = W[:, 0] / np.linalg.norm(W[:, 0])
        w2o = W[:, 1] - (W[:, 1] @ u1) * u1
        V = np.stack([u1, w2o / np.linalg.norm(w2o)], axis=1)
    for k in (0, 1):
        piv = int(np.argmax(np.abs(V[:, k])))
        if V[piv, k] < 0:
            V[:, k] = -V[:, k]
    # orthonormal components
    assert np.allclose(V.T @ V, np.eye(2), atol=1e-9)
    # variance capture vs the true (eigh) top-2 subspace
    evals = np.linalg.eigvalsh(C)
    cap = np.trace(V.T @ C @ V)
    assert cap >= 0.99 * (evals[-1] + evals[-2]), \
        (cap, evals[-1] + evals[-2])
    P = (Q - mu) @ V
    for idx, vid in enumerate(pdf["vec_id"]):
        got = rows[vid]
        want = np.floor(P[idx])
        for k in (0, 1):
            assert abs(got[k] - want[k]) <= 1, (vid, got, want)
    # empirical variance along pc1 >= pc2
    p = np.array([rows[v] for v in pdf["vec_id"]], dtype=np.float64)
    assert p[:, 0].var() >= p[:, 1].var()


def test_ks_and_gini_match_python_reference(spark, sf_small):
    """The two-level-prefix KS and Gini must equal a direct numpy
    computation from the raw parquet — a third construction independent
    of both the Spark two-level form and the oracle's global window."""
    import math

    import numpy as np
    import pandas as pd

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table

    ks = features.q_stats_ks_two_sample(spark, sf_small).collect()[0]
    ev = load_table(spark, sf_small, "events").toPandas()
    a = np.sort(ev.loc[ev.event_type == features._KS_A, "value"].values)
    b = np.sort(ev.loc[ev.event_type == features._KS_B, "value"].values)
    xs = np.unique(np.concatenate([a, b]))
    d = np.abs(np.searchsorted(a, xs, side="right") / len(a)
               - np.searchsorted(b, xs, side="right") / len(b)).max()
    assert ks.n1 == len(a) and ks.n2 == len(b)
    assert math.isclose(ks.ks_d, d, abs_tol=1e-6)

    g = features.q_gini_revenue(spark, sf_small).collect()[0]
    o = load_table(spark, sf_small, "orders").toPandas()
    x = np.sort(o.groupby("o_custkey")["o_totalprice"]
                 .sum().round(2).values)
    n = len(x)
    want = (2 * np.sum(np.arange(1, n + 1) * x) - (n + 1) * x.sum()) \
        / (n * x.sum())
    assert g.n_customers == n
    assert math.isclose(g.gini, want, abs_tol=1e-5)
    assert 0.0 <= g.gini < 1.0


def test_chi_square_cells_match_pandas_crosstab(spark, sf_small):
    """Chi-square cells vs a pandas crosstab + direct (o-e)^2/e."""
    import numpy as np
    import pandas as pd

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table

    got = {(r.event_type, r.dow): (r.n_obs, r.exp_e6, r.contrib_e6)
           for r in features.q_stats_chi_square(spark, sf_small).collect()}
    ev = load_table(spark, sf_small, "events").toPandas()
    day = (ev["ts"].dt.tz_localize(None)
           - pd.Timestamp("1970-01-01")).dt.days % 7
    ct = pd.crosstab(ev["event_type"], day)
    n = ct.values.sum()
    for t in ct.index:
        for d in ct.columns:
            o = int(ct.loc[t, d])
            if o == 0:
                continue
            e = ct.loc[t].sum() * ct[d].sum() / n
            want_contrib = (o - e) ** 2 / e
            go, ge, gc = got[(t, int(d))]
            assert go == o
            assert abs(ge / 1e6 - e) <= 2e-6 * max(e, 1)
            assert abs(gc / 1e6 - want_contrib) <= 1e-4


def test_streak_longest_matches_python_fold(spark, sf_small):
    """Gaps-and-islands streak vs a direct python scan over sorted
    distinct days per user."""
    import pandas as pd

    from go_mapreduce_crawler_spark.operators import temporal
    from go_mapreduce_crawler_spark.sources.tables import load_table

    got = {r.user_id: (r.longest_streak, r.n_active_days)
           for r in temporal.q_streak_longest(spark, sf_small).collect()}
    ev = load_table(spark, sf_small, "events").toPandas()
    days = (ev["ts"].dt.tz_localize(None)
            - pd.Timestamp("1970-01-01")).dt.days
    for uid, grp in pd.DataFrame({"u": ev["user_id"], "d": days}) \
            .groupby("u"):
        ds = sorted(set(grp["d"]))
        best = cur = 1
        for prev, nxt in zip(ds, ds[1:]):
            cur = cur + 1 if nxt == prev + 1 else 1
            best = max(best, cur)
        assert got[uid] == (best, len(ds)), uid


def test_welch_and_ols_match_numpy_reference(spark, sf_small):
    """Welch t/df and the Cramer-rule OLS vs scipy-free numpy linalg —
    independent of the formula strings both engines share."""
    import math

    import numpy as np

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events").toPandas()
    a = ev.loc[ev.event_type == features._KS_A, "value"].values.round(2)
    b = ev.loc[ev.event_type == features._KS_B, "value"].values.round(2)
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    se2 = v1 / len(a) + v2 / len(b)
    t_ref = (a.mean() - b.mean()) / math.sqrt(se2)
    df_ref = se2 ** 2 / ((v1 / len(a)) ** 2 / (len(a) - 1)
                         + (v2 / len(b)) ** 2 / (len(b) - 1))
    got = features.q_stats_ttest_welch(spark, sf_small).collect()[0]
    assert got.n1 == len(a) and got.n2 == len(b)
    assert abs(got.t_e6 / 1e6 - t_ref) < 1e-4
    assert abs(got.df_e3 / 1e3 - df_ref) < 1e-1

    li = load_table(spark, sf_small, "lineitem").toPandas()
    y = li["l_extendedprice"].values.round(2)
    X = np.column_stack([np.ones(len(li)),
                         li["l_quantity"].values.round(2),
                         li["l_discount"].values.round(2)])
    beta, _, _, _ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ beta
    r2_ref = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    g = features.q_regr_multiple_ols(spark, sf_small).collect()[0]
    assert g.n_rows == len(li)
    for got_e6, want in ((g.b0_e6, beta[0]), (g.b1_e6, beta[1]),
                         (g.b2_e6, beta[2])):
        assert abs(got_e6 / 1e6 - want) < max(1e-3, abs(want) * 1e-6), \
            (got_e6, want)
    assert abs(g.r2_e6 / 1e6 - r2_ref) < 1e-4


def test_intervals_union_matches_python_merge(spark, sf_small):
    """Merged-interval active time vs a direct python sweep."""
    from go_mapreduce_crawler_spark.operators import temporal
    from go_mapreduce_crawler_spark.sources.tables import load_table

    got = {r.user_id: (r.active_us, r.n_intervals)
           for r in temporal.q_intervals_union(spark, sf_small).collect()}
    ev = load_table(spark, sf_small, "events").toPandas()
    W_US = temporal.ACTIVE_WINDOW_US
    us = (ev["ts"].dt.tz_localize(None)
          - __import__("pandas").Timestamp("1970-01-01")) \
        // __import__("pandas").Timedelta(microseconds=1)
    for uid, grp in us.groupby(ev["user_id"]):
        ivs = sorted((s, s + W_US) for s in grp)
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        want = (sum(e - s for s, e in merged), len(merged))
        assert got[uid] == want, (uid, got[uid], want)


def test_kcore_matches_python_peel(spark, sf_small):
    """5-round k=3 peel vs a direct python implementation on the same
    thresholded edge list."""
    from collections import defaultdict

    from go_mapreduce_crawler_spark.operators import graph

    edges = {(r.pa, r.pb) for r in graph._pair_counts(
        graph._items(spark, sf_small)).select("pa", "pb").collect()}
    alive = {n for e in edges for n in e}
    for _ in range(graph.KCORE_ROUNDS):
        deg = defaultdict(int)
        for a, b in edges:
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        alive = {n for n in alive if deg[n] >= graph.KCORE_K}
    deg = defaultdict(int)
    for a, b in edges:
        if a in alive and b in alive:
            deg[a] += 1
            deg[b] += 1
    want = {n: d for n, d in deg.items() if n in alive}
    got = {r.node: r.core_degree
           for r in graph.q_kcore_peel(spark, sf_small).collect()}
    assert got == want


def test_weighted_median_matches_python(spark, sf_small):
    """Weighted lower median vs a direct python cumulative scan."""
    from decimal import Decimal

    from go_mapreduce_crawler_spark.operators import relational
    from go_mapreduce_crawler_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem").toPandas()
    got = {r.l_returnflag: r.weighted_median_price
           for r in relational.q_weighted_median(spark, sf_small).collect()}
    for flag, grp in li.groupby("l_returnflag"):
        rows = sorted(
            (Decimal(str(round(p, 2))), Decimal(str(round(w, 2))))
            for p, w in zip(grp["l_extendedprice"], grp["l_quantity"]))
        # collapse equal prices
        acc = {}
        for p, w in rows:
            acc[p] = acc.get(p, Decimal(0)) + w
        tot = sum(acc.values())
        cum = Decimal(0)
        for p in sorted(acc):
            cum += acc[p]
            if cum * 2 >= tot:
                want = p
                break
        assert Decimal(str(round(got[flag], 2))) == want, (flag, got[flag], want)


def test_hll_sketch_rollup_estimates_and_union_identity(spark, sf_small):
    """Sketch rollup: per-type estimates within 5% of exact distinct
    counts, and the union-of-sketches row equals a direct whole-corpus
    sketch estimate exactly (same algorithm, merge-invariant)."""
    from pyspark.sql import functions as F

    from go_mapreduce_crawler_spark.operators import scale
    from go_mapreduce_crawler_spark.sources.tables import load_table

    got = {r.event_type: (r.approx_users, r.n_rows)
           for r in scale.q_hll_sketch_rollup(spark, sf_small).collect()}
    e = load_table(spark, sf_small, "events")
    exact = {r.event_type: r.d for r in
             e.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("d")).collect()}
    exact["ALL"] = e.select("user_id").distinct().count()
    for k, want in exact.items():
        assert abs(got[k][0] - want) <= max(1, 0.05 * want), (k, got[k], want)
    direct = (e.agg(F.hll_sketch_estimate(
        F.hll_sketch_agg("user_id")).alias("d")).collect()[0].d)
    assert got["ALL"][0] == direct


def test_kaplan_meier_matches_python_product_limit(spark, sf_small):
    """KM log-survival vs a direct python product-limit computation
    from raw per-user durations — independent of the shared _ln_det
    formula string."""
    import math

    import pandas as pd

    from go_mapreduce_crawler_spark.operators import behavior
    from go_mapreduce_crawler_spark.sources.tables import load_table

    got = {r.duration_day: (r.n_risk, r.n_events, r.cum_log_s_e6)
           for r in behavior.q_survival_kaplan_meier(spark, sf_small)
           .collect()}
    ev = load_table(spark, sf_small, "events").toPandas()
    days = (ev["ts"].dt.tz_localize(None)
            - pd.Timestamp("1970-01-01")).dt.days
    durs = []
    for uid, grp in pd.DataFrame({"u": ev["user_id"], "d": days,
                                  "t": ev["event_type"]}).groupby("u"):
        t0 = grp["d"].min()
        err = grp.loc[grp["t"] == "error", "d"]
        if len(err):
            durs.append((err.min() - t0, 1))
        else:
            durs.append((grp["d"].max() - t0, 0))
    n_total = len(durs)
    s = 1.0
    alive = True
    for t in sorted({d for d, _ in durs}):
        n_risk = sum(1 for d, _ in durs if d >= t)
        d_ev = sum(1 for d, e in durs if d == t and e == 1)
        if alive and d_ev > 0:
            if n_risk == d_ev:
                alive = False
            else:
                s *= (n_risk - d_ev) / n_risk
        gr, gd, gc = got[t]
        assert gr == n_risk and gd == d_ev, (t, got[t], n_risk, d_ev)
        if not alive:
            assert gc is None, (t, gc)
        else:
            assert math.isclose(math.exp(gc / 1e6), s, rel_tol=1e-4), \
                (t, gc, s)


def test_cuped_and_did_match_numpy_reference(spark, sf_small):
    """CUPED theta/adjusted means and the DiD estimate vs direct numpy
    computations from raw per-user pre/post sums."""
    import numpy as np
    import pandas as pd

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events").toPandas()
    days = (ev["ts"].dt.tz_localize(None)
            - pd.Timestamp("1970-01-01")).dt.days
    d0 = days.min()
    pre = days < d0 + features.CUPED_PRE_DAYS
    v = ev["value"].round(2)
    per = pd.DataFrame({
        "u": ev["user_id"], "x": v.where(pre, 0.0),
        "y": v.where(~pre, 0.0)}).groupby("u").sum()
    per["arm"] = (per.index % 2).astype(int)
    x, y = per["x"].values, per["y"].values
    theta = np.cov(x, y, bias=True)[0, 1] / x.var()
    got = {r.arm: r for r in
           features.q_abtest_cuped(spark, sf_small).collect()}
    assert abs(got["A"].theta_e6 / 1e6 - theta) < 1e-3
    for arm, sel in (("A", per["arm"] == 0), ("B", per["arm"] == 1)):
        raw = y[sel.values].mean()
        adj = raw - theta * (x[sel.values].mean() - x.mean())
        assert abs(got[arm].mean_post_e6 / 1e6 - raw) < 1e-3
        assert abs(got[arm].mean_cuped_e6 / 1e6 - adj) < 1e-3
        assert got[arm].n_users == int(sel.sum())

    # DiD: event-level pre/post means per arm
    arm_ev = (ev["user_id"] % 2).astype(int)
    m = {}
    for a in (0, 1):
        for p in (0, 1):
            mask = (arm_ev == a) & (pre != bool(p))
            m[(a, p)] = v[mask].mean()
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    gd = {r.arm: r for r in
          features.q_abtest_diff_in_diff(spark, sf_small).collect()}
    assert abs(gd["A"].did_e6 / 1e6 - did) < 1e-3
    assert abs(gd["B"].mean_pre_e6 / 1e6 - m[(1, 0)]) < 1e-3


def test_cdc_insert_keys_do_not_collide_with_base(spark, sf_small):
    """CDC_INS_OFFSET must shift synthetic inserts past the whole
    o_orderkey domain (max 6M*sf) — a collision would silently turn an
    'insert under a fresh key' into an update (ADVICE r04)."""
    from pyspark.sql import functions as F

    from go_mapreduce_crawler_spark.operators import maintenance
    from go_mapreduce_crawler_spark.sources.tables import load_table

    o = load_table(spark, sf_small, "orders")
    max_key = o.agg(F.max("o_orderkey")).collect()[0][0]
    # Domain headroom: even sf10k's 60B keys stay under the offset.
    assert maintenance.CDC_INS_OFFSET > max_key * 1_000_000
    out = maintenance.q_cdc_merge_apply(spark, sf_small)
    inserted = out.filter(F.col("o_orderkey") >= maintenance.CDC_INS_OFFSET)
    n_expected = o.filter(F.col("o_orderkey") % 11 == 0).count()
    assert inserted.count() == n_expected
    assert inserted.filter(F.col("src") != "cdc").count() == 0


def test_sliding_distinct_7d_builds_without_running_a_job(spark, sf_small):
    """Building the DataFrame must not execute a Spark job (the max-day
    clip is a broadcast in-plan aggregate, not a driver collect) — the
    bench times execution only, and plan-only callers must stay free
    (ADVICE r04)."""
    from go_mapreduce_crawler_spark.operators import temporal

    tracker = spark.sparkContext.statusTracker()

    def jobs_to_build(builder):
        before = len(tracker.getJobIdsForGroup(None))
        builder(spark, sf_small).schema  # construction + analysis only
        return len(tracker.getJobIdsForGroup(None)) - before

    # Every builder pays one parquet-listing job inside load_table; a
    # builder that COLLECTS during construction pays extra executor
    # jobs.  Pin sliding-distinct to the known-lazy tumbling builder.
    lazy_jobs = jobs_to_build(temporal.q_window_tumbling)
    assert jobs_to_build(temporal.q_sliding_distinct_7d) == lazy_jobs
    assert temporal.q_sliding_distinct_7d(spark, sf_small).count() > 0


def test_compare_big_agrees_with_compare(spark, sf_small):
    """The vectorized big-result compare (tools/sf_sweep.py path) must
    agree with the driver-mirror compare: green on a matching query,
    red on a seeded value mismatch."""
    import __spark_entry__ as entrymod
    from tests.oracle_utils import compare, compare_big, duck_connection

    con = duck_connection(sf_small)
    q = entrymod.queries()
    sql = entrymod.oracle_sql()["dedup_jaccard_pairs"]
    df = q["dedup_jaccard_pairs"](spark, sf_small)
    assert compare(df, con, sql, "jp") == []
    assert compare_big(df, con, sql, "jp") == []
    # Seeded mismatch: perturb one oracle value.
    bad = f"SELECT doc_a, doc_b, jaccard + CASE WHEN doc_a = (SELECT MIN(doc_a) FROM ({sql})) THEN 1 ELSE 0 END AS jaccard FROM ({sql})"
    assert compare_big(df, con, bad, "jp") != []
    # Seeded count mismatch.
    assert compare_big(df, con, f"SELECT * FROM ({sql}) LIMIT 1", "jp") != []


def test_new_rank_stats_match_numpy_reference(spark, sf_small):
    """Mann-Whitney U/z, one-way ANOVA F, Brown-Forsythe F, Cohen's d /
    Hedges' g, and Spearman rho recomputed from raw rows with
    numpy/pure-Python (no shared code with the engine or the oracle)."""
    import math

    import numpy as np

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table

    ev = (load_table(spark, sf_small, "events")
          .select("event_type", "value").toPandas())
    a = np.round(ev[ev.event_type == "purchase"].value.to_numpy(), 2)
    b = np.round(ev[ev.event_type == "click"].value.to_numpy(), 2)

    # --- Mann-Whitney with midranks + tie correction
    allv = np.concatenate([a, b])
    order = np.argsort(allv, kind="mergesort")
    ranks = np.empty(len(allv))
    sv = allv[order]
    i = 0
    tt = 0.0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        t = j - i
        tt += t**3 - t
        i = j
    n1, n2 = len(a), len(b)
    r1 = ranks[:n1].sum()
    u1 = r1 - n1 * (n1 + 1) / 2.0
    nn = n1 + n2
    z = (u1 - n1 * n2 / 2.0) / math.sqrt(
        n1 * n2 / 12.0 * ((nn + 1) - tt / (nn * (nn - 1))))
    got = features.q_stats_mannwhitney(spark, sf_small).collect()[0]
    assert got.u1_x2 == int(round(2 * u1))
    assert abs(got.z_e6 / 1e6 - z) < 2e-6
    assert (got.n1, got.n2) == (n1, n2)

    # --- one-way ANOVA F across all event types
    groups = [np.round(g.value.to_numpy(), 2)
              for _, g in ev.groupby("event_type")]
    N = sum(len(g) for g in groups)
    k = len(groups)
    mean = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - mean) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f_ref = (ssb / (k - 1)) / (ssw / (N - k))
    got = features.q_stats_anova_oneway(spark, sf_small).collect()[0]
    assert abs(got.f_e2 / 100.0 - f_ref) < 0.02
    assert (got.k, got.n) == (k, N)

    # --- Brown-Forsythe = ANOVA on |v - lower_median(group)|
    def lower_median(x):
        return np.sort(x)[(len(x) + 1) // 2 - 1]

    cgroups = [np.abs(g - lower_median(g)) for g in groups]
    mean = np.concatenate(cgroups).mean()
    ssb = sum(len(g) * (g.mean() - mean) ** 2 for g in cgroups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in cgroups)
    f_ref = (ssb / (k - 1)) / (ssw / (N - k))
    got = features.q_stats_levene_robust(spark, sf_small).collect()[0]
    assert abs(got.f_e2 / 100.0 - f_ref) < 0.02

    # --- Cohen's d / Hedges' g
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    sp = math.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    d_ref = (a.mean() - b.mean()) / sp
    g_ref = d_ref * (1 - 3.0 / (4 * (n1 + n2) - 9))
    got = features.q_stats_cohens_d(spark, sf_small).collect()[0]
    assert abs(got.cohens_d_e6 / 1e6 - d_ref) < 2e-6
    assert abs(got.hedges_g_e6 / 1e6 - g_ref) < 2e-6

    # --- Spearman rho on lineitem qty/price via pandas midranks
    li = (load_table(spark, sf_small, "lineitem")
          .select("l_quantity", "l_extendedprice").toPandas())
    rho_ref = (li["l_quantity"].rank(method="average")
               .corr(li["l_extendedprice"].rank(method="average")))
    got = features.q_stats_spearman(spark, sf_small).collect()[0]
    assert abs(got.spearman_e6 / 1e6 - rho_ref) < 2e-6
    assert got.n == len(li)


def test_rank_stats_kernel_properties(spark, sf_small):
    """Algebraic identities of the new rank-stats kernels, independent
    of any oracle: U1 + U2 == n1*n2 (label-swap antisymmetry), ANOVA F
    invariant under group relabeling, Spearman == +1/-1 on strictly
    monotone synthetic data."""
    from pyspark.sql import functions as F

    from go_mapreduce_crawler_spark.operators import features

    # --- Mann-Whitney label-swap: swapping the two samples maps
    # U1 -> n1*n2 - U1 (doubled units: u1x2' = 2*n1*n2 - u1x2)
    got = features.q_stats_mannwhitney(spark, sf_small).collect()[0]
    old_a, old_b = features._KS_A, features._KS_B
    try:
        features._KS_A, features._KS_B = old_b, old_a
        swapped = features.q_stats_mannwhitney(spark, sf_small).collect()[0]
    finally:
        features._KS_A, features._KS_B = old_a, old_b
    assert got.u1_x2 + swapped.u1_x2 == 2 * got.n1 * got.n2
    assert (got.n1, got.n2) == (swapped.n2, swapped.n1)
    # z antisymmetry up to the 1e-6 floor quantum
    assert abs(got.z_e6 + swapped.z_e6) <= 1

    # --- ANOVA kernel: relabeling groups must not change F
    base = spark.createDataFrame(
        [(g, float(v)) for g in ("a", "b", "c")
         for v in range(1, 40, 3 if g == "b" else 2)],
        "grp string, v double").select(
            "grp", F.col("v").cast("decimal(12,2)").alias("v"))
    f1 = features._anova_f_from(base, "grp", F.col("v")).collect()[0]
    relabeled = base.withColumn(
        "grp", F.concat(F.lit("zz_"), F.col("grp")))
    f2 = features._anova_f_from(relabeled, "grp", F.col("v")).collect()[0]
    assert (f1.f_e2, f1.k, f1.n) == (f2.f_e2, f2.k, f2.n)

    # --- Spearman on strictly monotone pairs == +1 exactly
    import go_mapreduce_crawler_spark.sources.tables as tables
    mono = spark.range(1, 200).select(
        F.col("id").cast("decimal(12,2)").alias("x"),
        (F.col("id") * F.col("id")).cast("decimal(12,2)").alias("y"))
    # reuse the query's midrank machinery by monkey-loading the table
    orig = tables.load_table
    try:
        tables.load_table = lambda s, d, t: mono.select(
            F.col("x").alias("l_quantity"),
            F.col("y").alias("l_extendedprice"))
        features.load_table = tables.load_table
        r = features.q_stats_spearman(spark, "ignored").collect()[0]
    finally:
        tables.load_table = orig
        features.load_table = orig
    assert r.spearman_e6 in (999999, 1000000)  # floor(1e6 * 1.0) edge
    assert r.n == 199


def test_ann_pq_adc_recall_vs_exact_l2(spark, sf_medium):
    """PQ-ADC shortlist + exact re-rank must recover >= 55% of the
    exact L2 top-10 per query on average (measured 0.74 on this
    synthetic corpus — featureless embeddings are PQ's hard case, so
    the bar sits well under the clustered-corpus regime)."""
    from collections import defaultdict

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from go_mapreduce_crawler_spark.operators import similarity

    e = similarity._emb(spark, sf_medium)
    q = F.broadcast(
        e.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qv")))
    d2 = similarity._pq_d2(
        F.transform("qv", lambda x: x.cast("double")),
        F.transform("embedding", lambda x: x.cast("double")))
    scored = (q.join(e, F.col("vec_id") != F.col("q_id"))
               .withColumn("d2", d2))
    w = W.partitionBy("q_id").orderBy("d2", "vec_id")
    exact = (scored.withColumn("rk", F.row_number().over(w))
                   .filter("rk <= 10").select("q_id", "vec_id").collect())
    approx = similarity.q_ann_pq_adc(spark, sf_medium).collect()
    ex, ap = defaultdict(set), defaultdict(set)
    for r in exact:
        ex[r.q_id].add(r.vec_id)
    for r in approx:
        ap[r.q_id].add(r.neighbor_id)
    recalls = [len(ex[k] & ap[k]) / len(ex[k]) for k in ex]
    assert sum(recalls) / len(recalls) >= 0.55, recalls


def test_shortest_path_weighted_matches_python_bellman_ford(spark, sf_small):
    """graph_shortest_path_weighted == a pure-Python Bellman-Ford fold
    (4 rounds) over the same integer-cost adjacency — the distributed
    relax-and-min must be exactly the sequential one (integer costs, no
    fp concern), and costs must be reachable-monotone (source = 0)."""
    from go_mapreduce_crawler_spark.operators import graph
    adj_rows = (graph._pair_counts(graph._items(spark, sf_small))
                .collect())
    adj = {}
    for r in adj_rows:
        c = 1000000 // r["n_ab"]
        adj.setdefault(r["pa"], []).append((r["pb"], c))
        adj.setdefault(r["pb"], []).append((r["pa"], c))
    deg = {n: len(v) for n, v in adj.items()}
    src = min(n for n in adj if deg[n] == max(deg.values()))
    dist = {src: 0}
    for _ in range(4):
        nxt = dict(dist)
        for node, d0 in dist.items():
            for nb, c in adj[node]:
                if nb not in nxt or d0 + c < nxt[nb]:
                    nxt[nb] = d0 + c
        dist = nxt
    got = {r["node"]: r["min_cost"]
           for r in graph.q_shortest_path_weighted(spark, sf_small).collect()}
    assert got == dist
    assert got[src] == 0


def test_theil_sen_matches_python_median_of_slopes(spark, sf_small):
    """stats_theil_sen == the sequential median-of-pairwise-slopes over
    the same exact daily rollup, and the estimator is robust: replacing
    one day's total with 1e9x leaves the Python median within the
    slope range of the uncorrupted series (OLS would not survive)."""
    from decimal import Decimal

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_small, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    daily = (e.groupBy("event_type", day.alias("day"))
              .agg(F.sum(F.col("value").cast("decimal(12,2)")).alias("v"))
              .collect())
    series = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["v"]))

    def ts_slope(pts):
        slopes = sorted(
            (float(v2) - float(v1)) / float(d2 - d1)
            for i, (d1, v1) in enumerate(pts)
            for (d2, v2) in pts[i + 1:] if d2 != d1)
        n = len(slopes)
        lo, hi = (n + 1) // 2 - 1, (n + 2) // 2 - 1
        return (slopes[lo] + slopes[hi]) / 2

    import math
    expect = {t: math.floor(ts_slope(sorted(p)) * 1e6)
              for t, p in series.items()}
    got = {r["event_type"]: r["theil_sen_slope_e6"]
           for r in features.q_stats_theil_sen(spark, sf_small).collect()}
    assert got == expect

    t0, pts = next(iter(series.items()))
    pts = sorted(pts)
    clean = ts_slope(pts)
    lo_s = min((float(v2) - float(v1)) / (d2 - d1)
               for i, (d1, v1) in enumerate(pts)
               for (d2, v2) in pts[i + 1:])
    hi_s = max((float(v2) - float(v1)) / (d2 - d1)
               for i, (d1, v1) in enumerate(pts)
               for (d2, v2) in pts[i + 1:])
    corrupted = [(d, v * Decimal(10) ** 9 if i == len(pts) // 2 else v)
                 for i, (d, v) in enumerate(pts)]
    assert lo_s <= ts_slope(corrupted) <= hi_s or abs(
        ts_slope(corrupted) - clean) < 10 * (hi_s - lo_s)


def test_session_paths_partition_sessions(spark, sf_small):
    """Every 30-min session contributes exactly one path: n_sessions
    sums to the sessionize_events row count, and each path is 1-3
    '>'-joined event types from the alphabet."""
    from go_mapreduce_crawler_spark.operators import behavior, relational
    paths = behavior.q_session_paths(spark, sf_small).collect()
    n_sessions = relational.q_sessionize(spark, sf_small).count()
    assert sum(r["n_sessions"] for r in paths) == n_sessions
    types = {"click", "view", "signup", "error", "purchase"}
    for r in paths:
        segs = r["path"].split(">")
        assert 1 <= len(segs) <= 3 and set(segs) <= types, r["path"]


def test_decayed_engagement_matches_python_fold(spark, sf_small):
    """events_decayed_engagement == a sequential integer fold with the
    same shared weight table; decay only shrinks: score <= undecayed
    cents total for non-negative values."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from go_mapreduce_crawler_spark.operators import behavior
    from go_mapreduce_crawler_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = (load_table(spark, sf_small, "events")
            .select("user_id", F.to_date("ts").alias("d"), "value")
            .collect())
    wt = dict(behavior._DECAY_W)
    epoch = __import__("datetime").date(1970, 1, 1)
    max_day = max((r["d"] - epoch).days for r in rows)
    acc, cnt, raw = {}, {}, {}
    for r in rows:
        cents = int(Decimal(str(r["value"])).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP) * 100)
        age = max_day - (r["d"] - epoch).days
        u = r["user_id"]
        acc[u] = acc.get(u, 0) + cents * wt.get(age, 0)
        raw[u] = raw.get(u, 0) + cents
        cnt[u] = cnt.get(u, 0) + 1
    expect = {u: (cnt[u], math.floor(v / 1e12)) for u, v in acc.items()}
    got = {r["user_id"]: (r["n_events"], r["score_cents"])
           for r in behavior.q_decayed_engagement(spark, sf_small).collect()}
    assert got == expect
    for u, (_, score) in got.items():
        assert score <= raw[u]


def test_url_frontier_dedup_matches_python_canonicalizer(spark, sf_small):
    """crawl_url_frontier_dedup == a reference Python canonicalizer
    over the same synthetic messy URLs; http/https and :8080 variants
    must NOT collapse into the default-port http form."""
    import re

    from go_mapreduce_crawler_spark.operators import curation
    from go_mapreduce_crawler_spark.sources.tables import load_table

    docs = (load_table(spark, sf_small, "documents")
            .select("doc_id", "source").collect())

    def messy(doc_id, source):
        pg = str(int(doc_id // 100))
        v = (doc_id // 20) % 5
        if v == 0:
            return (f"HTTP://{source.upper()}.Example.COM:80/page/{pg}"
                    "?b=2&a=1")
        if v == 1:
            return (f"http://{source}.example.com/page/{pg}/"
                    "?a=1&b=2&utm_source=feed")
        if v == 2:
            return (f"http://{source}.example.com/page/{pg}"
                    f"?a=1&b=2#sec-{doc_id % 3}")
        if v == 3:
            return f"https://{source}.example.com/page/{pg}?a=1&b=2"
        return f"http://{source}.example.com:8080/page/{pg}?a=1&b=2"

    def canon(url):
        u = re.sub(r"#.*$", "", url)
        scheme, rest = u.split("://", 1)
        scheme = scheme.lower()
        m = re.match(r"^([^/?]+)", rest)
        hostport = m.group(1).lower()
        pathq = rest[m.end():]
        default = {"http": ":80", "https": ":443"}.get(scheme)
        host = (hostport[: -len(default)]
                if default and hostport.endswith(default) else hostport)
        path = re.sub(r"/+$", "", pathq.split("?")[0]) or "/"
        query = pathq.split("?", 1)[1] if "?" in pathq else ""
        params = sorted(p for p in query.split("&")
                        if p and not p.startswith("utm_"))
        return (f"{scheme}://{host}{path}"
                + ("?" + "&".join(params) if params else ""))

    expect = {}
    for r in docs:
        c = canon(messy(r["doc_id"], r["source"]))
        n, keep = expect.get(c, (0, None))
        expect[c] = (n + 1,
                     r["doc_id"] if keep is None else min(keep, r["doc_id"]))
    got = {r["canonical_url"]: (r["n_variants"], r["keep_doc_id"])
           for r in curation.q_url_frontier_dedup(spark, sf_small).collect()}
    assert got == expect
    schemes = {u.split("://")[0] for u in got}
    assert schemes == {"http", "https"}
    assert any(":8080" in u for u in got)
    assert not any(":80/" in u and ":8080" not in u for u in got)
    assert not any("utm_" in u or "#" in u for u in got)
    assert any(n >= 3 for n, _ in got.values())  # variants collapsed


def test_anomaly_seasonal_residual_matches_python(spark, sf_small):
    """anomaly_seasonal_residual == a sequential Python pass using the
    same cell-mean / decomposed-variance recipe, and flagged events are
    a subset of all events with |resid| strictly above 3 sigma."""
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = (load_table(spark, sf_small, "events")
            .select("event_id", "event_type", "value",
                    F.pmod(F.datediff(F.to_date("ts"),
                                      F.lit("1970-01-01")),
                           F.lit(7)).alias("dow"),
                    F.hour("ts").alias("hour"))
            .collect())
    cell = defaultdict(lambda: [0, Decimal(0), Decimal(0)])
    for r in rows:
        v = Decimal(str(r["value"])).quantize(Decimal("0.01"),
                                              rounding=ROUND_HALF_UP)
        c = cell[(r["event_type"], r["dow"], r["hour"])]
        c[0] += 1
        c[1] += v
        c[2] += v * v
    contrib, n_t = defaultdict(int), defaultdict(int)
    m_b = {}
    for k, (n, s, s2) in cell.items():
        m_b[k] = float(s) / n
        contrib[k[0]] += math.floor(
            (float(s2) - float(s) * float(s) / n) * 1e6)
        n_t[k[0]] += n
    var = {t: (contrib[t] / 1e6) / n_t[t] for t in contrib}
    expect = {}
    for r in rows:
        v = float(Decimal(str(r["value"])).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP))
        k = (r["event_type"], r["dow"], r["hour"])
        resid = v - m_b[k]
        if resid * resid > 9.0 * var[r["event_type"]]:
            expect[r["event_id"]] = math.floor(resid * 1e6)
    got = {r["event_id"]: r["resid_e6"]
           for r in features.q_anomaly_seasonal_residual(
               spark, sf_small).collect()}
    assert got == expect
    assert 0 < len(got) < len(rows)


def test_holt_forecast_equals_sequential_recurrence(spark, sf_small):
    """The closed-form lag-weight evaluation must agree with the
    SEQUENTIAL Holt recurrence (l_1=y_1, b_1=0) within the quantized
    weight-table error bound sum(|y_t|)*1e-6 + 1 floor step — the
    linearity argument made executable — and exactly equal the Python
    evaluation of the shared weight table."""
    import math
    from collections import defaultdict

    from go_mapreduce_crawler_spark.operators import temporal
    from go_mapreduce_crawler_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    daily = (load_table(spark, sf_small, "events")
             .groupBy("event_type",
                      F.datediff(F.to_date("ts"),
                                 F.lit("1970-01-01")).alias("day"))
             .agg((F.sum(F.col("value").cast("decimal(12,2)")) * 100)
                  .cast("long").alias("cents"))
             .collect())
    series = defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["day"], r["cents"]))
    got = {r["event_type"]: r["forecast_cents"]
           for r in temporal.q_events_holt_forecast(
               spark, sf_small).collect()}
    wtab = temporal._HOLT_W
    a, b = temporal.HOLT_ALPHA, temporal.HOLT_BETA
    for t, pts in series.items():
        ys = [c for _, c in sorted(pts)]
        n = len(ys)
        # exact shared-table evaluation
        s = sum(c * (wtab[n - rn][2] if rn == 1 else wtab[n - rn][1])
                for rn, c in enumerate(ys, 1))
        assert got[t] == math.floor(s / 1e6)
        # sequential recurrence within quantization bound
        l, tr = float(ys[0]), 0.0
        for y in ys[1:]:
            l_new = a * y + (1 - a) * (l + tr)
            tr = b * (l_new - l) + (1 - b) * tr
            l = l_new
        bound = sum(abs(y) for y in ys) * 1e-6 + 1
        assert abs(got[t] - (l + tr)) <= bound, (t, got[t], l + tr)


def test_ppr_conserves_mass_and_localizes_on_seeds(spark, sf_small):
    """Personalized PageRank with no dangling nodes conserves unit
    mass, and the walk stays local: the 3 seeds hold far more than 3
    uniform shares of the total rank."""
    from go_mapreduce_crawler_spark.operators import graph
    rows = graph.q_ppr_seeded(spark, sf_small).collect()
    total = sum(r["rank_e9"] for r in rows) / 1e9
    assert abs(total - 1.0) < 1e-5
    ranks = {r["node"]: r["rank_e9"] for r in rows}
    seeds = sorted(ranks)[:graph.PPR_N_SEEDS]
    seed_mass = sum(ranks[s] for s in seeds) / 1e9
    assert seed_mass > 5.0 * graph.PPR_N_SEEDS / len(ranks)
    assert all(v >= 0 for v in ranks.values())


def test_kruskal_wallis_matches_python_midranks(spark, sf_small):
    """stats_kruskal_wallis == a sequential Python evaluation with
    exact doubled-unit midranks, per-group floored R2^2/n, and the same
    fixed-order H expression."""
    import math
    from collections import Counter, defaultdict

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table

    rows = (load_table(spark, sf_small, "events")
            .select("event_type", "value").collect())
    cnt = Counter(r["value"] for r in rows)
    mid2, rprev = {}, 0
    for v in sorted(cnt):
        mid2[v] = 2 * rprev + cnt[v] + 1
        rprev += cnt[v]
    grp = defaultdict(lambda: [0, 0])
    for r in rows:
        g = grp[r["event_type"]]
        g[0] += 1
        g[1] += mid2[r["value"]]
    tsum = sum((r2 * r2) // n for n, r2 in grp.values())
    nn = float(len(rows))
    tt = float(sum(c ** 3 - c for c in cnt.values()))
    h = 3.0 * tsum / (nn * (nn + 1.0)) - 3.0 * (nn + 1.0)
    corr = 1.0 - tt / (nn ** 3 - nn)
    row = features.q_stats_kruskal_wallis(spark, sf_small).collect()[0]
    assert row["k"] == len(grp) and row["n"] == len(rows)
    assert row["h_e6"] == math.floor(h * 1e6)
    assert row["h_tie_e6"] == math.floor(h / corr * 1e6)


def test_kendall_tau_matches_python_pair_enumeration(spark, sf_small):
    """stats_kendall_tau == brute-force O(n^2) pair counting in Python
    (ground truth on the raw rows, not the grid), including tie terms
    and the tau-b normalization."""
    import math
    from collections import Counter

    from go_mapreduce_crawler_spark.operators import features
    from go_mapreduce_crawler_spark.sources.tables import load_table

    pts = [(r["l_quantity"], r["l_discount"])
           for r in load_table(spark, sf_small, "lineitem")
           .select("l_quantity", "l_discount").collect()]
    n = len(pts)
    cnt = Counter(pts)
    keys = sorted(cnt)
    c_pairs = d_pairs = 0
    for i, (xa, ya) in enumerate(keys):
        for xb, yb in keys[i + 1:]:
            if xa == xb:
                continue
            if (xa < xb) == (ya < yb) and ya != yb:
                c_pairs += cnt[(xa, ya)] * cnt[(xb, yb)]
            elif ya != yb:
                d_pairs += cnt[(xa, ya)] * cnt[(xb, yb)]
    xc, yc = Counter(x for x, _ in pts), Counter(y for _, y in pts)
    n0 = n * (n - 1) // 2
    n1 = sum(v * (v - 1) // 2 for v in xc.values())
    n2 = sum(v * (v - 1) // 2 for v in yc.values())
    tau = (c_pairs - d_pairs) / math.sqrt(
        (float(n0) - n1) * (float(n0) - n2))
    row = features.q_stats_kendall_tau(spark, sf_small).collect()[0]
    assert (row["n"], row["c_pairs"], row["d_pairs"]) == (n, c_pairs,
                                                          d_pairs)
    assert row["tau_b_e6"] == math.floor(tau * 1e6)


def test_robots_filter_longest_prefix_semantics(spark, sf_small):
    """crawl_robots_filter == a Python longest-prefix matcher, and the
    rule interplay holds: /page/1* is blocked except the /page/12*
    re-allow; src3's host rule only wins where no longer wildcard
    prefix matches."""
    from go_mapreduce_crawler_spark.operators import curation
    rows = curation.q_robots_filter(spark, sf_small).collect()
    frontier = curation.q_url_frontier_dedup(spark, sf_small).count()
    assert len(rows) == frontier           # default rule catches all

    def verdict(host, path):
        best = None
        for rid, rhost, prefix, allow in curation.ROBOTS_RULES:
            if rhost not in ("*", host) or not path.startswith(prefix):
                continue
            key = (len(prefix), rhost != "*", -rid)
            if best is None or key > best[0]:
                best = (key, rid, allow)
        return best[1], bool(best[2])

    import re
    for r in rows:
        m = re.match(r"^[a-z]+://([^/?]+)([^?]*)", r["canonical_url"])
        rid, allowed = verdict(m.group(1), m.group(2))
        assert (r["rule_id"], r["allowed"]) == (rid, allowed), \
            r["canonical_url"]
    blocked = {r["canonical_url"] for r in rows if not r["allowed"]}
    allowed = {r["canonical_url"] for r in rows if r["allowed"]}
    assert any("/page/1" in u for u in blocked)
    assert all("/page/12" not in u for u in blocked if "src3" not in u)
    assert any("src3" in u for u in blocked)
    assert len(blocked) > 0 and len(allowed) > 0


def test_crawl_schedule_consistent_with_stage_outputs(spark, sf_small):
    """crawl_schedule_e2e totals must reconcile with its two upstream
    stages, the first_url must be the smallest keep_doc_id allowed URL
    of its host, and est_seconds = n_allowed * the host's 1-3s delay."""
    from go_mapreduce_crawler_spark.operators import curation
    sched = {r["host"]: r for r in
             curation.q_crawl_schedule(spark, sf_small).collect()}
    verd = curation.q_robots_filter(spark, sf_small).collect()
    by_host = {}
    for r in verd:
        by_host.setdefault(r["host"], []).append(r)
    import hashlib
    for host, rows in by_host.items():
        allowed = sorted((r["keep_doc_id"], r["canonical_url"])
                         for r in rows if r["allowed"])
        blocked = [r for r in rows if not r["allowed"]]
        if not allowed:
            assert host not in sched
            continue
        s = sched[host]
        assert s["n_allowed"] == len(allowed)
        assert s["n_blocked"] == len(blocked)
        assert s["first_url"] == allowed[0][1]
        delay = int(hashlib.md5(host.encode()).hexdigest()[:8], 16) % 3 + 1
        assert s["est_seconds"] == len(allowed) * delay


def test_url_canonicalizer_is_idempotent(spark, sf_small):
    """canon(canon(u)) == canon(u) over the whole frontier — the
    property that lets an incremental crawl re-canonicalize its own
    output for free (and the definition of 'canonical')."""
    from go_mapreduce_crawler_spark.operators import curation
    from pyspark.sql import functions as F
    f = curation.q_url_frontier_dedup(spark, sf_small)
    twice = f.select(
        "canonical_url",
        curation.canonical_url_expr(F.col("canonical_url"))
        .alias("again"))
    bad = twice.filter(F.col("canonical_url") != F.col("again"))
    assert bad.count() == 0, bad.take(3)


def test_markov_removal_matches_python_absorption(spark, sf_small):
    """attribution_markov_removal == a sequential Python build of the
    journey chain + 8 quantized absorption iterations per scenario;
    removal effects lie in [0, 1] and base conversion is positive."""
    import math
    from collections import defaultdict

    from go_mapreduce_crawler_spark.operators import behavior
    from go_mapreduce_crawler_spark.sources.tables import load_table

    rows = (load_table(spark, sf_small, "events")
            .select("user_id", "ts", "event_id", "event_type")
            .collect())
    rows.sort(key=lambda r: (r["user_id"], r["ts"], r["event_id"]))
    trans = defaultdict(int)
    i = 0
    while i < len(rows):
        j = i
        sess = [rows[i]]
        while (j + 1 < len(rows)
               and rows[j + 1]["user_id"] == rows[j]["user_id"]
               and (rows[j + 1]["ts"] - rows[j]["ts"]).total_seconds()
               <= 1800):
            j += 1
            sess.append(rows[j])
        states = []
        for r in sess:
            if r["event_type"] == "purchase":
                states.append("CONV")
                break
            states.append(r["event_type"])
        prev = "START"
        for st in states:
            trans[(prev, st)] += 1
            prev = st
        if states[-1] != "CONV":
            trans[(states[-1], "NULL")] += 1
        i = j + 1

    tot = defaultdict(int)
    for (s, _), n in trans.items():
        tot[s] += n

    def absorb(removed):
        red = defaultdict(float)
        for (s, t), n in trans.items():
            if s == removed:
                continue
            t2 = "NULL" if t == removed else t
            red[(s, t2)] += n / tot[s]
        states = ({s for s, _ in red} | {t for _, t in red})
        v = {st: (1.0 if st == "CONV" else 0.0) for st in states}
        for _ in range(behavior.MARKOV_ABSORB_ITERS):
            nxt = defaultdict(int)
            for (s, t), p in red.items():
                nxt[s] += math.floor(p * v[t] * 1e15)
            for s in nxt:
                v[s] = nxt[s] / 1e15
        return v["START"]

    p_base = absorb("BASE")
    got = {r["channel"]: r for r in
           behavior.q_attribution_markov_removal(spark, sf_small)
           .collect()}
    assert set(got) == set(behavior.MARKOV_CHANNELS)
    assert p_base > 0
    for c in behavior.MARKOV_CHANNELS:
        p_c = absorb(c)
        r = got[c]
        assert r["p_base_e9"] == math.floor(p_base * 1e9)
        assert r["p_removed_e9"] == math.floor(p_c * 1e9)
        assert r["removal_effect_e6"] == math.floor(
            (1.0 - p_c / p_base) * 1e6)
        assert 0 <= r["removal_effect_e6"] <= 1_000_000


def test_k_anonymity_matches_python_and_partitions_corpus(spark,
                                                          sf_small):
    """privacy_k_anonymity == a Python audit over the same QI classes;
    class sizes partition the corpus and l <= k everywhere."""
    import math
    from collections import defaultdict

    from go_mapreduce_crawler_spark.operators import curation
    from go_mapreduce_crawler_spark.sources.tables import load_table

    docs = (load_table(spark, sf_small, "documents")
            .select("lang", "n_chars", "source").collect())
    cls = defaultdict(lambda: [0, set()])
    for r in docs:
        b = int(math.floor(math.log2(max(r["n_chars"], 1))))
        c = cls[(r["lang"], b)]
        c[0] += 1
        c[1].add(r["source"])
    got = {(r["lang"], r["len_bucket"]):
           (r["k"], r["l_diversity"], r["k_anonymous"], r["share_e6"])
           for r in curation.q_privacy_k_anonymity(spark,
                                                   sf_small).collect()}
    n = len(docs)
    expect = {key: (c[0], len(c[1]), c[0] >= curation.K_ANON,
                    math.floor(c[0] / n * 1e6))
              for key, c in cls.items()}
    assert got == expect
    assert sum(k for k, _, _, _ in got.values()) == n
    assert all(l <= k for k, l, _, _ in got.values())


def test_quantile_sketch_envelope_and_monoid(spark, sf_medium):
    """quantile_sketch_rollup: (a) each approximate percentile is the
    lower bound of the bin CONTAINING the exact ceil-rank order
    statistic — so approx <= exact < approx * (1 + 1/16) + 2 (the +2
    absorbs sub-integer bin widths in the lowest octaves); (b) the
    monoid contract: bin counts merged from the per-day partial
    sketches equal the direct whole-table sketch EXACTLY (the
    reference's Accumulate/Combine contract, crawler.go:31, 41-43)."""
    import math
    from collections import Counter
    from pyspark.sql import functions as F
    from go_mapreduce_crawler_spark.operators import scale as sc
    from go_mapreduce_crawler_spark.sources.tables import load_table

    rows = sc.q_quantile_sketch_rollup(spark, sf_medium).collect()
    assert rows, "empty sketch result"
    # exact percentiles per type from the raw cents
    raw = (load_table(spark, sf_medium, "events")
           .select("event_type",
                   (F.col("value").cast("decimal(12,2)") * 100)
                   .cast("long").alias("c")).collect())
    by_type: dict[str, list[int]] = {}
    for r in raw:
        by_type.setdefault(r["event_type"], []).append(r["c"])
    for v in by_type.values():
        v.sort()
    for r in rows:
        vals = by_type[r["event_type"]]
        assert r["n_rows"] == len(vals)
        exact = vals[math.ceil(len(vals) * r["pct"] / 100.0) - 1]
        approx = r["approx_cents"]
        assert approx <= exact, (r, exact)
        assert exact < approx * (1 + 1 / sc.QSK_SUB) + 2, (r, exact)

    # monoid: merge(daily partials) == direct sketch, bin-for-bin
    def bins(values):
        out = Counter()
        for c in values:
            if c <= 0:
                b = 0
            else:
                e = c.bit_length() - 1
                b = e * 16 + ((c - (1 << e)) * 16) // (1 << e) + 1
            out[b] += 1
        return out
    direct = bins([c for v in by_type.values() for c in v])
    merged = Counter()
    daily = (load_table(spark, sf_medium, "events")
             .selectExpr("CAST(unix_micros(ts) DIV 86400000000 AS INT)"
                         " AS day",
                         "CAST(CAST(value AS DECIMAL(12,2)) * 100"
                         " AS BIGINT) AS c").collect())
    per_day: dict[int, list[int]] = {}
    for r in daily:
        per_day.setdefault(r["day"], []).append(r["c"])
    for v in per_day.values():
        merged.update(bins(v))        # partial sketches, then merge
    assert merged == direct


def test_zipf_slope_matches_numpy_fit(spark, sf_medium):
    """text_zipf_slope: the integer-quantized OLS must agree with a
    float numpy fit on the same top-100 (rank, count) head to ~1e-3
    (quantization at e6 + per-term floor), and a natural-ish corpus
    must slope downward."""
    import numpy as np
    from collections import Counter
    from go_mapreduce_crawler_spark.operators import text as t
    from go_mapreduce_crawler_spark.sources.tables import load_table

    row = t.q_text_zipf_slope(spark, sf_medium).collect()[0]
    docs = load_table(spark, sf_medium, "documents").select("text").collect()
    cnt = Counter(w for r in docs for w in r.text.split(" "))
    head = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:t.ZIPF_TOP]
    x = np.log(np.arange(1, len(head) + 1))
    y = np.log(np.array([c for _, c in head], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    assert row.n_terms == len(head)
    assert abs(row.slope_e6 / 1e6 - slope) < 1e-3, (row.slope_e6, slope)
    assert abs(row.intercept_e6 / 1e6 - intercept) < 1e-3
    assert row.slope_e6 < 0


def test_heaps_curve_ground_truth(spark, sf_medium):
    """corpus_heaps_curve equals the direct Python computation, shard
    by shard, and the vocabulary curve is monotone + concave-ish
    (new-term counts trend down as the corpus accumulates)."""
    from go_mapreduce_crawler_spark.operators import text as t
    from go_mapreduce_crawler_spark.sources.tables import load_table

    docs = load_table(spark, sf_medium, "documents") \
        .select("doc_id", "text").collect()
    per, firsts = {}, {}
    for r in docs:
        sh = r.doc_id % t.HEAPS_SHARDS
        ws = r.text.split(" ")
        per[sh] = per.get(sh, 0) + len(ws)
        for w in ws:
            firsts[w] = min(firsts.get(w, sh), sh)
    new = {}
    for w, sh in firsts.items():
        new[sh] = new.get(sh, 0) + 1
    got = {r.shard: (r.n_tokens, r.n_new_terms, r.tokens_cum, r.vocab_cum)
           for r in t.q_corpus_heaps_curve(spark, sf_medium).collect()}
    tc = vc = 0
    for sh in sorted(per):
        tc += per[sh]
        vc += new.get(sh, 0)
        assert got[sh] == (per[sh], new.get(sh, 0), tc, vc)
    assert len(got) == len(per)
    # growth: later shards mint fewer new terms than the first shard
    assert new[0] == max(new.values())


def test_bloom_prefilter_is_superset_then_exact(spark, sf_medium):
    """The bloom stage may only pass a SUPERSET of the true matches
    (one-sided error), and the rechecked output must equal the plain
    semi-join — the bloom prunes, never decides."""
    from pyspark.sql import functions as F
    from go_mapreduce_crawler_spark.operators import scale as sc
    from go_mapreduce_crawler_spark.sources.tables import load_table

    o = (load_table(spark, sf_medium, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT"))
    li = load_table(spark, sf_medium, "lineitem")
    true_rows = li.join(o.select("o_orderkey"),
                        li.l_orderkey == F.col("o_orderkey"),
                        "left_semi").count()
    got = sc.q_join_bloom_prefilter(spark, sf_medium)
    assert got.agg(F.sum("n_rows")).collect()[0][0] == true_rows


def test_partition_skew_shares_are_complete(spark, sf_medium):
    """diag_partition_skew: every event lands in exactly one of the 32
    partitions (loads sum to the table count), shares sum to ~1e6, and
    the fair-share ratio centers at 1e6."""
    from pyspark.sql import functions as F
    from go_mapreduce_crawler_spark.operators import scale as sc
    from go_mapreduce_crawler_spark.sources.tables import load_table

    rows = sc.q_diag_partition_skew(spark, sf_medium).collect()
    total = load_table(spark, sf_medium, "events").count()
    assert sum(r.n_rows for r in rows) == total
    assert abs(sum(r.share_e6 for r in rows) - 1_000_000) <= len(rows)
    assert all(0 <= r.partition < sc.SKEW_P for r in rows)
    mean_ratio = sum(r.ratio_e6 for r in rows) / len(rows)
    assert abs(mean_ratio - 1_000_000) < 50_000


def test_auc_and_calibration_ground_truth(spark, sf_medium):
    """eval_auc_stopword equals the probability-of-correct-ranking AUC
    computed directly in Python (ties at half credit), and the
    calibration bins partition the corpus with exact empirical rates
    that trend UP in the score."""
    import math
    from go_mapreduce_crawler_spark.operators import text as t
    from go_mapreduce_crawler_spark.sources.tables import load_table

    docs = load_table(spark, sf_medium, "documents") \
        .select("text", "lang").collect()
    en = set(t.STOPWORDS["en"])
    pts = [(len(en & set(r.text.split(" "))), r.lang == "en")
           for r in docs]
    pos = [s for s, y in pts if y]
    neg = [s for s, y in pts if not y]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0
               for p in pos for n in neg)
    auc = wins / (len(pos) * len(neg))
    row = t.q_eval_auc_stopword(spark, sf_medium).collect()[0]
    assert (row.n_pos, row.n_neg) == (len(pos), len(neg))
    assert row.auc_ppm == math.floor(
        (2 * wins) * 1_000_000 // (2 * len(pos) * len(neg)))
    assert abs(row.auc_ppm / 1e6 - auc) < 1e-6
    # NOTE: on this synthetic word-soup corpus the stopword feature is
    # near-chance (~0.48) — the op measures separability, it doesn't
    # promise any; only the bounds are structural.
    assert 0 <= row.auc_ppm <= 1_000_000

    cal = {r.score_bin: (r.n_docs, r.n_en, r.rate_ppm)
           for r in t.q_eval_calibration_bins(spark, sf_medium).collect()}
    assert sum(n for n, _, _ in cal.values()) == len(docs)
    for s, (n, ne, rate) in cal.items():
        assert n == sum(1 for x, _ in pts if x == s)
        assert ne == sum(1 for x, y in pts if x == s and y)
        assert rate == math.floor(ne * 1e6 / n)
    assert all(0 <= r <= 1_000_000 for _, _, r in cal.values())


def test_skyline_pareto_ground_truth(spark, sf_medium):
    """skyline_pareto_docs equals the O(n^2) strict-dominance frontier
    computed directly in Python (the definition, not either engine
    formulation — this is the third independent construction; the
    DuckDB NOT EXISTS oracle already caught a tie-on-one-axis bug in
    the prefix-max form)."""
    from go_mapreduce_crawler_spark.operators import curation
    from go_mapreduce_crawler_spark.sources.tables import load_table

    docs = load_table(spark, sf_medium, "documents") \
        .select("doc_id", "text", "n_chars").collect()

    def w(tok):
        import hashlib
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) \
            % 2001 - 1000

    pts = [(r.doc_id, sum(w(t) for t in r.text.split(" ")), r.n_chars)
           for r in docs]
    expect = {(i, s, c) for i, s, c in pts
              if not any(s2 > s and c2 > c for _, s2, c2 in pts)}
    got = {(r.doc_id, r.score_milli, r.n_chars)
           for r in curation.q_skyline_pareto_docs(
               spark, sf_medium).collect()}
    assert got == expect and len(got) > 0
    # frontier property: sorted by score desc, lengths strictly decrease
    front = sorted(got, key=lambda t: (-t[1], t[2]))
    for (_, s1, c1), (_, s2, c2) in zip(front, front[1:]):
        assert s1 > s2 or c1 <= c2


def test_profile_keys_fds_ground_truth(spark, sf_medium):
    """profile_keys_fds agrees with direct Python set arithmetic on
    every declared check, and the fixture's structure shows through:
    the composite PK holds while the single-column 'keys' fail."""
    from go_mapreduce_crawler_spark.operators import features as ft
    from go_mapreduce_crawler_spark.sources.tables import load_table

    rows = {r.check: r for r in
            ft.q_profile_keys_fds(spark, sf_medium).collect()}
    li = load_table(spark, sf_medium, "lineitem") \
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                "l_returnflag", "l_shipdate").collect()
    for label, kind, lhs, rhs in ft._PROFILE_CHECKS:
        lhs_vals = {tuple(getattr(r, c) for c in lhs) for r in li}
        if kind == "key":
            ref = len(li)
        else:
            ref = len({tuple(getattr(r, c) for c in lhs)
                       + (getattr(r, rhs),) for r in li})
        got = rows[label]
        assert (got.n_distinct_lhs, got.n_reference, got.holds) == \
            (len(lhs_vals), ref, len(lhs_vals) == ref), label
    # fixture structure: the single-column "key" fails (orders have
    # many lines); whether a composite holds is SF-dependent (the
    # sf0.001 generator even collides the triple) — the cross-check
    # above is the contract, not any fixed verdict.
    assert not rows["key: l_orderkey"].holds


def test_phash_vectorized_kernel_byte_identical_to_reference(spark,
                                                             sf_medium):
    """The r07 vectorized phash kernel (one concatenated-buffer
    bincount + a (n, 60) boolean matrix-dot per Arrow batch) must
    produce bit-identical fingerprints to the straightforward
    per-payload loop it replaced."""
    import numpy as np

    m = multimodal.synth_media(spark, sf_medium)
    got = {r.media_id: r.fp
           for r in multimodal.media_phash(m).collect()}
    schedule = multimodal._phash_pairs()
    expect = {}
    for r in m.select("media_id", "payload").collect():
        counts = np.bincount(
            np.frombuffer(bytes(r.payload), dtype=np.uint8),
            minlength=256)
        fp = 0
        for j, (ca, cb) in enumerate(schedule):
            if counts[ca] > counts[cb]:
                fp |= 1 << j
        expect[r.media_id] = fp
    assert got == expect and len(got) > 0
