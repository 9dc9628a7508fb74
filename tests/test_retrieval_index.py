"""The retrieval index (operators/retrieval_index.py): the corpus side of
the kNN / ANN / BM25 / hybrid requests is built once per corpus version
and every request is served from it.  Pinned here: no build work on a
warm request (and the per-kind job counts that follow), survival of
``clearCache``, rebuild on an in-place rewrite, after lost blocks and
across a session restart, a single-flight first build under concurrent requests, the
BM25 relations' values, and the zero-vector cosine contract."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import threading
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from go_mapreduce_crawler_spark.operators import all_oracles, all_queries
from go_mapreduce_crawler_spark.operators import retrieval_index as ri
from tests.oracle_utils import compare

KINDS = ("knn_bruteforce_cosine", "ann_ivf_cosine", "ann_lsh_cosine",
         "text_bm25_retrieval", "hybrid_retrieval_rrf")
QUERIES = all_queries()
ORACLES = all_oracles()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _con(sf_dir):
    """DuckDB views over the two retrieval tables of ``sf_dir``."""
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def _match(spark, sf_dir, kind):
    with _con(sf_dir) as con:
        return compare(QUERIES[kind](spark, sf_dir), con, ORACLES[kind], kind)


@pytest.fixture
def corpus(sf_small, tmp_path):
    """A private copy of the sf_small retrieval tables; its index is
    released afterwards."""
    d = str(tmp_path / "corpus")
    os.makedirs(d)
    for t in ("embeddings", "documents"):
        shutil.copy(os.path.join(sf_small, f"{t}.parquet"), d)
    yield d
    ri.clear()


# Jobs per request on sf_small with a warm index.  Every job the corpus
# side needs runs once, in the build; a change that moves corpus work
# back into the requests raises these counts.
WARM_JOBS = {"knn_bruteforce_cosine": 3, "ann_ivf_cosine": 3,
             "ann_lsh_cosine": 7, "text_bm25_retrieval": 6,
             "hybrid_retrieval_rrf": 8}


def test_warm_request_job_counts(spark, sf_small):
    for kind in KINDS:                       # warm the index
        QUERIES[kind](spark, sf_small).toPandas()
    got = {kind: _jobs(spark, f"warm-{kind}",
                       lambda k=kind: QUERIES[k](spark, sf_small).toPandas())[1]
           for kind in KINDS}
    assert got == WARM_JOBS


def test_second_request_runs_no_build_jobs(spark, corpus):
    first, _ = _jobs(spark, "first",
                     lambda: QUERIES["hybrid_retrieval_rrf"](spark, corpus)
                     .toPandas())
    ix = ri.index_for(spark, corpus)
    built = ix.build_jobs
    assert built > 0 and ix.build_s > 0
    second, n = _jobs(spark, "second",
                      lambda: QUERIES["hybrid_retrieval_rrf"](spark, corpus)
                      .toPandas())
    assert ri.index_for(spark, corpus) is ix
    assert ix.build_jobs == built
    assert n == WARM_JOBS["hybrid_retrieval_rrf"]
    assert first.equals(second)


def test_clear_cache_keeps_the_index(spark, corpus):
    before = QUERIES["ann_lsh_cosine"](spark, corpus).toPandas()
    ix = ri.index_for(spark, corpus)
    built = ix.build_jobs
    spark.catalog.clearCache()
    after = QUERIES["ann_lsh_cosine"](spark, corpus).toPandas()
    assert ri.index_for(spark, corpus) is ix and ix.build_jobs == built
    assert before.equals(after)


def _rewrite(path: str, table: pa.Table) -> None:
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)


def test_in_place_rewrite_rebuilds(spark, corpus):
    for kind in ("knn_bruteforce_cosine", "text_bm25_retrieval"):
        assert not _match(spark, corpus, kind)
    old = ri.index_for(spark, corpus)
    emb = os.path.join(corpus, "embeddings.parquet")
    t = pq.read_table(emb)
    vecs = [[-x for x in v] if i % 3 == 0 else v
            for i, v in enumerate(t.column("embedding").to_pylist())]
    _rewrite(emb, t.set_column(t.schema.get_field_index("embedding"),
                               t.schema.field("embedding"),
                               pa.array(vecs, t.schema.field("embedding").type)))
    docs = os.path.join(corpus, "documents.parquet")
    d = pq.read_table(docs)
    _rewrite(docs, d.slice(0, d.num_rows // 2))
    for kind in ("knn_bruteforce_cosine", "text_bm25_retrieval"):
        assert not _match(spark, corpus, kind)
    assert ri.index_for(spark, corpus) is not old and old.released


def test_lost_blocks_rebuild_on_next_request(spark, corpus):
    """Losing an executor drops the checkpoint blocks it held; the
    next request finds them missing and rebuilds."""
    QUERIES["ann_ivf_cosine"](spark, corpus).toPandas()
    old = ri.index_for(spark, corpus)
    old._held[0][-1].unpersist(False)    # the blocks an executor loss drops
    assert not old.intact()
    assert not _match(spark, corpus, "ann_ivf_cosine")
    assert ri.index_for(spark, corpus) is not old and old.released


def test_request_after_session_restart(sf_small, tmp_path):
    """A fresh process: request, stop the session, start another,
    request again — the second context never reads the first one's
    checkpoint blocks."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from go_mapreduce_crawler_spark.session import get_spark
        from go_mapreduce_crawler_spark.operators import retrieval_index as ri
        from go_mapreduce_crawler_spark.operators.similarity import q_knn_bruteforce
        sf = {sf_small!r}
        spark = get_spark("restart", cpus=2)
        a = q_knn_bruteforce(spark, sf).toPandas()
        first = ri.index_for(spark, sf)
        spark.stop()
        spark = get_spark("restart", cpus=2)
        b = q_knn_bruteforce(spark, sf).toPandas()
        assert ri.index_for(spark, sf) is not first and first.released
        assert a.sort_values(list(a.columns)).reset_index(drop=True).equals(
            b.sort_values(list(b.columns)).reset_index(drop=True))
        spark.stop()
        print("RESTART-OK")
    """)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=600)
    assert "RESTART-OK" in out.stdout, out.stderr[-3000:]


def test_concurrent_first_requests_build_once(spark, corpus, monkeypatch):
    """More client threads than cores make the first requests at once,
    with a short switch interval: every part is built exactly once and
    every client gets its oracle's result."""
    calls: Counter = Counter()
    build = ri.RetrievalIndex._build

    def counted(self, name, fn):
        calls[name] += 1
        return build(self, name, fn)

    monkeypatch.setattr(ri.RetrievalIndex, "_build", counted)
    kinds = ("hybrid_retrieval_rrf", "ann_lsh_cosine", "ann_ivf_cosine",
             "text_bm25_retrieval") * 2
    results: dict = {}

    def client(i, kind):
        try:
            results[i] = QUERIES[kind](spark, corpus).toPandas()
        except Exception as ex:   # reported below
            results[i] = ex

    threads = [threading.Thread(target=client, args=(i, k))
               for i, k in enumerate(kinds)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert calls == Counter({"seeds": 1, "vectors": 1, "sketches": 1,
                             "bag": 1, "text": 1})
    with _con(corpus) as con:
        for i, kind in enumerate(kinds):
            assert not isinstance(results[i], Exception), results[i]
            assert not compare(_Collected(results[i]), con,
                               ORACLES[kind], kind)


class _Collected:
    """A collected result shaped like the DataFrame ``compare`` takes."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_bm25_relations_values_unchanged(spark, sf_small):
    """The index's BM25 relations carry the same values as a fresh
    computation of the same algebra (materializing them may only
    short-circuit recomputation, never change results)."""
    from go_mapreduce_crawler_spark.operators.text import _docs

    t = ri.index_for(spark, sf_small).text
    tf = t.tf.select("doc_id", "word", "tf")

    d = _docs(spark, sf_small)
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf2 = (words.groupBy("doc_id", "word")
                .agg(F.count(F.lit(1)).alias("tf")))
    assert tf.exceptAll(tf2).count() == 0
    assert tf2.exceptAll(tf).count() == 0
    srow = t.scal.collect()[0]
    srow2 = (tf2.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
             .agg(F.sum("dl").alias("total_words"),
                  F.count(F.lit(1)).alias("n_docs")).collect()[0])
    assert (srow.total_words, srow.n_docs) == \
        (srow2.total_words, srow2.n_docs)
    assert (t.total_words, t.n_docs) == (srow.total_words, srow.n_docs)


def test_zero_vector_cosine_is_null_and_ranks_last(spark, corpus):
    """vec_id 0 set to all zeros: it is a seed query, a corpus vector
    and an IVF centroid at once.  No DIVIDE_BY_ZERO under ANSI, and
    every kind matches its oracle (NULL cosine, ranked last)."""
    emb = os.path.join(corpus, "embeddings.parquet")
    t = pq.read_table(emb)
    vecs = t.column("embedding").to_pylist()
    ids = t.column("vec_id").to_pylist()
    vecs[ids.index(0)] = [0.0] * len(vecs[0])
    _rewrite(emb, t.set_column(t.schema.get_field_index("embedding"),
                               t.schema.field("embedding"),
                               pa.array(vecs, t.schema.field("embedding").type)))
    for kind in ("knn_bruteforce_cosine", "ann_ivf_cosine",
                 "ann_lsh_cosine", "hybrid_retrieval_rrf"):
        assert not _match(spark, corpus, kind)
    rows = QUERIES["knn_bruteforce_cosine"](spark, corpus).collect()
    assert all(r.cos is None for r in rows if r.q_id == 0)
    assert not any(r.neighbor_id == 0 for r in rows if r.q_id != 0)


def test_knn_pandas_zero_query_and_corpus_vectors(spark, corpus):
    """knn_pandas_vectorized with vec_id 0 (a query) and vec_id 1 (a
    corpus vector) set to all zeros: the zero query still gets its
    top-k, ranked at NULL cos by neighbour id, the zero corpus vector
    ranks last, and the result matches the oracle."""
    emb = os.path.join(corpus, "embeddings.parquet")
    t = pq.read_table(emb)
    ids = t.column("vec_id").to_pylist()
    vecs = [[0.0] * len(v) if i in (0, 1) else v
            for i, v in zip(ids, t.column("embedding").to_pylist())]
    _rewrite(emb, t.set_column(t.schema.get_field_index("embedding"),
                               t.schema.field("embedding"),
                               pa.array(vecs, t.schema.field("embedding").type)))
    assert not _match(spark, corpus, "knn_pandas_vectorized")
    rows = QUERIES["knn_pandas_vectorized"](spark, corpus).collect()
    zero = sorted((r.rk, r.neighbor_id, r.cos) for r in rows if r.q_id == 0)
    assert [n for _, n, _ in zero] == sorted(i for i in ids if i != 0)[:len(zero)]
    assert zero and all(c is None for _, _, c in zero)
    assert not any(r.neighbor_id == 1 for r in rows if r.q_id != 0)


@pytest.mark.parametrize("kind", ("hard_negative_mining", "ann_int8_rerank",
                                  "retrieval_mmr_diversify",
                                  "embedding_dim_budget_eval"))
def test_scorers_zero_query_and_corpus_vectors(spark, corpus, kind):
    """vec_id 0 (a query) and vec_id 1 (a corpus vector) set to all
    zeros: no DIVIDE_BY_ZERO under ANSI, and each scorer matches its
    oracle (a zero vector's cosine is NULL and ranks last)."""
    emb = os.path.join(corpus, "embeddings.parquet")
    t = pq.read_table(emb)
    ids = t.column("vec_id").to_pylist()
    vecs = [[0.0] * len(v) if i in (0, 1) else v
            for i, v in zip(ids, t.column("embedding").to_pylist())]
    _rewrite(emb, t.set_column(t.schema.get_field_index("embedding"),
                               t.schema.field("embedding"),
                               pa.array(vecs, t.schema.field("embedding").type)))
    assert not _match(spark, corpus, kind)
