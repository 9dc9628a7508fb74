"""Retrieval index: the corpus side of every kNN / ANN / BM25 / hybrid
request and of every word-count operator, built once per corpus version
and shared by all of them.

A retrieval request has two sides.  The corpus side — vector norms, IVF
cell assignments, LSH sketches, BM25 posting statistics — depends only
on the corpus files.  The query side — which vectors or terms are asked,
their IVF probe cells, the candidate joins and the top-k — depends on
the request.  ``RetrievalIndex`` holds the corpus side and nothing else:
it never holds a query result, and every query-side relation is rebuilt
per request.

The index has these parts; each is built on first use, once, under its
own lock (concurrent first requests wait for one build):

* ``seed_count()`` and ``doc_count()``: row counts probed once per
  version (the query-set and exact-pair guards compare them with their
  bounds on every call);
* ``vectors``: ``vec(vec_id, embedding, nrm, cell)`` — the embeddings
  spread to engine parallelism, each row's L2 norm and its IVF cell —
  plus the IVF centroids and their norms on the driver;
* ``sketches``: the LSH sketches ``(vec_id, bb)``, one row per band;
* ``bag``: the bag of words (``functions.text.words``) every word-count
  operator reads — counts ``tf(doc_id, word, tf)``, ``df(word, df,
  cf)``, ``dl(doc_id, dl)`` and the one-row ``scal(total_words,
  n_docs)`` (also held as driver scalars).  A NULL-text document has no
  token, so no row, and is not in ``n_docs``;
* ``text``: the bag with ``tf`` replaced by the BM25 postings
  ``(doc_id, word, tf, df, dl, bm25_e6)``; only BM25 readers build it.

Each relation is materialized with ``localCheckpoint(eager=True)``: its
blocks live in executor storage outside the SQL cache, so
``spark.catalog.clearCache()`` does not drop them, and request plans
start from them instead of from parquet.  Local checkpoints are not
fault-tolerant: when an executor holding a block is lost, a request
reading it fails (alone); the next ``index_for`` call finds the block
missing and rebuilds.

Versions.  ``index_for(spark, sf_dir)`` returns the index of the corpus
as it is now.  An index is keyed on the SparkContext and on the listing
— path, size and ``mtime_ns`` of every file — of the ``embeddings`` and
``documents`` tables, not on the path string: a corpus rewritten in
place, or a session stopped and started again, gets a new index.  At
most one version per corpus path is held; the replaced one is released
(its blocks unpersisted while its context is alive).  ``clear()``
releases every index.  A request still running on a released version
fails; the next request uses the new one.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from typing import NamedTuple

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import words
from ..functions.vectors import l2_norm
from ..sources.tables import load_table, spread
from .text import _bm25_e6_expr, _lit_spark

DIM = 64
IVF_CELLS = 16
N_PLANES = 48
# 12 bands x 4 bits.  Per-bit agreement for a pair at angle theta is
# 1 - theta/pi: ~0.63-0.67 for this corpus's true neighbors (cos
# 0.3-0.5) vs 0.5 for random pairs.  Band-match then ~0.63^4 = 0.16 for
# neighbors -> >=1-of-12 ~ 0.88 recall, vs 0.5^4 = 0.0625 for random ->
# ~54% candidate volume (a ~2x cut).  Weakly-similar corpora like this
# one are LSH's worst case — the neighbor/random gap per bit is small;
# clustered real-world embeddings (neighbors at cos > 0.8) give the
# same b/r a 50-100x cut instead.
LSH_BANDS_ANN = 12
SALT = 64             # two-phase top-k fan-in of the BM25 ranking

_TABLES = ("embeddings", "documents")


# ------------------------------------------------------------ IVF parts

def first_rows(df: DataFrame, order: list[str], n: int, col: str) -> list:
    """IVF "training": the array column ``col`` of the first ``n`` rows
    of ``df`` by ``order``, collected to the driver (a bounded
    TakeOrdered).  Every IVF in the package freezes its centroids this
    way; production would k-means a sample — the plan shape is the
    same."""
    return [list(r[0]) for r in
            df.orderBy(*order).limit(n).select(col).collect()]


def ivf_centroids(df: DataFrame, n: int = IVF_CELLS):
    """(centroids, norms) of the ``n`` lowest-vec_id embeddings.

    math.sqrt (correctly-rounded IEEE sqrt) over a left-to-right sum:
    bit-identical to DuckDB's sqrt(list_reduce(...)) — this is what
    lets the oracles recompute the centroid norms instead of receiving
    them as literals (`** 0.5` routes through pow, which carries no
    correct-rounding guarantee)."""
    cents = [[float(x) for x in c]
             for c in first_rows(df, ["vec_id"], n, "embedding")]
    return cents, [math.sqrt(sum(x * x for x in c)) for c in cents]


def cell_scores_sql(col: str, cents, cnorms) -> str:
    """Row-local centroid affinities of the array column ``col`` as one
    generated SQL string: array<struct<cos, cell>>, the sequential dot
    fold (functions.vectors.dot) of ``col`` with each centroid over its
    norm.  The centroids ride as ONE JSON string literal (the analyzer
    takes ~0.16 ms per literal node on 4 vCPUs: 16 x 64 double literals
    cost ~160 ms per plan); JSON doubles parse exactly from repr().  The
    affinity ignores the row's own norm (a positive per-row scale does
    not change the argmax or the probe order).  A zero centroid's
    affinity is NULL: it sorts below every number, as DuckDB's
    NULL-on-divide-by-zero does in the oracles."""
    js = json.dumps([{"v": c, "n": n} for c, n in zip(cents, cnorms)])
    return (f"transform(from_json('{js}',"
            " 'array<struct<v: array<double>, n: double>>'),"
            " (c, i) -> named_struct('cos', IF(c.n = 0D, CAST(NULL AS DOUBLE),"
            f" aggregate(zip_with({col}, c.v, (x, y) -> CAST(x AS DOUBLE) * y),"
            " 0D, (acc, p) -> acc + p) / c.n), 'cell', i))")


# ------------------------------------------------------------ LSH parts

def lsh_planes() -> np.ndarray:
    """The N_PLANES seeded hyperplanes (shared with the DuckDB oracle)."""
    return np.random.default_rng(7).standard_normal((N_PLANES, DIM))


def _ann_bucket_kernel(planes: np.ndarray, n_bands: int, r: int):
    """Sign-bit LSH (vec_id, bucket) pairs as ONE Arrow-vectorized pass.

    Per batch: (n x DIM) x (DIM x H) -> sign bits -> pack each band's r
    bits into an int; key = band << 16 | bits; the band explode is a
    numpy repeat inside the kernel.  The planes ride in the closure
    (shipped once per executor).
    """
    import pandas as pd

    weights = (1 << np.arange(r)[::-1]).astype(np.int64)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            # Sequential per-dimension accumulation, NOT matmul: BLAS
            # uses pairwise/blocked summation whose last-ulp result is
            # implementation-defined, and ONE flipped sign on a
            # near-zero dot would change a bucket.  The explicit loop
            # is the same left-to-right IEEE order as the oracle's
            # list_reduce fold, making the sketch — and therefore the
            # whole operator — value-oracle-able.  Cost: 64 vectorized
            # (rows x planes) FMAs per batch, still microseconds/row.
            acc = np.zeros((m.shape[0], planes.shape[0]))
            for d_ in range(m.shape[1]):
                acc += m[:, d_:d_ + 1] * planes[None, :, d_]
            bits = acc >= 0.0
            keys = np.empty((bits.shape[0], n_bands), dtype=np.int64)
            for b in range(n_bands):
                keys[:, b] = (b << 16) | (
                    bits[:, b * r:(b + 1) * r].astype(np.int64) @ weights)
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_bands),
                "bb": keys.ravel()})

    return kernel


# ------------------------------------------------------- scoring helpers

# Request plans are rebuilt per request, and each Column-API call is a
# py4j round-trip (see similarity._dot_sql): the per-request helpers below
# are SQL strings, one parse each.

def cosine() -> Column:
    """Rounded cosine of (q_vec, q_nrm) against (embedding, nrm) — the
    functions.vectors.dot fold, with norms folded once per row so each
    pair costs one dot fold.  A zero vector's cosine is NULL (try_divide,
    so ANSI mode does not raise) and ranks last under ``cos DESC``."""
    return F.expr("round(try_divide(aggregate(zip_with(q_vec, embedding,"
                  " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D,"
                  " (acc, p) -> acc + p), q_nrm * nrm), 6)")


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (q_id, vec_id, cos) by (cos desc, vec_id)."""
    return scored.selectExpr(
        "q_id", "vec_id AS neighbor_id", "cos",
        "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id)"
        " AS rk").filter(f"rk <= {k}")


def salted_topk(scored: DataFrame, k: int, rank_col: str = "rk") -> DataFrame:
    """Per-query top-k of a (q_doc, doc_id, score_e6) relation without
    a global window: local top-k per (q_doc, xxhash salt) bucket, then
    one SALT*k-row fold per query.  Ties (score desc, doc_id asc).  No
    task ever holds more than one bucket's rows, so a query matching
    every document still ranks in bounded memory."""
    p1 = (scored.selectExpr(
              "q_doc", f"pmod(xxhash64(doc_id), {SALT}) AS salt",
              "named_struct('ns', -score_e6, 'doc_id', doc_id) AS key")
          .groupBy("q_doc", "salt")
          .agg(F.expr(f"slice(array_sort(collect_list(key)), 1, {k})")
               .alias("part")))
    p2 = (p1.groupBy("q_doc")
            .agg(F.expr(f"slice(array_sort(flatten(collect_list(part))),"
                        f" 1, {k})").alias("top")))
    return (p2.selectExpr("q_doc", "posexplode(top) AS (i, t)")
              .selectExpr("q_doc", "t.doc_id AS doc_id",
                          "-t.ns AS score_e6", f"i + 1 AS {rank_col}"))


# ------------------------------------------------------------ the index

class Vectors(NamedTuple):
    vec: DataFrame         # (vec_id, embedding, nrm, cell)
    cents: list            # IVF centroids, on the driver
    cnorms: list           # their L2 norms


class Text(NamedTuple):
    tf: DataFrame          # bag: (doc_id, word, tf); text: + df, dl, bm25_e6
    df: DataFrame          # (word, df, cf)
    dl: DataFrame          # (doc_id, dl)
    scal: DataFrame        # one row (total_words, n_docs)
    total_words: int
    n_docs: int

    def scalars(self) -> list:
        """The two corpus scalars as literal columns."""
        return [F.lit(self.total_words).cast("long").alias("total_words"),
                F.lit(self.n_docs).cast("long").alias("n_docs")]


_BUILD_SEQ = itertools.count()
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


class RetrievalIndex:
    """The corpus-side state of one corpus version (see the module
    docstring).  ``builds`` maps each built part to its (wall seconds,
    Spark jobs); ``build_s`` and ``build_jobs`` total them."""

    def __init__(self, spark, sf_dir: str, version: tuple):
        self.spark, self.sf_dir, self.version = spark, sf_dir, version
        self.sc = spark.sparkContext
        self.builds: dict[str, tuple[float, int]] = {}
        self.released = False
        self._parts: dict = {}
        self._locks = {p: threading.Lock()
                       for p in ("seeds", "docs", "vectors", "sketches",
                                 "bag", "text")}
        self._held: list = []   # (rdd id, partitions, JVM RDD) per checkpoint

    # ---- parts

    def _part(self, name: str, build):
        part = self._parts.get(name)
        if part is not None:
            return part
        with self._locks[name]:
            if name not in self._parts:
                if self.released:
                    raise RuntimeError(
                        f"the retrieval index of {self.sf_dir} was released"
                        " (corpus changed or clear()); retry the request")
                self._parts[name] = self._build(name, build)
            return self._parts[name]

    def _build(self, name: str, build):
        """Run one part build under its own job group (restoring the
        caller's), so its jobs are counted here and not in the
        request that happened to trigger it."""
        sc = self.sc
        saved = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
        group = f"retrieval-index-{next(_BUILD_SEQ)}-{name}"
        sc.setJobGroup(group, f"retrieval index {name}: {self.sf_dir}")
        t0 = time.perf_counter()
        try:
            part = build()
        finally:
            for k, v in zip(_GROUP_KEYS, saved):
                sc.setLocalProperty(k, v)
        self.builds[name] = (time.perf_counter() - t0,
                             len(sc.statusTracker().getJobIdsForGroup(group)))
        return part

    @property
    def build_s(self) -> float:
        return sum(s for s, _ in self.builds.values())

    @property
    def build_jobs(self) -> int:
        return sum(j for _, j in self.builds.values())

    def _hold(self, df: DataFrame) -> DataFrame:
        cp = df.localCheckpoint(eager=True)
        rdd = _checkpoint_rdd(cp)
        self._held.append((rdd.id(), rdd.getNumPartitions(), rdd))
        return cp

    def intact(self) -> bool:
        """Every block of every held checkpoint is still in place (the
        loss of an executor drops the local checkpoint blocks it held;
        the index must then be rebuilt)."""
        if not self._held:
            return True
        whole = {i.id(): i.numCachedPartitions() == i.numPartitions()
                 for i in self.sc._jsc.sc().getRDDStorageInfo()}
        # a checkpoint without partitions (an empty table) holds no block
        return all(whole.get(rid, n == 0) for rid, n, _ in self._held)

    def seed_count(self) -> int:
        """Rows of the seed query set (vec_id % 100 == 0), probed once
        per version — the similarity query-set gate compares it with
        its current bound on every call."""
        return self._part("seeds", lambda: load_table(
            self.spark, self.sf_dir, "embeddings")
            .filter(F.col("vec_id") % 100 == 0).count())

    @property
    def vectors(self) -> Vectors:
        def build():
            raw = load_table(self.spark, self.sf_dir, "embeddings")
            cents, cnorms = ivf_centroids(raw)
            cell = F.array_max(F.expr(
                cell_scores_sql("embedding", cents, cnorms))).getField("cell")
            # spread: the scoring joins carry the per-row fold work
            # (a no-op when the scan already yields enough splits)
            vec = self._hold(spread(raw, "vec_id").select(
                "vec_id", "embedding", l2_norm("embedding").alias("nrm"),
                cell.alias("cell")))
            return Vectors(vec, cents, cnorms)
        return self._part("vectors", build)

    @property
    def sketches(self) -> DataFrame:
        # vectors first, outside the sketches lock: a builder holds one
        # part lock at a time, so release() cannot deadlock with it
        vec = self.vectors.vec

        def build():
            kernel = _ann_bucket_kernel(lsh_planes(), LSH_BANDS_ANN,
                                        N_PLANES // LSH_BANDS_ANN)
            return self._hold(vec.select("vec_id", "embedding")
                              .mapInPandas(kernel, "vec_id long, bb long"))
        return self._part("sketches", build)

    def doc_count(self) -> int:
        """Rows of ``documents``, NULL-text ones included, probed once
        per version (the exact-pair guard compares it with its bound)."""
        return self._part("docs", lambda: load_table(
            self.spark, self.sf_dir, "documents").count())

    @property
    def bag(self) -> Text:
        def build():
            d = spread(load_table(self.spark, self.sf_dir, "documents")
                       .select("doc_id", "text"))
            counts = self._hold(
                d.select("doc_id", F.explode(words()).alias("word"))
                 .groupBy("doc_id", "word")
                 .agg(F.count(F.lit(1)).alias("tf")))
            df = self._hold(counts.groupBy("word").agg(
                F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")))
            dl = self._hold(counts.groupBy("doc_id")
                            .agg(F.sum("tf").alias("dl")))
            scal = self._hold(dl.agg(F.sum("dl").alias("total_words"),
                                     F.count(F.lit(1)).alias("n_docs")))
            s = scal.first()
            return Text(counts, df, dl, scal, s.total_words, s.n_docs)
        return self._part("bag", build)

    @property
    def text(self) -> Text:
        # the bag first, outside the text lock (see sketches)
        bag = self.bag

        def build():
            return bag._replace(tf=self._hold(
                bag.tf.join(bag.df.select("word", "df"), "word")
                      .join(bag.dl, "doc_id")
                      .select("doc_id", "word", "tf", "df", "dl",
                              *bag.scalars())
                      .selectExpr("doc_id", "word", "tf", "df", "dl",
                                  _bm25_e6_expr(_lit_spark)
                                  + " AS bm25_e6")))
        return self._part("text", build)

    def probes(self, col: str, n: int) -> Column:
        """The ``n`` IVF cells nearest the array column ``col``, nearest
        first (affinity ties -> larger cell, the oracles' order)."""
        v = self.vectors
        scores = cell_scores_sql(col, v.cents, v.cnorms)
        return F.expr(f"transform(slice(reverse(array_sort({scores})),"
                      f" 1, {n}), s -> s.cell)")

    # ---- searches: q is (q_id, q_vec, q_nrm); results are
    # (q_id, neighbor_id, cos, rk), a query never matching itself

    def knn(self, q: DataFrame, k: int) -> DataFrame:
        """Exact cosine top-k over the whole corpus: the (gated, small)
        query set broadcasts onto the corpus scan."""
        scored = (F.broadcast(q)
                  .join(self.vectors.vec, F.col("vec_id") != F.col("q_id"))
                  .withColumn("cos", cosine()))
        return _top_k(scored, k)

    def ivf(self, q: DataFrame, k: int, nprobe: int) -> DataFrame:
        """IVF top-k: each query probes its ``nprobe`` nearest cells and
        re-ranks only their members exactly — an equi-join on the cell
        key, never |Q| x |corpus|."""
        qp = q.select("q_id", "q_vec", "q_nrm",
                      F.explode(self.probes("q_vec", nprobe)).alias("probe"))
        scored = (self.vectors.vec
                  .join(F.broadcast(qp), (F.col("cell") == F.col("probe"))
                        & (F.col("vec_id") != F.col("q_id")))
                  .withColumn("cos", cosine()))
        return _top_k(scored, k)

    def lsh(self, q: DataFrame, k: int) -> DataFrame:
        """LSH top-k: candidates share >= 1 band bucket with the query,
        then re-rank exactly.  Queries are corpus vectors: their
        sketches are looked up in the index.  Candidate discovery is a
        map-side broadcast join of the corpus sketch stream against the
        query sketches (the corpus never shuffles to find candidates);
        only (q_id, vec_id) pairs shuffle, for the dedup and the vector
        join-back."""
        sk = self.sketches
        q_sk = (sk.join(F.broadcast(q.select(F.col("q_id").alias("vec_id"))),
                        "vec_id")
                  .select(F.col("vec_id").alias("q_id"), "bb"))
        cand = (sk.join(F.broadcast(q_sk), "bb")
                  .filter(F.col("vec_id") != F.col("q_id"))
                  .select("q_id", "vec_id")
                  .distinct())
        scored = (cand.join(self.vectors.vec.select("vec_id", "embedding",
                                                    "nrm"), "vec_id")
                      .join(F.broadcast(q), "q_id")
                      .withColumn("cos", cosine()))
        return _top_k(scored, k)

    def bm25(self, terms: DataFrame, k: int,
             exclude_self: bool = False) -> DataFrame:
        """BM25 top-k per query of a (q_doc, word) term relation:
        (q_doc, doc_id, score_e6, rk).  The term relation broadcasts
        onto the postings, whose per-posting scores are part of the
        index; ``exclude_self`` drops doc_id == q_doc (seed-document
        queries)."""
        cand = self.text.tf.join(F.broadcast(terms), "word")
        if exclude_self:
            cand = cand.filter(F.col("doc_id") != F.col("q_doc"))
        scored = (cand.groupBy("q_doc", "doc_id")
                      .agg(F.sum("bm25_e6").alias("score_e6")))
        return salted_topk(scored, k)

    # ---- lifecycle

    def release(self) -> None:
        """Drop every part and unpersist its blocks (when the context
        is alive).  Waits for running part builds to finish first."""
        for lock in self._locks.values():
            lock.acquire()
        try:
            self.released = True
            self._parts.clear()
            if self.sc._jsc is not None:
                for _, _, rdd in self._held:
                    rdd.unpersist(False)
            self._held.clear()
        finally:
            for lock in self._locks.values():
                lock.release()


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding a local checkpoint's blocks: unpersisting it
    releases them (DataFrame.unpersist only touches the SQL cache, which
    a checkpoint is not in)."""
    return df._jdf.queryExecution().logical().rdd()


# ----------------------------------------------------------- registry

_LOCK = threading.Lock()
_INDEXES: dict[str, RetrievalIndex] = {}


def _listing(spark, root: str) -> list[tuple[str, int, int]]:
    """(path, size, mtime_ns) of every file under ``root``."""
    if "://" not in root or root.startswith("file:"):
        local = root[len("file:"):] if root.startswith("file:") else root
        if os.path.isfile(local):
            paths = [local]
        else:
            paths = [os.path.join(d, f) for d, _, fs in os.walk(local)
                     for f in fs]
        out = []
        for p in paths:
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
        return out
    # a Hadoop file system: modification times come in milliseconds
    path = spark._jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    it, out = fs.listFiles(path, True), []
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), st.getLen(),
                    st.getModificationTime() * 1_000_000))
    return out


def corpus_version(spark, sf_dir: str) -> tuple:
    """The listing of the tables the index reads, sorted."""
    return tuple(sorted(
        f for t in _TABLES
        for f in _listing(spark, os.path.join(sf_dir, f"{t}.parquet"))))


def index_for(spark, sf_dir: str) -> RetrievalIndex:
    """The index of the corpus at ``sf_dir`` as it is now, for this
    SparkContext: the held one when neither changed and its blocks are
    all in place, else a new (empty, lazily built) one that replaces
    it."""
    version = corpus_version(spark, sf_dir)
    sc = spark.sparkContext
    key = sf_dir if "://" in sf_dir else os.path.abspath(sf_dir)
    with _LOCK:
        old = _INDEXES.get(key)
        if (old is not None and old.sc is sc and sc._jsc is not None
                and old.version == version and old.intact()):
            return old
        ix = _INDEXES[key] = RetrievalIndex(spark, sf_dir, version)
    if old is not None:
        old.release()
    return ix


def clear() -> None:
    """Release every held index."""
    with _LOCK:
        held = list(_INDEXES.values())
        _INDEXES.clear()
    for ix in held:
        ix.release()
