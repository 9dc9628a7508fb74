"""The workloads.  Each generates its inputs from the seed, runs one
*pass* of its job against the engine's public functions (warm-up and
timed phase share that code), and checks every collected output.

Every call into a layer runs inside a tracer span named
``<layer>.<call>``; with tracing off the spans cost nothing.
"""

from __future__ import annotations

import glob
import os
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_mapreduce_crawler_spark import streaming
from go_mapreduce_crawler_spark.crawler import CrawlConfig, Crawler
from go_mapreduce_crawler_spark.operators import all_queries
from go_mapreduce_crawler_spark.pool import Pool
from go_mapreduce_crawler_spark.sources import list_files
from go_mapreduce_crawler_spark.sources.pyfs import LocalFileSystem
from go_mapreduce_crawler_spark.sources.sinks import write_parquet
from go_mapreduce_crawler_spark.streaming import stateful

from . import gen, probes
from .check import OracleChecker
from .tracing import Tracer

QUERIES = all_queries()
CRAWL_SCHEMA = T.StructType([T.StructField("data", T.LongType())])
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
AWAIT_S = 150


@dataclass
class Ctx:
    """Per-run state shared by the workload code."""
    spark: object
    tracer: Tracer
    work_dir: str
    checker: OracleChecker = field(default_factory=OracleChecker)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    # (oracle SQL, table dir, collected result, label), checked after timing
    pending: list[tuple[str, str, object, str]] = field(default_factory=list)
    counters: dict[str, list[float]] = field(default_factory=dict)
    groups: list[str] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)
    _seq: int = 0

    def count(self, name: str, value: float) -> None:
        if self.tracer.enabled:
            with self.lock:
                self.counters.setdefault(name, []).append(value)

    def fail(self, msg: str) -> None:
        with self.lock:
            self.failures.append(msg)

    def attempt(self) -> None:
        with self.lock:
            self.attempted += 1

    def fresh_dir(self, kind: str) -> str:
        with self.lock:
            self._seq += 1
            d = os.path.join(self.work_dir, "out", f"{kind}-{self._seq}")
        os.makedirs(d)
        return d

    def op(self, query: str, table_dir: str) -> None:
        """Build and collect one ``operators`` query; queue its check
        against the query's oracle.  The cache is left alone: the
        callers run queries concurrently and clear it between rounds."""
        fn = QUERIES[query]
        name = f"operators.{fn.__module__.rsplit('.', 1)[1]}.{query}"
        self.attempt()
        try:
            with self.tracer.span(name + ".build"):
                df = fn(self.spark, table_dir)
            with self.tracer.span(name + ".run"):
                pdf = df.toPandas()
        except Exception as ex:  # a failed call is counted, the run goes on
            self.fail(f"{query}: raised {type(ex).__name__}: {ex}")
            return
        self.queue_check(query, table_dir, pdf, query)

    def queue_check(self, oracle: str, table_dir: str, pdf, label: str,
                    wrap: str = "{}") -> None:
        sql = wrap.format(self.checker.oracles[oracle])
        with self.lock:
            self.pending.append((sql, table_dir, pdf, label))

    def expect(self, label: str, got, want) -> None:
        """Check a golden value now (counted as an op)."""
        self.attempt()
        if got != want:
            self.fail(f"{label}: got {got!r}, expected {want!r}")

    def verify(self) -> None:
        """Run the queued oracle comparisons (outside any timed region)."""
        for sql, table_dir, pdf, label in self.pending:
            probs = self.checker.problems(sql, table_dir, pdf, label)
            if probs:
                self.fail("; ".join(probs))
        self.pending.clear()

    def job_group(self, group: str) -> None:
        """Tag this thread's next jobs (traced passes only)."""
        if self.tracer.enabled:
            with self.tracer.probe():
                self.spark.sparkContext.setJobGroup(group, group)
            self.add_group(group)

    def add_group(self, group: str) -> None:
        if self.tracer.enabled:
            with self.lock:
                self.groups.append(group)

    def record_jobs(self, units: int) -> None:
        """Jobs, stages and tasks of the pass's groups, per unit of work."""
        sc = self.spark.sparkContext
        tot = [0, 0, 0]
        with self.tracer.probe():
            for g in self.groups:
                for i, v in enumerate(probes.job_counts(sc, g)):
                    tot[i] += v
        self.groups.clear()
        for k, v in zip(("session.jobs", "session.stages", "session.tasks"), tot):
            self.count(k, v / max(1, units))


class Workload:
    """One named workload: inputs for the run and for warm-up, one pass."""
    name = ""
    unit = ""            # what items_per_s counts
    latency_of = "pass"  # what unit_p50_s times

    def __init__(self, root: str, seed: int, sizes: dict):
        self.root, self.seed, self.sizes = root, seed, sizes

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self, ctx: Ctx) -> tuple[int, list[float]]:
        """One unit-of-work pass: returns (items processed, unit
        latencies).  The default unit is the pass itself."""
        raise NotImplementedError

    def warm_up(self, ctx: Ctx, twin: "Workload") -> None:
        """Run once before timing: by default one pass over ``twin``, a
        small workload of the same shape, which generates the code and
        starts the Python workers the timed passes use."""
        twin.run_pass(ctx)


# ---------------------------------------------------------------- crawl_tree

def _searcher(path: str) -> list[str]:
    """Pool.list searcher: a directory's children, nothing for a file."""
    if not os.path.isdir(path):
        return []
    dirs, files = LocalFileSystem().read_dir(path)
    return dirs + files


def _decode_sum(acc: int, pdf) -> int:
    return acc + int(pdf["data"].sum())


class CrawlTree(Workload):
    """The reference's own job: a JSON file tree folded to one sum,
    through the Spark-native collect, the FileSystem-seam collect, and
    the explicit Pool list/transform/accumulate operators."""
    name = "crawl_tree"
    unit = "file"

    def prepare(self) -> None:
        self.tree = os.path.join(self.root, "tree")
        self.golden = gen.crawl_tree(self.tree, self.seed, self.sizes["files"])

    def run_pass(self, ctx: Ctx) -> tuple[int, list[float]]:
        spark, tr, g = ctx.spark, ctx.tracer, self.golden
        t0 = time.perf_counter()
        with tr.span("bench.pass"):
            with tr.span("sources.list_files"):
                n_listed = list_files(spark, self.tree).count()
            ctx.count("sources.files_listed", n_listed)
            ctx.expect("list_files count", n_listed, g.n_files)

            # listing/decode fan-out sized to the box, as the session is
            n = probes.nproc()
            crawler = Crawler(spark, CrawlConfig(search_workers=n, file_workers=n))
            for label, fs in (("collect", None), ("collect_fs", LocalFileSystem())):
                ctx.attempt()
                with tr.span(f"crawler.{label}"):
                    res = crawler.collect(self.tree, CRAWL_SCHEMA, filesystem=fs)
                ctx.count("crawler.corrupt_files", res.n_corrupt)
                got = (res.value.get("data_sum"), res.n_files, res.n_corrupt)
                want = (g.data_sum, g.n_files, g.n_corrupt)
                if got != want:
                    ctx.fail(f"crawler.{label} (sum, files, corrupt): "
                             f"got {got}, expected {want}")

            pool = Pool(spark)
            with tr.span("pool.list"):
                reached = pool.list(self.tree, _searcher, workers=n)
            ctx.expect("pool.list reached", len(reached), 1 + g.n_dirs + g.n_files)
            with tr.span("crawler.read_records"):
                records = crawler.read_records(self.tree, CRAWL_SCHEMA)
            with tr.span("pool.transform"):
                clean = pool.transform(records, [
                    F.coalesce(F.col("data"), F.lit(0)).alias("data"),
                    F.col("_corrupt_record").isNotNull().cast("int").alias("bad"),
                ]).localCheckpoint(eager=True)
            with tr.span("pool.accumulate"):
                row = pool.accumulate(clean, F.sum("data").alias("s"),
                                      F.sum("bad").alias("bad")).collect()[0]
            ctx.expect("pool.accumulate (sum, corrupt)",
                       (row["s"], row["bad"]), (g.data_sum, g.n_corrupt))
            with tr.span("pool.partials"):
                parts = pool.partials(clean.select("data").coalesce(n), 0,
                                      _decode_sum, "data long").toPandas()
            ctx.count("pool.partials_rows", len(parts))
            ctx.expect("pool.partials sum", int(parts["data"].sum()), g.data_sum)
            spark.catalog.clearCache()
        return g.n_files, [time.perf_counter() - t0]


# -------------------------------------------------------- corpus_incremental

STREAMS = (
    # (span name, start fn, finalize fn, oracle)
    ("span_dedup", stateful.stream_windowed_span_dedup,
     lambda spark, st: stateful.windowed_span_dedup_finalize(spark, st),
     "stream_windowed_span_dedup_replay"),
    ("minhash_dedup", stateful.stream_windowed_minhash_dedup,
     lambda spark, st: stateful.windowed_minhash_dedup_finalize(spark, st),
     "stream_minhash_dedup_replay"),
    ("inverted_index", stateful.stream_inverted_index,
     lambda spark, st: stateful.inverted_index_finalize(
         streaming.read_mv_state(spark, st)),
     "stream_inverted_index_replay"),
)


def _dir_stats(d: str) -> tuple[int, int]:
    """(parquet rows, bytes) under a state directory."""
    rows = size = 0
    for dirpath, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            size += os.path.getsize(p)
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(p).metadata.num_rows
    return rows, size


class CorpusIncremental(Workload):
    """The corpus arriving as per-batch files: windowed span and MinHash
    dedup plus inverted-index maintenance, each an availableNow stream
    taking one file per trigger with checkpointed state; the documents
    no stream flags are then written to parquet."""
    name = "corpus_incremental"
    unit = "doc"
    latency_of = "micro-batch"

    def prepare(self) -> None:
        self.docs = gen.documents(self.seed, self.sizes["docs"])
        self.table_dir = gen.write_table_dir(
            os.path.join(self.root, "tables"), documents=self.docs)
        self.arrivals = os.path.join(self.root, "arrivals")
        gen.write_arrivals(self.arrivals, self.docs, self.sizes["files"])

    def run_pass(self, ctx: Ctx) -> tuple[int, list[float]]:
        spark, tr = ctx.spark, ctx.tracer
        lat: list[float] = []
        verdicts = None
        with tr.span("bench.pass"):
            for label, start, finalize, oracle in STREAMS:
                ctx.attempt()
                root = ctx.fresh_dir(label)
                state, ckpt = os.path.join(root, "state"), os.path.join(root, "ckpt")
                try:
                    with tr.span(f"streaming.{label}"):
                        src = (spark.readStream.option("maxFilesPerTrigger", "1")
                               .schema(DOC_SCHEMA).parquet(self.arrivals))
                        q = start(src, state, ckpt)
                        if not q.awaitTermination(AWAIT_S):
                            q.stop()
                            raise TimeoutError(f"not drained in {AWAIT_S}s")
                        if q.exception() is not None:
                            raise RuntimeError(str(q.exception()))
                    with tr.span(f"streaming.{label}.finalize"):
                        pdf = finalize(spark, state).toPandas()
                except Exception as ex:
                    ctx.fail(f"{label}: raised {type(ex).__name__}: {ex}")
                    continue
                finally:
                    spark.catalog.clearCache()
                ctx.queue_check(oracle, self.table_dir, pdf, label)
                self._progress(ctx, q, state, lat)
                if label == "minhash_dedup":
                    verdicts = os.path.join(state, "verdicts_b*")
            if verdicts is not None:
                self._write_survivors(ctx, verdicts)
        return self.docs.num_rows, lat

    def _progress(self, ctx: Ctx, q, state: str, lat: list[float]) -> None:
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        lat.extend(p["durationMs"]["triggerExecution"] / 1000.0 for p in prog)
        if not ctx.tracer.enabled:
            return
        with ctx.tracer.probe():
            ctx.count("streaming.batches", len(prog))
            for p in prog:
                ms = p["durationMs"]
                ctx.count("streaming.batch_s", ms["triggerExecution"] / 1000.0)
                ctx.count("streaming.add_batch_s", ms.get("addBatch", 0) / 1000.0)
            rows, size = _dir_stats(state)
            ctx.count("streaming.state_rows", rows)
            ctx.count("streaming.state_mb", size / 2**20)
            ctx.add_group(str(q.runId))

    def _write_survivors(self, ctx: Ctx, verdicts: str) -> None:
        spark, tr = ctx.spark, ctx.tracer
        out = ctx.fresh_dir("survivors")
        ctx.attempt()
        try:
            with tr.span("sources.sinks.write"):
                keep = (spark.read.parquet(verdicts)
                        .filter(F.col("is_near_dup_candidate") == 0)
                        .select("doc_id"))
                docs = spark.read.schema(DOC_SCHEMA).parquet(self.arrivals)
                write_parquet(docs.join(keep, "doc_id", "left_semi"), out, n_files=2)
        except Exception as ex:
            ctx.fail(f"sinks.write_parquet: raised {type(ex).__name__}: {ex}")
            return
        files = glob.glob(os.path.join(out, "*.parquet"))
        ctx.count("sources.sinks.bytes_written",
                  float(sum(os.path.getsize(f) for f in files)))
        got = pq.read_table(files).to_pandas() if files else None
        if got is not None:
            ctx.count("operators.dedup.kept_ratio", len(got) / self.docs.num_rows)
        ctx.queue_check("stream_minhash_dedup_replay", self.table_dir,
                        None if got is None else got[["doc_id"]],
                        "sinks.write_parquet survivors",
                        wrap="SELECT doc_id FROM ({}) WHERE is_near_dup_candidate = 0")


# -------------------------------------------------------- retrieval_requests

RETRIEVAL_KINDS = ("knn_bruteforce_cosine", "ann_ivf_cosine", "ann_lsh_cosine",
                   "text_bm25_retrieval", "hybrid_retrieval_rrf")


class RetrievalRequests(Workload):
    """A closed loop of client threads; each request runs one
    similarity or text-retrieval query and collects its top-k.  A round
    is every request kind once per client, in the same order on every
    client; rounds repeat until the time is spent, so every run issues
    each kind equally often.  Requests of one kind start together and
    take about as long, so the clients stay in step and each request
    overlaps the same kind of request in every run and on every seed."""
    name = "retrieval_requests"
    unit = "request"
    latency_of = "request"

    def prepare(self) -> None:
        self.table_dir = gen.write_table_dir(
            os.path.join(self.root, "tables"),
            documents=gen.documents(self.seed, self.sizes["docs"]),
            embeddings=gen.embeddings(self.seed, self.sizes["vecs"]))
        self.by_kind: dict[str, list[float]] = {k: [] for k in RETRIEVAL_KINDS}
        self._rounds = 0

    def _request(self, ctx: Ctx, kind: str, rid: str, lat: list[float]) -> None:
        t0 = time.perf_counter()
        ctx.job_group(rid)
        with ctx.tracer.span("bench.request", request=rid):
            ctx.op(kind, self.table_dir)
        dt = time.perf_counter() - t0
        with ctx.lock:
            lat.append(dt)
            self.by_kind[kind].append(dt)

    def warm_up(self, ctx: Ctx, twin: Workload) -> None:
        """Every kind once over the timed corpus, each on its own client
        thread: each query compiles once, in parallel, and the
        per-corpus caches (the similarity query-set gate probe) are
        filled before timing.  Warm-up latencies are not kept."""
        self._round(ctx, [(kind,) for kind in RETRIEVAL_KINDS])
        for xs in self.by_kind.values():
            xs.clear()

    def run_pass(self, ctx: Ctx) -> tuple[int, list[float]]:
        clients = min(self.sizes["clients"], probes.nproc())
        return self._round(ctx, [RETRIEVAL_KINDS] * clients)

    def _round(self, ctx: Ctx, schedules) -> tuple[int, list[float]]:
        """One round: client ``c`` issues ``schedules[c]`` in order, the
        clients in parallel."""
        self._rounds += 1
        lat: list[float] = []
        errors: list[Exception] = []

        def client(c: int, kinds) -> None:
            try:
                for i, kind in enumerate(kinds):
                    self._request(ctx, kind, f"r{self._rounds}-c{c}-{i}", lat)
            except Exception as ex:   # re-raised below, on the caller's thread
                errors.append(ex)

        threads = [threading.Thread(target=client, args=(c, kinds))
                   for c, kinds in enumerate(schedules)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        ctx.spark.catalog.clearCache()
        if errors:
            raise errors[0]
        return len(lat), lat


WORKLOADS = {w.name: w for w in (CrawlTree, CorpusIncremental,
                                 RetrievalRequests)}
