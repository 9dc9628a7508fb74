"""``spark.read.format("crawl")`` — the crawl pipeline as a Spark 4
Python Data Source.

The reference exposes its crawl as a library call; Spark's idiomatic
face for a custom ingest path is a registerable data source, so the same
List -> Open semantics (reference internal/filecrawler/crawler.go:94-155,
fs seam internal/fs/filesystem.go:19-41) also exist declaratively:

    spark.dataSource.register(CrawlDataSource)
    df = (spark.read.format("crawl")
          .option("path", root)
          .option("files_per_task", "64")
          .load())
    # -> path string, content binary, error string

Rows carry the reference's error contract: an unreadable file still
yields its row (content null, ``error`` set) and the scan continues —
the five-kind matrix's open-error/open-panic kinds at the source level.

Options (all strings, per the DataSource API):

* ``path``            — root directory (required).
* ``fs``              — ``module:Class`` import path of a
                        :class:`~..sources.pyfs.FileSystem`; default the
                        local filesystem.  Resolved on BOTH driver
                        (listing) and executors (reads), so the class
                        must be importable there — the string-typed
                        analogue of handing the reference a FileSystem.
* ``files_per_task``  — listing chunk per input partition (default 64).

Scale notes: listing runs once on the driver through the seam (same
frontier the reference's List holds); file contents never touch the
driver — each executor task opens only its own chunk.  For Spark-
connector-backed storage prefer the native readers (pushdown, vectorized
decode); this source is the pluggable-FS path.
"""

from __future__ import annotations

from importlib import import_module
from typing import Iterator

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamWriter, InputPartition,
                                    SimpleDataSourceStreamReader,
                                    StringEndsWith, StringStartsWith,
                                    WriterCommitMessage)

from .crawl import walk_tree

DEFAULT_FS = "go_mapreduce_crawler_spark.sources.pyfs:LocalFileSystem"
SCHEMA = "path string, content binary, error string"


def _load_fs(spec: str):
    mod, _, cls = spec.partition(":")
    return getattr(import_module(mod), cls)()


class CrawlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "crawl"

    def schema(self) -> str:
        return SCHEMA

    def make_fs(self):
        """Subclass hook: return a FileSystem INSTANCE to use instead of
        the ``fs`` option (rides to executors inside the pickled reader —
        the way tests inject fault-injecting filesystems, mirroring the
        reference's gomock FileSystem harness)."""
        return None

    def reader(self, schema) -> "CrawlReader":
        # Pushdown is OPT-IN (.option("pushdown", "true")): Spark refuses
        # to use a reader that merely DEFINES pushFilters() unless
        # spark.sql.python.filterPushdown.enabled is set, and that conf
        # cannot be read from inside the data source worker — so the
        # plain reader stays usable on any vanilla session.
        cls = (PushdownCrawlReader
               if self.options.get("pushdown", "false").lower() == "true"
               else CrawlReader)
        return cls(self.options, fs=self.make_fs())

    def simpleStreamReader(self, schema) -> "CrawlStreamReader":
        return CrawlStreamReader(self.options, fs=self.make_fs())

    def streamWriter(self, schema, overwrite) -> "CrawlStreamWriter":
        return CrawlStreamWriter(self.options, schema)


class CrawlReader(DataSourceReader):
    def __init__(self, options, fs=None):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("crawl source requires .option('path', root)")
        self.fs_obj = fs
        self.fs_spec = options.get("fs", DEFAULT_FS)
        self.chunk = int(options.get("files_per_task", "64"))
        self.prefixes: list[str] = []
        self.suffixes: list[str] = []

    def _fs(self):
        return self.fs_obj if self.fs_obj is not None else _load_fs(self.fs_spec)

    def _match(self, path: str) -> bool:
        return (all(path.startswith(p) for p in self.prefixes)
                and all(path.endswith(s) for s in self.suffixes))

    def _could_contain(self, d: str) -> bool:
        """May files under dir ``d`` satisfy every prefix filter?"""
        dd = d.rstrip("/") + "/"
        return all(p.startswith(dd) or dd.startswith(p) for p in self.prefixes)

    def partitions(self):
        """Driver-side listing through the FS seam (``walk_tree`` with no
        session: the planner cannot start a job, so every BFS level is
        read here; only the dir frontier is held, like the reference's
        List).  Files are chunked
        into input partitions; readdir errors become one-row error
        partitions so the error contract covers the listing too.  NOTE:
        consumed path filters bind error rows as well (SQL semantics —
        a readdir-error row whose dir path fails the filter is dropped);
        query without path filters for full error visibility."""
        files, errors = walk_tree(self._fs().read_dir, self.root,
                                  descend=self._could_contain)
        files = [f for f in files if self._match(f)]
        errors = [e for e in errors if self._match(e[0])]
        parts = [InputPartition(("files", files[i:i + self.chunk]))
                 for i in range(0, len(files), self.chunk)]
        if errors:
            parts.append(InputPartition(("errors", errors)))
        return parts or [InputPartition(("files", []))]

    def read(self, partition) -> Iterator[tuple]:
        kind, payload = partition.value
        if kind == "errors":
            for path, msg in payload:
                yield (path, None, f"readdir error: {msg}")
            return
        fs = self._fs()
        for path in payload:
            try:
                yield (path, fs.open(path), None)
            except Exception as ex:  # open-error/open-panic -> row + error
                yield (path, None, f"open error: {path}: {ex}")


class PushdownCrawlReader(CrawlReader):
    """CrawlReader + path-filter pushdown (requires
    ``spark.sql.python.filterPushdown.enabled=true``, which
    ``session.get_spark`` sets)."""

    def pushFilters(self, filters):
        """Path-filter pushdown into the LISTING — the custom-source
        analogue of partition pruning: ``col("path").startswith(p)``
        prunes whole directory subtrees before a single readdir, and
        ``endswith`` (extension filters) drops files at the listing.
        Both are consumed exactly, so Spark plans no residual Filter."""
        for f in filters:
            if isinstance(f, StringStartsWith) and f.attribute == ("path",):
                self.prefixes.append(f.value)
            elif isinstance(f, StringEndsWith) and f.attribute == ("path",):
                self.suffixes.append(f.value)
            else:
                yield f


class CrawlStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the crawl: tail a directory tree for NEW files
    through the FS seam (``spark.readStream.format("crawl")``).

    Offset model: the sorted set of already-emitted file paths rides in
    the checkpointed offset dict.  That is exact for ANY file naming (no
    missed or duplicated files, exactly-once with the checkpoint) at the
    cost of offset size O(files seen) — right for bounded drop-zones,
    the workload this source targets; a cursor on monotonic (mtime,
    path) is the unbounded-scale variant.  Reads run driver-side (the
    SimpleDataSourceStreamReader contract — Spark prefetches and ships
    batches), so per-microbatch volume should stay modest; the batch
    source above is the bulk path.

    Error contract matches the batch reader: unreadable files and failed
    directories yield (path, null, error) rows, the stream continues.

    PRODUCER CONTRACT — atomic drop: a file is emitted the FIRST time it
    is listed and its path is then permanently in the seen-set, so a
    file caught mid-write would surface once with partial content and
    the finished version would never re-emit.  Producers must therefore
    write-then-rename into the watched tree (rename is atomic on
    POSIX/HDFS; on object stores, upload completion is the atomic
    publish) — the same convention every file-watching source assumes,
    and exactly what CrawlStreamWriter's staging-dir + rename commit
    does.  Writing in place into the watched tree is not supported —
    UNLESS ``.option("settle", "true")``: then an unseen file is
    admitted only once its (size, mtime) fingerprint is UNCHANGED
    across two consecutive listings (the micro-batch trigger interval
    is the settling window), so in-place writers surface complete
    files one batch late instead of partial ones.  Fingerprints ride
    in the checkpointed offset next to the seen-set — no wall-clock
    dependence, and replay stays exact.  Requires the filesystem to
    expose ``stat(path) -> (size, mtime_ns)`` (LocalFileSystem does);
    without it, settle mode degrades to the rename contract.
    """

    def __init__(self, options, fs=None):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("crawl stream requires .option('path', root)")
        self.fs_obj = fs
        self.fs_spec = options.get("fs", DEFAULT_FS)
        self.settle = str(options.get("settle", "false")).lower() == "true"

    def _fs(self):
        return self.fs_obj if self.fs_obj is not None else _load_fs(self.fs_spec)

    def initialOffset(self) -> dict:
        return {"seen": []}

    def _list(self):
        return walk_tree(self._fs().read_dir, self.root)

    def _rows(self, paths):
        fs = self._fs()
        for path in paths:
            try:
                yield (path, fs.open(path), None)
            except Exception as ex:
                yield (path, None, f"open error: {path}: {ex}")

    def read(self, start: dict):
        # iter(list), not a generator: Spark's prefetch cache both
        # next()s and copy.copy()s the returned iterator — a generator
        # isn't copyable and a bare list isn't an iterator
        seen = set(start.get("seen", []))
        files, _ = self._list()
        unseen = [p for p in files if p not in seen]
        if self.settle:
            new, pending = self._settle(unseen, start.get("pending", {}))
            end = {"seen": sorted(seen | set(new)), "pending": pending}
        else:
            new = unseen
            end = {"seen": sorted(seen | set(new))}
        return iter(list(self._rows(new))), end

    def _settle(self, unseen, pending):
        """Admit only files whose (size, mtime_ns) fingerprint matches
        the one recorded at the previous listing; everything else waits
        in the offset's pending map with its fresh fingerprint."""
        stat = getattr(self._fs(), "stat", None)
        if stat is None:           # seam can't fingerprint -> rename contract
            return unseen, {}
        admit, fresh = [], {}
        for p in unseen:
            try:
                fp = list(stat(p))
            except Exception:      # vanished mid-listing: retry next batch
                continue
            if pending.get(p) == fp:
                admit.append(p)
            else:
                fresh[p] = fp
        return admit, fresh

    def readBetweenOffsets(self, start: dict, end: dict):
        """Replay after failure: exactly the files that entered between
        the two committed offsets."""
        seen = set(start.get("seen", []))
        new = [p for p in end.get("seen", []) if p not in seen]
        return iter(list(self._rows(new)))

    def commit(self, end: dict) -> None:
        pass


class CrawlCommitMessage(WriterCommitMessage):
    def __init__(self, paths):
        self.paths = paths


class CrawlStreamWriter(DataSourceStreamWriter):
    """Streaming SINK through the FS seam: each micro-batch lands as a
    JSON-file-per-row tree under ``root/batch=<id>/`` — the inverse of
    the crawl (DataFrame -> the reference's one-object-per-file data
    model), against any :class:`~.pyfs.WritableFileSystem`.

    Exactly-once story: rows write into the (idempotent, per-batch)
    ``batch=<id>`` directory; ``commit`` seals it with a ``_SUCCESS``
    marker listing every file, written only after all partitions report.
    Readers treat unsealed batch dirs as in-flight, so a retried batch
    overwrites its own files and re-seals — no duplicates surface.
    ``abort`` leaves the unsealed dir for the retry to overwrite.

    The filesystem must be SHARED between driver and executors
    (``write`` runs in tasks, ``commit`` on the driver — true of any
    file sink's commit protocol): LocalFileSystem satisfies that in
    local mode and on shared mounts; on a multi-node cluster supply an
    object-store/NFS-backed implementation.  Staging is namespaced per
    writer instance (``inflight-<token>``), so concurrent queries
    writing to one root never collide.
    """

    def __init__(self, options, schema):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("crawl sink requires .option('path', root)")
        self.fs_spec = options.get("fs", DEFAULT_FS)
        self.names = schema.fieldNames()
        # driver-generated once, pickled to every task of this query
        import uuid
        self.token = uuid.uuid4().hex[:12]

    def write(self, iterator):
        import json as _json

        from pyspark import TaskContext

        fs = _load_fs(self.fs_spec)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        # batch id only arrives at commit(); stage files under the task's
        # partition prefix inside this WRITER's staging area (the commit
        # publishes them into batch=<id>/ via the recorded paths).
        out_dir = f"{self.root}/inflight-{self.token}"
        fs.mkdirs(out_dir)
        paths = []
        for i, row in enumerate(iterator):
            p = f"{out_dir}/p{pid:05d}-{i:08d}.json"
            fs.write(p, _json.dumps(row.asDict(recursive=True),
                                    sort_keys=True).encode())
            paths.append(p)
        return CrawlCommitMessage(paths)

    def commit(self, messages, batchId):
        # Publish by RENAME: one metadata call per staged file, so the
        # batch payload never streams byte-for-byte through the driver
        # (rename is metadata-only on POSIX/HDFS; object stores do a
        # server-side copy).  Copy+delete remains only as a fallback for
        # minimal FS implementations that predate the rename() method.
        import json as _json

        fs = _load_fs(self.fs_spec)
        batch_dir = f"{self.root}/batch={batchId}"
        fs.mkdirs(batch_dir)
        move = getattr(fs, "rename", None)
        moved = []
        for m in messages:
            for p in (m.paths if m else []):
                name = p.rsplit("/", 1)[1]
                dst = f"{batch_dir}/{name}"
                if move is not None:
                    move(p, dst)
                else:
                    fs.write(dst, fs.open(p))
                    fs.delete(p)
                moved.append(dst)
        fs.write(f"{batch_dir}/_SUCCESS",
                 _json.dumps(sorted(moved)).encode())

    def abort(self, messages, batchId):
        pass  # unsealed files are overwritten by the retry
