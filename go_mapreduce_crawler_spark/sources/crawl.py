"""Distributed file enumeration — the reference's List + Searcher operators.

Reference behavior (see SURVEY.md §2.1 ops 1-2; reference
internal/workerpool/pool.go:168-196 and internal/filecrawler/crawler.go:113-155):
level-synchronous BFS over a directory tree with a worker pool per level;
directories become the next BFS level, files are streamed to the map stage.

Spark-first realization:

* ``list_files`` — the production path.  Delegates to Spark's own
  distributed listing (``InMemoryFileIndex``) via
  ``recursiveFileLookup``; on a cluster this parallelizes across executors
  once the directory count passes
  ``spark.sql.sources.parallelPartitionDiscovery.threshold``.  This is what
  every real read in the engine uses.

* ``list_files_bfs`` — the explicit parity implementation of the
  level-synchronous algorithm, kept for (a) custom filesystems Spark has no
  connector for and (b) demonstrating the operator itself.

* ``bfs_levels`` — the one BFS expansion behind ``list_files_bfs``,
  ``Pool.list`` and the ``crawl`` data source's listing.  It follows the
  policy Spark's own ``InMemoryFileIndex`` uses: a level whose frontier is
  at most ``spark.sql.sources.parallelPartitionDiscovery.threshold`` wide
  is expanded on the driver; the first wider frontier goes out as ONE job
  in which each task expands its seed nodes' whole subtrees, and the
  driver joins level k of every seed in frontier order.  That reproduces
  the exact level order of the reference's per-level loop (pool.go:182
  ``wg.Wait()``) with at most one Spark job per listing instead of one per
  level.  Only the frontier (directories) and the per-seed results pass
  through the driver, as in Spark's own parallel listing.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession


def list_files(spark: SparkSession, root: str, glob: str | None = None) -> DataFrame:
    """Production listing: one-column DataFrame of file paths under root."""
    reader = (spark.read.format("binaryFile")
              .option("recursiveFileLookup", "true"))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(root).select("path")


def _default_searcher(path: str) -> tuple[list[str], list[str]]:
    """Searcher: list one directory -> (subdirs, files).

    Parity with reference crawler.go:120-154 (dir/file split at 138-152);
    delegates to the canonical LocalFileSystem so the dir/file split has
    exactly one implementation.
    """
    from .pyfs import LocalFileSystem
    return LocalFileSystem().read_dir(path)


def _discovery_threshold(spark: SparkSession) -> int:
    return int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"))


def bfs_levels(
    start: Iterable[Any],
    search: Callable[[Any], Any],
    children: Callable[[Any], Iterable[Any]],
    spark: SparkSession | None = None,
    workers: int = 32,
    max_levels: int | None = None,
) -> list[list[tuple[Any, Any]]]:
    """Level-synchronous BFS from ``start``: the levels in order, each a
    list of ``(node, search(node))`` pairs; ``children(result)`` gives a
    node's next-level nodes.  At most ``max_levels`` levels are searched.

    With ``spark`` given, a frontier wider than Spark's discovery
    threshold is expanded in one job of ``min(workers, len(frontier))``
    tasks, each running this same loop without a session over its seeds'
    subtrees (``search``/``children`` must then be picklable).  Without
    ``spark`` every level is expanded where the call runs.
    """
    threshold = None if spark is None else _discovery_threshold(spark)
    levels: list[list[tuple[Any, Any]]] = []
    frontier = list(start)
    while frontier and (max_levels is None or len(levels) < max_levels):
        if threshold is not None and len(frontier) > threshold:
            rest = None if max_levels is None else max_levels - len(levels)

            def subtrees(seeds: Iterable[Any]) -> Iterable[list]:
                for seed in seeds:
                    yield bfs_levels([seed], search, children, max_levels=rest)

            n = max(1, min(workers, len(frontier)))
            trees = (spark.sparkContext.parallelize(frontier, n)
                     .mapPartitions(subtrees).collect())
            depth = max(len(t) for t in trees)
            levels.extend([pair for t in trees if k < len(t) for pair in t[k]]
                          for k in range(depth))
            break
        level = [(node, search(node)) for node in frontier]
        levels.append(level)
        frontier = [c for _, result in level for c in children(result)]
    return levels


def walk_tree(
    read_dir: Callable[[str], tuple[list[str], list[str]]],
    root: str,
    spark: SparkSession | None = None,
    workers: int = 32,
    on_error: str = "record",
    descend: Callable[[str], bool] | None = None,
) -> tuple[list[str], list[tuple[str, str]]]:
    """Directory-tree walk over ``bfs_levels``: ``(files, errors)``, both
    sorted.  ``read_dir(dir) -> (dirs, files)`` is the Searcher
    (crawler.go:120-154).

    ``on_error="record"``: a raising ``read_dir`` (the reference's
    readdir-error / readdir-panic kinds, crawler_test.go:417-427) records
    ``(dir_path, message)`` and skips that subtree; the walk continues,
    on the driver and inside a listing task alike.  ``"raise"`` lets the
    error fail the walk.  ``descend(dir) -> bool`` prunes subtrees before
    they are read (filter pushdown), the root included.
    """
    record = on_error == "record"

    def search(d: str) -> tuple[list[str], list[str], tuple[str, str] | None]:
        try:
            dirs, files = read_dir(d)
        except Exception as ex:
            if not record:
                raise
            return [], [], (d, f"{d}: {ex}")
        if descend is not None:
            dirs = [s for s in dirs if descend(s)]
        return dirs, files, None

    start = [root] if descend is None or descend(root) else []
    levels = bfs_levels(start, search, lambda r: r[0], spark=spark,
                        workers=workers)
    results = [r for level in levels for _, r in level]
    return (sorted(f for r in results for f in r[1]),
            sorted(r[2] for r in results if r[2]))


def list_files_bfs(
    spark: SparkSession,
    root: str,
    workers: int = 32,
    searcher: Callable[[str], tuple[list[str], list[str]]] | None = None,
    on_error: str = "raise",
) -> list[str] | tuple[list[str], list[tuple[str, str]]]:
    """Level-synchronous BFS listing (reference pool.go:168-196 semantics)
    through ``walk_tree``: narrow levels on the driver, the rest in at
    most one job.

    Returns the sorted list of file paths.  Callers that need true
    no-driver-materialization use ``list_files`` instead.

    ``on_error="record"``: a raising searcher records ``(dir_path,
    message)`` instead of failing the listing — that directory's subtree
    is unreachable, everything else continues — and the return becomes
    ``(files, errors)``.
    """
    files, errors = walk_tree(searcher or _default_searcher, root,
                              spark=spark, workers=workers, on_error=on_error)
    return (files, errors) if on_error == "record" else files
