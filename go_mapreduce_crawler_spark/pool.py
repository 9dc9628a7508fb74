"""Pool — parity with the reference's generic worker-pool operators
(reference internal/workerpool/pool.go): List, Transform, Accumulate.

The reference exposes these as standalone dataflow operators over channels
(SURVEY.md §3.2); here each is a thin, explicitly-named wrapper over the
Spark primitive that implements the same contract, so library users of the
reference find the same surface:

  Pool.list        -> level-synchronous BFS expansion (pool.go:168-196)
  Pool.transform   -> parallel map, order NOT preserved (pool.go:225-243)
  Pool.accumulate  -> per-partition partial fold, <=1 partial per
                      partition (pool.go:102-121)
  Crawler.collect  -> the composed pipeline (crawler.py)

These wrappers stay DataFrame-first: ``transform`` with Column expressions
compiles to whole-stage-codegen'd projections; the Python-callable form
uses Arrow-batched ``mapInPandas`` (never row-at-a-time UDFs).
``accumulate`` deliberately surfaces Spark's own partial+final aggregation
instead of re-implementing the fold imperatively — the monoid contract
(neutral element + associative combine, crawler.go:31) is exactly Spark's
aggregate-function contract.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.crawl import bfs_levels


class Pool:
    """Stateless operator namespace (the reference Pool is zero-sized —
    enforced by unsafe.Sizeof==0 tests, pool_test.go:89-91)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # ---- List (pool.go:168-196) -------------------------------------
    def list(
        self,
        start: Any,
        searcher: Callable[[Any], list[Any]],
        workers: int = 32,
        max_levels: int = 10_000,
    ) -> list[Any]:
        """Level-synchronous BFS from ``start``; ``searcher`` maps a parent
        to its children.  Returns every element reached, including
        ``start``, level by level in the reference's order (pool.go:182
        ``wg.Wait()`` between levels): ``start`` plus up to ``max_levels``
        levels of children, the last of which is not searched.

        Narrow levels (at most Spark's
        ``parallelPartitionDiscovery.threshold`` elements) are searched on
        the driver; the first wider level and everything below it run as
        one job over ``workers`` partitions (``sources.crawl.bfs_levels``),
        so ``searcher`` must be picklable.
        """
        levels = bfs_levels([start], lambda x: list(searcher(x)),
                            lambda kids: kids, spark=self.spark,
                            workers=workers, max_levels=max_levels)
        return [start] + [c for level in levels for _, kids in level
                          for c in kids]

    # ---- Transform (pool.go:225-243) --------------------------------
    def transform(
        self,
        df: DataFrame,
        transformer: Sequence[Column] | Callable[[pd.DataFrame], pd.DataFrame],
        schema: str | None = None,
        default: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Parallel map over rows.

        * Column expressions -> ``select`` (JVM-side, codegen — the fast
          path, always prefer this form).
        * Python callable (pandas batch -> pandas batch) -> ``mapInPandas``
          with Arrow transfer; requires ``schema``.
        Output order is not defined, matching the reference.

        ``default``: per-record panic recovery (reference
        crawler.go:164-171 wraps the transformer in ``recover()`` — a
        panicking record yields the zero value and the pipeline
        continues).  When set, a raising batch is retried row-by-row so
        healthy rows survive, and each failing row contributes one
        ``default`` row instead of failing the task.  Left None, a raise
        propagates as a task failure (fail-fast — the right default for
        production ETL).
        """
        if callable(transformer) and not isinstance(transformer, Column):
            if schema is None:
                raise ValueError("schema is required for a Python transformer")

            def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if default is None:
                        yield transformer(pdf)
                        continue
                    try:
                        yield transformer(pdf)
                    except Exception:
                        # Batch poisoned: isolate the bad rows so the
                        # rest still transform (recover-per-record).
                        out = []
                        for i in range(len(pdf)):
                            row = pdf.iloc[i:i + 1]
                            try:
                                out.append(transformer(row))
                            except Exception:
                                out.append(pd.DataFrame([default]))
                        if out:
                            yield pd.concat(out, ignore_index=True)

            return df.mapInPandas(run, schema=schema)
        return df.select(*transformer)

    # ---- Accumulate (pool.go:102-121) -------------------------------
    def accumulate(self, df: DataFrame, *agg_cols: Column,
                   workers: int | None = None) -> DataFrame:
        """Global aggregate = per-partition partial fold + final combine.

        Spark plans this as partial+final HashAggregate automatically —
        the explicit analogue of the reference's per-worker private
        accumulator (pool.go:72) plus single combiner (crawler.go:75-91),
        except the final combine is itself parallel (strictly better).
        ``workers`` forces the partial-stage parallelism like
        AccumulatorWorkers; leave None to let Spark size it.
        """
        if workers:
            df = df.repartition(workers)
        return df.agg(*agg_cols)

    def partials(self, df: DataFrame, zero: Any,
                 fold: Callable[[Any, pd.DataFrame], Any],
                 schema: str) -> DataFrame:
        """Expose the partial-aggregate stream itself (<=1 row per
        partition), for custom non-SQL monoids — the direct analogue of
        Accumulate's output channel carrying per-worker partials
        (pool.go:74-83).  ``fold(acc, batch) -> acc`` runs per Arrow batch;
        the single-row result per partition is emitted at input close.
        """
        def per_partition(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = zero
            saw = False
            for pdf in batches:
                saw = True
                acc = fold(acc, pdf)
            if saw:
                yield pd.DataFrame([acc])

        return df.mapInPandas(per_partition, schema=schema)
