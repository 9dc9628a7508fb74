"""Crawler — parity with the reference's only entry point,
``Crawler[T, R].Collect`` (reference internal/filecrawler/crawler.go:204-255).

Semantics reproduced (SURVEY.md §2.1 op 6, §2.2 error-handling row):

* Recursively enumerate all files under ``root`` (List + Searcher).
* JSON-decode each file into a record of caller-declared schema
  (Transform; crawler.go:158-201).  Unknown fields dropped, missing
  fields -> zero values — matched via PERMISSIVE parse + coalesce.
* A malformed / unreadable file contributes the **neutral element** (Go
  zero value) and the pipeline continues (crawler.go:173-199).  The
  reference's error matrix (crawler_test.go:395-455) distinguishes five
  failure kinds — open-panic, open-error, read-error, readdir-panic,
  readdir-error — all with the same contract: neutral element + recorded
  error + pipeline continues.  Spark-side mapping: decode failures ride
  the PERMISSIVE ``_corrupt_record`` channel; I/O-unreadable files are
  skipped by the scan (``ignoreCorruptFiles``) and restored as neutral
  elements by anti-joining the listing (see ``collect``).
* Fold records into partial aggregates, combine partials into one final
  result (Accumulate + Combine; monoid contract crawler.go:31, 41-43) —
  Spark's partial+final HashAggregate implements exactly this contract.
* Return the final aggregate **alongside** one recorded error if any file
  failed (``(R, error)`` return, crawler.go:253).  The reference's
  "first" error is a race (sync.Once, crawler.go:131), so the faithful
  contract is "any one error", which we satisfy deterministically with
  the lexicographically-first corrupt file path.

Scale design: the whole crawl is ONE Spark job — distributed listing,
pipelined scan+decode+partial-agg in each task, one shuffle to the final
agg.  Nothing is materialized on the driver except the final row, so the
same code handles 3 files or 3 billion.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sources.crawl import list_files_bfs
from .sources.pyfs import FileSystem

_CORRUPT = "_corrupt_record"


def _norm_path(col: Column) -> Column:
    """Canonical local form of a file URI.

    ``binaryFile`` listing yields ``file:/p``, ``input_file_name()``
    yields ``file:///p`` — normalize both so the unreadable-file
    anti-join keys match."""
    return F.regexp_replace(col, "^file:/+", "/")


@dataclass
class CrawlConfig:
    """Parity with reference Configuration (crawler.go:17-21).

    Worker counts map to Spark parallelism knobs rather than goroutine
    counts: listing/decoding parallelism is one task per input split, and
    ``accumulator_workers`` bounds partial-aggregation parallelism via an
    explicit repartition (only applied when the caller asks — Spark's
    default task-per-split is usually the right answer).
    """
    search_workers: int = 32
    file_workers: int = 32
    accumulator_workers: int | None = None


@dataclass
class CrawlResult:
    """The reference returns (R, error); both sides, never exception-only."""
    value: dict[str, Any]
    n_files: int = 0
    n_corrupt: int = 0
    n_dir_errors: int = 0
    error: str | None = None


_ZEROS = {
    T.LongType(): 0, T.IntegerType(): 0, T.ShortType(): 0, T.ByteType(): 0,
    T.DoubleType(): 0.0, T.FloatType(): 0.0,
    T.StringType(): "", T.BooleanType(): False,
}


def zero_value(dt: T.DataType) -> Any:
    """Go zero value for a field type (crawler.go:179 `def T` semantics)."""
    return _ZEROS.get(dt)


class Crawler:
    """Compose List -> Transform -> Accumulate -> Combine over a JSON tree."""

    def __init__(self, spark: SparkSession, config: CrawlConfig | None = None):
        self.spark = spark
        self.config = config or CrawlConfig()

    def read_records(self, root: str, schema: T.StructType,
                     skip_unreadable: bool = False) -> DataFrame:
        """Transform stage: every file under root -> one record row.

        PERMISSIVE mode + ``_corrupt_record`` reproduces "bad record keeps
        flowing"; corrupt rows carry nulls which ``collect`` coalesces to
        zero values so they contribute the neutral element.
        ``wholetext=true`` matches the reference's one-JSON-object-per-file
        model (crawler.go:189-199).

        ``skip_unreadable`` maps the reference's open-error / read-error
        kinds (crawler.go:173-199): I/O failures mid-scan (truncated
        gzip, permission denial, file vanished after listing) drop the
        file from THIS frame instead of failing the job; ``collect``
        restores each as a neutral element by diffing the listing.
        """
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField(_CORRUPT, T.StringType(), True)]
        )
        flag = "true" if skip_unreadable else "false"
        return (
            self.spark.read.schema(read_schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", _CORRUPT)
            .option("wholetext", "true")
            .option("recursiveFileLookup", "true")
            .option("ignoreCorruptFiles", flag)
            .option("ignoreMissingFiles", flag)
            .json(root)
            .withColumn("_file", F.input_file_name())
        )

    def read_records_fs(
        self, root: str, schema: T.StructType, filesystem: FileSystem,
    ) -> tuple[DataFrame, list[tuple[str, str]]]:
        """Transform stage over a PLUGGABLE FileSystem (the reference's
        fs.FileSystem seam, internal/fs/filesystem.go:19-41 — the hook
        its whole error-injection matrix runs through).

        Listing runs the level-synchronous BFS with the seam's
        ``read_dir`` (``list_files_bfs``: narrow levels on the driver, the
        rest in at most one job; readdir failures recorded, subtree
        skipped, crawl continues); reads+decodes run in Arrow-batched
        tasks with the filesystem object shipped in the closure — the
        path relation is built already split into ``file_workers``
        partitions (no shuffle), one task per slice, the Spark analogue
        of the reference handing the FileSystem to each worker
        goroutine.  A file whose ``open`` raises or whose JSON doesn't
        decode to the declared field types yields a ``_is_corrupt`` row
        (Go json.Decode fails the whole file -> zero value,
        crawler.go:189-199).

        Use the Spark-native ``read_records`` for any storage Spark has a
        connector for — this seam is for custom/virtual filesystems and
        fault injection.
        """
        files, dir_errors = list_files_bfs(
            self.spark, root, workers=self.config.search_workers,
            searcher=filesystem.read_dir, on_error="record")

        out_schema = T.StructType(
            list(schema.fields)
            + [T.StructField("_is_corrupt", T.BooleanType(), False),
               T.StructField("_file", T.StringType(), False)])
        if not files:
            return self.spark.createDataFrame([], out_schema), dir_errors

        _OK_TYPES = {
            T.LongType(): int, T.IntegerType(): int, T.ShortType(): int,
            T.ByteType(): int, T.DoubleType(): (int, float),
            T.FloatType(): (int, float), T.StringType(): str,
            T.BooleanType(): bool,
        }
        fields = [(f_.name, _OK_TYPES.get(f_.dataType)) for f_ in schema.fields]

        def kernel(batches):
            import json as _json

            import pandas as _pd

            for pdf in batches:
                rows = []
                for p in pdf["_file"]:
                    row: dict[str, Any] = {name: None for name, _ in fields}
                    corrupt = False
                    try:
                        obj = _json.loads(filesystem.open(p))
                        if not isinstance(obj, dict):
                            raise ValueError("not a JSON object")
                        for name, ok in fields:
                            v = obj.get(name)
                            if v is None:
                                continue  # missing field -> zero, not error
                            if ok is not None and (not isinstance(v, ok)
                                                   or isinstance(v, bool)
                                                   and ok is not bool):
                                raise ValueError(f"field {name}: bad type")
                            row[name] = v
                    except Exception:
                        corrupt = True
                        row = {name: None for name, _ in fields}
                    row["_is_corrupt"] = corrupt
                    row["_file"] = p
                    rows.append(row)
                yield _pd.DataFrame(
                    rows, columns=[n for n, _ in fields] + ["_is_corrupt", "_file"])

        n_parts = max(1, min(self.config.file_workers, len(files)))
        paths = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize([(p,) for p in files], n_parts),
            T.StructType([T.StructField("_file", T.StringType(), False)]))
        return paths.mapInPandas(kernel, out_schema), dir_errors

    def collect(
        self,
        root: str,
        schema: T.StructType,
        agg_exprs: dict[str, Column] | None = None,
        filesystem: FileSystem | None = None,
    ) -> CrawlResult:
        """The flagship pipeline (reference crawler.go:204-255).

        ``agg_exprs``: result-field -> aggregate Column over the record
        fields (defaults to sum of every numeric field — the app.go:54
        golden).  The record scan runs as one job: scan+decode+partial-agg
        per task, single final-agg after the shuffle, plus corrupt-file
        accounting folded into the same pass.

        Unreadable files (reference open-error/read-error kinds): the
        scan skips them (``ignoreCorruptFiles``), and a metadata-only
        listing anti-joined against the scanned ``_file`` set restores
        each as a neutral-element row with a recorded error — the
        reference contract for all five failure kinds
        (crawler_test.go:395-455).  The diff join shuffles only file
        PATHS (never payloads), so at a million files it moves megabytes.

        ``filesystem``: route listing + reading through a pluggable
        FileSystem (``read_records_fs``) instead of Spark's connectors —
        the reference's fs.FileSystem seam.  readdir failures are
        recorded and the crawl continues.
        """
        # Neutral-element semantics: null (corrupt or missing) -> zero value.
        clean_cols = []
        for f_ in schema.fields:
            z = zero_value(f_.dataType)
            col = F.col(f_.name)
            if z is not None:
                col = F.coalesce(col, F.lit(z).cast(f_.dataType))
            clean_cols.append(col.alias(f_.name))

        dir_errors: list[tuple[str, str]] = []
        if filesystem is not None:
            records, dir_errors = self.read_records_fs(root, schema, filesystem)
            clean = records.select(*clean_cols, "_is_corrupt", "_file")
        else:
            records = self.read_records(root, schema, skip_unreadable=True)
            clean = records.select(
                *clean_cols,
                F.col(_CORRUPT).isNotNull().alias("_is_corrupt"),
                _norm_path(F.col("_file")).alias("_file"),
            )
            # Files the scan could not read at all (vs decode failures,
            # which arrive as _corrupt_record rows): one LEFT join from
            # the metadata-only listing onto the scanned rows, so the
            # JSON corpus is planned exactly once (an anti-join + union
            # referenced `clean` twice, re-running the scan+decode in
            # the same job).  Unmatched listed files coalesce to the
            # neutral element with _is_corrupt=true — identical rows to
            # the old union, same multiplicity for matched files.  The
            # join shuffles paths and already-aggregatable scalar fields,
            # never payloads.  BOTH join sides use input_file_name() so
            # the keys carry the same URI encoding (binaryFile's `path`
            # column does NOT percent-encode, input_file_name does — a
            # file with a space would otherwise be counted scanned AND
            # unreadable).
            listed = (self.spark.read.format("binaryFile")
                      .option("recursiveFileLookup", "true").load(root)
                      .select(_norm_path(F.input_file_name()).alias("_file")))
            clean = listed.join(clean, "_file", "left").select(
                *[F.coalesce(F.col(f_.name),
                             F.lit(zero_value(f_.dataType)).cast(f_.dataType))
                  .alias(f_.name) for f_ in schema.fields],
                F.coalesce(F.col("_is_corrupt"), F.lit(True))
                 .alias("_is_corrupt"),
                F.col("_file"),
            )

        if self.config.accumulator_workers:
            clean = clean.repartition(self.config.accumulator_workers)

        if agg_exprs is None:
            agg_exprs = {
                f_.name + "_sum": F.sum(f_.name)
                for f_ in schema.fields
                if isinstance(f_.dataType, T.NumericType)
            }

        aggs = [c.alias(n) for n, c in agg_exprs.items()] + [
            F.count(F.lit(1)).alias("_n_files"),
            F.sum(F.when(F.col("_is_corrupt"), 1).otherwise(0)).alias("_n_corrupt"),
            F.min(F.when(F.col("_is_corrupt"), F.col("_file"))).alias("_err_file"),
        ]
        row = clean.agg(*aggs).collect()[0].asDict()

        n_files = row.pop("_n_files") or 0
        n_corrupt = row.pop("_n_corrupt") or 0
        err_file = row.pop("_err_file")
        # The reference records "any one" error (its first-error is a
        # sync.Once race, crawler.go:131); ours is the deterministic
        # lexicographic first across file and readdir failures.
        error = f"corrupt or unreadable file: {err_file}" if n_corrupt else None
        if dir_errors and (err_file is None or dir_errors[0][0] < err_file):
            error = f"readdir error: {dir_errors[0][1]}"
        # Zero-file tree => neutral-element result, like the reference's
        # zero-initialized finalResult (crawler.go:231).
        for k, v in list(row.items()):
            if v is None:
                row[k] = 0
        return CrawlResult(value=row, n_files=n_files,
                           n_corrupt=n_corrupt,
                           n_dir_errors=len(dir_errors), error=error)
