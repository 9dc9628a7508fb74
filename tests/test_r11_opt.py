"""Focused tests for the r11 optimization round's internal changes.

Each test pins an internals change whose DEFECT MODE is silent value
divergence, not a crash: the generated-SQL BPE rewrite (literal
escaping) and the pyarrow meta sidecar (Spark-read compatibility +
None).  (The BM25 relations' values are pinned in
tests/test_retrieval_index.py.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bpe_rewrite_expr_matches_python_replace(spark):
    """_bpe_rewrite_expr is a generated-SQL fold; its literal escaping
    must survive quotes and backslashes in merge tokens (corpus words
    are arbitrary strings).  Reference = the same non-chaining batched
    rewrite done with plain Python str.replace."""
    from types import SimpleNamespace

    from go_mapreduce_crawler_spark.operators.curation import (
        _bpe_rewrite_expr)

    batch = [
        SimpleNamespace(a="it's", b="a"),
        SimpleNamespace(a="back\\slash", b="b'q"),
        SimpleNamespace(a="plain", b="word"),
    ]
    doc = " it's  a  back\\slash  b'q  plain  word  it's  b'q "
    expect = doc
    for r in batch:
        expect = expect.replace(f" {r.a}  {r.b} ", f" {r.a}_{r.b} ")

    df = spark.createDataFrame([(doc,)], "s string")
    got = df.select(_bpe_rewrite_expr(batch).alias("s")).collect()[0].s
    assert got == expect, (got, expect)


def test_bpe_rewrite_expr_equals_column_form(spark):
    """The generated-SQL fold must equal the previous
    F.array(F.struct(F.lit...)) construction value-for-value on a
    corpus-shaped sample (the form it replaced)."""
    from types import SimpleNamespace

    from go_mapreduce_crawler_spark.operators.curation import (
        _bpe_rewrite_expr)

    batch = [SimpleNamespace(a=f"w{i}", b=f"w{i + 1}") for i in (1, 3, 5)]
    rows = [(f" w0  w1  w2  w3  w4  w5  w6  w{i} ",) for i in range(8)]
    df = spark.createDataFrame(rows, "s string")

    mlit = F.array(*[
        F.struct(F.lit(f" {r.a}  {r.b} ").alias("pat"),
                 F.lit(f" {r.a}_{r.b} ").alias("rep"))
        for r in batch])
    old = F.aggregate(mlit, F.col("s"),
                      lambda acc, m: F.replace(acc, m["pat"], m["rep"]))
    out = df.select(_bpe_rewrite_expr(batch).alias("new"),
                    old.alias("old")).collect()
    for r in out:
        assert r.new == r.old, (r.new, r.old)


@pytest.mark.parametrize("mx", [0, 4242, None])
def test_meta_sidecar_roundtrip(spark, tmp_path, mx):
    """_write_meta's pyarrow parquet must round-trip through BOTH
    _read_meta and a plain spark.read.parquet (external readers keep
    working), including the None running-max of an empty prefix."""
    from go_mapreduce_crawler_spark.streaming.stateful import (
        _read_meta, _write_meta)

    state = str(tmp_path / "state")
    _write_meta(state, 3, mx)
    assert _read_meta(state, 3) == mx
    row = spark.read.parquet(f"{state}/state_v3/meta").collect()[0]
    assert row["mx"] == mx


def test_meta_sidecar_overwrite_idempotent(spark, tmp_path):
    """A retried batch overwrites its own meta (the versioned-snapshot
    idempotence contract) — the second write must win cleanly."""
    from go_mapreduce_crawler_spark.streaming.stateful import (
        _read_meta, _write_meta)

    state = str(tmp_path / "state")
    _write_meta(state, 7, 10)
    _write_meta(state, 7, 99)
    assert _read_meta(state, 7) == 99
