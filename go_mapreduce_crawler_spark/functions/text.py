"""The whitespace tokenizer of document text, the package's one
Spark-side ``split(text, ' ')``: the oracles' ``string_split(text, ' ')``.
NULL text has no tokens; empty text has one empty token, and each
extra space adds another, in both engines."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def words(col: Column | str = "text") -> Column:
    """The tokens of ``col`` as array<string>."""
    return F.split(col, " ")


def words_sql(col: str = "text") -> str:
    """``words(col)`` as a SQL string, for generated SQL."""
    return f"split({col}, ' ')"
