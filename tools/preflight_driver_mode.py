"""Full driver-mode pre-flight: the round gate, reproduced exactly.

Mimics the grading driver: a FRESH VANILLA SparkSession (none of the
repo's session configs), every ``queries()`` entry in dict order, the
DuckDB oracle run side-by-side at sf0.01, and the same order-insensitive
(count, schema, value-hash) compare the driver records.  Writes one JSON
log, tools/preflight_{tag}.json — a local log, not committed
(.gitignore); CHANGES.md takes the evidence.

Run:  python tools/preflight_driver_mode.py [sf_dir] [round_tag]
Exit: non-zero if any oracle query mismatches or errors.
"""

from __future__ import annotations

import json
import os
import sys
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
tag = sys.argv[2] if len(sys.argv) > 2 else "r04"

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)

from pyspark.sql import SparkSession  # noqa: E402

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_utils import compare, duck_connection  # noqa: E402

queries = entrymod.queries()
oracles = entrymod.oracle_sql()
con = duck_connection(sf_dir)

t0 = time.time()
results: dict[str, dict] = {}
n_match = n_rows_only = 0
failures: list[str] = []
for name, fn in queries.items():
    row: dict = {}
    try:
        if name in oracles:
            problems = compare(fn(spark, sf_dir), con, oracles[name], name)
            row["status"] = "match" if not problems else "MISMATCH"
            if problems:
                row["problems"] = problems[:3]
                failures.append(name)
            else:
                n_match += 1
        else:
            n = fn(spark, sf_dir).count()
            row["status"] = "rows_only"
            row["rows"] = n
            n_rows_only += 1
    except Exception as ex:
        row["status"] = "ERROR"
        row["error"] = f"{type(ex).__name__}: {ex}"[:300]
        failures.append(name)
    results[name] = row

log = {
    "tag": tag,
    "sf_dir": sf_dir,
    "n_queries": len(queries),
    "n_oracle_match": n_match,
    "n_rows_only": n_rows_only,
    "failures": failures,
    "elapsed_sec": round(time.time() - t0, 1),
    "results": results,
}
out = os.path.join(repo, "tools", f"preflight_{tag}.json")
with open(out, "w") as fh:
    json.dump(log, fh, indent=1)
print(f"preflight {tag}: {n_match} oracle matches + {n_rows_only} rows-only"
      f" of {len(queries)} queries, {len(failures)} failures,"
      f" {log['elapsed_sec']}s -> {out}")
sys.exit(1 if failures else 0)
