"""Full-surface oracle sweep at an arbitrary SF (default sf0.1).

Same compare as the driver / preflight, but built for the BIG local SF:
each DuckDB oracle runs under a watchdog that calls ``con.interrupt()``
after ORACLE_BUDGET_SEC, so a slow oracle records ``skipped_slow_oracle``
instead of wedging the sweep, and each Spark collect is guarded by
COLLECT_CAP rows (a result too big to collect records ``too_big`` — an
output-cardinality bug, not a harness limit).

Run:  python tools/sf_sweep.py [sf_dir] [round_tag] [name_filter]
Log:  tools/sf_sweep_{tag}.json — a local log, not committed
      (.gitignore); CHANGES.md takes the evidence.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
tag = sys.argv[2] if len(sys.argv) > 2 else "r05"
name_filter = sys.argv[3] if len(sys.argv) > 3 else ""

ORACLE_BUDGET_SEC = float(os.environ.get("SWEEP_ORACLE_BUDGET", "120"))
# 12M rows ~ 400 MB pandas: big enough to value-check the all-pairs
# dedup diagnostics (8.9M jaccard / 8.3M containment rows at sf0.1 —
# this synthetic corpus is a near-clique, 71% of doc pairs share
# jaccard >= 0.5), small enough to catch a true runaway (the unbounded
# interval-overlap bug this guard exists for emitted 17M and growing).
COLLECT_CAP = int(os.environ.get("SWEEP_COLLECT_CAP", "12000000"))

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)

from pyspark.sql import SparkSession  # noqa: E402

# Unlike the sf0.01 preflight (a strict driver mirror), the big-SF
# sweep collects multi-million-row results — give the local driver the
# heap + Arrow transfer those collects need.
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.driver.memory", "12g")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_utils import (  # noqa: E402
    compare, compare_big, duck_connection)

BIG_ROWS = 200_000  # above this, the vectorized compare path

queries = entrymod.queries()
oracles = entrymod.oracle_sql()
con = duck_connection(sf_dir)

# The 3 connected-components queries have recursive-CTE oracles whose
# transitive closure blows up on DENSE similarity graphs (at sf0.1 the
# 5000-doc corpus yields 8.9M jaccard>=0.5 pairs — a near-clique, so
# edges JOIN reach materializes ~10^10 rows and never finishes).  The
# driver still runs the SQL oracle at sf0.01 where it is fine; HERE the
# ground truth is a third, independent formulation: the edge relation
# from the matching pair oracle (runs in seconds) + Python union-find.
_COMPONENTS_EDGE_SQL = {
    "dedup_components": None,          # filled below from the oracles
    "dedup_components_bigstar": None,
    "dedup_components_lsh": None,
}
_COMPONENTS_EDGE_SQL["dedup_components"] = oracles["dedup_jaccard_pairs"]
_COMPONENTS_EDGE_SQL["dedup_components_bigstar"] = \
    oracles["dedup_jaccard_pairs"]
_COMPONENTS_EDGE_SQL["dedup_components_lsh"] = oracles["dedup_minhash_lsh"]


def compare_components_unionfind(df, edge_sql, name):
    """(cluster_id=min doc_id, n_members) via union-find over the pair
    oracle's edges — compares against the Spark result exactly."""
    edges = con.execute(
        f"SELECT doc_a, doc_b FROM ({edge_sql})").fetchnumpy()
    parent: dict[int, int] = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(edges["doc_a"].tolist(), edges["doc_b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for node in parent:
        clusters.setdefault(find(node), []).append(node)
    expected = sorted((cid, len(m)) for cid, m in clusters.items()
                      if len(m) >= 2)
    got = sorted((r["cluster_id"], r["n_members"])
                 for r in df.toPandas().to_dict("records"))
    if expected != got:
        return [f"{name}: union-find ground truth differs "
                f"(expected {len(expected)} clusters, got {len(got)})"]
    return []


def compare_with_watchdog(fn, name, n_rows):
    """compare(), but interrupt DuckDB if the oracle blows the budget."""
    done = threading.Event()
    interrupted = []

    def watchdog():
        if not done.wait(ORACLE_BUDGET_SEC):
            # Re-check AFTER the wait (ADVICE r05): if the budget
            # expires just as compare() returns, done.set() in the
            # finally may already have run — interrupting then would
            # cancel the NEXT query's oracle and misattribute the
            # failure.  A residual sliver remains (set() between this
            # check and interrupt()), acceptable for a diagnostics
            # tool; the flag records intent either way.
            if done.is_set():
                return
            interrupted.append(True)
            con.interrupt()

    cmp_fn = compare_big if n_rows > BIG_ROWS else compare
    w = threading.Thread(target=watchdog, daemon=True)
    w.start()
    try:
        return cmp_fn(fn(spark, sf_dir), con, oracles[name], name), False
    except Exception:
        if interrupted:
            return None, True
        raise
    finally:
        done.set()


t0 = time.time()
results: dict[str, dict] = {}
counts = {"match": 0, "rows_only": 0, "skipped_slow_oracle": 0,
          "too_big": 0}
failures: list[str] = []
for name, fn in queries.items():
    if name_filter and name_filter not in name:
        continue
    row: dict = {}
    tq = time.time()
    try:
        # Cardinality guard first: a result the driver could not even
        # collect is an engine-semantics bug at this SF.
        n = fn(spark, sf_dir).count()
        if n > COLLECT_CAP:
            row["status"] = "too_big"
            row["rows"] = n
            counts["too_big"] += 1
            failures.append(name)
        elif name in _COMPONENTS_EDGE_SQL:
            problems = compare_components_unionfind(
                fn(spark, sf_dir), _COMPONENTS_EDGE_SQL[name], name)
            if problems:
                row["status"] = "MISMATCH"
                row["problems"] = problems[:3]
                failures.append(name)
            else:
                row["status"] = "match"
                row["note"] = "union-find ground truth (dense-graph CTE)"
                counts["match"] += 1
        elif name in oracles:
            problems, timed_out = compare_with_watchdog(fn, name, n)
            if timed_out:
                row["status"] = "skipped_slow_oracle"
                counts["skipped_slow_oracle"] += 1
            elif problems:
                row["status"] = "MISMATCH"
                row["problems"] = problems[:3]
                failures.append(name)
            else:
                row["status"] = "match"
                counts["match"] += 1
        else:
            row["status"] = "rows_only"
            row["rows"] = n
            counts["rows_only"] += 1
    except Exception as ex:
        row["status"] = "ERROR"
        row["error"] = f"{type(ex).__name__}: {ex}"[:300]
        failures.append(name)
    row["sec"] = round(time.time() - tq, 1)
    results[name] = row
    print(f"{name}: {row['status']} ({row['sec']}s)", flush=True)

log = {
    "tag": tag,
    "sf_dir": sf_dir,
    "oracle_budget_sec": ORACLE_BUDGET_SEC,
    "n_queries": len(results),
    **{f"n_{k}": v for k, v in counts.items()},
    "failures": failures,
    "elapsed_sec": round(time.time() - t0, 1),
    "results": results,
}
out = os.path.join(repo, "tools", f"sf_sweep_{tag}.json")
with open(out, "w") as fh:
    json.dump(log, fh, indent=1)
print(f"sweep {tag} @ {sf_dir}: {counts['match']} match"
      f" + {counts['rows_only']} rows-only"
      f" + {counts['skipped_slow_oracle']} slow-oracle skips"
      f" + {counts['too_big']} too-big of {len(results)},"
      f" {len(failures)} failures, {log['elapsed_sec']}s -> {out}")
sys.exit(1 if failures else 0)
