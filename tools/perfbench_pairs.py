"""Paired untraced perfbench runs: a parent revision against the working tree.

    python tools/perfbench_pairs.py --workload corpus_incremental \\
        --seeds 1-10 --parent HEAD~1 [--tag NAME]

Run from the repository root.  For each seed the script runs
``perfbench/run.py --trace 0`` for BENCHMARK.json's ``run_seconds`` once
on the parent and once on the working tree, one after the other, and
alternates which side goes first (the parent on odd pairs), so drift on
a shared machine lands on both sides alike.  The parent side runs in a
``git worktree`` of ``--parent`` made in a temporary directory and
removed at the end.  perfbench is only run, never edited.

It prints each run's three end-to-end metrics, its failed operations and
the CPU steal of its timed phase; then, per side, the median and
quartiles of each metric; then, per metric, how many pairs the working
tree won and whether the gain clears the bar a claim needs: a win on at
least 9 of every 10 pairs run, and medians further apart than the
parent's interquartile range.  A pair in which either run errored, or
the working tree's run failed an operation, is not a win; any working
tree run that errored or failed an operation means no claim.  Every run is also written to
``tools/perfbench_pairs_<tag>.json`` (ignored by git).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
METRICS = {m["name"]: m["better"] for m in _BENCH["end_to_end"]}
SECONDS = _BENCH["run_seconds"]
RUN_TIMEOUT_S = 1200


def parse_seeds(spec: str) -> list[int]:
    """``"1-10"`` or ``"1,3,7"`` (or a mix) -> the seed list."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout: str, workload: str, seed: int) -> dict:
    """One untraced run.py in ``checkout``: its metrics, steal, check
    verdict and failed operations (``error`` set when it timed out or
    printed no result line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
    row = {"seed": seed, "steal_pct": None}
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        row["error"] = f"timed out after {RUN_TIMEOUT_S} s"
        return row
    m = re.search(r"# steal: ([0-9.]+)%", p.stderr)
    row["steal_pct"] = float(m.group(1)) if m else None
    try:
        res = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        row["error"] = f"exit {p.returncode}: {p.stderr.strip()[-400:]}"
        return row
    row.update(correct=res["correct"], failed=res["failed"],
               attempted=res["attempted"])
    row.update({k: v["value"] for k, v in res["metrics"].items()})
    return row


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]]) -> list[str]:
    """Per-side quartiles and per-metric wins of the working tree,
    counted over every pair run."""
    lines = []
    n = len(pairs)
    # a change run that errored or failed an operation voids any claim
    sound = all("error" not in b and b["correct"] for _, b in pairs)
    for name, better in METRICS.items():
        par = [a[name] for a, _ in pairs if "error" not in a]
        new = [b[name] for _, b in pairs if "error" not in b]
        if not par or not new:
            lines.append(f"{name:12s} no runs to compare -> no claim")
            continue
        pq, nq = quartiles(par), quartiles(new)
        won = sum("error" not in a and "error" not in b and b["correct"]
                  and ((b[name] < a[name]) if better == "lower"
                       else (b[name] > a[name]))
                  for a, b in pairs)
        iqr = pq[2] - pq[0]
        gain = (pq[1] - nq[1]) if better == "lower" else (nq[1] - pq[1])
        claim = sound and n >= 10 and won * 10 >= 9 * n and gain > iqr
        lines.append(
            f"{name:12s} parent median {pq[1]:.4f} [q1 {pq[0]:.4f}, q3 "
            f"{pq[2]:.4f}]  change median {nq[1]:.4f} [q1 {nq[0]:.4f}, "
            f"q3 {nq[2]:.4f}]  change won {won}/{n}; median gain "
            f"{gain:+.4f} vs parent IQR {iqr:.4f}"
            f" -> {'claim holds' if claim else 'no claim'}")
    if not sound:
        lines.append("a working-tree run errored or failed operations: "
                     "no claim on any metric")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help='e.g. "1-10" or "1,4,9"')
    ap.add_argument("--parent", required=True,
                    help="revision to check out as a worktree")
    ap.add_argument("--tag", default="latest", help="log name suffix")
    args = ap.parse_args(argv)

    tree = tempfile.mkdtemp(prefix="perfbench_parent_")
    os.rmdir(tree)
    subprocess.run(["git", "worktree", "add", "--detach", tree,
                    args.parent], cwd=ROOT, check=True, capture_output=True)
    pairs: list[tuple[dict, dict]] = []
    try:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = [("parent", tree), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for side, checkout in order:
                row = run_once(checkout, args.workload, seed)
                row.update(side=side, first=order[0][0])
                got[side] = row
                vals = "  ".join(f"{k} {row[k]:.4f}" for k in METRICS
                                 if k in row)
                print(f"seed {seed:3d} {side:6s} (first: {order[0][0]:6s}) "
                      f"{vals or row.get('error')}  steal "
                      f"{row['steal_pct']}%  correct {row.get('correct')}  "
                      f"failed {row.get('failed')}/{row.get('attempted')}",
                      flush=True)
            pairs.append((got["parent"], got["change"]))
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", tree],
                       cwd=ROOT, capture_output=True)
        shutil.rmtree(tree, ignore_errors=True)
        log = os.path.join(ROOT, "tools", f"perfbench_pairs_{args.tag}.json")
        with open(log, "w") as f:
            json.dump({"workload": args.workload, "seconds": SECONDS,
                       "parent": args.parent,
                       "runs": [r for p in pairs for r in p]}, f, indent=1)
    for line in summarize(pairs):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
