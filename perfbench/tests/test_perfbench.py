"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark twice per workload (untraced and traced) at
``--tiny`` size, about a minute each on 4 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _tree_digest(root: str) -> str:
    h = hashlib.sha1()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_crawl_tree_deterministic_per_seed(tmp_path):
    a = gen.crawl_tree(str(tmp_path / "a"), seed=7, n_files=300)
    b = gen.crawl_tree(str(tmp_path / "b"), seed=7, n_files=300)
    c = gen.crawl_tree(str(tmp_path / "c"), seed=8, n_files=300)
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert a.n_files == c.n_files == 300
    assert a.n_corrupt == 3 and a.max_depth == c.max_depth == 6


def test_corpus_deterministic_per_seed():
    assert gen.documents(3, 400).equals(gen.documents(3, 400))
    assert not gen.documents(3, 400).equals(gen.documents(4, 400))
    assert gen.embeddings(3, 200).equals(gen.embeddings(3, 200))
    assert not gen.embeddings(3, 200).equals(gen.embeddings(4, 200))


def test_corpus_duplicate_shares():
    docs = gen.documents(5, 4000).to_pandas()
    exact = docs["text"].duplicated().mean()
    near = docs["text"].str.endswith(" dup").mean()
    assert 0.01 < exact < 0.04
    assert 0.03 < near < 0.08


def test_arrivals_replay_in_doc_id_order(tmp_path):
    docs = gen.documents(1, 100)
    paths = gen.write_arrivals(str(tmp_path), docs, 3)
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    import pyarrow.parquet as pq
    ids = [i for p in paths for i in pq.read_table(p)["doc_id"].to_pylist()]
    assert ids == list(range(100))


def test_metric_names_and_units_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_smoke_run_passes_output_check(workload):
    out = _run(workload, trace=0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == metrics.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


# Per-layer metrics each workload's traced run must measure (non-zero).
LAYERS = {
    "crawl_tree": ("sources.list_files_s", "crawler.collect_s",
                   "crawler.collect_fs_s", "pool.list_s", "pool.partials_rows",
                   "session.jobs"),
    "corpus_incremental": ("streaming.batches", "streaming.batch_p50_s",
                           "sources.sinks.write_s", "operators.dedup.kept_ratio"),
    "retrieval_requests": ("operators.similarity.knn_bruteforce_cosine.run_s",
                           "operators.text.text_bm25_retrieval.build_s",
                           "session.jobs", "session.tasks"),
}


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_traced_run_reports_per_layer_metrics(workload):
    out = _run(workload, trace=1)
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == metrics.PER_LAYER
    for name in LAYERS[workload] + ("session.start_s", "session.warmup_s",
                                    "trace.unit_p50_s", "trace.overhead_s"):
        assert out["metrics"][name]["value"] > 0, name
