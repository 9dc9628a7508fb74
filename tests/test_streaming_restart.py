"""Checkpoint RESTART-RECOVERY for the foreachBatch replay family
(r10 verdict item 3 — the failure mode checkpoints exist for).

Each case kills the streaming query MID-STREAM twice (an injected
crash inside the merge callback, at different batch positions), and
after the first crash scribbles STALE content into the next
uncommitted batch's state/verdict directories (a torn write: the
crash landed between a batch's first and last filesystem write).
Restarting from the same checkpoint must re-deliver the uncommitted
batch with the same batch_id, idempotently overwrite the torn
directories, and finalize to the EXACT state of an uninterrupted run
— the monoid/idempotence claims the replay rows' docstrings make,
exercised through a real kill instead of a clean drain.

The kill hooks ``stateful._state_versions`` — the first call of every
micro-batch (stateful._snapshot_stream) — so one injector covers the
whole family; the reference run uses a different state_dir and is
untouched.
"""

from __future__ import annotations

import glob
import os
import re
import shutil

import pytest

from go_mapreduce_crawler_spark.operators import streaming_replay as sr
from go_mapreduce_crawler_spark.streaming import stateful as st

CASES = ["span", "cdc", "bloom", "minhash", "invidx"]


def _setup(name, spark, sf):
    """(start, finalize, state_dir) for one replay case — the same
    stream/kernel/finalize composition the queries() rows run."""
    if name == "span":
        stream, state, ckpt = sr._replay_ordered_docs(
            spark, sf, f"rr_{name}")
        return (lambda: st.stream_windowed_span_dedup(stream, state, ckpt),
                lambda: st.windowed_span_dedup_finalize(spark, state),
                state)
    if name == "minhash":
        stream, state, ckpt = sr._replay_ordered_docs(
            spark, sf, f"rr_{name}")
        return (lambda: st.stream_windowed_minhash_dedup(stream, state,
                                                         ckpt),
                lambda: st.windowed_minhash_dedup_finalize(spark, state),
                state)
    if name == "invidx":
        stream, state, ckpt = sr._replay_ordered_docs(
            spark, sf, f"rr_{name}")
        return (lambda: st.stream_inverted_index(stream, state, ckpt),
                lambda: st.inverted_index_finalize(
                    st.read_mv_state(spark, state)),
                state)
    if name == "cdc":
        stream, state, ckpt = sr._cdc_stream(spark, sf)
        return (lambda: st.stream_cdc_merge(stream, state, ckpt),
                lambda: sr._cdc_finalize(spark, sf, state),
                state)
    from go_mapreduce_crawler_spark.operators.text import bloom_partial
    stream, state, ckpt = sr._bloom_stream(spark, sf)
    return (lambda: st.stream_bloom_build(stream, bloom_partial,
                                          state, ckpt),
            lambda: sr._bloom_finalize(spark, sf, state),
            state)


def _scribble_torn_write(state_dir):
    """Simulate a crash that landed mid-write: the next uncommitted
    batch's directories exist but hold the PREVIOUS batch's (stale)
    content.  A correct restart overwrites them; a restart that trusts
    their existence finalizes wrong values and fails the compare."""
    vs = sorted(int(re.search(r"state_v(\d+)$", p).group(1))
                for p in glob.glob(f"{state_dir}/state_v*"))
    assert vs, "no committed state before the scribble — kill too early"
    shutil.copytree(f"{state_dir}/state_v{vs[-1]}",
                    f"{state_dir}/state_v{vs[-1] + 1}")
    bs = sorted(int(re.search(r"verdicts_b(\d+)$", p).group(1))
                for p in glob.glob(f"{state_dir}/verdicts_b*"))
    if bs:   # span/minhash layout only
        shutil.copytree(f"{state_dir}/verdicts_b{bs[-1]}",
                        f"{state_dir}/verdicts_b{bs[-1] + 1}")


@pytest.mark.parametrize("name", CASES)
def test_restart_recovers_exact_state(spark, sf_small, name, monkeypatch):
    # Reference: one uninterrupted run (fresh state/ckpt).
    start, finalize, _ = _setup(name, spark, sf_small)
    q = start()
    sr._await_drained(q, f"{name}_reference")
    ref = sorted(map(tuple, finalize().collect()))
    assert ref, "reference replay produced no rows"

    # Interrupted twin: crash inside the SECOND merge call of each
    # (re)start — run 1 commits batch 0 then dies in batch 1; run 2
    # (counter re-armed) re-commits batch 1 over the torn scribble,
    # then dies in batch 2; run 3 (disarmed) drains batches 2..3.
    start2, finalize2, state2 = _setup(name, spark, sf_small)
    arm = {"target": state2, "calls": 0}
    orig = st._state_versions

    def injected(fs_dir):
        if arm["target"] is not None and os.path.normpath(fs_dir) == \
                os.path.normpath(arm["target"]):
            i = arm["calls"]
            arm["calls"] += 1
            if i == 1:
                raise RuntimeError("injected mid-stream crash")
        return orig(fs_dir)

    monkeypatch.setattr(st, "_state_versions", injected)

    crashes = 0
    for _attempt in range(6):
        q = start2()
        crashed = False
        try:
            drained = q.awaitTermination(sr._AWAIT_S)
        except Exception:
            crashed = True
        else:
            if q.exception() is not None:
                crashed = True
            else:
                assert drained, f"{name} restart did not drain"
        if not crashed:
            break
        crashes += 1
        arm["calls"] = 0            # re-arm for the next start
        if crashes == 1:
            _scribble_torn_write(state2)
        if crashes >= 2:
            arm["target"] = None    # disarm — let the final run drain
    else:
        pytest.fail(f"{name}: replay never drained after restarts")

    assert crashes >= 2, f"{name}: injector fired {crashes} times, " \
                         "expected 2 mid-stream kills"
    got = sorted(map(tuple, finalize2().collect()))
    assert got == ref, f"{name}: post-restart state diverged from the " \
                       f"uninterrupted run ({len(got)} vs {len(ref)} rows)"
