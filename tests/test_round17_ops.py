"""Round-17 pins: the optimization round's internal invariants.

The r16 verdict's item 5 (the unlocked ANN index memo get→create→store
raced under the §2.6 thread pools) is closed by the per-memo lock of
``plans/memo.session_memo``, one memo per ANN index piece; these tests
pin that concurrent first requests share ONE frame and run ONE build. The ADVICE r16 multimodal guards (int64 overflow
fallback, non-divisible band reshape) are pinned alongside.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from employee_data_management_system_data_engineering_solution_spark.operators import (
    multimodal,
    similarity,
)
from employee_data_management_system_data_engineering_solution_spark.plans import llm
from employee_data_management_system_data_engineering_solution_spark.plans.memo import clear_session_memos


def _write_embeddings(spark, path, n=32):
    vecs = []
    for i in range(n):
        e = [0.0] * 64
        # keep the first 16 dims non-zero: the Matryoshka funnel's
        # prefix-norm division needs a non-degenerate prefix
        e[i % 16] = 1.0
        e[(i + 3) % 16] = 0.25 * (i % 3) + 0.125
        e[16 + (i % 48)] = 0.5
        vecs.append((i, e))
    spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>").write.mode(
        "overwrite"
    ).parquet(f"{path}/embeddings.parquet")


# ---------------------------------------------------------------------------
# ANN index memo: concurrent builders share one entry / one build
# ---------------------------------------------------------------------------
def test_ann_index_entry_concurrent_requests_share_one_entry(spark, tmp_path):
    """16 threads racing the first _ann_truth request must all get the
    IDENTICAL pinned frame from ONE build (the r16 race orphaned a
    loser's entry, whose pinned frames were then rebuilt)."""
    _write_embeddings(spark, tmp_path)
    clear_session_memos()
    calls = []
    lock = threading.Lock()
    real = similarity.cosine_topk_bruteforce

    def counting(*args, **kwargs):
        with lock:
            calls.append(1)
        return real(*args, **kwargs)

    similarity.cosine_topk_bruteforce = counting
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            frames = list(
                pool.map(lambda _: llm._ann_truth(spark, str(tmp_path)), range(16))
            )
        assert len(calls) == 1, f"cosine_topk_bruteforce ran {len(calls)} times"
        assert all(f is frames[0] for f in frames)
    finally:
        similarity.cosine_topk_bruteforce = real
        clear_session_memos()


def test_ann_assigned_concurrent_first_requests_build_once(spark, tmp_path):
    """8 threads requesting the pinned assignment concurrently must run
    assign_clusters exactly once (double-checked memo lock) and all
    receive the same pinned frame."""
    _write_embeddings(spark, tmp_path)
    clear_session_memos()
    calls = []
    lock = threading.Lock()
    real = similarity.assign_clusters

    def counting(*args, **kwargs):
        with lock:
            calls.append(1)
        return real(*args, **kwargs)

    similarity.assign_clusters = counting
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            frames = list(
                pool.map(lambda _: llm._ann_assigned(spark, str(tmp_path)), range(8))
            )
        assert len(calls) == 1, f"assign_clusters ran {len(calls)} times"
        assert all(f is frames[0] for f in frames)
        assert frames[0].count() == 32
    finally:
        similarity.assign_clusters = real
        clear_session_memos()


def _cached_rdd_ids(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_ann_eval_cache_clear_frees_method_checkpoint_blocks(spark, tmp_path):
    """clear_session_memos must free the per-method checkpoint BLOCKS
    (ADVICE r16: unpersisting only the union frees nothing — it owns no
    blocks; and r17 found Dataset.unpersist() itself never frees a
    localCheckpoint's blocks, only the LogicalRDD handle does)."""
    _write_embeddings(spark, tmp_path, n=128)
    clear_session_memos()
    base = len(_cached_rdd_ids(spark))
    try:
        entry = llm._ann_truth_and_ranked_methods(spark, str(tmp_path))
        assert len(llm._ann_truth_and_ranked_methods._values) == 1
        assert len(entry) == 3
        mats = entry[2]
        assert len(mats) == 10  # the ten harness methods
        # the harness pinned real blocks: ten method frames + truth +
        # the index pieces (checked by RDD id, not by a count that
        # unrelated garbage reaped by the JVM collector can lower)
        pinned = {_rdd_id(m) for m in mats} | {
            _rdd_id(llm._ann_truth(spark, str(tmp_path))),
            _rdd_id(llm._ann_assigned(spark, str(tmp_path))),
            _rdd_id(llm._ann_pq_codes(spark, str(tmp_path))),
        }
        assert len(pinned) == 13 and pinned <= _cached_rdd_ids(spark)
        # a second call reads the memoized entry back
        assert llm._ann_truth_and_ranked_methods(spark, str(tmp_path)) is entry
    finally:
        clear_session_memos()
    ann_memos = (
        llm._ann_truth_and_ranked_methods,
        llm._ann_truth,
        llm._ann_assigned,
        llm._ann_codebooks,
        llm._ann_pq_codes,
    )
    assert not any(m._values for m in ann_memos)
    # the clear dropped every pinned block deterministically — no
    # waiting on the JVM garbage collector
    assert not pinned & _cached_rdd_ids(spark)
    assert len(_cached_rdd_ids(spark)) <= base


# ---------------------------------------------------------------------------
# pHash numpy guards (ADVICE r16)
# ---------------------------------------------------------------------------
def test_phash_bands_np_rejects_non_divisible_bands():
    """nbands that does not divide the 64 signature bits must raise
    (the old _pack_bands silently truncated trailing bits)."""
    with pytest.raises(ValueError, match="must divide"):
        multimodal._phash_bands_np(b"payload", nbands=5)


def test_phash_bands_np_oversize_falls_back_bit_identically(monkeypatch):
    """Past the int64-safety bound the numpy path must delegate to the
    pure-Python reference — same bands, arbitrary-precision arithmetic."""
    payload = ("municipality" * 40).encode()
    expected = multimodal._pack_bands(
        multimodal.phash_signature_py(payload), nbands=8
    )
    # force the fallback by shrinking the guard below the payload size
    monkeypatch.setattr(multimodal, "_NP_SAFE_MAX_CHARS", 16)
    via_guard = multimodal._phash_bands_np(payload, nbands=8)
    monkeypatch.setattr(multimodal, "_NP_SAFE_MAX_CHARS", 10**9)
    via_numpy = multimodal._phash_bands_np(payload, nbands=8)
    assert via_guard == expected == via_numpy
