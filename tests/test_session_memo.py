"""Pins for ``plans/memo.session_memo``: single build under concurrent
first requests, fingerprint invalidation, clears that really free the
checkpoint blocks (snapshot memos excepted), the registry inventory,
and the trainers' own checkpoint frees."""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from employee_data_management_system_data_engineering_solution_spark.plans import memo
from employee_data_management_system_data_engineering_solution_spark.plans.memo import (
    clear_session_memos,
    session_memo,
)
from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

PKG = "employee_data_management_system_data_engineering_solution_spark.plans"


def _storage(spark) -> list:
    return list(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _write_toy(spark, path, n):
    spark.range(n).write.mode("overwrite").parquet(f"{path}/toy.parquet")


@pytest.fixture
def toy_memos():
    """A plain and a snapshot toy memo over ``toy.parquet``, each
    counting its builds; unregistered again on teardown."""
    builds = {"plain": 0, "snap": 0}
    lock = threading.Lock()

    def builder(kind):
        def build(spark, sf_dir):
            with lock:
                builds[kind] += 1
            time.sleep(0.2)  # widen the race window
            return spark.read.parquet(f"{sf_dir}/toy.parquet").localCheckpoint(eager=True)

        build.__qualname__ = f"toy_{kind}"
        return build

    plain = session_memo("toy")(builder("plain"))
    snap = session_memo("toy", snapshot=True)(builder("snap"))
    yield plain, snap, builds
    for m in (plain, snap):
        m.clear()
    for name in [n for n, m in memo.MEMOS.items() if m in (plain, snap)]:
        del memo.MEMOS[name]


def test_concurrent_first_requests_build_once(spark, tmp_path, toy_memos):
    plain, _, builds = toy_memos
    _write_toy(spark, tmp_path, 10)
    with ThreadPoolExecutor(max_workers=8) as pool:
        frames = list(pool.map(lambda _: plain(spark, str(tmp_path)), range(8)))
    assert builds["plain"] == 1
    assert all(f is frames[0] for f in frames)
    assert frames[0].count() == 10


def test_rewriting_the_table_misses_the_memo(spark, tmp_path, toy_memos):
    plain, _, builds = toy_memos
    _write_toy(spark, tmp_path, 10)
    first = plain(spark, str(tmp_path))
    assert plain(spark, str(tmp_path)) is first
    time.sleep(0.01)  # a distinct mtime_ns on rewrite
    _write_toy(spark, tmp_path, 7)
    second = plain(spark, str(tmp_path))
    assert second is not first and builds["plain"] == 2
    assert second.count() == 7


def test_clear_session_memos_frees_blocks_and_keeps_snapshots(spark, tmp_path, toy_memos):
    plain, snap, builds = toy_memos
    _write_toy(spark, tmp_path, 10)
    clear_session_memos()
    base = len(_storage(spark))
    p = plain(spark, str(tmp_path))
    s = snap(spark, str(tmp_path))
    pinned = {r.id() for r in _storage(spark)}
    assert {_rdd_id(p), _rdd_id(s)} <= pinned

    clear_session_memos()
    pinned = {r.id() for r in _storage(spark)}
    assert _rdd_id(p) not in pinned
    assert _rdd_id(s) in pinned and len(pinned) <= base + 1
    # the snapshot memo still serves its frame, without a rebuild
    assert snap(spark, str(tmp_path)) is s and s.count() == 10
    assert builds["snap"] == 1

    snap.clear()
    assert len(_storage(spark)) <= base


def test_registry_inventory():
    got = {name: (m.table, m.snapshot) for name, m in memo.MEMOS.items()}
    llm, pipeline = f"{PKG}.llm", f"{PKG}.pipeline"
    assert got == {
        f"{llm}._gate_features": ("documents", False),
        f"{llm}._ppjoin_pairs": ("documents", False),
        f"{llm}._full_recall_frames": ("documents", True),
        f"{llm}._verified_pairs": ("documents", False),
        f"{llm}._sampled_frames": ("documents", True),
        f"{llm}._ann_assigned": ("embeddings", False),
        f"{llm}._ann_codebooks": ("embeddings", False),
        f"{llm}._ann_pq_codes": ("embeddings", False),
        f"{llm}._ann_truth": ("embeddings", False),
        f"{llm}._ann_truth_and_ranked_methods": ("embeddings", False),
        f"{llm}._bpe_merges": ("documents", False),
        f"{llm}._trained_centroids_k8": ("embeddings", False),
        f"{llm}._trained_centroids": ("embeddings", False),
        f"{pipeline}._co_supply_backbone": ("lineitem", False),
    }


_CORPUS = (
    "the spark engine reads parquet tables and writes reports",
    "apache spark plans queries with catalyst before running them",
    "a streaming query keeps state between micro batches",
    "tokenizers learn byte pair merges from word counts",
    "the quick brown fox jumps over the lazy dog",
    "employees strike when the monthly counts pass the limit",
)


@pytest.mark.parametrize(
    "query", ["bpe_merge_table", "bpe_merge_batched", "gate_training_rounds"]
)
def test_trainer_checkpoints_are_freed(spark, tmp_path, query):
    """The trainers' per-round localCheckpoints must be freed with
    unpersist_checkpoint: Dataset.unpersist() leaves their blocks
    pinned until the JVM garbage collector reaps the RDD."""
    spark.createDataFrame(
        [(i, text, "web") for i, text in enumerate(_CORPUS * 4)],
        "doc_id LONG, text STRING, source STRING",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    clear_session_memos()
    base = len(_storage(spark))
    REGISTRY[query].fn(spark, str(tmp_path)).collect()
    clear_session_memos()
    assert len(_storage(spark)) <= base
