"""Round-14 pins: the grouped (applyInPandas) MMR twin must match the
bounded driver-side greedy row-for-row (X187 vs X186), the shared
greedy helper must follow the HALF_UP DECIMAL(8,6) contract on a
rounding-edge input, and the sampled-scorecard memo must be a pure
cache (same rows warm as cold, distinct corpora keyed apart)."""

from __future__ import annotations

from employee_data_management_system_data_engineering_solution_spark.plans import llm
from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

SF_SMOKE = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# X187 grouped MMR ≡ X186 bounded-collect MMR
# ---------------------------------------------------------------------------
def test_mmr_grouped_matches_driver_side(spark):
    """The two variants share the pool/pairs construction and the
    greedy helper; this pins that the cogroup + applyInPandas plumbing
    (grouping, Arrow transfer, per-group dict building) introduces no
    drift — identical (query_id, rank, neighbor, relevance, score)
    rows on the real smoke warehouse."""
    a = _sorted_rows(REGISTRY["mmr_diversified_topk"].fn(spark, SF_SMOKE))
    b = _sorted_rows(
        REGISTRY["mmr_diversified_topk_grouped"].fn(spark, SF_SMOKE)
    )
    assert len(a) == 25  # 5 queries x k=5
    assert a == b


def test_mmr_grouped_schema_matches_oracle_columns(spark):
    df = REGISTRY["mmr_diversified_topk_grouped"].fn(spark, SF_SMOKE)
    assert df.columns == [
        "query_id", "mmr_rank", "neighbor_id", "relevance", "mmr_score",
    ]


# ---------------------------------------------------------------------------
# the shared greedy helper
# ---------------------------------------------------------------------------
def test_mmr_greedy_halfup_rounding_edge():
    """0.7*0.5 - 0.3*0.7 = 0.14 exactly, but 0.7*0.143855 = 0.1006985
    sits ON a 6 dp half: HALF_UP must round it to 0.100699 (a double
    blend gives 0.10069849999... -> 0.100698). The helper must take
    the decimal branch."""
    out = llm._mmr_greedy_select([(1, 0.143855)], {}, k=1)
    assert out == [(1, 1, 0.143855, 0.100699)]


def test_mmr_greedy_tiebreak_and_diversification():
    """Two equal-relevance candidates tie on round 1 -> smaller id
    wins; round 2 must penalize the near-duplicate of the selected
    candidate and pick the diverse one despite lower relevance."""
    cands = [(10, 0.9), (20, 0.9), (30, 0.5)]
    sims = {
        (10, 20): 1.0, (20, 10): 1.0,   # 10 and 20 are near-identical
        (10, 30): 0.0, (30, 10): 0.0,
        (20, 30): 0.0, (30, 20): 0.0,
    }
    out = llm._mmr_greedy_select(cands, sims, k=2)
    assert [(r[0], r[1]) for r in out] == [(1, 10), (2, 30)]
    # round 2 scores: 20 -> 0.7*0.9 - 0.3*1.0 = 0.33; 30 -> 0.35
    assert out[1][3] == 0.35


def test_mmr_greedy_pool_smaller_than_k():
    out = llm._mmr_greedy_select([(7, 0.4)], {}, k=5)
    assert len(out) == 1 and out[0][:2] == (1, 7)


# ---------------------------------------------------------------------------
# X188 semantic prune — the k scale knob
# ---------------------------------------------------------------------------
def test_semantic_k_tracks_corpus_size():
    """r14 verdict ask 2: k is CHOSEN from corpus size (expected
    cluster size ~= _SEM_TARGET_CLUSTER), clamped to [MIN, MAX]; the
    oracle computes the identical GREATEST/LEAST/CEIL over count(*).
    The driver corpus (500 embeddings at sf0.01) still lands on k=8,
    so the r14 hash evidence carries over unchanged."""
    assert llm._semantic_k(1) == 8      # floor: tiny corpora
    assert llm._semantic_k(500) == 8    # sf0.001 / sf0.01 — unchanged
    assert llm._semantic_k(513) == 9    # ceil, not floor
    assert llm._semantic_k(2000) == 32  # sf0.1
    assert llm._semantic_k(20000) == 256  # 10x replica hits the clamp
    assert llm._semantic_k(10**9) == 256  # ceiling: bounded driver state


def test_semantic_prune_k_invariance(spark):
    """The 100 TB discipline holds cluster SIZE constant by growing k
    with the corpus (BENCH_SCALE.md r14: k=64 on the 10× replica runs
    5× faster than the pinned k=8 with identical survivors). This pins
    the invariance the discipline relies on: exact duplicates embed
    identically, so they co-cluster under ANY k and the prune's
    survivor set does not depend on the cluster count — only the
    near-boundary NEAR-dup recall does, and this corpus has none above
    the 0.999 admission threshold."""
    import pyspark.sql.functions as F

    from employee_data_management_system_data_engineering_solution_spark.operators import similarity
    from employee_data_management_system_data_engineering_solution_spark.operators.graph import (
        connected_components,
    )

    base = {
        tuple(r)
        for r in REGISTRY["semantic_prune"].fn(spark, SF_SMOKE).collect()
    }
    emb = llm._live_embeddings(spark, SF_SMOKE)
    corpus = llm._planted_dup_corpus(emb, "vec_id", "embedding")
    for k in (3, 32):
        cents = similarity.kmeans_iterate(emb, k=k, iters=2, dim=64)
        pairs = similarity.cosine_neardup_pairs(corpus, cents, threshold=0.999)
        comp = connected_components(pairs, src="id_a", dst="id_b")
        non_reps = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("vec_id")
        )
        reps = comp.filter(F.col("node") == F.col("component")).select(
            F.col("node").alias("vec_id"), F.lit(True).alias("is_semantic_rep")
        )
        got = {
            tuple(r)
            for r in corpus.select("vec_id")
            .join(non_reps, "vec_id", "left_anti")
            .join(reps, "vec_id", "left")
            .select(
                "vec_id",
                F.coalesce("is_semantic_rep", F.lit(False)).alias(
                    "is_semantic_rep"
                ),
            )
            .collect()
        }
        assert got == base, f"survivor set changed at k={k}"


# ---------------------------------------------------------------------------
# sampled-scorecard memo (_sampled_frames)
# ---------------------------------------------------------------------------
def test_sampled_scorecard_warm_read_is_identical(spark):
    """The memo is a pure cache: a cold pass and a warm pass on the
    same corpus return identical rows, and the warm pass reuses the
    checkpointed frames (one cache entry per corpus)."""
    llm._sampled_frames.clear()
    fn = REGISTRY["dedup_recall_sampled"].fn
    cold = _sorted_rows(fn(spark, SF_SMOKE))
    assert len(llm._sampled_frames._values) == 1
    warm = _sorted_rows(fn(spark, SF_SMOKE))
    assert len(llm._sampled_frames._values) == 1
    assert cold == warm
    llm._sampled_frames.clear()
    assert not llm._sampled_frames._values


def test_sampled_scorecard_cache_keys_by_corpus(spark, tmp_path):
    """Two different corpora must not share frames: a 3-doc planted
    corpus after a real-smoke pass gets its own entry and its own
    (tiny) sample count."""
    llm._sampled_frames.clear()
    fn = REGISTRY["dedup_recall_sampled"].fn
    fn(spark, SF_SMOKE).collect()
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4, "web"),
        (2, "the quick brown fox jumps over the lazy dog " * 4, "web"),
        (3, "completely unrelated text about parquet row groups", "web"),
    ]
    spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    small = fn(spark, str(tmp_path)).collect()
    assert len(llm._sampled_frames._values) == 2
    assert all(r["n_sample"] == 3 for r in small)
    # docs 1 and 2 are verbatim duplicates: the truth on this corpus
    # is exactly one pair, and every detector should recall it
    assert all(r["n_true"] == 1 and r["n_hit"] == 1 for r in small)
    llm._sampled_frames.clear()
