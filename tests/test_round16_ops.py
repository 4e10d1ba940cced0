"""Round-16 pins: the sampled complementarity scorecard must collapse
to the full scorecard when the corpus fits the sample budget, the ANN
cost frontier's exact byte accounting must be re-derivable from the
method parameters, the DoReMi reweight must be monotone in excess
loss, the aspect-ratio bucketing must match an exact-rational Python
replay, and the rows-only trio's sketch bounds must hold at sf0.1
(the r15 verdict's ask 6 — scale evidence for the contract queries)."""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F

from employee_data_management_system_data_engineering_solution_spark.plans import llm
from employee_data_management_system_data_engineering_solution_spark.plans.memo import clear_session_memos
from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY
from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

SF_SMOKE = "/root/testdata/sf0.001"
SF_BIG = "/root/testdata/sf0.1"


# ---------------------------------------------------------------------------
# X208 sampled complementarity scorecard
# ---------------------------------------------------------------------------
def test_sampled_scorecard_equals_full_when_corpus_fits(spark, tmp_path):
    """On a planted-duplicate corpus smaller than the sample budget
    (every doc carrying both text and embedding) the seeded spine IS
    the whole corpus, the sample-trained centroids equal the
    corpus-trained centroids (same vectors, same seeding rule, same
    corpus-k), and the sampled scorecard must reproduce the full
    scorecard's five counters exactly."""
    dup_a = "the quick brown fox jumps over the lazy dog again and again"
    dup_b = "colorless green ideas sleep furiously in the warm summer night"
    docs, vecs = [], []
    for i in range(40):
        if i < 4:
            text = dup_a if i < 2 else dup_b
        else:
            text = f"unique filler document {i} about topic {i * 7} and item {i * 13}"
        docs.append((i, text))
        e = [0.0] * 64
        # duplicate texts share identical vectors; the rest spread over
        # near-orthogonal axes with small jitter
        axis = (0 if i < 2 else 8) if i < 4 else (i % 32) + 16
        e[axis] = 1.0
        e[(axis + 1) % 64] = 0.0 if i < 4 else 0.01 * (i % 5)
        vecs.append((i, e))
    spark.createDataFrame(docs, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    spark.createDataFrame(vecs, "vec_id LONG, embedding ARRAY<FLOAT>").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/embeddings.parquet")
    try:
        full = {
            r.method: r
            for r in REGISTRY["semantic_prune_scorecard"].fn(spark, str(tmp_path)).collect()
        }
        samp = {
            r.method: r
            for r in REGISTRY["semantic_scorecard_sampled"].fn(spark, str(tmp_path)).collect()
        }
    finally:
        llm._trained_centroids.clear()
        llm._trained_centroids_k8.clear()
        llm._verified_pairs.clear()
    assert set(samp) == set(full) == {"lexical_jaccard_j50", "semantic_cosine_c40"}
    for m in full:
        assert samp[m].n_docs == len(docs)
        assert (samp[m].n_removed, samp[m].n_removed_both, samp[m].n_removed_only) == (
            full[m].n_removed, full[m].n_removed_both, full[m].n_removed_only,
        ), m
        assert samp[m].removal_rate == full[m].removal_rate, m
    # the planted dups are caught by BOTH tiers: each pair loses one
    # member, so every tier removes at least the 2 non-representatives
    assert samp["lexical_jaccard_j50"].n_removed >= 2
    assert samp["semantic_cosine_c40"].n_removed >= 2
    assert samp["semantic_cosine_c40"].n_removed_both >= 2


def test_sampled_scorecard_counters_consistent_on_corpus(spark):
    """At the smoke SF the spine is the full 500-doc corpus (all docs
    carry text + embedding); the counters must be internally
    consistent and the columns must match the full scorecard's so
    full-vs-sampled comparison is a join on method."""
    try:
        out = REGISTRY["semantic_scorecard_sampled"].fn(spark, SF_SMOKE)
        full_cols = REGISTRY["semantic_prune_scorecard"].fn(spark, SF_SMOKE).columns
        rows = out.collect()
    finally:
        llm._trained_centroids.clear()
        llm._trained_centroids_k8.clear()
        llm._verified_pairs.clear()
    assert out.columns == full_cols
    assert len(rows) == 2
    for r in rows:
        assert r.n_docs == 500
        assert 0 <= r.n_removed_both <= r.n_removed <= r.n_docs
        assert r.n_removed_only == r.n_removed - r.n_removed_both
        assert r.removal_rate == round(r.n_removed / r.n_docs, 6)


# ---------------------------------------------------------------------------
# X209 ANN cost frontier
# ---------------------------------------------------------------------------
def test_cost_frontier_byte_accounting_is_exact(spark):
    """The frontier's cost columns must be re-derivable from the spec
    table and the candidate counts, its method list must be exactly
    the harness's, and its recall axis must equal the recall report's
    per-method mean."""
    clear_session_memos()
    try:
        frontier = {r.method: r for r in REGISTRY["ann_cost_frontier"].fn(spark, SF_SMOKE).collect()}
        report = REGISTRY["ann_recall_report"].fn(spark, SF_SMOKE).collect()
        n = llm._live_embeddings(spark, SF_SMOKE).count()
    finally:
        clear_session_memos()
    spec = {m: (np_, cb, cap) for m, np_, cb, cap in llm._ANN_COST_SPEC}
    assert set(frontier) == set(spec) == {r.method for r in report}
    hits_by_m: dict[str, int] = {}
    nq_by_m: dict[str, int] = {}
    for r in report:
        hits_by_m[r.method] = hits_by_m.get(r.method, 0) + r.hits
        nq_by_m[r.method] = nq_by_m.get(r.method, 0) + 1
    for m, r in frontier.items():
        np_, cb, cap = spec[m]
        assert (r.nprobe, r.coarse_bytes_per_vec) == (np_, cb)
        assert r.n_queries == nq_by_m[m] == 5
        if np_ == 0:  # flat scan: corpus minus self, every query
            assert r.coarse_cands == r.n_queries * (n - 1)
        else:  # IVF: a strict subset of the flat scan
            assert 0 < r.coarse_cands < r.n_queries * (n - 1)
        assert r.rescore_cands <= min(r.coarse_cands, r.n_queries * cap)
        total = r.coarse_cands * cb + r.rescore_cands * 256
        assert r.bytes_per_query == total // r.n_queries
        assert r.recall_at_10 == round(hits_by_m[m] / (10.0 * r.n_queries), 4)
        assert r.recall_per_gb == round(r.recall_at_10 * 1_000_000_000 / r.bytes_per_query, 4)
    # the compression ladder must actually be a ladder: the sign-bit
    # flat scan reads strictly fewer bytes than SQ8 flat, which reads
    # strictly fewer than any full-float flat scan would
    assert frontier["bq_hamming"].bytes_per_query < frontier["sq8_flat"].bytes_per_query
    # IVF composition always cuts bytes vs its flat twin
    for flat, ivf in (("sq8_flat", "sq8_ivf"), ("bq_hamming", "bq_ivf"),
                      ("mrl_funnel_p16", "mrl_ivf_p16"), ("pq_adc", "pq_ivf")):
        assert frontier[ivf].bytes_per_query < frontier[flat].bytes_per_query, (flat, ivf)


# ---------------------------------------------------------------------------
# X210 DoReMi mixture weights
# ---------------------------------------------------------------------------
def test_doremi_weights_normalize_and_follow_excess(spark):
    """The reweight is a proper distribution (weights and natural
    shares both sum to 1 within rounding), the boost column equals
    weight/natural within rounding, and the boost ordering is exactly
    the mean-excess-loss ordering — the multiplicative update is
    strictly monotone in the per-domain signal."""
    rows = REGISTRY["doremi_mixture_weights"].fn(spark, SF_SMOKE).collect()
    assert len(rows) >= 2
    tol = 1e-4 * len(rows)
    assert abs(sum(r.doremi_weight for r in rows) - 1.0) < tol
    assert abs(sum(r.natural_share for r in rows) - 1.0) < tol
    for r in rows:
        assert r.mean_excess_loss >= 0.0
        assert abs(r.boost - r.doremi_weight / r.natural_share) < 1e-3
    by_excess = sorted(rows, key=lambda r: (r.mean_excess_loss, r.source))
    for a, b in zip(by_excess, by_excess[1:]):
        if b.mean_excess_loss > a.mean_excess_loss:
            assert b.boost >= a.boost, (a.source, b.source)
        else:
            assert abs(b.boost - a.boost) < 1e-5


# ---------------------------------------------------------------------------
# X211 aspect-ratio buckets
# ---------------------------------------------------------------------------
def test_aspect_ratio_buckets_match_exact_rational_replay(spark):
    """Independent Python replay of the whole operator at the smoke
    SF: per-doc dims from the payload size, exact-rational
    nearest-bucket argmin (Fraction AR distance — no cleared-K trick,
    so the integer metric is cross-checked against the mathematical
    definition), per-bucket counts/batches/waste."""
    from fractions import Fraction

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    assign: dict[int, list[float]] = {}
    n_total = 0
    for r in docs:
        if r.text is None:
            continue
        nb = len(r.text.encode("utf-8"))
        if nb <= 0:
            continue
        n_total += 1
        w = 256 + (nb % 16) * 64
        h = 256 + ((nb // 16) % 16) * 64
        best = min(
            llm._AR_BUCKETS,
            key=lambda b: (abs(Fraction(w, h) - Fraction(b[1], b[2])), b[0]),
        )
        num, den = w * best[2], h * best[1]
        waste = round(1 - min(num, den) / max(num, den), 6)
        assign.setdefault(best[0], []).append(waste)
    got = {r.bucket_id: r for r in REGISTRY["aspect_ratio_buckets"].fn(spark, SF_SMOKE).collect()}
    assert set(got) == set(assign)
    assert sum(r.n_images for r in got.values()) == n_total
    for bid, wastes in assign.items():
        r = got[bid]
        assert r.n_images == len(wastes)
        assert r.n_batches == math.ceil(len(wastes) / llm._AR_BATCH)
        assert abs(r.avg_pad_waste - sum(wastes) / len(wastes)) < 2e-6
        assert 0.0 <= r.avg_pad_waste < 1.0
        assert r.share == round(len(wastes) / n_total, 6)
        assert (r.bucket_w, r.bucket_h) == next(
            (bw, bh) for b, bw, bh in llm._AR_BUCKETS if b == bid
        )


def test_aspect_ratio_square_image_in_square_bucket_has_zero_waste(spark, tmp_path):
    """A corpus of payloads that all land on square dims must assign
    every image to the square bucket with zero padding waste."""
    # n_bytes % 16 == 4 and (n_bytes // 16) % 16 == 4 -> 512 x 512
    text = "x" * 68  # 68 % 16 == 4, 68 // 16 == 4
    spark.createDataFrame(
        [(i, text) for i in range(10)], "doc_id LONG, text STRING"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = REGISTRY["aspect_ratio_buckets"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.bucket_w, r.bucket_h) == (512, 512)
    assert (r.n_images, r.n_batches) == (10, 1)
    assert r.avg_pad_waste == 0.0
    assert r.share == 1.0


# ---------------------------------------------------------------------------
# Rows-only trio: sketch bounds at sf0.1 (r15 verdict ask 6)
# ---------------------------------------------------------------------------
def test_hll_distinct_bounds_hold_at_sf01(spark):
    """column_profile_approx's HLL++ estimates at sf0.1: every
    non-distinct statistic equals the exact profile's and each
    distinct estimate lands within 5 sigma of the exact count — the
    same bound the smoke-SF pin asserts, now with 30x the rows."""
    from employee_data_management_system_data_engineering_solution_spark.operators.quality import (
        profile_columns,
    )

    orders = read_table(spark, SF_BIG, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    rsd = 0.05
    exact = {r.col_name: r for r in profile_columns(orders, cols).collect()}
    approx = {
        r.col_name: r
        for r in profile_columns(orders, cols, approx=True, rsd=rsd).collect()
    }
    for c in cols:
        e, a = exact[c], approx[c]
        assert (a.n_rows, a.n_nonnull, a.min_value, a.max_value) == (
            e.n_rows, e.n_nonnull, e.min_value, e.max_value,
        )
        assert abs(a.n_distinct - e.n_distinct) <= max(5 * rsd * e.n_distinct, 2), c


def test_gk_rank_bounds_hold_at_sf01(spark):
    """salary_percentiles_approx at sf0.1: each Greenwald-Khanna
    quantile must be an actual group value whose rank window covers
    the target probability within eps*n (+1) — asserted via Spark-side
    rank counts, no 150k-row collect."""
    import employee_data_management_system_data_engineering_solution_spark.plans.core as core

    approx = {r.designation: r for r in core.salary_percentiles_approx(spark, SF_BIG).collect()}
    exact = {r.designation: r for r in core.salary_percentiles(spark, SF_BIG).collect()}
    assert set(approx) == set(exact)
    orders = read_table(spark, SF_BIG, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    orders.persist()
    try:
        eps = 2.0 / 1000  # accuracy=1000
        for d, r in approx.items():
            assert r.n == exact[d].n, d
            grp = orders.filter(F.col("o_orderpriority") == d)
            for p, got in ((0.5, r.p50_salary), (0.9, r.p90_salary)):
                agg = grp.agg(
                    F.sum((F.col("o_totalprice") < got).cast("long")).alias("lo"),
                    F.sum((F.col("o_totalprice") <= got).cast("long")).alias("le"),
                ).collect()[0]
                lo, hi = agg.lo, agg.le - 1
                assert lo <= hi, (d, p, got, "value not in group")
                target = p * r.n
                tol = eps * r.n + 1
                assert lo - tol <= target <= hi + 1 + tol, (d, p, got, lo, hi)
    finally:
        orders.unpersist()


def test_simhash_reference_digest_holds_at_sf01(spark):
    """simhash_signatures at sf0.1: a deterministic sampled slice of
    the 5000-doc corpus must match the pure-Python blake2b reference
    bit-exactly — the same scalar oracle as the smoke pin, on the
    larger corpus's real text."""
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import simhash

    def ref(text):
        counts = [0] * 64
        for w in (text or "").lower().split():
            h = int.from_bytes(hashlib.blake2b(w.encode(), digest_size=8).digest(), "big")
            for bit in range(64):
                counts[bit] += 1 if (h >> bit) & 1 else -1
        sig = sum(1 << b for b in range(64) if counts[b] > 0)
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    docs = read_table(spark, SF_BIG, "documents").filter(
        (F.col("doc_id") % 677 == 0) & F.col("text").isNotNull()
    )
    got = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    want = {r.doc_id: ref(r.text) for r in docs.select("doc_id", "text").collect()}
    assert len(got) >= 5
    assert got == want


# ---------------------------------------------------------------------------
# r16 optimization round: the shared pinned ANN index memo
# ---------------------------------------------------------------------------
def test_ann_index_memo_shares_one_pinned_frame_and_clears(spark):
    """The r16 optimization memoizes the ANN index pieces (exact truth,
    IVF assignment, PQ codebooks/codes) once per (session, corpus) and
    serves every consumer the SAME pinned frame — this pins (a) the
    sharing is real (second request returns the identical object, so
    no consumer can silently rebuild the index), (b) the truth frame's
    values equal a fresh brute-force pass (the memo changes cost, not
    results), and (c) clear_session_memos() really drops the memo so
    a bench pass can never read a stale index."""
    from employee_data_management_system_data_engineering_solution_spark.operators import (
        similarity,
    )

    clear_session_memos()
    t1 = llm._ann_truth(spark, SF_SMOKE)
    a1 = llm._ann_assigned(spark, SF_SMOKE)
    assert llm._ann_truth(spark, SF_SMOKE) is t1  # shared, not rebuilt
    assert llm._ann_assigned(spark, SF_SMOKE) is a1

    emb = llm._live_embeddings(spark, SF_SMOKE)
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    fresh = similarity.cosine_topk_bruteforce(queries, emb, k=10)
    got = {tuple(r) for r in t1.collect()}
    want = {tuple(r) for r in fresh.collect()}
    assert got == want  # memoization changes cost, never values

    clear_session_memos()
    assert llm._ann_truth(spark, SF_SMOKE) is not t1  # genuinely cleared


def test_full_recall_frames_parallel_build_matches_oracle_keys(spark):
    """The r16 thread-pooled _full_recall_frames build must produce the
    same four detector frames (keys and per-frame pair sets) as the
    detectors run directly — concurrency must not change a row."""
    from employee_data_management_system_data_engineering_solution_spark.operators import (
        dedup,
    )

    llm._full_recall_frames.clear()
    llm._ppjoin_pairs.clear()
    llm._verified_pairs.clear()
    frames = llm._full_recall_frames(spark, SF_SMOKE)
    assert set(frames) == {
        "truth", "containment_c90", "minhash_lsh_j90", "simhash_h3",
    }
    docs = read_table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull()
    )
    base = docs.select("doc_id", "text")
    direct = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_hamming_pairs(base, "doc_id", "text")
        .select("id_a", "id_b")
        .collect()
    }
    pooled = {(r.id_a, r.id_b) for r in frames["simhash_h3"].collect()}
    assert pooled == direct
