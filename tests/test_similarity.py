"""Similarity-operator semantics on hand-built vectors."""

from __future__ import annotations

from pyspark.sql import functions as F

from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
    assign_clusters,
    cosine_topk_bruteforce,
    hyperplane_lsh,
    hyperplane_planes,
)


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_topk_orders_by_similarity(spark):
    df = _vecs(
        spark,
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
    )
    out = cosine_topk_bruteforce(df.filter("vec_id = 1"), df, k=2).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [2, 3]  # closest first; the antipode never makes top-2


def test_assign_clusters_nearest_pivot(spark):
    corpus = _vecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])])
    pivots = _vecs(spark, [(100, [1.0, 0.0]), (200, [0.0, 1.0])])
    got = {r["vec_id"]: r["cluster_id"] for r in assign_clusters(corpus, pivots).collect()}
    assert got[1] == 100 and got[2] == 200
    assert got[3] == 100  # exact cosine tie -> deterministic min pivot id


def test_hyperplane_lsh_identical_vectors_always_collide(spark):
    planes = hyperplane_planes(nbits=16, dim=4, seed=3)
    df = _vecs(
        spark,
        [(1, [0.3, -0.2, 0.9, 0.1]), (2, [0.3, -0.2, 0.9, 0.1]), (3, [-0.3, 0.2, -0.9, -0.1])],
    )
    rows = hyperplane_lsh(df, planes=planes, bands=2).collect()
    buckets = {}
    for r in rows:
        buckets.setdefault(r["vec_id"], {})[r["band_no"]] = r["bucket"]
    assert buckets[1] == buckets[2]          # identical vectors: every band collides
    # an antipodal vector flips every sign bit: no band can collide
    assert all(buckets[3][b] != buckets[1][b] for b in buckets[1])


def test_hyperplane_lsh_band_count(spark):
    planes = hyperplane_planes(nbits=8, dim=4, seed=1)
    df = _vecs(spark, [(1, [1.0, 2.0, 3.0, 4.0])])
    rows = hyperplane_lsh(df, planes=planes, bands=4).collect()
    assert sorted(r["band_no"] for r in rows) == [0, 1, 2, 3]
    assert all(0 <= r["bucket"] < 4 for r in rows)  # 2 bits per band


def test_kmeans_iterate_separates_obvious_groups(spark):
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        assign_clusters,
        kmeans_iterate,
    )

    # two tight angular groups around [1,0] and [0,1]; seeds = ids 0,1
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),
        (3, [0.95, 0.05]),
        (4, [0.1, 0.9]),
        (5, [0.05, 0.95]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_iterate(df, k=2, iters=2)
    got = cents.collect()
    assert len(got) == 2
    # cluster 0's trained centroid stays in the x-dominant half-plane
    by_id = {r.vec_id: list(r.embedding) for r in got}
    assert by_id[0][0] > by_id[0][1] and by_id[1][1] > by_id[1][0]
    assigned = {
        r.vec_id: r.cluster_id
        for r in assign_clusters(df, cents).select("vec_id", "cluster_id").collect()
    }
    assert {k for k, v in assigned.items() if v == 0} == {0, 2, 3}
    assert {k for k, v in assigned.items() if v == 1} == {1, 4, 5}


def test_multiprobe_recall_not_below_single_probe(spark):
    """nprobe=2 must never lose recall vs nprobe=1 (it searches a
    superset of the inverted lists), and both measure against the
    brute-force exact top-k."""
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
        ivf_topk_multiprobe,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    pivots = emb.filter(F.col("vec_id") < 8)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(cosine_topk_bruteforce(queries, emb, k=10))
    p1 = pairs(ivf_topk(queries, emb, pivots, k=10))
    p2 = pairs(ivf_topk_multiprobe(queries, emb, pivots, k=10, nprobe=2))
    assert len(p2 & exact) >= len(p1 & exact)
    assert len(p2) == len(p1) == 50


def test_quantize_int8_exact_values_and_zero_vector(spark):
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, all-zero codes
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: (r.qscale, list(r.qvec)) for r in quantize_int8(df).collect()}
    # scale = max|x| = 1.0; codes = round(127 * x)
    assert got[1] == (1.0, [127, -64, 32, 0])
    assert got[2] == (0.0, [0, 0, 0, 0])


def test_quantize_int8_dequant_error_bounded(spark):
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        quantize_int8,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    joined = quantize_int8(emb).join(emb, "vec_id")
    rows = joined.collect()
    assert len(rows) == 50
    for r in rows:
        scale = r.qscale
        assert scale > 0
        for q, x in zip(r.qvec, r.embedding):
            # symmetric quantization: |dequant - x| <= half a step
            assert abs(q * scale / 127.0 - float(x)) <= scale / 254.0 + 1e-9


def test_quantized_rescore_tracks_exact_search(spark):
    """The compress→coarse→rescore loop must (a) score kept pairs with
    the EXACT float cosine and (b) keep recall high — int8 cosine on
    64-dim vectors is a tight approximation."""
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        cosine_topk_bruteforce,
        quantized_topk_rescore,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))

    exact = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk_bruteforce(queries, emb, k=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in quantized_topk_rescore(queries, emb, k=10, rescore_factor=3).collect()
    }
    assert len(got) == 50
    hits = set(got) & set(exact)
    assert len(hits) >= 45  # >= 90% recall
    # rescored values are the exact cosine, not the quantized one
    assert all(got[p] == exact[p] for p in hits)


def test_kmeans_reseeds_empty_cluster_and_keeps_k_constant(spark):
    """Near-duplicate seeds empty a cluster on the first assignment
    round (every vector ties to the lower pivot id); the farthest-point
    reseed must keep k constant and recover a sensible split instead of
    silently shrinking to k-1 for the rest of the run."""
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        assign_clusters,
        kmeans_iterate,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),  # identical to seed 0 -> cluster 1 captures nothing
        (2, [0.95, 0.05]),
        (3, [0.9, 0.1]),
        (4, [0.05, 0.95]),
        (5, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_iterate(df, k=2, iters=2)
    got = {r.vec_id: list(r.embedding) for r in cents.collect()}
    assert sorted(got) == [0, 1]  # k stayed 2, cluster ids stable
    # reseed pulled cluster 1 into the y-dominant group
    assert got[0][0] > got[0][1]
    assert got[1][1] > got[1][0]
    assigned = {
        r.vec_id: r.cluster_id
        for r in assign_clusters(df, cents).select("vec_id", "cluster_id").collect()
    }
    assert {k for k, v in assigned.items() if v == 0} == {0, 1, 2, 3}
    assert {k for k, v in assigned.items() if v == 1} == {4, 5}


def test_kmeans_seeds_lowest_ids_on_any_id_domain(spark):
    """Seeding is 'the k lowest-id vectors' by ORDER, not by id VALUE:
    non-zero-based ids must seed correctly (the old filter(id < k)
    formulation silently produced zero seeds here)."""
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        kmeans_iterate,
    )

    rows = [
        (1000, [1.0, 0.0]),
        (2000, [0.0, 1.0]),
        (3000, [0.9, 0.1]),
        (4000, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_iterate(df, k=2, iters=1)
    got = {r.vec_id: list(r.embedding) for r in cents.collect()}
    assert sorted(got) == [1000, 2000]
    assert got[1000][0] > got[1000][1] and got[2000][1] > got[2000][0]


def test_kmeans_raises_when_corpus_smaller_than_k(spark):
    import pytest

    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        kmeans_iterate,
    )

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="need k=2 seeds"):
        kmeans_iterate(df, k=2, iters=1)


def test_pivot_literal_rejects_non_finite_components(spark):
    """A NaN/inf pivot component must fail fast with the pivot id in
    the message, not surface later as an opaque SQL parse error from a
    bare 'nan' token in the expr string."""
    import math

    import pytest

    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        assign_clusters,
    )

    corpus = _vecs(spark, [(1, [1.0, 0.0])])
    pivots = spark.createDataFrame(
        [(7, [float("nan"), 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="pivot 7"):
        assign_clusters(corpus, pivots)
    assert math.isfinite(1.0)  # noqa: S101 — keeps the math import honest


def test_quantize_cosine_perturbation_within_analytic_bound(spark):
    """int8 quantization contract on random vectors: the cosine of the
    dequantized pair stays within the analytic bound
    |Δcos| <= 2(||δa||/||a|| + ||δb||/||b||) that follows from the
    per-component half-step error (|δ_i| <= scale/254)."""
    import numpy as np

    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        quantize_int8,
    )

    rs = np.random.RandomState(11)
    dim, n = 32, 24
    mat = rs.standard_normal((n, dim))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.qscale, np.array(r.qvec, dtype=np.float64)) for r in quantize_int8(df).collect()}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    for i in range(0, n, 2):
        a, b = mat[i], mat[i + 1]
        sa, qa = got[i]
        sb, qb = got[i + 1]
        da, db_ = qa * sa / 127.0, qb * sb / 127.0
        # per-component contract first (re-asserted on random data)
        assert np.all(np.abs(da - a) <= sa / 254.0 + 1e-12)
        assert np.all(np.abs(db_ - b) <= sb / 254.0 + 1e-12)
        bound = 2.0 * (
            np.linalg.norm(da - a) / np.linalg.norm(a)
            + np.linalg.norm(db_ - b) / np.linalg.norm(b)
        )
        assert abs(cos(da, db_) - cos(a, b)) <= bound + 1e-12


def test_quantized_ivf_matches_multiprobe_pairs(spark):
    """IVF-SQ8 with a generous rescore budget must recover exactly the
    pairs full-precision multi-probe IVF finds on the same inverted
    lists: the int8 coarse ranking is tight enough that the true
    per-list top-10 always survives the top-30 candidate cut, and the
    rescore scores pairs with the exact float cosine."""
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        ivf_topk_multiprobe,
        quantized_ivf_topk,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    pivots = emb.filter(F.col("vec_id") < 8)

    multi = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in ivf_topk_multiprobe(queries, emb, pivots, k=10, nprobe=2).collect()
    }
    sq8 = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in quantized_ivf_topk(
            queries, emb, pivots, k=10, rescore_factor=3, nprobe=2
        ).collect()
    }
    assert len(sq8) == 50
    assert set(sq8) == set(multi)
    assert all(sq8[p] == multi[p] for p in sq8)  # exact float rescore


def test_pq_train_codebooks_shapes_and_determinism(spark):
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        pq_train_codebooks,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cbs = pq_train_codebooks(emb, m=4, ksub=8)
    assert {j for j, _ in cbs} == {0, 1, 2, 3}
    assert all(len(v) == 16 for v in cbs.values())  # dim/m components
    assert all(0 <= c < 8 for _, c in cbs)
    assert cbs == pq_train_codebooks(emb, m=4, ksub=8)  # deterministic


def test_pq_encode_reconstruction_beats_random_codes(spark):
    """The trained+encoded reconstruction must be closer to the input
    than assigning every vector code 0 — i.e. the argmin actually
    minimizes quantization error."""
    from pyspark.sql import functions as F

    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 200
    )
    m, dsub = 4, 16
    cbs = pq_train_codebooks(emb, m=m, ksub=8)
    codes = {r.vec_id: r.codes for r in pq_encode(emb, cbs, m=m).collect()}
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}

    def err(vid, cds):
        e = 0.0
        for j in range(m):
            cb = cbs[(j, cds[j])]
            sub = vecs[vid][j * dsub : (j + 1) * dsub]
            e += sum((a - b) ** 2 for a, b in zip(sub, cb))
        return e

    trained = sum(err(v, codes[v]) for v in vecs)
    # compare against the all-code-0 assignment (codeword 0 exists in
    # every subspace: seeds are the ksub lowest-id vectors)
    fixed = sum(err(v, [0] * m) for v in vecs)
    assert trained < fixed * 0.9


def test_pq_ivf_topk_prunes_to_probed_lists_with_exact_rescore(spark):
    """IVF-PQ invariants: every returned neighbor lives in one of the
    query's nprobe probed inverted lists (the scan really is pruned),
    ranks are dense per query, and cosine_sim is the EXACT float cosine
    (matches the brute-force score for the same pair)."""
    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        assign_clusters,
        assign_clusters_multi,
        cosine_topk_bruteforce,
        pq_ivf_topk,
        pq_train_codebooks,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 103))
    pivots = emb.filter(F.col("vec_id") < 8)
    cbs = pq_train_codebooks(emb, m=8)

    out = pq_ivf_topk(
        queries, emb, pivots, cbs, m=8, k=5, rescore_factor=6, nprobe=2
    ).collect()
    corpus_list = {
        r.vec_id: r.cluster_id for r in assign_clusters(emb, pivots).collect()
    }
    probed = {}
    for r in assign_clusters_multi(queries, pivots, 2).collect():
        probed.setdefault(r.vec_id, set()).add(r.cluster_id)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk_bruteforce(queries, emb, k=500).collect()
    }
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        assert corpus_list[r.neighbor_id] in probed[r.query_id]
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine_sim
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == {100, 101, 102}
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_pq_adc_topk_contract(spark):
    from pyspark.sql import functions as F

    from employee_data_management_system_data_engineering_solution_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_codebooks,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    cbs = pq_train_codebooks(emb, m=8)
    q = emb.filter(F.col("vec_id") < 2)
    out = pq_adc_topk(q, emb, cbs, m=8, k=5, rescore_factor=4).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine_sim))
    for qid, rows in by_q.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3, 4, 5]
        sims = [r[1] for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_ann_rank_quality_matches_python_reference(spark):
    """Third opinion on the metric math (DuckDB oracle is the second):
    MRR@10 and binary-NDCG@10 recomputed in pure Python from the same
    ranked method outputs + exact ground truth must equal the query's
    numbers for every method."""
    import employee_data_management_system_data_engineering_solution_spark.plans.llm as llm

    sf = "/root/testdata/sf0.001"
    truth, un, _ = llm._ann_truth_and_ranked_methods(spark, sf)
    tset = {(r.query_id, r.neighbor_id) for r in truth.collect()}
    ranked = {}
    for r in un.collect():
        ranked.setdefault((r.method, r.query_id), []).append((r.rank, r.neighbor_id))
    # python reference
    per_method = {}
    for (m, q), lst in ranked.items():
        rel = [(rn, (q, nb) in tset) for rn, nb in sorted(lst)]
        rr = max((1.0 / rn for rn, is_rel in rel if is_rel), default=0.0)
        dcg = sum(llm._DCG_W[rn - 1] for rn, is_rel in rel if is_rel)
        per_method.setdefault(m, []).append((rr, dcg))
    want = {
        m: (
            round(sum(rr for rr, _ in v) / len(v), 4),
            round(sum(d for _, d in v) / len(v) / llm._IDCG_10, 4),
            len(v),
        )
        for m, v in per_method.items()
    }
    got = {
        r.method: (r.mrr_at_10, r.ndcg_at_10, r.n_queries)
        for r in llm.ann_rank_quality(spark, sf).collect()
    }
    assert got == want
    assert all(0.0 <= v[0] <= 1.0 and 0.0 <= v[1] <= 1.0 for v in got.values())


def test_hard_negative_mining_cross_label_and_ranked(spark):
    """Every mined negative has a different label from its query, ranks
    are 1..<=3 with non-increasing similarity, and the picks match a
    numpy brute force."""
    import numpy as np

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["hard_negative_mining"].fn(spark, sf).collect()
    emb = {
        r.vec_id: (np.array(r.embedding, dtype=float), r.label)
        for r in read_table(spark, sf, "embeddings").collect()
    }
    by_q: dict = {}
    for r in rows:
        assert r.n_label != r.q_label
        by_q.setdefault(r.query_id, []).append(r)
    for qid, picks in by_q.items():
        picks.sort(key=lambda r: r.rank)
        sims = [r.cosine_sim for r in picks]
        assert sims == sorted(sims, reverse=True)
        qv, ql = emb[qid]
        scored = []
        for nid, (nv, nl) in emb.items():
            if nid == qid or nl == ql:
                continue
            cos = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
            scored.append((-round(cos, 6), nid))
        want = [nid for _, nid in sorted(scored)[:3]]
        assert [r.neighbor_id for r in picks] == want, qid


def test_ann_incremental_admission_equals_full_rebuild(spark):
    """The admission guarantee: with PINNED pivots, the incrementally
    merged top-10 (stored base top-10 ∪ admitted delta candidates,
    recut) is set-identical to a full IVF rebuild over base ∪ batch —
    assignment is per-vector, so admit-then-merge loses nothing a
    rebuild would have. Plus recall bounds and column arithmetic."""
    from employee_data_management_system_data_engineering_solution_spark.operators import similarity
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["ann_incremental_admission"].fn(spark, sf).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_hits <= 10
        assert 0 <= r.n_batch_neighbors <= 10
        assert abs(r.recall_at_10 - r.n_hits / 10.0) < 1e-12
    # rebuild: same pivots, corpus = base ∪ batch, same nprobe
    emb = read_table(spark, sf, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    pivots = base.filter(F.col("vec_id") < 8)
    queries = base.filter((F.col("vec_id") >= 101) & (F.col("vec_id") < 106))
    rebuilt = similarity.ivf_topk_multiprobe(queries, emb, pivots, k=10, nprobe=2)
    want = {(r.query_id, r.neighbor_id) for r in rebuilt.collect()}
    # reconstruct the merged pair set from the query internals: rerun
    # and compare via the registry query's own (query, n_batch) shape
    # AND the full pair-set equality from a duplicate merge run
    emb_b = emb.filter(F.col("vec_id") % 10 == 0)
    stored = similarity.ivf_topk_multiprobe(queries, base, pivots, k=10, nprobe=2).select(
        "query_id", "neighbor_id", "cosine_sim"
    )
    ab = similarity.assign_clusters(emb_b, pivots)
    qp = similarity.assign_clusters_multi(queries, pivots, 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.col("__vnorm").alias("__qnorm"),
        "cluster_id",
    )
    c = ab.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        F.col("__vnorm").alias("__cnorm"),
        "cluster_id",
    )
    delta = c.join(F.broadcast(qp), "cluster_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            similarity.dot(
                similarity._as_double(F.col("__qvec")),
                similarity._as_double(F.col("__cvec")),
            )
            / (F.col("__qnorm") * F.col("__cnorm")),
            6,
        ).alias("cosine_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    merged = (
        stored.unionByName(delta)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 10)
    )
    got = {(r.query_id, r.neighbor_id) for r in merged.collect()}
    assert got == want
