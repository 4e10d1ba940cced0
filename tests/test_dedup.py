"""Deduplication operators: exact, MinHash-LSH, n-gram Jaccard, SimHash."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row
from pyspark.sql import functions as F

from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
    MINHASH_PRIME,
    char_ngram_rows,
    exact_dedup,
    gram_minhash,
    gram_poly_minhash,
    lsh_banded,
    minhash_lsh_groups,
    ngram_jaccard_pairs,
    simhash,
    with_char_ngrams,
)

LOREM = (
    "the quick brown fox jumps over the lazy dog while the rain in spain "
    "falls mainly on the plain and every good boy deserves fudge"
)


def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=LOREM),
            Row(doc_id=2, text=LOREM),  # exact dup of 1
            Row(doc_id=3, text=LOREM.replace("fox", "cat")),  # near-dup of 1
            Row(doc_id=4, text="completely different content about databases and engines"),
        ]
    )


def test_exact_dedup_groups_normalized_copies(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello  World"),
            Row(doc_id=2, text="  hello world "),
            Row(doc_id=3, text="bye"),
        ]
    )
    out = {r.keep_id: r.n_copies for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_groups_buckets_identical_docs(spark):
    out = minhash_lsh_groups(_docs(spark), "doc_id", "text").collect()
    # docs 1 and 2 share every band bucket; each colliding bucket keeps min id
    assert len(out) >= 1
    assert all(r.keep_id == 1 and r.n_docs >= 2 for r in out)


def test_char_ngram_rows_and_array_agree(spark):
    docs = _docs(spark)
    arr = {
        r.doc_id: sorted(set(r.grams))
        for r in with_char_ngrams(docs, "doc_id", "text").collect()
    }
    rows = (
        char_ngram_rows(docs, "doc_id", "text")
        .groupBy("doc_id")
        .agg(F.array_sort(F.array_distinct(F.collect_list("gram"))).alias("g"))
        .collect()
    )
    assert {r.doc_id: list(r.g) for r in rows} == arr


def test_gram_poly_minhash_matches_reference_fold(spark):
    """The polynomial signature equals a plain-Python re-derivation:
    normalize, enumerate char-5-gram positions (clamped to one for
    short docs, missing chars coded 0), min over (a + i·b) mod P."""

    def py_sig(text: str, n=5, n_hashes=8, p=MINHASH_PRIME):
        import re

        norm = re.sub(r"\s+", " ", text.strip().lower())
        hs = []
        for start in range(max(len(norm) - n, 0) + 1):
            codes = [
                ord(norm[start + k]) if start + k < len(norm) else 0 for k in range(n)
            ]
            a = sum(c * 31**k for k, c in enumerate(codes)) % p
            b = sum(c * 131**k for k, c in enumerate(codes)) % p
            hs.append((a, b))
        return tuple(min((a + i * b) % p for a, b in hs) for i in range(n_hashes))

    docs = _docs(spark).unionByName(
        _docs(spark).sparkSession.createDataFrame(
            [Row(doc_id=5, text="abc"), Row(doc_id=6, text="  ")]  # short + blank
        )
    )
    got = {
        r.doc_id: tuple(r)[1:]
        for r in gram_poly_minhash(docs, "doc_id", "text").collect()
    }
    want = {r.doc_id: py_sig(r.text) for r in docs.collect()}
    assert got == want
    assert got[1] == got[2]  # identical docs, identical signatures
    assert got[1] != got[4]


def test_gram_minhash_identical_for_identical_grams(spark):
    sig = {
        r.doc_id: tuple(r)[1:]
        for r in gram_minhash(char_ngram_rows(_docs(spark), "doc_id", "text"), "doc_id").collect()
    }
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]


def test_ngram_jaccard_pairs_finds_planted_dups(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), "doc_id", "text", min_jaccard=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_simhash_near_dups_have_small_hamming_distance(spark):
    sigs = {r.doc_id: r.simhash for r in simhash(_docs(spark), "doc_id", "text").collect()}

    def ham(a, b):
        return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

    assert sigs[1] == sigs[2]
    assert ham(sigs[1], sigs[3]) < 16
    assert ham(sigs[1], sigs[4]) > 16


def test_simhash_matches_scalar_reference(spark):
    # independent scalar recomputation of the vectorized path
    def ref(text):
        counts = [0] * 64
        for w in text.lower().split():
            h = int.from_bytes(hashlib.blake2b(w.encode(), digest_size=8).digest(), "big")
            for bit in range(64):
                counts[bit] += 1 if (h >> bit) & 1 else -1
        sig = sum(1 << b for b in range(64) if counts[b] > 0)
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    docs = _docs(spark)
    got = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    want = {r.doc_id: ref(r.text) for r in docs.collect()}
    assert got == want


def test_simhash_matches_scalar_reference_on_corpus_slice(spark):
    """Bit-exact independent check on REAL corpus text (blake2b is not
    SQL-expressible, so this pytest oracle stands in for the DuckDB
    oracle the other dedup queries get): a deterministic slice of the
    generated documents table, vectorized path vs a scalar pure-Python
    reimplementation."""

    def ref(text):
        counts = [0] * 64
        for w in (text or "").lower().split():
            h = int.from_bytes(hashlib.blake2b(w.encode(), digest_size=8).digest(), "big")
            for bit in range(64):
                counts[bit] += 1 if (h >> bit) & 1 else -1
        sig = sum(1 << b for b in range(64) if counts[b] > 0)
        return sig - (1 << 64) if sig >= 1 << 63 else sig

    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.col("doc_id") < 64
    )
    got = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    want = {r.doc_id: ref(r.text) for r in docs.select("doc_id", "text").collect()}
    assert len(got) == 64
    assert got == want


def test_lsh_banded_emits_bands_per_doc(spark):
    out = lsh_banded(_docs(spark), "doc_id", "text", n_hashes=8, bands=2).collect()
    assert len(out) == 4 * 2
    assert {r.band_no for r in out} == {0, 1}


def test_passage_fingerprint_rows(spark):
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        passage_fingerprint_rows,
    )

    w10 = " ".join(f"w{i}" for i in range(10))
    other = " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, w10 + " " + other),      # two passages
            (2, w10 + " tail words"),    # one passage + ignored partial tail
            (3, "too short"),            # < width -> nothing
            (4, other),                  # one passage, shared with doc 1
        ],
        "doc_id bigint, text string",
    )
    rows = passage_fingerprint_rows(df, "doc_id", "text", width=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.passage_md5)
    assert len(by_doc.get(1, [])) == 2
    assert len(by_doc.get(2, [])) == 1
    assert 3 not in by_doc
    # doc 4's only passage equals doc 1's second passage
    assert by_doc[4][0] in by_doc[1]
    assert by_doc[2][0] == by_doc[1][0]


def test_neardup_prune_keeps_one_rep_per_cluster(spark, tmp_path):
    """End-to-end fuzzy-dedup prune: docs 1,2 (exact dups) and 3
    (near-dup) collapse into one cluster whose smallest id survives as
    representative; the unrelated doc survives un-flagged."""
    import glob
    import shutil

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import (
        REGISTRY,
    )

    _docs(spark).coalesce(1).write.parquet(str(tmp_path / "stage"))
    part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "documents.parquet"))

    got = {
        r.doc_id: r.is_cluster_rep
        for r in REGISTRY["neardup_prune"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {1: True, 4: False}


def test_winnow_guarantee_shared_substring_yields_shared_fp(spark):
    """Winnowing guarantee: any shared substring of length >= n + w - 1
    produces at least one shared fingerprint, while disjoint texts
    share none."""
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        winnow_fingerprint_rows,
    )

    shared = "the quick brown fox jumps over the lazy dog"  # 43 chars >= 8+4-1
    df = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " suffix alpha"),
            (2, "totally different lead " + shared),
            (3, "no overlap here at all zzz qqq vvv"),
        ],
        "doc_id bigint, text string",
    )
    rows = winnow_fingerprint_rows(df, "doc_id", "text", n=8, window=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "docs sharing a long substring must share a fingerprint"
    # fingerprints are a subset of the doc's gram hashes -> deterministic
    again = winnow_fingerprint_rows(df, "doc_id", "text", n=8, window=4).collect()
    assert {(r.doc_id, r.fp) for r in again} == {(r.doc_id, r.fp) for r in rows}


def test_winnow_short_doc_emits_truncated_fingerprint(spark):
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        winnow_fingerprint_rows,
    )

    df = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id bigint, text string")
    rows = winnow_fingerprint_rows(df, "doc_id", "text", n=8, window=4).collect()
    by_doc = {r.doc_id for r in rows}
    assert 1 in by_doc  # shorter than one gram still fingerprints


def test_winnow_star_fallback_pairs_with_min_id_hub(spark):
    """Degenerate buckets must pair members with the MINIMUM id (the
    hub), not the second element — regression for the 0-based ids[1]
    indexing bug that paired with a non-hub member."""
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        winnow_shared_pairs,
    )

    # 5 identical docs -> every fingerprint bucket holds all 5 ids;
    # with max_clique_bucket=3 the star fallback kicks in and must emit
    # ONLY (10, x) pairs: hub = min id = 10.
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(i, text) for i in (10, 11, 12, 13, 14)], "doc_id bigint, text string"
    )
    pairs = winnow_shared_pairs(
        df, "doc_id", "text", n=8, window=4, min_shared=1, max_clique_bucket=3
    ).collect()
    assert pairs, "identical docs must pair"
    assert {p.id_a for p in pairs} == {10}
    assert {p.id_b for p in pairs} == {11, 12, 13, 14}


def test_simhash_arith_identical_docs_same_signature(spark):
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        simhash_arith,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "completely different words here")],
        "doc_id bigint, text string",
    )
    sigs = {r.doc_id: r.simhash for r in simhash_arith(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    assert all(0 <= s < (1 << 48) for s in sigs.values())


def test_simhash_arith_matches_python_reference(spark):
    """Bit-exact pure-Python replay of the arithmetic simhash family."""
    import hashlib

    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        simhash_arith,
    )

    texts = {1: "the quick brown fox", 2: "pack my box with five dozen jugs", 3: ""}

    def ref(text, nbits=48):
        import re
        norm = re.sub(r"\s+", " ", text.strip().lower())
        words = norm.split(" ")
        counts = {}
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        sums = [0] * nbits
        for w, c in counts.items():
            h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % (1 << nbits)
            for b in range(nbits):
                sums[b] += c * (((h >> b) & 1) * 2 - 1)
        return sum((1 << b) for b in range(nbits) if sums[b] > 0)

    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = {r.doc_id: r.simhash for r in simhash_arith(df, "doc_id", "text").collect()}
    for i, t in texts.items():
        assert got[i] == ref(t), f"doc {i}"


def test_simhash_hamming_pairs_pigeonhole_recall(spark):
    """hamming <= bands-1 guarantees a shared band, so every true
    near-dup pair must be FOUND (no candidate-stage miss)."""
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    base = "one two three four five six seven eight nine ten " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " eleven"), (4, "unrelated stuff entirely")],
        "doc_id bigint, text string",
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_hamming_pairs(df, "doc_id", "text").collect()}
    assert pairs.get((1, 2)) == 0
    assert all(4 not in p for p in pairs)


def test_deletion_neighborhood_pairs_exact_ed1_semantics(spark):
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        deletion_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "ab"), (4, "abcd"), (5, "xyz")],
        "id LONG, nm STRING",
    )
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in deletion_neighborhood_pairs(df, "id", "nm").collect()
    }
    # substitution, deletion, insertion each found; the distance-2
    # pair (ab vs abcd) and the unrelated string never survive
    assert got == {(1, 2): 1, (1, 3): 1, (1, 4): 1, (2, 3): 1, (2, 4): 1}


def test_deletion_neighborhood_rejects_overlong_names(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        deletion_neighborhood_pairs,
    )

    df = spark.createDataFrame([(1, "x" * 40), (2, "y")], "id LONG, nm STRING")
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        deletion_neighborhood_pairs(df, "id", "nm", max_len=32).collect()


def test_incremental_neardup_admission_semantics(spark):
    """Admission check on a micro corpus: a batch doc that duplicates
    a corpus doc is reported (jaccard 1.0), a near-dup clears the
    threshold, an unrelated batch doc is admitted silently, and
    corpus-internal duplicate pairs are NEVER emitted — the whole
    point of the restricted join."""
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        incremental_neardup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base),                          # corpus-internal dup: must NOT pair
            (3, "completely different content about spark engines"),
        ],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [
            (100, base),                        # verbatim dup of corpus
            (101, base + " tail"),              # near-dup of corpus
            (102, "zebras graze quietly on the open savanna at dawn"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in incremental_neardup_pairs(
            corpus, batch, "doc_id", "text", n=5, min_jaccard=0.5
        ).collect()
    }
    assert got[(100, 1)] == 1.0 and got[(100, 2)] == 1.0
    assert (101, 1) in got and got[(101, 1)] >= 0.5
    assert all(nid != 102 for nid, _ in got)          # unrelated doc admitted
    assert all(nid >= 100 for nid, _ in got)          # no corpus-corpus pairs


def test_cluster_safe_split_walls_off_near_dup_pairs(spark):
    """The leakage invariant: every verified near-dup pair lands on the
    SAME side of the train/valid/test wall, and the output covers the
    corpus exactly once with valid buckets/cuts."""
    from employee_data_management_system_data_engineering_solution_spark.plans.llm import _verified_pairs
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["cluster_safe_split"].fn(spark, sf)
    rows = out.collect()
    split_of = {r.doc_id: r.split for r in rows}
    assert len(split_of) == len(rows)  # one row per doc
    assert all(0 <= r.bucket < 100 for r in rows)
    assert {r.split for r in rows} <= {"train", "valid", "test"}
    for p in _verified_pairs(spark, sf).collect():
        assert split_of[p.id_a] == split_of[p.id_b], (p.id_a, p.id_b)
    # near-dup members ride the CLUSTER key, not their own id
    clustered = [r for r in rows if r.split_key != r.doc_id]
    for r in clustered:
        assert split_of[r.split_key] == r.split


def test_prefix_filter_pairs_equals_brute_force(spark):
    """PPJoin exactness: the prefix filter must return EVERY pair with
    Jaccard >= theta (no false negatives), verified against an
    all-pairs brute force over deterministic random token sets with
    deliberate near-dup plants and frequency ties."""
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    sets = _planted_token_sets()
    rows = [(i, t) for i, toks in sets.items() for t in toks]
    df = spark.createDataFrame(rows, "id LONG, tok STRING")
    for tn, td in ((2, 3), (4, 5), (1, 2)):
        got = {
            (r.id_a, r.id_b): (r.inter_size, r.union_size, r.jaccard)
            for r in prefix_filter_pairs(df, "id", "tok", tn, td).collect()
        }
        assert got == _jaccard_brute_force(sets, tn, td), f"theta={tn}/{td}"


def _planted_token_sets():
    import random

    rng = random.Random(7)
    vocab = [f"t{i:02d}" for i in range(30)]
    sets = {}
    for i in range(40):
        sets[i] = set(rng.sample(vocab, rng.randint(4, 12)))
    # plants: exact clone, one-off edit, subset
    sets[100] = set(sets[0])
    sets[101] = set(sets[1]) | {"t99"}
    sets[102] = set(list(sets[2])[:max(1, len(sets[2]) - 1)])
    return sets


def _jaccard_brute_force(sets, tn, td):
    import itertools

    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if td * i >= tn * u:
            want[(a, b)] = (i, u, round(i / u, 4))
    return want


def test_prefix_filter_pairs_string_fallback_on_hash_collision(spark, monkeypatch):
    """The injectivity probe's fallback: with xxhash64 stubbed to
    collide (every 3-char token hashes alike) the probe must reject the
    hash path, and the string path must still equal brute force — the
    hash path would collapse every set to one token. NULL tokens ride
    along on both runs and count as no token; unstubbed, they leave the
    fast (hashed) path in the plan."""
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    sets = _planted_token_sets()
    rows = [(i, t) for i, toks in sets.items() for t in toks]
    rows += [(i, None) for i in (0, 5, 100)]
    df = spark.createDataFrame(rows, "id LONG, tok STRING")
    want = _jaccard_brute_force(sets, 4, 5)

    def pairs(out):
        return {
            (r.id_a, r.id_b): (r.inter_size, r.union_size, r.jaccard)
            for r in out.collect()
        }

    fast = prefix_filter_pairs(df, "id", "tok", 4, 5)
    assert "xxhash64" in fast._jdf.queryExecution().optimizedPlan().toString()
    assert pairs(fast) == want

    calls = []

    def colliding(c):
        calls.append(c)
        return F.length(c).cast("long")

    monkeypatch.setattr(F, "xxhash64", colliding)
    slow = prefix_filter_pairs(df, "id", "tok", 4, 5)
    assert calls
    assert "xxhash64" not in slow._jdf.queryExecution().optimizedPlan().toString()
    assert pairs(slow) == want


def test_substring_span_report_matches_bruteforce_lcs(spark):
    """lcs_len equals the O(L^2) dynamic-programming longest common
    substring on every reported pair; planted overlaps are recovered
    exactly (full copy -> whole doc, embedded passage -> passage)."""
    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        substring_span_report,
    )

    import re

    passage = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, "alpha beta gamma " + passage + " delta epsilon zeta eta"),
        (2, "one two three four " + passage + " five six seven eight nine"),
        (3, "completely unrelated words that share nothing long at all"),
        (4, "alpha beta gamma " + passage + " delta epsilon zeta eta"),  # = doc 1
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        (r.id_a, r.id_b): r
        for r in substring_span_report(
            df, "doc_id", "text", n=16, window=8, min_shared=4
        ).collect()
    }

    def norm(s):
        return re.sub(r"\s+", " ", s.strip().lower())

    def lcs(a, b):
        best = 0
        prev = [0] * (len(b) + 1)
        for i in range(1, len(a) + 1):
            cur = [0] * (len(b) + 1)
            for j in range(1, len(b) + 1):
                if a[i - 1] == b[j - 1]:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    texts = {i: norm(t) for i, t in docs}
    # the exact-copy pair and the shared-passage pairs must be found
    assert (1, 4) in got and (1, 2) in got and (2, 4) in got
    for (ia, ib), r in got.items():
        want = lcs(texts[ia], texts[ib])
        assert r.lcs_len == want, (ia, ib)
        assert r.n_runs >= 1 and r.n_match >= r.lcs_len - 15
    assert got[(1, 4)].lcs_len == len(texts[1])
    assert got[(1, 2)].lcs_len >= len(norm(passage))


def test_containment_pairs_finds_embedded_fragment(spark):
    """A fragment wholly contained in a longer doc scores containment
    1.0 even though Jaccard is low; values match a brute-force
    distinct-16-gram replay on every reported pair."""
    import re

    from employee_data_management_system_data_engineering_solution_spark.operators.dedup import (
        containment_pairs,
    )

    page = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "the quick brown fox jumps over the lazy dog again and again "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
    )
    frag = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words that no other document shares at all"
    df = spark.createDataFrame(
        [(1, page), (2, frag), (3, other)], "doc_id LONG, text STRING"
    )
    # 16 single-row bands: at this J ≈ 0.3 the scale-tuned two-row
    # default has ~50% recall; single-row is fine (and deterministic)
    # on a 3-doc corpus where buckets cannot blow the star cap
    got = {
        (r.id_a, r.id_b): r
        for r in containment_pairs(
            df, "doc_id", "text", n=16, min_containment=0.9,
            n_hashes=16, bands=16,
        ).collect()
    }

    def gramset(s):
        norm = re.sub(r"\s+", " ", s.strip().lower())
        return {norm[i : i + 16] for i in range(max(len(norm) - 16, 0) + 1)}

    assert (1, 2) in got
    texts = {1: page, 2: frag, 3: other}
    for (ia, ib), r in got.items():
        a, b = gramset(texts[ia]), gramset(texts[ib])
        assert (r.n_a, r.n_b) == (len(a), len(b))
        assert r.n_inter == len(a & b)
        assert r.containment == round(len(a & b) / max(min(len(a), len(b)), 1), 4)
    assert got[(1, 2)].containment == 1.0
    assert all(3 not in pair for pair in got)
