"""Warehouse-curation queries: CDC snapshot diff and deterministic
dataset splitting (north-star extensions, SURVEY §2.11.1).

``snapshot_diff_orders`` feeds the reference's merge stage
(``merge2_tf_dim_staging.py`` consumes a prepared delta) by producing
the delta itself from two full snapshots. The "new" snapshot is
simulated deterministically from ``orders``: a later cut-off date
(inserts), open orders repriced 2x (updates; x2 is exact in binary floating point, so Spark and DuckDB round identically), and urgent orders
dropped (deletes).

``train_test_split`` is the seeded, shuffle-free corpus split every
training-data pipeline needs: stable under reruns, cluster resizes,
and row order, because the assignment is a pure function of the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators.cdc import hash_split, snapshot_diff
from ..sources.io import read_table
from .registry import register

_OLD_CUT = "1997-12-31"
_NEW_CUT = "1998-06-30"


@register(
    "snapshot_diff_orders",
    f"""
    WITH snap_old AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS totalprice
      FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '{_OLD_CUT}'
    ),
    snap_new AS (
      SELECT o_orderkey, o_orderstatus,
             round(CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
                        ELSE o_totalprice END, 2) AS totalprice
      FROM orders
      WHERE CAST(o_orderdate AS DATE) <= DATE '{_NEW_CUT}'
        AND o_orderpriority <> '1-URGENT'
    ),
    diff AS (
      SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                    OR (o.totalprice   IS DISTINCT FROM n.totalprice) THEN 'update'
                  ELSE 'unchanged' END            AS change_type,
             COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
             COALESCE(n.totalprice, o.totalprice)       AS totalprice
      FROM snap_old o FULL OUTER JOIN snap_new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT * FROM diff WHERE change_type <> 'unchanged'
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate").cast("date") <= F.to_date(F.lit(_OLD_CUT))).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("totalprice")
    )
    new = (
        orders.filter(
            (F.col("o_orderdate").cast("date") <= F.to_date(F.lit(_NEW_CUT)))
            & (F.col("o_orderpriority") != "1-URGENT")
        ).select(
            "o_orderkey",
            "o_orderstatus",
            F.round(
                F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice") * 2).otherwise(
                    F.col("o_totalprice")
                ),
                2,
            ).alias("totalprice"),
        )
    )
    return snapshot_diff(old, new, keys=["o_orderkey"])


@register(
    "train_test_split",
    """
    WITH b AS (
      SELECT doc_id, source,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':corpus-v1'), 1, 15))::BIGINT
               % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, source, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return hash_split(docs, "doc_id", seed="corpus-v1")


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS col_name,
           count(*)                      AS n_rows,
           count({c})                    AS n_nonnull,
           count(DISTINCT {c})           AS n_distinct,
           CAST(min({c}) AS VARCHAR)     AS min_value,
           CAST(max({c}) AS VARCHAR)     AS max_value
    FROM (SELECT * REPLACE (CAST(o_orderdate AS DATE) AS o_orderdate) FROM orders)
    """
    for c in _PROFILE_COLS
)


@register("column_profile", _PROFILE_ORACLE)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass ingest audit over ``orders`` (nulls, cardinality,
    bounds per column). The timestamp column is pre-cast to DATE so the
    stringified bounds are representation-stable across engines."""
    from ..operators.quality import profile_columns

    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    return profile_columns(orders, _PROFILE_COLS)


@register("column_profile_approx", None)  # HLL++ values are engine-specific: no cross-engine oracle
def column_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB profiling path, exercised as a first-class
    carrier: the same one-pass audit as ``column_profile`` with
    HyperLogLog++ cardinality instead of exact ``count_distinct``.
    Sketch estimates are engine-specific, so the driver records the
    weaker rows-only verdict here; ``tests/test_quality.py`` asserts
    the strong properties instead — every non-distinct statistic equals
    the exact profile's, and each estimate lands within the configured
    relative-error bound of the exact cardinality."""
    from ..operators.quality import profile_columns

    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    return profile_columns(orders, _PROFILE_COLS, approx=True)


_DECILE_PS = tuple(i / 10 for i in range(1, 10))

_DECILE_ORACLE = f"""
    WITH cuts AS (
      SELECT {", ".join(f"round(quantile_cont(o_totalprice, {p}), 4) AS c{i}" for i, p in enumerate(_DECILE_PS, 1))}
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    binned AS (
      SELECT o_totalprice,
             CAST(CASE {" ".join(f"WHEN o_totalprice <= c{i} THEN {i}" for i in range(1, 10))}
                  ELSE 10 END AS INT) AS decile
      FROM orders CROSS JOIN cuts WHERE o_totalprice IS NOT NULL
    )
    SELECT decile,
           count(*)                        AS n,
           round(min(o_totalprice), 2)     AS lo,
           round(max(o_totalprice), 2)     AS hi,
           round(avg(o_totalprice), 4)     AS mean
    FROM binned GROUP BY decile
    """


@register("price_decile_stats", _DECILE_ORACLE)
def price_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning + per-bucket stats, the
    100 TB-safe way: ONE distributed percentile aggregate produces the
    9 interior cut points (shared state across all 9 quantiles), the
    1-row cut table is broadcast, and bucket assignment is a narrow
    codegen'd CASE over the fact — no global-order window, no
    single-partition total sort anywhere in the plan (the old ntile
    formulation sorted the entire fact on one task).

    Cut points are exact interpolated percentiles (Spark ``percentile``
    == DuckDB ``quantile_cont``, rounded 4dp on both sides) so the
    oracle bins identically. At 100 TB swap ``percentile`` for
    ``approx_percentile(col, ps, 10000)`` — same plan shape, sketch
    cuts, not portable to the oracle. Values equal to a cut land in the
    lower bucket on both engines, so tie handling is deterministic;
    bucket populations are within one tied-value group of n/10 rather
    than exactly n/10, which is what any cut-point decile gives."""
    from ..operators.quality import quantile_buckets

    # NULL contract: an unpriceable order has no decile — excluded on
    # both engines (the oracle's CASE would otherwise dump NULL prices
    # into the TOP bucket via its ELSE arm: a malformed row polluting
    # the report; probed by tools/null_parity_probe.py)
    orders = (
        read_table(spark, sf_dir, "orders")
        .select("o_totalprice")
        .filter(F.col("o_totalprice").isNotNull())
    )
    binned = quantile_buckets(orders, "o_totalprice", n=10, bucket_col="decile")
    return (
        binned.groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.avg("o_totalprice"), 4).alias("mean"),
        )
    )


@register(
    "quality_weighted_sample",
    r"""
    WITH stats AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS wc,
             length(regexp_extract_all(lower(text),
               '\b(the|and|of|to|in|is|that|with|for|was)\b')) AS hits,
             round(length(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                   / greatest(length(text), 1), 4) AS pr
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             round((least(wc / 100.0, 1.0)
                    + least(hits / greatest(wc, 1) * 5, 1.0)
                    + (1.0 - least(pr * 4, 1.0))) / 3, 4) AS quality
      FROM stats
    ),
    s AS (
      SELECT doc_id, quality,
             ('0x' || substring(md5(doc_id::VARCHAR || ':qws-v1'), 1, 15))::BIGINT
               % 10000 AS bucket,
             CAST(round(greatest(least(quality, 0.95), 0.05) * 10000) AS BIGINT)
               AS thresh
      FROM q
    )
    SELECT doc_id, quality, round(10000.0 / thresh, 4) AS sample_weight
    FROM s WHERE bucket < thresh
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling by quality: each document survives with
    probability proportional to its (clamped) quality score, and
    survivors carry the inverse-propensity ``sample_weight`` that keeps
    downstream statistics unbiased — the continuous-probability sibling
    of ``stratified_sample``'s per-class fractions, and the standard
    shape for quality-upweighted training-data mixes.

    Deterministic: the keep decision is seeded-hash-vs-threshold (no
    ``rand()``), so the sample is reproducible across runs, executors,
    and engines; the threshold is an INTEGER of basis points, so the
    float quality score only enters through the same rounded value both
    engines compute. One narrow scan, no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    quality = tx.quality_score(F.col("text"))
    p_keep = F.greatest(F.least(quality, F.lit(0.95)), F.lit(0.05))
    thresh = F.round(p_keep * 10000).cast("long")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":qws-v1"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    return (
        docs.select(
            "doc_id",
            quality.alias("quality"),
            thresh.alias("__thresh"),
            bucket.alias("__bucket"),
        )
        .filter(F.col("__bucket") < F.col("__thresh"))
        .select(
            "doc_id",
            "quality",
            F.round(F.lit(10000.0) / F.col("__thresh"), 4).alias("sample_weight"),
        )
    )


@register(
    "stratified_sample",
    """
    WITH b AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':strat-v1'), 1, 15))::BIGINT
               % 100 AS bucket
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS totalprice
    FROM b
    WHERE bucket < (CASE WHEN o_orderpriority = '1-URGENT' THEN 50 ELSE 10 END)
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum keep-fractions
    applied via the seeded key hash (no rand(), so the sample is
    reproducible across runs/executors and joinable downstream).
    Urgent orders are oversampled 5x — the class-rebalancing shape a
    training-data pipeline uses for rare classes."""
    orders = read_table(spark, sf_dir, "orders")
    sampled = hash_split(
        orders, "o_orderkey", seed="strat-v1",
        cuts=(("keep", 100),),  # single cut: we only need the bucket
    )
    frac = F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(50)).otherwise(F.lit(10))
    return sampled.filter(F.col("bucket") < frac).select(
        "o_orderkey", "o_orderpriority", F.round("o_totalprice", 2).alias("totalprice")
    )


@register(
    "corpus_curation_pipeline",
    r"""
    WITH stats AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS wc,
             length(regexp_extract_all(lower(text),
               '\b(the|and|of|to|in|is|that|with|for|was)\b')) AS hits,
             round(length(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                   / greatest(length(text), 1), 4) AS pr
      FROM documents
    ),
    scored AS (
      SELECT doc_id, text,
             round((least(wc / 100.0, 1.0)
                    + least(hits / greatest(wc, 1) * 5, 1.0)
                    + (1.0 - least(pr * 4, 1.0))) / 3, 4) AS quality
      FROM stats
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.6),
    deduped AS (
      SELECT doc_id, quality
      FROM (
        SELECT doc_id, quality,
               row_number() OVER (
                 PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                 ORDER BY doc_id
               ) AS rn
        FROM kept
      ) WHERE rn = 1
    ),
    assigned AS (
      SELECT quality,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':corpus-v1'), 1, 15))::BIGINT
               % 100 AS bucket
      FROM deduped
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END   AS split,
           count(*)               AS n_docs,
           round(avg(quality), 4) AS avg_quality
    FROM assigned
    GROUP BY 1
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation as ONE composed plan — the LLM-path
    twin of ``daily_pipeline``: quality-score filter → exact dedup
    (keep lowest doc id per normalized-content digest) → seeded hash
    split → per-split stats. Every stage is a narrow map or one
    bounded shuffle (dedup window on the 32-byte digest; final tiny
    agg), so the whole pipeline is 2 shuffles regardless of corpus
    size."""
    from pyspark.sql import Window

    from ..functions import text as tx
    from ..operators.cdc import hash_split
    from ..sources.io import fan_out

    # Compact single-file input would serialize the regex-heavy scoring
    # stage on one core; round-robin it across the cluster first.
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    t = F.col("text")
    scored = docs.select("doc_id", t.alias("text"), tx.quality_score(t).alias("quality"))
    kept = scored.filter(F.col("quality") >= 0.6)
    w = Window.partitionBy(F.md5(tx.normalized(F.col("text")))).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn", "text")
    )
    assigned = hash_split(deduped, "doc_id", seed="corpus-v1")
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


# --------------------------------------------------------------------------
# Balanced per-stratum sampling: cap each (lang, source) contribution
# --------------------------------------------------------------------------
@register(
    "balanced_strata_sample",
    """
    WITH h AS (
      SELECT lang, source, doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':strata-v1'), 1, 15))::BIGINT AS hnum
      FROM documents
    )
    SELECT lang, source, doc_id, CAST(rn AS INT) AS samp_rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY lang, source ORDER BY hnum ASC, doc_id ASC) AS rn
          FROM h)
    WHERE rn <= 25
    """,
)
def balanced_strata_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-mix construction: keep at most 25 documents
    per (lang, source) stratum, chosen by seeded md5 order — the
    anti-domination cap every multi-source corpus needs (one crawl
    must not drown the rest), deterministic under reruns/cluster
    resizes because the pick is a pure function of the key (no rand(),
    same md5-parity hash as ``hash_split``).

    Scale: Catalyst rewrites the rn<=k filter into WindowGroupLimit,
    which runs in PARTIAL mode before the exchange — each map task
    forwards at most k rows per stratum, so the shuffle moves
    ≤ k × partitions rows per stratum regardless of stratum skew (the
    plan shape is pinned in tests/test_plans.py)."""
    from ..operators.reports import top_k_per_group

    docs = read_table(spark, sf_dir, "documents").select("lang", "source", "doc_id")
    hnum = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strata-v1"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("hnum")
    )
    return top_k_per_group(
        docs.withColumn("hnum", hnum),
        ["lang", "source"],
        [F.col("hnum").asc(), F.col("doc_id").asc()],
        25,
    ).select(
        "lang", "source", "doc_id", F.col("rank_in_group").cast("int").alias("samp_rank")
    )


# --------------------------------------------------------------------------
# Temperature-weighted domain mixture sample (X150)
# --------------------------------------------------------------------------
@register(
    "dsir_importance_weights",
    # Same hashed-feature buckets (md5-60bit % 64, seed dsir-v1),
    # 6-dp-rounded log-ratios as DECIMAL(12,6), integer-count ×
    # decimal products summed exactly — order-free log weights.
    r"""
    WITH live AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    gr AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])) AS g
      FROM live WHERE len(w) >= 2
    ),
    db AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(g || ':dsir-v1'), 1, 15)) AS BIGINT)
               % 64 AS b,
             CAST(count(*) AS BIGINT) AS cnt
      FROM gr GROUP BY 1, 2, 3
    ),
    bk AS (
      SELECT b, CAST(sum(cnt) AS BIGINT) AS cr,
             CAST(coalesce(sum(cnt) FILTER (WHERE lang = 'en'), 0) AS BIGINT)
               AS ct
      FROM db GROUP BY 1
    ),
    bk2 AS (
      SELECT b,
             CAST(round(ln(CAST(ct + 1 AS DOUBLE))
                        - ln(CAST(cr + 1 AS DOUBLE)), 6)
                  AS DECIMAL(12,6)) AS lr,
             CAST(round(ln(CAST(sum(ct) OVER () + 64 AS DOUBLE))
                        - ln(CAST(sum(cr) OVER () + 64 AS DOUBLE)), 6)
                  AS DECIMAL(12,6)) AS shift
      FROM bk
    ),
    doc AS (
      SELECT db.doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_grams,
             sum(CAST(cnt AS DECIMAL(18,0)) * lr) AS s_lr,
             max(shift) AS shift
      FROM db JOIN bk2 USING (b) GROUP BY 1
    )
    SELECT doc_id, n_grams,
           CAST(s_lr - CAST(n_grams AS DECIMAL(18,0)) * shift AS DOUBLE)
             AS log_weight,
           (s_lr - CAST(n_grams AS DECIMAL(18,0)) * shift) >= 0 AS selected
    FROM doc
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X159: DSIR-style importance weights (Xie et al. 2023, Data
    Selection via Importance Resampling): score every document by how
    much more likely its hashed word-bigram features are under the
    TARGET distribution (here the ``lang='en'`` slice) than under the
    RAW corpus — log w(d) = Σ_features count·(ln p̂_t(b) − ln p̂_r(b))
    with add-one smoothing over 64 md5-hashed buckets (seed
    ``dsir-v1``). ``selected`` = non-negative log weight, the
    resampling acceptance core.

    Float discipline: the 64 per-bucket log-ratios (and the
    normalizer shift ln(Nt+64) − ln(Nr+64)) are each ONE fixed ln
    chain rounded 6 dp into DECIMAL(12,6); per-doc weights are then
    integer-count × decimal products summed EXACTLY, so the weight —
    and the selection decision — is identical in any accumulation
    order (the X150 order-free-decimal discipline applied to log
    space).

    Scale: bigram explode → one (doc, bucket) map-side-combined
    groupBy; the 64-row bucket table broadcasts back; no windows over
    raw rows, no Python. Docs with < 2 words carry no features and
    are excluded (documented contract)."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    live = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        "lang",
        tx.words(F.lower(F.trim(F.col("text")))).alias("w"),
    )
    grams = live.filter(F.size("w") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
            )
        ).alias("g"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.col("g"), F.lit(":dsir-v1"))), 1, 15),
            16,
            10,
        ).cast("bigint"),
        F.lit(64),
    )
    db = grams.groupBy("doc_id", "lang", bucket.alias("b")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    bk = db.groupBy("b").agg(
        F.sum("cnt").alias("cr"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0)).alias(
            "ct"
        ),
    )
    w_all = Window.partitionBy()
    lr = F.round(
        F.log((F.col("ct") + 1).cast("double"))
        - F.log((F.col("cr") + 1).cast("double")),
        6,
    ).cast("decimal(12,6)")
    shift = F.round(
        F.log((F.sum("ct").over(w_all) + 64).cast("double"))
        - F.log((F.sum("cr").over(w_all) + 64).cast("double")),
        6,
    ).cast("decimal(12,6)")
    bk2 = bk.select("b", lr.alias("lr"), shift.alias("shift"))
    doc = (
        db.join(F.broadcast(bk2), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("lr")).alias("s_lr"),
            F.max("shift").alias("shift"),
        )
    )
    logw = F.col("s_lr") - F.col("n_grams") * F.col("shift")
    return doc.select(
        "doc_id",
        "n_grams",
        logw.cast("double").alias("log_weight"),
        (logw >= 0).alias("selected"),
    )


@register(
    "domain_mixture_sample",
    # Same 6-dp-rounded sqrt weights as DECIMAL(18,6) (exact any-order
    # sum), the same fixed double chain for the raw share, integer
    # largest-remainder completion, and the shared md5 hash-rank
    # selection idiom.
    """
    WITH dom AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_domain FROM documents GROUP BY 1
    ),
    wts AS (
      SELECT lang, n_domain,
             CAST(round(sqrt(CAST(n_domain AS DOUBLE)), 6) AS DECIMAL(18,6)) AS w
      FROM dom
    ),
    shares AS (
      SELECT lang, n_domain, w,
             CAST(w AS DOUBLE) * 200 / CAST(sum(w) OVER () AS DOUBLE) AS x
      FROM wts
    ),
    alloc AS (
      SELECT lang, n_domain,
             CAST(floor(x) AS BIGINT) AS base,
             x - floor(x) AS frac
      FROM shares
    ),
    quota AS (
      SELECT lang, n_domain,
             CAST(base + CASE WHEN row_number() OVER (ORDER BY frac DESC, lang ASC)
                          <= 200 - sum(base) OVER () THEN 1 ELSE 0 END AS INT) AS quota
      FROM alloc
    ),
    ranked AS (
      SELECT d.lang, d.doc_id, q.n_domain, q.quota,
             row_number() OVER (PARTITION BY d.lang ORDER BY
               ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':dmix-v1'), 1, 15))::BIGINT,
               d.doc_id) AS rn
      FROM documents d JOIN quota q USING (lang)
    )
    SELECT lang, doc_id, n_domain, quota, CAST(rn AS INT) AS samp_rank
    FROM ranked WHERE rn <= quota
    """,
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X150: temperature-weighted domain-mixture sampling — the
    training-mix operator every multilingual/multi-domain corpus
    assembly needs: domain weights ∝ n_d^α with α = ½ (sqrt
    temperature: upsamples small domains relative to proportional), a
    global budget of N = 200 documents allocated by LARGEST-REMAINDER
    rounding (Σ quota = N exactly — floor shares first, the deficit
    goes to the biggest fractional remainders, ties by domain), then
    per-domain selection by the deterministic md5 hash rank (the
    stratified-sample idiom, seed ``dmix-v1``).

    Float discipline: the sqrt weights are rounded 6 dp and summed as
    DECIMAL(18,6) — exact in any order — so the only doubles are the
    per-domain share chain ``w·N/W`` (identical fixed-order IEEE ops on
    identical inputs in both engines) and its floor/frac; everything
    after is integer. If a boosted domain's quota exceeded its size
    the hash rank would simply exhaust it (allocation is reported
    uncapped; not reachable at tested temperatures).

    Scale: one groupBy to |domains| rows, allocation windows over that
    tiny aggregate, one broadcastable quota join + per-domain rank
    window — the corpus is scanned twice (count + rank), never
    collected."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("lang", "doc_id")
    dom = docs.groupBy("lang").agg(F.count("*").alias("n_domain"))
    w_all = Window.partitionBy()
    wts = dom.withColumn(
        "w", F.round(F.sqrt(F.col("n_domain").cast("double")), 6).cast("decimal(18,6)")
    )
    x = F.col("w").cast("double") * F.lit(200) / F.sum("w").over(w_all).cast("double")
    alloc = wts.select(
        "lang",
        "n_domain",
        F.floor(x).cast("long").alias("base"),
        (x - F.floor(x)).alias("frac"),
    )
    deficit = F.lit(200) - F.sum("base").over(w_all)
    rn_rem = F.row_number().over(Window.orderBy(F.col("frac").desc(), F.col("lang").asc()))
    quota = alloc.select(
        "lang",
        "n_domain",
        (F.col("base") + F.when(rn_rem <= deficit, 1).otherwise(0)).cast("int").alias("quota"),
    )
    hnum = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":dmix-v1"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    ranked = (
        docs.join(F.broadcast(quota), "lang")
        .withColumn("__h", hnum)
        .withColumn(
            "samp_rank",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("__h"), F.col("doc_id"))
            ),
        )
        .filter(F.col("samp_rank") <= F.col("quota"))
    )
    return ranked.select(
        "lang", "doc_id", "n_domain", "quota", F.col("samp_rank").cast("int").alias("samp_rank")
    )


# --------------------------------------------------------------------------
# Fixed-size weighted sample: priority sampling over lineitem
# --------------------------------------------------------------------------
@register(
    "weighted_sample_topk",
    """
    WITH w AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS weight,
             ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                 CAST(l_linenumber AS VARCHAR) || ':wsample-v1'), 1, 15))::BIGINT
               // CAST(l_quantity AS BIGINT) AS priority_key
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_quantity > 0
    )
    SELECT l_orderkey, l_linenumber, weight, priority_key,
           CAST(row_number() OVER (
             ORDER BY priority_key, l_orderkey, l_linenumber) AS INT) AS sample_rank
    FROM w
    ORDER BY priority_key, l_orderkey, l_linenumber
    LIMIT 200
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sample of ``lineitem`` (k=200, weight =
    quantity) via deterministic priority sampling
    (``operators.cleaning.priority_sample``): every row's priority is
    a pure function of (key, weight, seed), the k winners are the
    sample, and heavy rows win ~proportionally to weight — the
    bounded-size audit/debug sample a 100 TB fact table needs, where
    a uniform sample would miss exactly the heavy rows.

    Cross-engine exactness: the sort key is the integer ``h div w``
    (see the operator docstring), so Spark's TakeOrderedAndProject and
    the oracle's ORDER BY/LIMIT agree bit-for-bit, no float ranks.
    """
    from ..operators.cleaning import priority_sample

    lineitem = read_table(spark, sf_dir, "lineitem")
    return priority_sample(
        lineitem, ["l_orderkey", "l_linenumber"], "l_quantity", k=200, seed="wsample-v1"
    ).select("l_orderkey", "l_linenumber", "weight", "priority_key", "sample_rank")


# --------------------------------------------------------------------------
# Entity resolution: edit-distance-1 fuzzy match via deletion blocking
# --------------------------------------------------------------------------
@register(
    "fuzzy_name_pairs",
    """
    WITH s AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier),
    var AS (
      SELECT id, nm, substring(nm, 1, i) || substring(nm, i + 2, 32) AS v
      FROM s CROSS JOIN range(0, 33) t(i)
      WHERE i <= length(nm)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.nm AS name_a, b.nm AS name_b
      FROM var a JOIN var b ON a.v = b.v AND a.id < b.id
    )
    SELECT id_a, id_b, name_a, name_b,
           levenshtein(name_a, name_b) AS edit_dist
    FROM cand WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: supplier-name pairs within Levenshtein
    distance 1, found by SymSpell deletion-neighborhood blocking
    (``operators.dedup.deletion_neighborhood_pairs``) — perfect-recall
    candidate generation through ONE equi-join on deletion variants,
    never an all-pairs scan, with exact JVM ``levenshtein``
    verification of the bounded candidate set. The blocking/verify
    split is the same shape as the MinHash-LSH → Jaccard pipeline, at
    character granularity."""
    from ..operators.dedup import deletion_neighborhood_pairs

    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return deletion_neighborhood_pairs(sup, "s_suppkey", "s_name")


# --------------------------------------------------------------------------
# Golden-record survivorship (X148): entity resolution → merged master
# --------------------------------------------------------------------------
@register(
    "supplier_golden_record",
    # Same deletion-neighborhood blocking as fuzzy_name_pairs on the
    # nation-prefixed composite, recursive-CTE transitive closure
    # seeded with EVERY supplier (singletons keep themselves), then
    # the survivorship rules replayed field by field.
    """
    WITH RECURSIVE s AS (
      SELECT s_suppkey AS id,
             lpad(CAST(s_nationkey AS VARCHAR), 2, '0') || '|' || s_name AS nm
      FROM supplier
    ),
    var AS (
      SELECT id, nm, substring(nm, 1, i) || substring(nm, i + 2, 32) AS v
      FROM s CROSS JOIN range(0, 33) t(i)
      WHERE i <= length(nm)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.nm AS nm_a, b.nm AS nm_b
      FROM var a JOIN var b ON a.v = b.v AND a.id < b.id
    ),
    pairs AS (SELECT id_a, id_b FROM cand WHERE levenshtein(nm_a, nm_b) <= 1),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT s_suppkey AS node, s_suppkey AS r FROM supplier
      UNION
      SELECT re.node, e.dst AS r FROM reach re JOIN edges e ON e.src = re.r
    ),
    lab AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    m AS (
      SELECT l.cluster_id, su.*
      FROM lab l JOIN supplier su ON su.s_suppkey = l.node
    ),
    g AS (
      SELECT cluster_id,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(count(DISTINCT s_name) AS BIGINT) AS n_names,
             arg_min(s_name, s_suppkey) AS golden_name,
             CAST(max(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_acctbal
      FROM m GROUP BY 1
    ),
    nmode AS (
      SELECT cluster_id, s_nationkey, count(*) AS c FROM m GROUP BY 1, 2
    ),
    pick AS (
      SELECT cluster_id, s_nationkey AS nation_mode FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                    ORDER BY c DESC, s_nationkey ASC) AS rn
        FROM nmode
      ) WHERE rn = 1
    )
    SELECT g.cluster_id, n_members, n_names, golden_name, nation_mode,
           max_acctbal
    FROM g JOIN pick USING (cluster_id)
    """,
)
def supplier_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X148: golden-record survivorship — the master-data-management
    step AFTER entity resolution: nation-blocked edit-distance-1
    matching (the blocking key is folded into the deletion-
    neighborhood composite ``lpad(nation,2)|name``: distinct names in
    distinct nations cost ≥ 2 edits, so a cross-nation pair would need
    IDENTICAL names — and supplier names are globally unique),
    transitive closure into entity clusters (singletons keep
    themselves — no match required to survive), then deterministic
    field-level survivorship per cluster: canonical name from the
    lowest-key member (``min_by`` — tie-free, keys unique), nation by
    frequency mode with smallest-key tie-break, account balance as the
    exact-decimal max across members.

    Scale: blocking join + CC over the (sparse) pair graph + two
    report-sized groupBys; no all-pairs comparison anywhere. Cites the
    reference's dedup intent (ref `Task_1_DDL.sql` unique-key staging)
    generalized to fuzzy entities."""
    from pyspark.sql import Window

    from ..functions.money import money
    from ..operators.dedup import deletion_neighborhood_pairs
    from ..operators.graph import connected_components

    sup = read_table(spark, sf_dir, "supplier")
    blocked = sup.select(
        "s_suppkey",
        F.concat(
            F.lpad(F.col("s_nationkey").cast("string"), 2, "0"),
            F.lit("|"),
            F.col("s_name"),
        ).alias("blocked_name"),
    )
    pairs = deletion_neighborhood_pairs(blocked, "s_suppkey", "blocked_name")
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    lab = sup.join(comp, sup.s_suppkey == comp.node, "left").select(
        F.coalesce("component", "s_suppkey").alias("cluster_id"),
        "s_suppkey",
        "s_name",
        "s_nationkey",
        money("s_acctbal").alias("bal"),
    )
    g = lab.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.countDistinct("s_name").alias("n_names"),
        F.min_by("s_name", "s_suppkey").alias("golden_name"),
        F.max("bal").cast("double").alias("max_acctbal"),
    )
    mode = (
        lab.groupBy("cluster_id", "s_nationkey")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.col("c").desc(), F.col("s_nationkey").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("s_nationkey").alias("nation_mode"))
    )
    return g.join(mode, "cluster_id").select(
        "cluster_id", "n_members", "n_names", "golden_name", "nation_mode",
        "max_acctbal",
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (X106): refresh a stored report from
# a CDC delta without rescanning the base table
# --------------------------------------------------------------------------
@register(
    "incremental_agg_refresh",
    # The oracle recomputes the report from the NEW snapshot in full —
    # the refreshed aggregate must be indistinguishable from a from-
    # scratch rebuild, or the maintenance path is corrupting the view.
    """
    WITH new AS (
      SELECT CASE WHEN o_orderkey % 11 = 0 THEN '9-MOVED'
                  ELSE o_orderpriority END AS priority,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) + CAST(100.00 AS DECIMAL(12,2))
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT priority, count(*) AS n_orders,
           CAST(round(sum(price), 2) AS DOUBLE) AS revenue
    FROM new GROUP BY priority
    """,
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta maintenance end-to-end: a stored
    (priority → count, revenue) report is refreshed by applying the
    per-group contributions of a CDC delta — inserts (+1, +price),
    deletes (−1, −price), updates as delete(old)+insert(new), which
    handles group-MOVING updates (the '9-MOVED' repriority) with no
    special case — instead of rescanning the base table. The delta here
    is manufactured from two deterministic snapshot views of ``orders``
    (10% inserts, 1-in-13 deletes, 1-in-7 repriced, 1-in-11 moved) via
    ``snapshot_diff(keep_old=True)``; in production it arrives from the
    CDC feed and the refresh cost is O(|delta| + |report|), never
    O(|base|) — the difference between minutes and a full-table rebuild
    at 100 TB.

    Exactness: counts and DECIMAL money sums are the additively
    maintainable aggregates (a sum of cents is cents — ``stored + Δ``
    is bit-equal to recompute); the oracle is the full recompute, so
    any drift in the maintenance algebra hash-fails.
    """
    from ..functions.money import money
    from ..operators.cdc import agg_delta_contributions, apply_agg_delta

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    hundred = F.lit("100.00").cast("decimal(12,2)")

    old = orders.filter(k % 10 != 0).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        money("o_totalprice").alias("price"),
    )
    new = orders.filter(k % 13 != 0).select(
        "o_orderkey",
        F.when(k % 11 == 0, F.lit("9-MOVED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        F.when(k % 7 == 0, money("o_totalprice") + hundred)
        .otherwise(money("o_totalprice"))
        .alias("price"),
    )

    # the "stored" report (in production: read from the warehouse)
    base_agg = old.groupBy("priority").agg(
        F.count("*").alias("n_orders"),
        F.sum("price").alias("revenue"),  # exact decimal, not rounded
        F.count("price").alias("n_vals"),  # non-null witness for the all-NULL edge
    )
    diff = snapshot_diff(old, new, keys=["o_orderkey"], keep_old=True)
    delta = agg_delta_contributions(diff, "priority", "price")
    refreshed = apply_agg_delta(
        base_agg,
        delta,
        ["priority"],
        [("n_orders", "d_n"), ("revenue", "d_sum"), ("n_vals", "d_nv")],
        count_col="n_orders",
        null_when_zero=[("revenue", "n_vals")],
    )
    return refreshed.select(
        "priority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(F.col("revenue"), 2).cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# IVM for non-invertible aggregates (X116): dirty-group recompute
# --------------------------------------------------------------------------
@register(
    "incremental_agg_refresh_minmax",
    # Oracle = full recompute of the NEW snapshot: the dirty-group
    # refresh must be indistinguishable from a from-scratch rebuild —
    # including the three groups the delta never touches, whose rows
    # must come through from the STORED aggregate unrecomputed.
    """
    WITH new AS (
      SELECT CASE WHEN o_orderkey % 11 = 0 AND o_orderpriority = '2-HIGH'
                  THEN '9-MOVED' ELSE o_orderpriority END AS priority,
             CASE WHEN o_orderkey % 7 = 0 AND o_orderpriority = '2-HIGH'
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) + CAST(100.00 AS DECIMAL(12,2))
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      FROM orders
      WHERE NOT (o_orderkey % 13 = 0 AND o_orderpriority = '1-URGENT')
    )
    SELECT priority, count(*) AS n_orders,
           CAST(min(price) AS DOUBLE) AS min_price,
           CAST(max(price) AS DOUBLE) AS max_price
    FROM new GROUP BY priority
    """,
)
def incremental_agg_refresh_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance where the delta algebra CAN'T
    work: min/max are not self-maintainable under deletes (retiring
    the current extremum leaves no way to know the runner-up from the
    stored row alone), so the refresh marks the groups the delta
    touched as dirty and recomputes exactly those from the new base —
    ``operators.cdc.dirty_group_refresh`` — while every untouched
    group's stored row passes through unrecomputed. The manufactured
    delta confines all churn to '1-URGENT' (inserts + deletes),
    '2-HIGH' (repricing + group moves), and '9-MOVED' (move-ins), so
    at every SF three of the six groups exercise the keep path inside
    the hash-checked result.

    Cost shape at 100 TB: O(|delta| + |rows in dirty groups| +
    |report|); with the base partitioned by the group key the dirty
    recompute is partition-pruned, and the clean majority of the view
    is never read."""
    from ..functions.money import money
    from ..operators.cdc import dirty_group_refresh

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    p = F.col("o_orderpriority")
    hundred = F.lit("100.00").cast("decimal(12,2)")

    old = orders.filter(~((k % 10 == 0) & (p == "1-URGENT"))).select(
        "o_orderkey",
        p.alias("priority"),
        money("o_totalprice").alias("price"),
    )
    new = orders.filter(~((k % 13 == 0) & (p == "1-URGENT"))).select(
        "o_orderkey",
        F.when((k % 11 == 0) & (p == "2-HIGH"), F.lit("9-MOVED"))
        .otherwise(p)
        .alias("priority"),
        F.when((k % 7 == 0) & (p == "2-HIGH"), money("o_totalprice") + hundred)
        .otherwise(money("o_totalprice"))
        .alias("price"),
    )
    agg_exprs = [
        F.count("*").alias("n_orders"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    ]
    # the "stored" view (in production: read from the warehouse)
    stored = old.groupBy("priority").agg(*agg_exprs)
    diff = snapshot_diff(old, new, keys=["o_orderkey"], keep_old=True)
    refreshed = dirty_group_refresh(stored, new, diff, "priority", agg_exprs)
    return refreshed.select(
        "priority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    )


# --------------------------------------------------------------------------
# Constraint validation + quarantine (X107): the data-quality gate every
# ingest path needs before rows reach the warehouse
# --------------------------------------------------------------------------
_QUARANTINE_ORACLE = """
    WITH batch AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 101 = 0 THEN -o_totalprice ELSE o_totalprice END AS price,
             CASE WHEN o_orderkey % 103 = 0 THEN 'X' ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 107 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) END AS odate,
             CASE WHEN o_orderkey % 109 = 0 THEN -o_custkey ELSE o_custkey END AS custkey
      FROM orders
    ),
    v AS (
      SELECT (NOT coalesce(price > 0, FALSE))                 AS v_price,
             (NOT coalesce(status IN ('O','F','P'), FALSE))   AS v_status,
             (odate IS NULL)                                  AS v_date,
             (c.c_custkey IS NULL)                            AS v_fk
      FROM batch LEFT JOIN customer c ON batch.custkey = c.c_custkey
    )
    SELECT 'positive_price' AS check_name, count(*) FILTER (WHERE v_price) AS n_rows FROM v
    UNION ALL SELECT 'known_status',  count(*) FILTER (WHERE v_status) FROM v
    UNION ALL SELECT 'date_present',  count(*) FILTER (WHERE v_date) FROM v
    UNION ALL SELECT 'customer_fk',   count(*) FILTER (WHERE v_fk) FROM v
    UNION ALL SELECT '_quarantined',
      count(*) FILTER (WHERE v_price OR v_status OR v_date OR v_fk) FROM v
    UNION ALL SELECT '_clean',
      count(*) FILTER (WHERE NOT (v_price OR v_status OR v_date OR v_fk)) FROM v
    """


@register("constraint_quarantine", _QUARANTINE_ORACLE)
def constraint_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed constraint validation over an ingest batch — range, enum,
    required-field, and FK-existence checks — with per-check violation
    counts plus the quarantine/clean split. The batch is ``orders``
    with deterministic corruption injected (negated prices, unknown
    status codes, dropped dates, dangling customer keys on fixed key
    residues) so every check actually fires and is hash-pinned.

    Semantics the oracle locks down: a NULL predicate result is a
    VIOLATION (three-valued logic must not wave rows through), a row
    failing several checks counts once per check but quarantines once,
    and `_quarantined + _clean` = batch size.

    Scale: the three scalar checks are one narrow JVM-side pass
    (``operators.quality.validate_constraints``); the FK probe is one
    left join on the dimension key (AQE picks broadcast when the dim
    fits); the summary is a single tiny agg melted to rows via a
    literal explode — no per-check scans."""
    from ..operators.quality import validate_constraints

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    batch = orders.select(
        "o_orderkey",
        F.when(k % 101 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.when(k % 103 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(k % 107 == 0, F.lit(None).cast("date"))
        .otherwise(F.col("o_orderdate").cast("date"))
        .alias("odate"),
        F.when(k % 109 == 0, -F.col("o_custkey"))
        .otherwise(F.col("o_custkey"))
        .alias("custkey"),
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.lit(1).alias("__fk_ok")
    )
    probed = batch.join(cust, "custkey", "left")
    flagged = validate_constraints(
        probed,
        {
            "positive_price": F.col("price") > 0,
            "known_status": F.col("status").isin("O", "F", "P"),
            "date_present": F.col("odate").isNotNull(),
            "customer_fk": F.col("__fk_ok").isNotNull(),
        },
    )
    names = ["positive_price", "known_status", "date_present", "customer_fk"]
    wide = flagged.agg(
        *[
            F.sum(F.array_contains("violations", n).cast("long")).alias(n)
            for n in names
        ],
        F.sum((F.size("violations") > 0).cast("long")).alias("_quarantined"),
        F.sum((F.size("violations") == 0).cast("long")).alias("_clean"),
    )
    rows = F.array(
        *[
            F.struct(F.lit(n).alias("check_name"), F.col(n).alias("n_rows"))
            for n in [*names, "_quarantined", "_clean"]
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.check_name", "r.n_rows")


# --------------------------------------------------------------------------
# Versioned warehouse time travel (X114): immutable snapshot versions +
# CDC apply, read "as of" any committed version
# --------------------------------------------------------------------------
@register(
    "snapshot_time_travel",
    # oracle: both snapshots recomputed directly; the query must get
    # the same numbers by READING BACK its versioned warehouse dirs
    """
    WITH v1 AS (
      SELECT o_orderkey, o_orderpriority AS priority,
             CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN '9-MOVED'
                  ELSE o_orderpriority END AS priority,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) + CAST(100.00 AS DECIMAL(12,2))
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT 1 AS version, count(*) AS n_rows,
           CAST(round(sum(price), 2) AS DOUBLE) AS revenue
    FROM v1
    UNION ALL
    SELECT 2, count(*), CAST(round(sum(price), 2) AS DOUBLE) FROM v2
    """,
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a versioned warehouse: v1 is written as an
    immutable snapshot directory, a CDC delta (the same deterministic
    old→new transition ``incremental_agg_refresh`` maintains its
    aggregate through) is APPLIED to the stored v1 — anti-join out the
    deletes and update-victims, union in the inserts and new update
    rows, never mutate in place — and committed as v2. The report then
    reads BOTH versions back from disk, so what is hash-checked is the
    full loop: versioned write → CDC apply → as-of read. A miscounted
    delete, a double-applied update, or a v2 write that clobbered v1
    all diverge from the direct-recompute oracle.

    Scale: versions are directories (``sources.io.write_version``) —
    an as-of read is a path choice with zero overhead on current reads;
    the CDC apply is one anti-join + one union, shuffled on the
    natural key; nothing rewrites more than the changed snapshot."""
    import shutil

    from ..functions.money import money
    from ..operators.cdc import CHANGE_COL
    from ..sources.io import list_versions, read_version, scratch_dir, write_version

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    hundred = F.lit("100.00").cast("decimal(12,2)")
    v1 = orders.filter(k % 10 != 0).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        money("o_totalprice").alias("price"),
    )
    v2_src = orders.filter(k % 13 != 0).select(
        "o_orderkey",
        F.when(k % 11 == 0, F.lit("9-MOVED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        F.when(k % 7 == 0, money("o_totalprice") + hundred)
        .otherwise(money("o_totalprice"))
        .alias("price"),
    )

    base = scratch_dir("timetravel", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    write_version(v1, base, 1)

    stored_v1 = read_version(spark, base, 1, v1.schema)
    # keep_old=True so incoming rows carry each side's RAW values: the
    # diff's coalesced main columns would resurrect the OLD value for
    # an update whose new value is genuinely NULL — the same discipline
    # agg_delta_contributions follows (a CDC apply must write what the
    # new snapshot says, including its NULLs).
    diff = snapshot_diff(stored_v1, v2_src, keys=["o_orderkey"], keep_old=True)
    removed_keys = diff.filter(
        F.col(CHANGE_COL).isin("delete", "update")
    ).select("o_orderkey")
    incoming = diff.filter(F.col(CHANGE_COL).isin("insert", "update")).select(
        "o_orderkey",
        F.col("new_priority").alias("priority"),
        F.col("new_price").alias("price"),
    )
    v2 = stored_v1.join(removed_keys, "o_orderkey", "left_anti").unionByName(incoming)
    write_version(v2, base, 2)

    schemas = {1: v1.schema, 2: v2.schema}
    reports = []
    for v in list_versions(base):
        reports.append(
            read_version(spark, base, v, schemas[v]).agg(
                F.lit(v).alias("version"),
                F.count("*").alias("n_rows"),
                F.round(F.sum("price"), 2).cast("double").alias("revenue"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# Distribution-drift report (X124): PSI between two snapshots
# --------------------------------------------------------------------------
@register(
    "feature_drift_psi",
    """
    WITH old AS (
      SELECT CAST(least(floor(CAST(o_totalprice AS DECIMAL(12,2)) / 50000), 9)
                  AS INT) AS bucket
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    new AS (
      SELECT CAST(least(floor(
               CASE WHEN o_orderkey % 3 = 0
                    THEN CAST(o_totalprice AS DECIMAL(12,2))
                         * CAST(1.10 AS DECIMAL(3,2))
                    ELSE CAST(o_totalprice AS DECIMAL(12,2)) END / 50000), 9)
                  AS INT) AS bucket
      FROM orders WHERE o_orderkey % 13 <> 0
    ),
    o AS (SELECT bucket, count(*) AS n_old FROM old GROUP BY bucket),
    n AS (SELECT bucket, count(*) AS n_new FROM new GROUP BY bucket),
    m AS (
      SELECT coalesce(o.bucket, n.bucket) AS bucket,
             coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
      FROM o FULL OUTER JOIN n ON o.bucket = n.bucket
    ),
    t AS (SELECT sum(n_old) AS to_, sum(n_new) AS tn, count(*) AS b FROM m)
    SELECT bucket, n_old, n_new,
           round((n_old + 1.0) / (to_ + b), 6) AS share_old,
           round((n_new + 1.0) / (tn + b), 6) AS share_new,
           round(((n_new + 1.0) / (tn + b) - (n_old + 1.0) / (to_ + b))
                 * ln(((n_new + 1.0) / (tn + b)) / ((n_old + 1.0) / (to_ + b))),
                 6) AS psi_term
    FROM m, t
    """,
)
def feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate (X124): population stability index of
    the order-price distribution between two snapshots — the check a
    training pipeline runs before each data refresh ("did this batch's
    feature distribution move enough to invalidate the model/filters
    downstream"). Buckets are fixed 50k-wide price bins assigned with
    EXACT decimal arithmetic (floor of a decimal quotient — no float
    boundary can flip a row's bin), the manufactured new snapshot
    inflates a third of prices by 10% (real cross-bin migration), and
    ``operators.quality.drift_psi`` computes Laplace-smoothed shares
    and per-bucket PSI terms. Σ psi_term is the headline statistic
    (<0.1 stable / >0.25 action).

    Scale: one report-cardinality groupBy per snapshot + a tiny
    full-outer merge; the snapshots never join row-to-row."""
    from ..functions.money import money
    from ..operators.quality import drift_psi

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    price = money("o_totalprice")
    bucket = lambda p: F.least(F.floor(p / 50000), F.lit(9)).cast("int")
    old = orders.filter(k % 10 != 0).select(bucket(price).alias("bucket"))
    inflated = F.when(
        k % 3 == 0, price * F.lit("1.10").cast("decimal(3,2)")
    ).otherwise(price)
    new = orders.filter(k % 13 != 0).select(bucket(inflated).alias("bucket"))
    return drift_psi(old, new).orderBy("bucket")


# --------------------------------------------------------------------------
# Two-sample inference statistics (X146, X147, X154): Welch A/B + KS
# drift + Mann-Whitney rank test
# --------------------------------------------------------------------------
@register(
    "nation_revenue_gini",
    # Same per-nation rank windows over exact decimal revenue, same
    # closed-form Gini from exact decimal sums, one double division.
    """
    WITH rev AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS x
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT n.n_name AS nation, rev.x,
             row_number() OVER (PARTITION BY n.n_name
                                ORDER BY rev.x ASC, rev.o_custkey ASC) AS i
      FROM rev
      JOIN customer c ON c.c_custkey = rev.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
      SELECT nation,
             CAST(count(*) AS BIGINT) AS n_customers,
             sum(x) AS s,
             sum(CAST(i AS DECIMAL(18,0)) * x) AS s1
      FROM r GROUP BY 1
    )
    SELECT nation, n_customers,
           CAST(round(s, 2) AS DOUBLE) AS total_revenue,
           CASE WHEN s > 0 AND n_customers > 0
                THEN round(CAST(2 * s1 - (n_customers + 1) * s AS DOUBLE)
                           / CAST(CAST(n_customers AS DECIMAL(18,0)) * s
                                  AS DOUBLE), 6)
           END AS gini
    FROM g
    """,
)
def nation_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X164: revenue-concentration Gini coefficient per nation — the
    inequality screen a marketplace/revenue team runs beside the
    decile stats (X155 asks 'what does a top-k budget buy'; Gini asks
    'how concentrated is the whole distribution', 0 = uniform,
    →1 = one customer is the business).

    Exactness: per-customer revenue is the exact ``money()`` decimal
    sum; ranks come from a PARTITIONED window (per nation — never a
    global raw sort) with a customer-key tie-break; the closed form
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) is evaluated on exact
    DECIMAL sums with ONE double division, rounded 6 dp, NULL on
    zero revenue."""
    from pyspark.sql import Window

    from ..functions.money import money

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("x")
    )
    r = (
        rev.join(cust, rev["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            "x",
            F.row_number()
            .over(
                Window.partitionBy("n_name").orderBy(
                    F.col("x").asc(), F.col("o_custkey").asc()
                )
            )
            .alias("i"),
        )
    )
    g = r.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("x").alias("s"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("x")).alias("s1"),
    )
    num = (
        F.lit(2).cast("decimal(18,0)") * F.col("s1")
        - (F.col("n_customers") + 1) * F.col("s")
    ).cast("double")
    den = (F.col("n_customers").cast("decimal(18,0)") * F.col("s")).cast(
        "double"
    )
    return g.select(
        "nation",
        "n_customers",
        F.round(F.col("s"), 2).cast("double").alias("total_revenue"),
        F.when(
            (F.col("s") > 0) & (F.col("n_customers") > 0),
            F.round(num / den, 6),
        ).alias("gini"),
    )


@register(
    "segment_nation_chi2",
    # Same cell pinning: χ² = Σ_observed o²·N/(r·c) − N (zero cells
    # contribute 0 to Σ o²/e, so observed cells suffice for the FULL
    # r×c Pearson sum); o²·N exact in HUGEINT converted once, each
    # term rounded 6 dp, summed as DECIMAL(18,6), N subtracted AFTER
    # the decimal sum — order-free.
    """
    WITH g AS (
      SELECT c_mktsegment AS seg, n_name AS nation,
             CAST(count(*) AS BIGINT) AS o
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT o,
             CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT) AS r,
             CAST(sum(o) OVER (PARTITION BY nation) AS BIGINT) AS c,
             CAST(sum(o) OVER () AS BIGINT) AS nn,
             seg, nation
      FROM g
    ),
    cells AS (
      SELECT nn,
             CAST(round(
               CAST(CAST(o AS HUGEINT) * o * nn AS DOUBLE)
               / CAST(CAST(r AS HUGEINT) * c AS DOUBLE), 6)
               AS DECIMAL(18,6)) AS cell,
             seg, nation
      FROM m
    ),
    t AS (
      SELECT CAST(max(nn) AS BIGINT) AS n,
             CAST(count(DISTINCT seg) AS BIGINT) AS levels_a,
             CAST(count(DISTINCT nation) AS BIGINT) AS levels_b,
             sum(cell) AS sum_o2_ne
      FROM cells
    )
    SELECT n, levels_a, levels_b,
           CAST((levels_a - 1) * (levels_b - 1) AS BIGINT) AS dof,
           CAST(sum_o2_ne - n AS DOUBLE) AS chi2,
           CASE WHEN least(levels_a, levels_b) - 1 > 0
                THEN round(sqrt(greatest(CAST(sum_o2_ne - n AS DOUBLE), 0)
                     / CAST(CAST(n AS HUGEINT)
                            * (least(levels_a, levels_b) - 1) AS DOUBLE)), 6)
           END AS cramers_v
    FROM t
    """,
)
def segment_nation_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X156: chi-squared independence test + Cramér's V between market
    segment and nation — the categorical-association screen a feature
    audit runs before trusting a predictor (its continuous siblings
    are the Welch/KS/MWU family; PSI measures shift over time, χ²
    measures association between columns).

    Each cell contribution is the pinned fixed-order chain
    (o·N − r·c)²/(N·r·c) on exact DECIMAL(38,0)/HUGEINT inputs,
    rounded 6 dp and summed as DECIMAL(18,6) (order-free); one
    groupBy to the |seg|×|nation| contingency aggregate, margins from
    windows over it (``operators/stats.chi2_independence``)."""
    from ..operators.stats import chi2_independence

    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = cust.join(
        F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
    ).select(F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("nation"))
    return chi2_independence(base, "seg", "nation")


@register(
    "priority_price_mwu",
    # Exact doubled tied ranks (2·r̄ = 2·below + t + 1) in HUGEINT
    # mirroring Spark's DECIMAL(38,0), exact tie-correction Σ(t³−t),
    # one fixed double chain for the tie-corrected z.
    """
    WITH base AS (
      SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS dollar,
             o_orderpriority = '1-URGENT' AS is_a
      FROM orders
    ),
    g AS (
      SELECT dollar,
             CAST(count(*) FILTER (WHERE is_a) AS BIGINT) AS ca,
             CAST(count(*) FILTER (WHERE NOT is_a) AS BIGINT) AS cb
      FROM base GROUP BY 1
    ),
    r AS (
      SELECT ca, CAST(ca + cb AS HUGEINT) AS t,
             CAST(sum(ca + cb) OVER (ORDER BY dollar
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
               - (ca + cb) AS below
      FROM g
    ),
    a AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(t) - sum(ca) AS BIGINT) AS n_b,
             sum(CAST(ca AS HUGEINT) * (2 * below + t + 1)) AS s2r,
             sum(t * t * t - t) AS ties
      FROM r
    ),
    v AS (
      SELECT n_a, n_b,
             s2r - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2,
             CAST(u2 - CAST(n_a AS HUGEINT) * n_b AS DOUBLE) AS zn2,
             CAST((CAST(n_a AS HUGEINT) + n_b + 1)
                  * (CAST(n_a AS HUGEINT) + n_b)
                  * (CAST(n_a AS HUGEINT) + n_b - 1) - ties AS DOUBLE)
               AS inr,
             CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) AS nanb,
             CAST(12 * (CAST(n_a AS HUGEINT) + n_b)
                  * (CAST(n_a AS HUGEINT) + n_b - 1) AS DOUBLE) AS var_den
      FROM a
    )
    SELECT n_a, n_b,
           CAST(u2 AS DOUBLE) / 2.0 AS u_a,
           CASE WHEN n_a > 0 AND n_b > 0 AND inr > 0
                THEN round(zn2 / (2.0 * sqrt(nanb * inr / var_den)), 6)
           END AS z_stat,
           CASE WHEN n_a > 0 AND n_b > 0 AND inr > 0
                THEN abs(round(zn2 / (2.0 * sqrt(nanb * inr / var_den)), 6))
                     > 1.96
           END AS significant_95
    FROM v
    """,
)
def priority_price_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X154: Mann-Whitney U rank-sum test — do URGENT orders carry a
    different price distribution than the rest? The nonparametric
    sibling of the Welch A/B (X146): rank-based, so heavy price tails
    cannot masquerade as (or mask) a shift the way they can in a mean
    test. Prices quantize to whole dollars (the KS X147 convention) so
    the rank aggregate stays report-sized; ties use average ranks
    carried as exact doubled integers and the z score is the
    tie-corrected normal approximation (``operators/stats.
    mann_whitney_u`` — one groupBy, windows over the bounded
    aggregate, one fold; DECIMAL(38,0)/HUGEINT end to end)."""
    from ..functions.money import money
    from ..operators.stats import mann_whitney_u

    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.floor(money("o_totalprice")).cast("long").alias("dollar"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_a"),
    )
    return mann_whitney_u(base, "dollar", F.col("is_a"))


@register(
    "discount_quantity_ab",
    # Exact (n, Σx, Σx²) per side with HUGEINT variance numerators
    # mirroring Spark's DECIMAL(38,0); the same fixed-order double
    # closed form for t and the Welch-Satterthwaite df.
    """
    WITH g AS (
      SELECT l_returnflag,
             CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_a,
             CAST(coalesce(sum(CAST(l_quantity AS BIGINT))
                    FILTER (WHERE l_discount > 0.05), 0) AS BIGINT) AS s_a,
             CAST(coalesce(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                    FILTER (WHERE l_discount > 0.05), 0) AS BIGINT) AS q_a,
             CAST(count(*) FILTER (WHERE l_discount <= 0.05) AS BIGINT) AS n_b,
             CAST(coalesce(sum(CAST(l_quantity AS BIGINT))
                    FILTER (WHERE l_discount <= 0.05), 0) AS BIGINT) AS s_b,
             CAST(coalesce(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                    FILTER (WHERE l_discount <= 0.05), 0) AS BIGINT) AS q_b
      FROM lineitem
      -- mirrors operators/stats.welch_ttest's flag_a.isNotNull()
      -- guard: a row whose assignment predicate is NULL belongs to
      -- neither arm of the experiment
      WHERE l_discount IS NOT NULL
      GROUP BY 1
    ),
    v AS (
      SELECT l_returnflag, n_a, n_b,
             CAST(s_a AS DOUBLE) / n_a AS ma,
             CAST(s_b AS DOUBLE) / n_b AS mb,
             CAST(CAST(n_a AS HUGEINT) * q_a - CAST(s_a AS HUGEINT) * s_a AS DOUBLE)
               / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE) AS va,
             CAST(CAST(n_b AS HUGEINT) * q_b - CAST(s_b AS HUGEINT) * s_b AS DOUBLE)
               / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE) AS vb
      FROM g
    ),
    s AS (SELECT *, va / n_a + vb / n_b AS se2 FROM v)
    SELECT l_returnflag, n_a, n_b,
           CASE WHEN n_a > 0 THEN round(ma, 6) END AS mean_a,
           CASE WHEN n_b > 0 THEN round(mb, 6) END AS mean_b,
           CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
                THEN round((ma - mb) / sqrt(se2), 6) END AS t_stat,
           CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
                THEN round((se2 * se2)
                           / ((va / n_a) * (va / n_a) / (n_a - 1)
                              + (vb / n_b) * (vb / n_b) / (n_b - 1)), 6)
           END AS df_welch,
           CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0
                THEN abs(round((ma - mb) / sqrt(se2), 6)) > 1.96
           END AS significant_95
    FROM s
    """,
)
def discount_quantity_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X146: Welch unequal-variance t-test A/B report — per return
    flag, does a deep discount (> 5%) ship with different quantities?
    The experiment-analysis shape every event platform needs beside
    its descriptive reports. One groupBy pass reduces each side to
    exact integer sufficient statistics (n, Σx, Σx²) with
    DECIMAL(38,0) variance numerators — overflow-safe at 10^11 rows —
    and doubles appear only in the fixed-order closed form for t and
    the Welch-Satterthwaite df (``operators/stats.welch_ttest``).
    Significance compares the rounded |t| to the pinned z critical
    value 1.96 (exact t-CDF p-values are deliberately out of scope —
    not SQL-expressible)."""
    from ..operators.stats import welch_ttest

    li = read_table(spark, sf_dir, "lineitem")
    return welch_ttest(
        li, "l_quantity", F.col("l_discount") > 0.05, ["l_returnflag"]
    )


@register(
    "order_price_ks_drift",
    # Exact integer ECDF comparison: per-dollar counts, RANGE
    # cumulative window over the aggregate, HUGEINT cross
    # multiplication, ONE double division for D.
    """
    WITH base AS (
      SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS dollar,
             o_orderstatus = 'F' AS is_a
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    g AS (
      SELECT dollar,
             CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM base GROUP BY 1
    ),
    c AS (
      SELECT sum(ca) OVER (ORDER BY dollar
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             sum(cb) OVER (ORDER BY dollar
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
             sum(ca) OVER () AS n_a,
             sum(cb) OVER () AS n_b
      FROM g
    ),
    t AS (
      SELECT max(abs(CAST(cum_a AS HUGEINT) * n_b
                     - CAST(cum_b AS HUGEINT) * n_a)) AS dnum,
             CAST(max(n_a) AS BIGINT) AS n_a,
             CAST(max(n_b) AS BIGINT) AS n_b
      FROM c
    )
    SELECT n_a, n_b,
           round(CAST(dnum AS DOUBLE)
                 / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6) AS ks_d,
           round(1.358 * sqrt(CAST(n_a + n_b AS DOUBLE)
                 / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)), 6) AS crit_05,
           round(CAST(dnum AS DOUBLE)
                 / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6)
             > round(1.358 * sqrt(CAST(n_a + n_b AS DOUBLE)
                 / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)), 6) AS drift_05
    FROM t
    """,
)
def order_price_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X147: two-sample Kolmogorov-Smirnov drift test — the
    significance twin of the PSI gate (X124): D = max |ECDF_F − ECDF_O|
    between finished and open orders' price distributions, quantized
    to whole (exact-decimal) dollars so the per-value aggregate — and
    with it the cumulative window — stays report-sized. The statistic
    is the exact integer max |cum_a·n_b − cum_b·n_a| in DECIMAL(38,0),
    divided once; the decision compares the rounded D to the rounded
    large-sample critical value 1.358·√((n_a+n_b)/(n_a·n_b))
    (``operators/stats.ks_two_sample``)."""
    from ..functions.money import money
    from ..operators.stats import ks_two_sample

    orders = read_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.floor(money("o_totalprice")).cast("long").alias("dollar"),
        (F.col("o_orderstatus") == "F").alias("is_a"),
    )
    return ks_two_sample(base, "dollar", F.col("is_a"))


# --------------------------------------------------------------------------
# Declared-FD audit (X129): functional-dependency violation report
# --------------------------------------------------------------------------
_FD_ORACLE_PART = """
    SELECT '{name}' AS fd,
           count(*)                          AS n_keys,
           count(*) FILTER (WHERE nv > 1)    AS n_violating_keys,
           round(count(*) FILTER (WHERE nv > 1) / count(*), 6) AS violation_rate,
           max(nv)                           AS max_distinct_rhs
    FROM (
      SELECT {lhs},
             count(DISTINCT {rhs})
               + max(CASE WHEN {rhs} IS NULL THEN 1 ELSE 0 END) AS nv
      FROM {tbl} GROUP BY {lhs}
    )
"""

_FD_SPECS = (
    ("documents", ["doc_id"], "lang", "documents.doc_id->lang"),
    ("documents", ["source"], "lang", "documents.source->lang"),
    ("events", ["user_id"], "event_type", "events.user_id->event_type"),
    ("orders", ["o_custkey"], "o_orderpriority", "orders.o_custkey->o_orderpriority"),
)


@register(
    "fd_violation_report",
    "\nUNION ALL\n".join(
        _FD_ORACLE_PART.format(name=name, lhs=", ".join(lhs), rhs=rhs, tbl=tbl)
        for tbl, lhs, rhs, name in _FD_SPECS
    ),
)
def fd_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (X129): one verdict row per
    DECLARED dependency — a holding one (``doc_id → lang``, the PK
    sanity baseline) and three denormalization probes that the data
    genuinely violates, so the report demonstrates both verdicts. The
    FD profile is what decides whether a "dimension" column can be
    trusted in a GROUP BY or must be resolved through its real
    dimension table first.

    Scale: each FD is one column-pruned scan + one map-side-combined
    groupBy on its determinant, rolled up to a single row
    (``operators.quality.fd_violations``); the four one-row reports
    union into the verdict table. Nothing joins row-to-row."""
    from ..operators.quality import fd_violations

    parts = []
    for tbl, lhs, rhs, name in _FD_SPECS:
        parts.append(fd_violations(read_table(spark, sf_dir, tbl), lhs, rhs, name))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# Feature usefulness gate (X128): WOE / information value per bucket
# --------------------------------------------------------------------------
@register(
    "feature_woe_iv",
    """
    WITH b AS (
      SELECT CAST(least(floor(CAST(o_totalprice AS DECIMAL(12,2)) / 50000), 9)
                  AS INT) AS bucket,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_event
      FROM orders
    ),
    g AS (
      SELECT bucket,
             count(*) FILTER (WHERE is_event)     AS n_events,
             count(*) FILTER (WHERE NOT is_event) AS n_nonevents
      FROM b GROUP BY bucket
    ),
    t AS (SELECT sum(n_events) AS e, sum(n_nonevents) AS ne, count(*) AS nb FROM g)
    SELECT bucket, n_events, n_nonevents,
           round((n_events + 1.0) / (e + nb), 6)      AS share_event,
           round((n_nonevents + 1.0) / (ne + nb), 6)  AS share_nonevent,
           round(ln(((n_events + 1.0) / (e + nb))
                    / ((n_nonevents + 1.0) / (ne + nb))), 6) AS woe,
           round(((n_events + 1.0) / (e + nb) - (n_nonevents + 1.0) / (ne + nb))
                 * ln(((n_events + 1.0) / (e + nb))
                      / ((n_nonevents + 1.0) / (ne + nb))), 6) AS iv_term
    FROM g, t
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised feature-usefulness gate (X128): weight of evidence /
    information value of the bucketed order price against a binary
    outcome (is the order high-priority) — the screening statistic
    that decides whether a feature is worth keeping BEFORE a model
    ever trains, and the leak detector when IV comes back absurdly
    high. Buckets are the same exact-decimal 50k price bins as the PSI
    gate (X124), so the two reports compose into one
    feature-monitoring surface: PSI says "did the distribution move",
    IV says "does it still separate the target".

    Scale: one map-side-combined groupBy over orders to |buckets|
    rows; everything after runs on the tiny aggregate
    (``operators.quality.woe_iv``)."""
    from ..functions.money import money
    from ..operators.quality import woe_iv

    orders = read_table(spark, sf_dir, "orders")
    price = money("o_totalprice")
    b = orders.select(
        F.least(F.floor(price / 50000), F.lit(9)).cast("int").alias("bucket"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_event"),
    )
    return woe_iv(b).orderBy("bucket")


# --------------------------------------------------------------------------
# Benford first-digit audit (X133)
# --------------------------------------------------------------------------
#: log10(1 + 1/d) for d = 1..9, pinned as shared 6-dp literals on both
#: engines (the DCG-weights discipline: no query-time log10 → no libm
#: drift can ever flip a hash)
_BENFORD = {
    1: "0.301030", 2: "0.176091", 3: "0.124939", 4: "0.096910",
    5: "0.079181", 6: "0.066947", 7: "0.057992", 8: "0.051153",
    9: "0.045757",
}
_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD.items()
) + " END"


@register(
    "benford_digit_audit",
    f"""
    WITH d AS (
      SELECT CAST(regexp_extract(
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), '[1-9]')
             AS INT) AS digit
      FROM orders
      WHERE regexp_extract(
              CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), '[1-9]') <> ''
    ),
    g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    w AS (SELECT digit, n, sum(n) OVER () AS total FROM g)
    SELECT digit, n,
           round(n / total, 6) AS share,
           {_BENFORD_SQL_CASE} AS benford_expected,
           round(abs(n / total - {_BENFORD_SQL_CASE}), 6) AS abs_dev
    FROM w
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of order amounts (X133):
    the classic fabricated-data / broken-feed detector — organically
    grown monetary amounts follow ``P(d) = log10(1 + 1/d)``, while
    generated, clipped, or unit-mangled feeds don't, so a large
    per-digit deviation is a cheap red flag no schema check catches.

    Parity discipline: the first significant digit comes from the
    DECIMAL(12,2) STRING rendering (identical in Spark and DuckDB —
    no float log10 whose boundary ulp could misclassify exact powers
    of ten), expected shares are pinned 6-dp literals (the DCG-weight
    discipline), and the share denominator rides a window OVER the
    9-row aggregate (X123 discipline — no second corpus scan).

    Scale: one pruned scan, one 9-row groupBy; everything else is
    arithmetic on the digit table."""
    from ..functions.money import money

    amount_str = money("o_totalprice").cast("string")
    digit_str = F.regexp_extract(amount_str, "[1-9]", 0)
    d = (
        read_table(spark, sf_dir, "orders")
        .select(digit_str.alias("ds"))
        .filter(F.col("ds") != "")
        .select(F.col("ds").cast("int").alias("digit"))
    )
    g = d.groupBy("digit").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    total = F.sum("n").over(Window.partitionBy())
    expected = F.element_at(
        F.create_map(
            *[x for dd, p in _BENFORD.items() for x in (F.lit(dd), F.lit(float(p)))]
        ),
        F.col("digit"),
    )
    return g.select(
        "digit",
        "n",
        F.round(F.col("n") / total, 6).alias("share"),
        expected.alias("benford_expected"),
        F.round(F.abs(F.col("n") / total - expected), 6).alias("abs_dev"),
    )


# --------------------------------------------------------------------------
# Version-retention vacuum (X122): the cleanup half of time travel
# --------------------------------------------------------------------------
@register(
    "snapshot_vacuum",
    # the oracle recomputes ONLY the two surviving versions from the
    # base table — a vacuum that deleted too little (4 result rows),
    # too much, or the wrong versions changes the row set and fails
    """
    SELECT 3 AS version, count(*) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders WHERE o_orderkey % 4 < 3
    UNION ALL
    SELECT 4, count(*),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
    FROM orders
    """,
)
def snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention vacuum over the versioned warehouse (X122) — the
    cleanup half ``snapshot_time_travel``'s write path needs: four
    growing snapshots of orders are committed as v1..v4,
    ``sources.io.vacuum_versions(keep_last=2)`` removes v1/v2 through
    the filesystem seam, and the report re-reads every version the
    post-vacuum listing still commits. Hash semantics: exactly the
    v3/v4 rows, each equal to a direct recompute — a vacuum that
    removed a survivor, spared a victim, or tore a surviving
    directory's data diverges. Pure metadata work; no table data is
    read to decide victims."""
    import shutil

    from ..functions.money import money
    from ..sources.io import (
        list_versions,
        read_version,
        scratch_dir,
        vacuum_versions,
        write_version,
    )

    orders = read_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = scratch_dir("vacuum", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    snapshot = orders.select("o_orderkey", money("o_totalprice").alias("price"))
    for v in (1, 2, 3, 4):
        write_version(snapshot.filter(k % 4 < v), base, v)
    removed = vacuum_versions(base, keep_last=2)
    if removed != [1, 2]:  # a real raise: asserts vanish under -O
        raise RuntimeError(f"vacuum removed {removed}, expected [1, 2]")
    reports = [
        read_version(spark, base, v, snapshot.schema).agg(
            F.lit(v).alias("version"),
            F.count("*").alias("n_rows"),
            F.round(F.sum("price"), 2).cast("double").alias("revenue"),
        )
        for v in list_versions(base)
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# Ordered CDC log replay (X119): tombstones, resurrection, new keys
# --------------------------------------------------------------------------
@register(
    "cdc_log_replay",
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderpriority AS priority,
             CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders
    ),
    log AS (
      SELECT 1 AS seq, k, 'upsert' AS op, 'X-UPDATED' AS lpriority,
             price + CAST(10.00 AS DECIMAL(12,2)) AS lprice
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT 2, k, 'delete', NULL, NULL FROM base WHERE k % 7 = 0
      UNION ALL
      SELECT 3, k, 'upsert', '9-RESTORED',
             price + CAST(20.00 AS DECIMAL(12,2))
      FROM base WHERE k % 9 = 0
      UNION ALL
      SELECT 4, k + 1000000000, 'upsert', 'NEW', price
      FROM base WHERE k % 11 = 0
    ),
    last AS (
      SELECT k, op, lpriority, lprice FROM (
        SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1
    ),
    final AS (
      SELECT b.priority, b.price
      FROM base b LEFT JOIN last l ON b.k = l.k WHERE l.k IS NULL
      UNION ALL
      SELECT lpriority, lprice FROM last WHERE op = 'upsert'
    )
    SELECT priority, count(*) AS n_orders,
           CAST(round(sum(price), 2) AS DOUBLE) AS revenue
    FROM final GROUP BY priority
    """,
)
def cdc_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered CDC log replay (X119) — the multi-event generalization
    of the single-batch MERGE upsert (K6): a sequence-numbered change
    log (updates at seq 1, tombstone deletes at seq 2, later upserts
    at seq 3 that RESURRECT 1-in-63 deleted keys, and brand-new keys
    at seq 4) is collapsed last-writer-wins per key and applied to the
    orders snapshot in one pass (``operators.cdc.cdc_replay``). The
    oracle replays the same log with window SQL, so phase-ordering
    bugs (deletes applied after the resurrecting upsert), a dropped
    tombstone, or a missed new-key insert all shift the per-priority
    counts/revenue and hash-fail."""
    from ..functions.money import money
    from ..operators.cdc import cdc_replay

    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        money("o_totalprice").alias("price"),
    )
    k, price = F.col("k"), F.col("price")
    ten = F.lit("10.00").cast("decimal(12,2)")
    twenty = F.lit("20.00").cast("decimal(12,2)")
    log = (
        base.filter(k % 5 == 0)
        .select(
            F.lit(1).alias("seq"), "k", F.lit("upsert").alias("op"),
            F.lit("X-UPDATED").alias("priority"), (price + ten).alias("price"),
        )
        .unionByName(
            base.filter(k % 7 == 0).select(
                F.lit(2).alias("seq"), "k", F.lit("delete").alias("op"),
                F.lit(None).cast("string").alias("priority"),
                F.lit(None).cast("decimal(13,2)").alias("price"),
            )
        )
        .unionByName(
            base.filter(k % 9 == 0).select(
                F.lit(3).alias("seq"), "k", F.lit("upsert").alias("op"),
                F.lit("9-RESTORED").alias("priority"),
                (price + twenty).alias("price"),
            )
        )
        .unionByName(
            base.filter(k % 11 == 0).select(
                F.lit(4).alias("seq"), (k + 1000000000).alias("k"),
                F.lit("upsert").alias("op"), F.lit("NEW").alias("priority"),
                price.cast("decimal(13,2)").alias("price"),
            )
        )
    )
    final = cdc_replay(base, log, ["k"])
    return final.groupBy("priority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("price"), 2).cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# Event transition matrix (X115): consecutive-pair Markov counts
# --------------------------------------------------------------------------
@register(
    "event_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    t AS (SELECT event_type AS from_type, next_type AS to_type
          FROM s WHERE next_type IS NOT NULL)
    SELECT from_type, to_type, count(*) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY from_type), 4)
             AS p_next
    FROM t GROUP BY from_type, to_type
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: for each user's
    time-ordered event sequence, count (event → next event) pairs and
    normalize per source state — the empirical Markov kernel behind
    "what do users do after X" product questions and next-event
    baseline models. Ordering is made total with the event-id
    tie-break so both engines pair identical neighbors.

    Scale: ONE user-key shuffle for the lead() window (sequences stay
    whole within a partition), then a groupBy on the tiny
    (from, to) state space with map-side combine; the per-source
    normalization is a window over that same tiny matrix."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    s = ev.withColumn(
        "next_type",
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    ).filter(F.col("next_type").isNotNull())
    counts = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("from_type")), 4
        ).alias("p_next"),
    )


# --------------------------------------------------------------------------
# Behavioral path mining (X120): top-k opening event paths
# --------------------------------------------------------------------------
@register(
    "user_path_topk",
    """
    WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type IS NOT NULL
    ),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id
    ),
    f AS (SELECT path, count(*) AS n_users FROM p GROUP BY path)
    SELECT path, n_users, CAST(rnk AS INT) AS rank FROM (
      SELECT path, n_users,
             row_number() OVER (ORDER BY n_users DESC, path ASC) AS rnk
      FROM f
    ) WHERE rnk <= 10
    """,
)
def user_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opening-path mining (X120): each user's first three events (a
    total order via the event-id tie-break) concatenated into a path
    string, counted across users, top-10 — the multi-step sibling of
    ``event_transitions``'s one-step kernel ("how do journeys START",
    the onboarding/funnel-design question the Markov matrix can't
    answer because it forgets position). Rank ties break on path text
    so the cut at 10 is deterministic on both engines.

    Scale: ONE user-key shuffle (row_number window), then the path
    aggregation runs on ≤3 rows per user and the final groupBy is over
    the tiny |event_types|³ path space with map-side combine. Order
    inside the path comes from ``array_sort`` on (rn, type) structs,
    never ``collect_list`` ordering luck."""
    from pyspark.sql import Window

    # NULL contract: a typeless event is no path step (Spark's
    # array_join would silently skip it mid-path while DuckDB's
    # string_agg NULLs the whole path — probed divergence); users with
    # no typed events have no opening path on either engine
    ev = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .filter(F.col("event_type").isNotNull())
    )
    r = ev.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id")),
    ).filter(F.col("rn") <= 3)
    paths = r.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    f = paths.groupBy("path").agg(F.count("*").alias("n_users"))
    from ..operators.reports import ordered_with_rank

    return ordered_with_rank(
        f, [F.col("n_users").desc(), F.col("path").asc()], rank_col="rank"
    ).filter(F.col("rank") <= 10)


# --------------------------------------------------------------------------
# k-anonymity audit (X139): quasi-identifier re-identification risk
# --------------------------------------------------------------------------
@register(
    "k_anonymity_report",
    """
    WITH sizes AS (
      SELECT count(*) AS n
      FROM customer
      GROUP BY c_nationkey, c_mktsegment,
               least(floor(CAST(c_acctbal AS DECIMAL(12,2)) / 2000), 5)
    ),
    ks AS (
      SELECT k, n FROM sizes, (VALUES (2), (5), (10)) AS t(k)
    )
    SELECT k,
           count(*)                                   AS n_groups,
           count(*) FILTER (WHERE n < k)              AS n_small_groups,
           CAST(coalesce(sum(n) FILTER (WHERE n < k), 0) AS BIGINT)
                                                      AS rows_at_risk,
           round(coalesce(sum(n) FILTER (WHERE n < k), 0) / sum(n), 6)
                                                      AS risk_rate
    FROM ks
    GROUP BY k
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (X139): for each disclosure threshold k, how
    many quasi-identifier groups — (nation, market segment, coarse
    account-balance bucket) — are smaller than k, and how many rows
    sit in them. A row whose QI combination matches fewer than k
    people is re-identifiable by linkage; this is the release gate a
    privacy review runs BEFORE a dataset ships, complementing the
    direct-identifier scrub (X58 PII) with the indirect-identifier
    risk it cannot see. The bucket uses exact decimal floor-division
    (the X124 discipline — no float boundary can move a row between
    QI groups).

    Scale: ONE map-side-combined groupBy to |QI-groups| rows; the
    three thresholds explode against that tiny group-size table (3×
    |groups| rows), never against the corpus. Risk arithmetic is
    integer-exact; only the rate is a rounded double."""
    from ..functions.money import money

    cust = read_table(spark, sf_dir, "customer")
    bucket = F.least(F.floor(money("c_acctbal") / 2000), F.lit(5))
    sizes = cust.groupBy(
        "c_nationkey", "c_mktsegment", bucket.alias("__b")
    ).agg(F.count("*").alias("n"))
    ks = sizes.select(
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("k"), "n"
    )
    small = F.when(F.col("n") < F.col("k"), F.col("n"))
    return ks.groupBy("k").agg(
        F.count("*").alias("n_groups"),
        F.count(small).alias("n_small_groups"),
        F.coalesce(F.sum(small), F.lit(0)).alias("rows_at_risk"),
        F.round(F.coalesce(F.sum(small), F.lit(0)) / F.sum("n"), 6).alias("risk_rate"),
    )


# --------------------------------------------------------------------------
# X200: l-diversity audit — the sensitive-attribute sibling of X139
# --------------------------------------------------------------------------
@register(
    "l_diversity_report",
    """
    WITH sizes AS (
      SELECT count(*) AS n,
             count(DISTINCT least(floor(CAST(c_acctbal AS DECIMAL(12,2))
                                        / 2000), 5)) AS ldiv
      FROM customer
      GROUP BY c_nationkey, c_mktsegment
    ),
    ls AS (
      SELECT l, n, ldiv FROM sizes, (VALUES (2), (3), (4)) AS t(l)
    )
    SELECT l,
           count(*)                                   AS n_groups,
           count(*) FILTER (WHERE ldiv < l)           AS n_weak_groups,
           CAST(coalesce(sum(n) FILTER (WHERE ldiv < l), 0) AS BIGINT)
                                                      AS rows_at_risk,
           round(coalesce(sum(n) FILTER (WHERE ldiv < l), 0) / sum(n), 6)
                                                      AS risk_rate
    FROM ls
    GROUP BY l
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X200: distinct l-diversity audit (Machanavajjhala et al. 2007)
    — k-anonymity's known blind spot made a measured gate: a
    QI group can be large (k-safe) yet carry only ONE sensitive value,
    so linkage still discloses the attribute (the homogeneity attack).
    For each threshold l, how many quasi-identifier groups — (nation,
    market segment) — carry fewer than l DISTINCT sensitive values
    (the coarse account-balance bucket, exact decimal floor-division
    per the X124/X139 discipline), and how many rows sit exposed in
    them. Distinct l-diversity is the log-free variant (entropy
    l-diversity needs ln — the libm hazard the X196 divergences also
    avoid) and the one release gates actually enforce.

    Scale: ONE map-side-combined groupBy to |QI-groups| rows (the
    distinct-count rides the same shuffle); the thresholds explode
    against that tiny table, never the corpus. Integer-exact except
    the rounded rate."""
    from ..functions.money import money

    cust = read_table(spark, sf_dir, "customer")
    bucket = F.least(F.floor(money("c_acctbal") / 2000), F.lit(5))
    sizes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n"),
        F.countDistinct(bucket).alias("ldiv"),
    )
    ls = sizes.select(
        F.explode(F.array(F.lit(2), F.lit(3), F.lit(4))).alias("l"), "n", "ldiv"
    )
    weak = F.when(F.col("ldiv") < F.col("l"), F.col("n"))
    return ls.groupBy("l").agg(
        F.count("*").alias("n_groups"),
        F.count(weak).alias("n_weak_groups"),
        F.coalesce(F.sum(weak), F.lit(0)).alias("rows_at_risk"),
        F.round(F.coalesce(F.sum(weak), F.lit(0)) / F.sum("n"), 6).alias(
            "risk_rate"
        ),
    )


# --------------------------------------------------------------------------
# Column entropy profile (X140): distribution informativeness audit
# --------------------------------------------------------------------------
_ENTROPY_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")

_ENTROPY_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS col_name,
           count(*)                            AS n_distinct,
           round(-sum((n / t) * ln(n / t)), 4) AS entropy,
           CASE WHEN count(*) > 1
                THEN round(-sum((n / t) * ln(n / t)) / ln(count(*)), 4)
           END AS norm_entropy
    FROM (
      SELECT count(*) AS n, sum(count(*)) OVER () AS t
      FROM orders GROUP BY {c}
    )
    """
    for c in _ENTROPY_COLS
)


@register("column_entropy_profile", _ENTROPY_ORACLE)
def column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy profile of selected columns (X140): how
    informative each column's value distribution actually is — the
    screening signal that separates a near-constant column (entropy
    ≈ 0: drop it), a balanced categorical, and a near-unique
    identifier (normalized entropy ≈ 1: a join key or a privacy
    hazard, cf. X139). Complements the count-based ``column_profile``
    (X40) with the distribution-shape number those counts miss.

    Parity discipline: the value-frequency table comes from one exact
    groupBy per column, the total from a window OVER that aggregate
    (X123 — no second scan); the entropy sum is the one genuinely
    float-summed statistic here, so it rounds at 4 dp (the lm_score
    precedent — cross-row double sums keep ~1e-13 absolute error,
    ten orders below the rounding grain). Normalized entropy guards
    the single-value column with an explicit NULL.

    Scale: one aggregation shuffle per column at value cardinality;
    the entropy arithmetic runs on the frequency table."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    parts = []
    for c in _ENTROPY_COLS:
        freq = orders.groupBy(F.col(c)).agg(F.count("*").alias("n"))
        t = F.sum("n").over(Window.partitionBy())
        p = F.col("n") / F.col("t")
        term = freq.select("n", t.alias("t")).select(
            "n", "t", (p * F.log(p)).alias("__term")
        )
        parts.append(
            term.agg(
                F.lit(c).alias("col_name"),
                F.count("*").alias("n_distinct"),
                F.round(-F.sum("__term"), 4).alias("entropy"),
                F.when(
                    F.count("*") > 1,
                    F.round(-F.sum("__term") / F.log(F.count("*").cast("double")), 4),
                ).alias("norm_entropy"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


# ---------------------------------------------------------------------------
# Referential-integrity audit across the warehouse FK graph (X184)
# ---------------------------------------------------------------------------
#: (child table, fk column, parent table, pk column) — the complete
#: star-schema FK edge set of the warehouse.
_FK_EDGES: tuple[tuple[str, str, str, str], ...] = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _ri_audit_oracle() -> str:
    blocks = []
    for child, fk, parent, pk in _FK_EDGES:
        blocks.append(
            f"""
    SELECT '{child}.{fk}->{parent}.{pk}' AS edge,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_null_fk,
           CAST(coalesce(sum(CASE WHEN c.{fk} IS NOT NULL
                                   AND p.{pk} IS NULL
                                  THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_orphan_rows,
           CAST(count(DISTINCT CASE WHEN c.{fk} IS NOT NULL
                                     AND p.{pk} IS NULL
                                    THEN c.{fk} END)
                AS BIGINT) AS n_orphan_keys,
           CASE WHEN count(c.{fk}) > 0
                THEN round(CAST(sum(CASE WHEN c.{fk} IS NOT NULL
                                          AND p.{pk} IS NULL
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / count(c.{fk}), 6) END AS orphan_pct
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
           ON c.{fk} = p.{pk}"""
        )
    return "\nUNION ALL\n".join(blocks)


@register("referential_integrity_audit", _ri_audit_oracle())
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X184: orphan-FK audit over every foreign-key edge of the
    warehouse star schema — the ingest-time integrity report a 100 TB
    load runs before promoting a snapshot (a fact row pointing at a
    missing dimension row silently vanishes from every inner-join
    report downstream; this surfaces the loss BEFORE the joins do).
    Per edge: row count, NULL-FK rows (unknown parentage — counted
    separately, NOT as orphans, per the warehouse NULL contract),
    orphan rows, distinct orphan keys, and the orphan share of
    non-NULL-FK rows.

    Scale: the three lineitem edges share ONE fact pass — their
    parent key sets chain as successive left joins (each key set is
    distinct, so no fan-out) and a single 1-row aggregate carries all
    three edges' counters, so the 100 TB fact is read once, not three
    times (one shuffle on l_orderkey). Every other edge is one left
    join against the parent's DISTINCT key set + a map-side-combined
    1-row aggregate. Broadcast hints go ONLY to the genuinely bounded
    dims (nation=25, region=5 — constant at any SF); the customer/
    supplier/part key sets grow linearly with the warehouse, and an
    explicit hint cannot be demoted by AQE, so those joins are left
    declarative for AQE/statistics to pick broadcast-vs-shuffle at
    the actual SF. AQE's skew handling applies throughout."""

    def _edge_aggs(fk: str, pk: str, prefix: str) -> list:
        orphan = F.col(fk).isNotNull() & F.col(pk).isNull()
        n_live = F.count(F.col(fk))
        return [
            F.count(F.lit(1)).alias(f"{prefix}n_rows"),
            # empty-warehouse contract: sums over zero rows are NULL
            # in both engines — count columns report 0
            F.coalesce(
                F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"{prefix}n_null_fk"),
            F.coalesce(F.sum(F.when(orphan, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"{prefix}n_orphan_rows"),
            F.countDistinct(F.when(orphan, F.col(fk)))
            .cast("long")
            .alias(f"{prefix}n_orphan_keys"),
            F.when(
                n_live > 0,
                F.round(
                    F.sum(F.when(orphan, 1).otherwise(0)).cast("double")
                    / n_live,
                    6,
                ),
            ).alias(f"{prefix}orphan_pct"),
        ]

    def _keys(parent: str, pk: str):
        keys = read_table(spark, sf_dir, parent).select(pk).distinct()
        # Hint only the bounded dims: nation/region are constant-size
        # at any SF. customer/supplier/part key cardinality scales
        # with the fact table, and F.broadcast cannot be demoted by
        # AQE — a forced billion-key broadcast would OOM at 100 TB.
        if parent in ("nation", "region"):
            keys = F.broadcast(keys)
        return keys

    _METRICS = (
        "n_rows", "n_null_fk", "n_orphan_rows", "n_orphan_keys", "orphan_pct"
    )
    fact_edges = [e for e in _FK_EDGES if e[0] == "lineitem"]
    other_edges = [e for e in _FK_EDGES if e[0] != "lineitem"]

    # ONE pass over the fact table: chain the three parent key-set
    # left joins (distinct keys — no fan-out) and aggregate all three
    # edges' counters in a single 1-row frame
    chained = read_table(spark, sf_dir, "lineitem")
    for _, fk, parent, pk in fact_edges:
        k = _keys(parent, pk)
        chained = chained.join(k, chained[fk] == k[pk], "left")
    wide = chained.agg(
        *[
            a
            for i, (_, fk, _, pk) in enumerate(fact_edges)
            for a in _edge_aggs(fk, pk, f"e{i}_")
        ]
    ).localCheckpoint(eager=True)  # 1-row; three selects read it below
    frames = [
        wide.select(
            F.lit(f"{child}.{fk}->{parent}.{pk}").alias("edge"),
            *[F.col(f"e{i}_{m}").alias(m) for m in _METRICS],
        )
        for i, (child, fk, parent, pk) in enumerate(fact_edges)
    ]
    for child, fk, parent, pk in other_edges:
        c = read_table(spark, sf_dir, child)
        k = _keys(parent, pk)
        frames.append(
            c.join(k, c[fk] == k[pk], "left").agg(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("edge"),
                *_edge_aggs(fk, pk, ""),
            )
        )
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out


# ---------------------------------------------------------------------------
# X195: global epoch-shuffle shard plan — the pre-training shuffle
# ---------------------------------------------------------------------------
_N_SHARDS = 8


@register(
    "epoch_shuffle_shards",
    f"""
    WITH s AS (
      SELECT e.epoch,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                                         || ':ep' || e.epoch || '-v1'), 1, 15))::BIGINT
                  % {_N_SHARDS} AS INT) AS shard_id,
             source, n_chars
      FROM documents
      CROSS JOIN (SELECT 1 AS epoch UNION ALL SELECT 2) e
    ),
    per_src AS (
      SELECT epoch, shard_id, source,
             count(*) AS c, sum(n_chars) AS ch
      FROM s GROUP BY epoch, shard_id, source
    )
    SELECT epoch, shard_id,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(sum(ch) AS BIGINT) AS total_chars,
           count(source) AS n_sources,
           round(max(CASE WHEN source IS NOT NULL THEN c END)
                 / CAST(sum(c) AS DOUBLE), 6) AS top_source_share
    FROM per_src
    GROUP BY epoch, shard_id
    """,
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X195: the global shuffle every pretraining run needs before the
    data loader sees a shard — each document is assigned a training
    shard by a SEEDED hash of its key (seed = the epoch, so epoch 2 is
    a fresh permutation with zero coordination), and the report grades
    the assignment per (epoch, shard): document count, character mass,
    source diversity, and the dominant source's share (a shard that
    over-concentrates one source produces correlated gradient batches
    — the thing the shuffle exists to prevent).

    Scale: shard assignment is a pure narrow map of the key (NO global
    sort, NO row_number over the corpus — at 100 TB a total-order
    permutation is a full-data sort, while hash-sharding is free and
    binomially tight: shard-size deviation is O(sqrt(n)) at n docs per
    shard); the report is a two-level map-side-combinable aggregation
    whose first level has |epochs| x |shards| x |sources| groups. A
    loader that needs EXACT equal shard files composes this with the
    X185 range-partition planner over the same hash key. Deterministic
    across engines/executors/reruns: the md5-hex-to-BIGINT idiom
    (operators/cdc.py) on both sides, no rand()."""
    docs = read_table(spark, sf_dir, "documents")
    epoch = F.explode(F.array(F.lit(1), F.lit(2))).alias("epoch")
    withe = docs.select("doc_id", "source", "n_chars", epoch)
    hnum = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":ep"),
                    F.col("epoch").cast("string"),
                    F.lit("-v1"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    per_src = (
        withe.select(
            "epoch",
            (hnum % _N_SHARDS).cast("int").alias("shard_id"),
            "source",
            "n_chars",
        )
        .groupBy("epoch", "shard_id", "source")
        .agg(F.count("*").alias("c"), F.sum("n_chars").alias("ch"))
    )
    return per_src.groupBy("epoch", "shard_id").agg(
        F.sum("c").alias("n_docs"),
        F.sum("ch").alias("total_chars"),
        F.count("source").alias("n_sources"),
        F.round(
            F.max(F.when(F.col("source").isNotNull(), F.col("c")))
            / F.sum("c").cast("double"),
            6,
        ).alias("top_source_share"),
    )


# ---------------------------------------------------------------------------
# X205: token-budget waterfill allocation — the mixture EXECUTION step
# ---------------------------------------------------------------------------
@register(
    "token_budget_waterfill",
    r"""
    WITH avail AS (
      SELECT source, count(*) AS a
      FROM (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents WHERE length(trim(text)) > 0 AND source IS NOT NULL
      ) GROUP BY source
    ),
    tot AS (SELECT CAST(sum(a) AS BIGINT) AS total,
                   count(*) AS n FROM avail),
    ranked AS (
      SELECT source, a,
             row_number() OVER (ORDER BY a ASC, source ASC) AS i,
             CAST(coalesce(sum(a) OVER (ORDER BY a ASC, source ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cuma_prev
      FROM avail
    ),
    flagged AS (
      SELECT r.source, r.a, r.i, r.cuma_prev,
             (r.a * (t.n - r.i + 1)) <= ((t.total * 95) // 100 - r.cuma_prev)
               AS capped,
             (t.total * 95) // 100 AS budget, t.n AS n
      FROM ranked r CROSS JOIN tot t
    ),
    cut AS (
      SELECT count(*) FILTER (WHERE capped) AS n_capped,
             CAST(coalesce(sum(a) FILTER (WHERE capped), 0) AS BIGINT)
               AS capped_mass
      FROM flagged
    )
    SELECT f.source,
           f.a AS available_tokens,
           CAST(CASE WHEN f.capped THEN f.a
                ELSE (f.budget - c.capped_mass) // (f.n - c.n_capped)
           END AS BIGINT) AS allocated_tokens,
           f.capped
    FROM flagged f CROSS JOIN cut c
    """,
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X205: closed-form waterfilling of a token budget across sources
    — the EXECUTION step after the mixture plan (X174 decides target
    proportions; this decides how many tokens to actually take when
    sources run out): allocate budget T (here 95% of the corpus,
    uniform target weights — the rebalance-a-skewed-crawl case)
    equally per source, but a source smaller than the waterline caps
    at its capacity and its shortfall redistributes to the rest. The
    classic algorithm: sort sources by capacity ascending; row i caps
    iff a_i·(n−i+1) ≤ T − Σ_{j<i} a_j (the one-shot prefix test, valid
    because capacities are sorted); the survivors split the remaining
    budget evenly. Arbitrary X174 weights plug into the same machinery
    (capacity ratio a/w replaces a in the sort and test).

    INTEGER-EXACT end to end — capacities are counts, the cap test is
    an integer cross-multiplication, the waterline share is integer
    floor division: no float ever enters, so no rounding discipline is
    even needed (the strongest form of the X126 no-float-in-the-sort
    -key rule).

    Scale: the corpus pass is ONE map-side-combined per-source count;
    everything after runs on |sources| rows (window over ~20 rows,
    two scalar aggregates broadcast back). The allocation for a 10k-
    source crawl is a driver-trivial 10k-row frame."""
    docs = read_table(spark, sf_dir, "documents")
    words = docs.filter(
        (F.length(F.trim("text")) > 0) & F.col("source").isNotNull()
    ).select(
        "source", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    )
    avail = words.groupBy("source").agg(F.count(F.lit(1)).alias("a"))
    tot = F.broadcast(
        avail.agg(
            F.sum("a").cast("long").alias("total"), F.count(F.lit(1)).alias("n")
        )
    )
    w = Window.orderBy(F.col("a").asc(), F.col("source").asc())
    ranked = avail.select(
        "source",
        "a",
        F.row_number().over(w).alias("i"),
        F.coalesce(
            F.sum("a").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("cuma_prev"),
    )
    flagged = ranked.crossJoin(tot).select(
        "source",
        "a",
        "i",
        "cuma_prev",
        (
            F.col("a") * (F.col("n") - F.col("i") + 1)
            <= F.expr("total * 95 div 100") - F.col("cuma_prev")
        ).alias("capped"),
        F.expr("total * 95 div 100").alias("budget"),
        "n",
    )
    cut = F.broadcast(
        flagged.agg(
            F.count(F.when(F.col("capped"), 1)).alias("n_capped"),
            F.coalesce(F.sum(F.when(F.col("capped"), F.col("a"))), F.lit(0))
            .cast("long")
            .alias("capped_mass"),
        )
    )
    return flagged.crossJoin(cut).select(
        "source",
        F.col("a").alias("available_tokens"),
        F.when(F.col("capped"), F.col("a"))
        .otherwise(
            F.expr("(budget - capped_mass) div (n - n_capped)")
        )
        .cast("long")
        .alias("allocated_tokens"),
        "capped",
    )
