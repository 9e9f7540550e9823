"""Similarity-search queries over the ``embeddings`` table (U2: the
reference's filtered cosine top-k retrieval, rag_engine.py:212-217,
generalized to the ANN family a training pipeline needs).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from .. import cache
from ..functions.scalars import stable_round
from ..functions.vectors import as_double, cosine_sim, lit_vector
from ..operators.similarity import ann_ivf, ann_lsh, knn_exact
from ..sources.tables import load_table
from .registry import register

# DuckDB cosine mirror: explicit dot/(|a|*|b|) with DOUBLE[] casts so the
# accumulation matches Spark's sequential fold.
_SIM_SQL = (
    "list_inner_product(e.embedding::DOUBLE[], q.qe)"
    " / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_inner_product(q.qe, q.qe)))"
)


def _embeddings_token(sf_dir) -> tuple:
    return cache.file_token(f"{sf_dir}/embeddings.parquet")


def _query_vec(spark, sf_dir, vec_id: int = 0):
    """The probe vector for the kNN/ANN/retrieval family, or ``None``
    when the corpus has no such row. Cached per corpus (``cache`` kind
    ``probe``) under the embeddings file token, so an in-session corpus
    rewrite serves the fresh vector; a missing probe is not cached."""

    def build():
        row = (
            load_table(spark, sf_dir, "embeddings")
            .where(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        return None if row is None else [float(x) for x in row["embedding"]]

    return cache.get("probe", (sf_dir, vec_id), build, _embeddings_token(sf_dir))


def _probe_plan(spark, sf_dir, vec_id, build):
    """Totality on an empty corpus / missing probe row: the probe vector
    is this family's only driver-side input, so when it doesn't exist
    the query degenerates to the SAME plan over a dummy vector filtered
    to zero rows — schema preserved, no crash. This is the behavior a
    row-eliminating filter produces anywhere else in the engine, and at
    100 TB a partition/filter combination that leaves no probe row is
    routine, not exceptional. (The constant-row oracle contracts of the
    ANN queries describe populated corpora; on a probe-less corpus the
    truthful contract is vacuous — zero rows.)

    ``build(qv, missing)``: ``missing=True`` marks the dummy-vector
    path, where the plan's rows will be discarded — builders must not
    run eager driver-side work (index builds, cache writes) there."""
    qv = _query_vec(spark, sf_dir, vec_id)
    if qv is not None:
        return build(qv, False)
    return build([0.0], True).where(F.lit(False))


@register(
    "q_knn_exact",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label, round(sim, 6) AS sim
    FROM (
        SELECT e.vec_id, e.label, {_SIM_SQL} AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    ORDER BY sim DESC, vec_id
    LIMIT 20
    """,
    doc="U2 exact kNN: brute-force cosine top-20 vs the vec_id=0 query "
    "vector. Spark: broadcast literal vector + TakeOrderedAndProject — "
    "per-partition top-k, driver merges k·partitions rows; no corpus shuffle.",
)
def q_knn_exact(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    return _probe_plan(
        spark, sf_dir, 0,
        lambda qv, _missing: knn_exact(
            e, qv, k=20, vec_col="embedding", id_col="vec_id"
        ).select("vec_id", "label", "sim"),
    )


@register(
    "q_knn_per_label",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, e.label, {_SIM_SQL} AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, round(sim, 6) AS sim, rn
    FROM (
        SELECT *, row_number() OVER (PARTITION BY label ORDER BY sim DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
    doc="Partitioned top-k: 3 nearest neighbours per label (grouped retrieval).",
)
def q_knn_per_label(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    w = Window.partitionBy("label").orderBy(F.desc("__sim"), F.asc("vec_id"))

    def build(qv, _missing):
        sim = cosine_sim(as_double(F.col("embedding")), lit_vector(qv))
        return (
            e.withColumn("__sim", sim)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("vec_id", "label", F.round("__sim", 6).alias("sim"), "rn")
        )

    return _probe_plan(spark, sf_dir, 0, build)


@register(
    "q_embedding_norms",
    """
    SELECT label, count(*) AS n_vecs,
           round(avg(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS avg_norm,
           round(min(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS min_norm,
           round(max(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6) AS max_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    doc="Vector-column profiling: L2-norm stats per label (JVM array fold, "
    "no Python).",
)
def q_embedding_norms(spark, sf_dir):
    from ..functions.vectors import l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm(as_double(F.col("embedding")))
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(norm), 6).alias("avg_norm"),
            F.round(F.min(norm), 6).alias("min_norm"),
            F.round(F.max(norm), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


def _ann_recall_contract(ann_df, exact_df, k: int, min_hits: float):
    """Single-row ANN recall contract: join the ANN top-k against the
    in-plan exact top-k and emit (k, n_ann, recall_ok). Both inputs are
    k-row DataFrames, so the join/aggregate is a 1-row scalar reduction —
    the oracle asserts the deterministic verdict (recall is a pure
    function of the stored vectors; no randomness at query time)."""
    hits = exact_df.select("vec_id").withColumn("__hit", F.lit(1))
    return (
        ann_df.select("vec_id")
        .join(hits, "vec_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_ann"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            F.lit(k).alias("k"),
            "n_ann",
            (F.col("n_hits") >= F.lit(min_hits)).alias("recall_ok"),
        )
    )


@register(
    "q_ann_lsh",
    "SELECT 20 AS k, CAST(20 AS BIGINT) AS n_ann, TRUE AS recall_ok",
    doc="U2 scale path: sign-LSH bucketed ANN (8 seeded hyperplanes, "
    "multi-probe Hamming≤2 → bucket pruning → exact cosine within). At "
    "100 TB the table is partitioned by bucket ⇒ partition-pruned scan of "
    "~37/256 of the data. Oracle contract: recall@20 vs the IN-PLAN exact "
    "kNN as a checked threshold row (floor 0.10 = theory floor for "
    "uniform-random vectors, measured 0.40 — COVERAGE.md); the bucket "
    "must also yield a full k results (n_ann = 20).",
)
def q_ann_lsh(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)

    def build(qv, _missing):
        ann = ann_lsh(
            e, qv, k=20, n_planes=8, vec_col="embedding", id_col="vec_id",
            probe_hamming=2,
        )
        exact = knn_exact(e, qv, k=20, vec_col="embedding", id_col="vec_id")
        return _ann_recall_contract(ann, exact, k=20, min_hits=2)

    return _probe_plan(spark, sf_dir, 0, build)


@register(
    "q_ann_ivf",
    "SELECT 20 AS k, CAST(20 AS BIGINT) AS n_ann, TRUE AS recall_ok",
    doc="U2 scale path #2: IVF-style ANN — coarse centroid cells, probe "
    "the 2 nearest cells, exact cosine within. At 100 TB the corpus is "
    "partitioned by cell id ⇒ probing is partition pruning. Oracle "
    "contract: recall@20 vs the IN-PLAN exact kNN as a checked threshold "
    "row (floor 0.15 = theory floor for uniform-random vectors, measured "
    "0.35 — COVERAGE.md) plus full-k delivery (n_ann = 20).",
)
def q_ann_ivf(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    # cache_key = table path + file token: the IVF index is built once
    # per corpus VERSION and reused across queries, as a stored index
    # would be at scale; a rewritten corpus maps to a fresh cache entry.
    token = _embeddings_token(sf_dir)

    def build(qv, missing):
        # On the dummy path the rows are discarded anyway; pass an empty
        # index explicitly so no full-corpus aggregation runs at plan
        # construction and no wrong-dimension centroids can land in the
        # cache under the real corpus key.
        ann = ann_ivf(
            e, qv, k=20, n_probe=2,
            centroids={} if missing else None,
            cache_key=None if missing else ("ivf", sf_dir, token),
        )
        exact = knn_exact(e, qv, k=20, vec_col="embedding", id_col="vec_id")
        return _ann_recall_contract(ann, exact, k=20, min_hits=3)

    return _probe_plan(spark, sf_dir, 0, build)


@register(
    "q_embedding_near_dup",
    """
    WITH n AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e,
               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings
    ),
    v AS (SELECT * FROM n WHERE nrm > 0),
    kk AS (
        SELECT CAST(greatest(1, least(128, ceil(count(*) / 256.0))) AS BIGINT) AS k
        FROM v
    ),
    cent AS (
        SELECT vec_id AS cid, e AS ce, nrm AS cnrm
        FROM v ORDER BY vec_id LIMIT (SELECT k FROM kk)
    ),
    asg AS (
        SELECT v.vec_id, v.label, v.e, v.nrm,
               (SELECT c.cid FROM cent c
                  ORDER BY list_inner_product(v.e, c.ce) / (v.nrm * c.cnrm) DESC,
                           c.cid
                  LIMIT 1) AS cell
        FROM v
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
               list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS sim
        FROM asg a
        JOIN asg b ON a.label = b.label AND a.cell = b.cell
                  AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, label, round(sim, 6) AS sim
    FROM pairs
    WHERE sim >= 0.35
    ORDER BY id_a, id_b
    """,
    doc="Embedding-cosine near-duplicate dedup (SemDeDup-style): exact "
    "cosine pairs WITHIN a block at sim ≥ 0.35. Since round 13 the "
    "block key is (label, cell) where cell is a DATA-DRIVEN IVF coarse "
    "cell (seed_cell_column: centroids = first K valid rows by id, "
    "K ≈ n/256 capped at 128, assignment = argmax cosine with ties to "
    "the smallest seed id). The cell COUNT grows with the corpus, so "
    "per-block quadratic pair work stays LINEAR in corpus size even "
    "though label is a fixed 10-value set — the 100 TB escape hatch "
    "SCALING.md used to describe in prose, now the default code path. "
    "The oracle replicates the quantizer exactly: same K formula, same "
    "seed rule, same sequential-fold cosine scores, same tie-break.",
)
def q_embedding_near_dup(spark, sf_dir):
    from ..operators.dedup import embedding_near_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    # cell_cache_key: quantizer built once per corpus VERSION per
    # session (repeat executions skip the seed pre-pass job); the file
    # token makes a rewritten corpus build a fresh quantizer. The bench
    # resets it per query via invalidate_ivf_index so timed runs stay
    # full end-to-end.
    key = ("seed_cells", sf_dir, _embeddings_token(sf_dir))
    return embedding_near_dup_pairs(
        e, threshold=0.35, cell_cache_key=key
    ).select("id_a", "id_b", "label", "sim").orderBy("id_a", "id_b")


@register(
    "q_retrieval_pipeline",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    joined AS (
        SELECT d.doc_id, d.lang, d.n_chars, e.embedding
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        WHERE d.lang = 'en' AND e.vec_id <> 0
    ), scored AS (
        SELECT doc_id, n_chars, {_SIM_SQL.replace('e.embedding', 'joined.embedding')} AS sim,
               exp(-n_chars / 1000.0) AS decay
        FROM joined, q
    )
    SELECT doc_id, round(sim, 6) AS sim,
           round(0.6 * sim + 0.4 * decay, 6) AS score
    FROM scored
    ORDER BY 0.6 * sim + 0.4 * decay DESC, doc_id
    LIMIT 8
    """,
    doc="The reference's full retrieval shape (rag_engine.py:184-253) as "
    "ONE oracle-checked plan: metadata filter -> join docs to vectors -> "
    "cosine vs broadcast query -> 0.6*sim + 0.4*decay blend -> top-8. "
    "Size-decay stands in for time-decay (deterministic on these tables).",
)
def q_retrieval_pipeline(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").where(F.col("lang") == "en")
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    joined = d.join(e, d.doc_id == e.vec_id).select("doc_id", "n_chars", "embedding")
    decay = F.exp(-F.col("n_chars") / 1000.0)

    def build(qv, _missing):
        sim = cosine_sim(as_double(F.col("embedding")), lit_vector(qv))
        return (
            joined.withColumn("__sim", sim)
            .withColumn("__score", F.lit(0.6) * F.col("__sim") + F.lit(0.4) * decay)
            .orderBy(F.desc("__score"), F.asc("doc_id"))
            .limit(8)
            .select(
                "doc_id",
                F.round("__sim", 6).alias("sim"),
                F.round("__score", 6).alias("score"),
            )
        )

    return _probe_plan(spark, sf_dir, 0, build)


@register(
    "q_approx_distinct",
    """
    SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Sketch path: approx_count_distinct (HyperLogLog++) per event_type "
    "— the constant-memory form of COUNT(DISTINCT) at 100 TB. Oracle "
    "contract: the exact count is computed IN-PLAN alongside the sketch "
    "and the row carries the sketch-accuracy verdict (|approx-exact| ≤ "
    "max(5%·exact, 2)); the oracle hash-matches the exact column and "
    "asserts the verdict TRUE, so a degraded sketch fails the driver "
    "gate deterministically (HLL++ is a pure function of the value set).",
)
def q_approx_distinct(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    # The sketch and the exact count are SEPARATE aggregations joined on
    # the (tiny) group key: one agg computing both forces Spark to carry
    # the full HLL register set (1.6k longs at rsd=0.01) through
    # count-distinct's per-(type,user) expand phase — a plan that merges
    # sketches once per user instead of once per partition.
    approx = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )
    exact = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        approx.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(2.0), F.col("exact_users") * 0.05)
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "q_kmeans_clusters",
    """
    SELECT count(*)::BIGINT AS n_vecs,
           5::BIGINT AS n_clusters_nonempty,
           TRUE AS partition_complete,
           TRUE AS tighter_than_global
    FROM embeddings
    """,
    doc="Iterative Lloyd k-means (3 iterations, deterministic lowest-id "
    "seeding) — the iterative-algorithm slot: each iteration is one "
    "fused Arrow assign+partial-sum pass (k*dim driver state, no "
    "shuffle). No single SQL can replay the iteration, so the oracle "
    "contract checks the deterministic outcome instead: the assignment "
    "is a complete partition (partition_complete: cluster sizes sum to "
    "the corpus count, hash-matched as n_vecs), all 5 clusters are "
    "non-empty, and the clustering is genuinely tighter than no "
    "clustering (tighter_than_global: mean cosine of each vector to its "
    "OWN post-update centroid ≥ mean cosine to the single global "
    "centroid — Lloyd's objective can't lose to the k=1 solution on "
    "this data, and the whole computation is deterministic). The last "
    "Lloyd step's reduction already carries the cluster sizes and "
    "post-update centroids, and the quality check is one more fused "
    "Arrow matmul pass over the cached working set — no dim-wide "
    "aggregate plan, no literal-vector CASE fold, nothing re-codegens "
    "per run. Centroid values and convergence behavior stay pinned in "
    "pytest (test_dedup_similarity).",
)
def q_kmeans_clusters(spark, sf_dir):
    import numpy as np

    from ..operators.clustering import (
        _lloyd_step,
        cluster_quality_partials,
        seed_centroids,
    )
    from ..sources.tables import spread

    e = load_table(spark, sf_dir, "embeddings")
    # Deterministic lowest-id seeds; None = empty corpus — the total
    # answer is the empty contract frame, not a crash in the centroid
    # math (a filter that eliminated every row upstream must not crash).
    cents = seed_centroids(e, 5)
    if cents is None:
        return spark.range(1).select(
            F.lit(0).cast("long").alias("n_vecs"),
            F.lit(0).cast("long").alias("n_clusters_nonempty"),
            F.lit(True).alias("partition_complete"),
            F.lit(True).alias("tighter_than_global"),
        ).where(F.lit(False))
    # Lloyd loop over a cached, spread working set (the kmeans operator's
    # own discipline). The LAST step's stats ARE the quality contract's
    # inputs — the assignment under the pre-update (final) centroids,
    # its cluster sizes, and the post-update centroids — so nothing is
    # re-aggregated with a dim-wide codegen plan, and the corpus-wide
    # assignment is never materialized as a frame: the quality pass
    # (cosine to own post-update centroid vs to the global centroid) is
    # ONE fused Arrow matmul pass over the same cached rows. All
    # driver-side state is O(k·dim); the returned plan is just the
    # corpus count the driver's execution still needs.
    work = spread(e.select("embedding")).persist()
    try:
        stats = {}
        for _ in range(3):
            final_cents = cents
            stats = _lloyd_step(work, cents, vec_col="embedding")
            cents = {c: m for c, (_n, m) in stats.items()}
        n_vecs = sum(n for n, _m in stats.values())
        n_nonempty = sum(1 for n, _m in stats.values() if n > 0)
        glob = (
            sum(n * m for n, m in stats.values()) / n_vecs
        )  # size-weighted global (k=1) centroid
        n_q, sum_own, sum_glob = cluster_quality_partials(
            work, final_cents, cents, np.asarray(glob), vec_col="embedding"
        )
        tighter = (sum_own / n_q) >= (sum_glob / n_q)
    finally:
        work.unpersist()
    return e.agg(F.count(F.lit(1)).cast("long").alias("n_total")).select(
        F.lit(n_vecs).cast("long").alias("n_vecs"),
        F.lit(n_nonempty).cast("long").alias("n_clusters_nonempty"),
        (F.lit(n_vecs) == F.col("n_total")).alias("partition_complete"),
        F.lit(bool(tighter)).alias("tighter_than_global"),
    )


@register(
    "q_quantize_embeddings",
    """
    WITH q AS (
        SELECT vec_id, label,
               embedding::DOUBLE[] AS e,
               greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-30)
                   / 127.0 AS s
        FROM embeddings
    )
    SELECT vec_id, label,
           floor(s * 1000000000 + 0.5) / 1000000000 AS scale,
           CAST(list_sum(list_transform(e,
                x -> CASE WHEN floor(x / s + 0.5) <> 0 THEN 1 ELSE 0 END)) AS BIGINT)
               AS n_nonzero,
           floor(sqrt(list_sum(list_transform(
                         list_transform(e, x -> x - floor(x / s + 0.5) * s),
                         y -> y * y)) / len(e)) * 1000000000 + 0.5)
               / 1000000000 AS rmse
    FROM q
    """,
    doc="Int8 symmetric scalar quantization of the embedding column (the "
    "4x-memory-compression step ahead of ANN serving): per-vector scale = "
    "max|x|/127, q_i = floor(x/scale + 0.5), reported as per-vector scale, "
    "non-zero code count, and reconstruction RMSE. floor(x+0.5) (not "
    "round) on BOTH sides pins half-case semantics across engines. "
    "Map-only — no shuffle at any scale; the quantized table partitions "
    "exactly like its source.",
)
def q_quantize_embeddings(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    # Materialize the vector and its scale behind projection boundaries:
    # referencing the scale EXPRESSION inside the per-element lambdas
    # would re-evaluate its array_max once per element (no CSE inside
    # HOF lambdas) — O(dim^2) per row across three expression trees.
    base = e.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    scaled = base.select(
        "vec_id",
        "label",
        "v",
        (
            F.greatest(F.array_max(F.transform(F.col("v"), F.abs)), F.lit(1e-30))
            / F.lit(127.0)
        ).alias("s"),
    )
    v, s = F.col("v"), F.col("s")
    resid = F.transform(v, lambda x: x - F.floor(x / s + F.lit(0.5)) * s)
    sq = F.transform(resid, lambda y: y * y)
    nnz = F.aggregate(
        F.transform(
            v,
            lambda x: F.when(F.floor(x / s + F.lit(0.5)) != 0, F.lit(1)).otherwise(
                F.lit(0)
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    rmse = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x) / F.size(v))
    return scaled.select(
        "vec_id",
        "label",
        stable_round(s, 9).alias("scale"),
        nnz.alias("n_nonzero"),
        stable_round(rmse, 9).alias("rmse"),
    )


@register(
    "q_embedding_covariance",
    """
    WITH x AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, range(1, 65) AS r(i)
    ), g AS (
        -- mirror of operators/linalg.py GRAM_SCALE quantization: every
        -- per-row product hits the same 1e-8 integer grid (IEEE double
        -- floor(p*1e8+0.5) on both sides) before summation, so the
        -- fold order can't move the total.
        SELECT a.i AS i, b.i AS j,
               CAST(sum(CAST(floor(a.x * b.x * 1e8 + 0.5)
                             AS DECIMAL(38,0))) AS DOUBLE) / 1e8 AS g
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    ), s AS (
        SELECT i, CAST(sum(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS s
        FROM x GROUP BY i
    ), nn AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
    )
    SELECT g.i, g.j, CAST((SELECT n FROM nn) AS BIGINT) AS n,
           -- stable_round_sql(…, 6): engine-portable floor-form round.
           -- Engine-native round() on a DOUBLE is the one step that can
           -- still diverge after a bit-exact pipeline (Spark HALF_UP on
           -- the shortest decimal repr vs DuckDB binary expansion —
           -- functions/scalars.py:14-26), so the presentation round
           -- must use the floor form too.
           floor((g.g - si.s * sj.s / (SELECT n FROM nn))
                 / ((SELECT n FROM nn) - 1.0) * 1000000 + 0.5)
               / 1000000 AS cov
    FROM g JOIN s si ON g.i = si.i JOIN s sj ON g.j = sj.i
    ORDER BY g.i, g.j
    """,
    doc="Sample covariance matrix of the embedding columns (upper "
    "triangle, 1-based dims) — the PCA/whitening/Mahalanobis building "
    "block. The cross-moment matrix accumulates as per-partition numpy "
    "partials (one d*d int64 per task, <= d(d+1)/2 rows emitted each) "
    "— NOT the d-squared-per-vector explode join the oracle uses, "
    "which would be a 4096x row blowup at 100 TB. Per the repo float "
    "discipline, every product is quantized to the 1e-8 integer grid "
    "BEFORE summation (exact, partition-order-independent; the oracle "
    "CTE applies the identical floor(p*1e8+0.5)); column sums are one "
    "DECIMAL-exact posexplode aggregate and n is a 1-row broadcast. "
    "The presentation round is stable_round (floor form) on BOTH "
    "engines — engine-native round() on a double was the one "
    "remaining divergent step (Spark HALF_UP on shortest decimal "
    "repr vs DuckDB binary expansion) after the Gram math went "
    "bit-exact. operators/linalg.py.",
)
def q_embedding_covariance(spark, sf_dir):
    from ..operators.linalg import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    out = covariance_matrix(emb, "embedding", dim=64)
    return out.select(
        "i", "j", "n", stable_round(F.col("cov"), 6).alias("cov")
    ).orderBy("i", "j")


# ---------------------------------------------------------------------------
# Product quantization: the compressed-domain leg of the ANN triad
# (sign-LSH probes, IVF cell pruning, PQ code compression).
# ---------------------------------------------------------------------------

# Deterministic PQ derivation shared by both PQ oracles: seed draw by
# (md5(id), id), one Lloyd refinement with round-6 centroids, re-encode.
# Every inner product is DuckDB's list_inner_product — the same
# sequential fold Spark's aggregate(zip_with(...)) computes — and every
# argmin orders by (distance, code), matching array_min's struct order.
_PQ_CTE = """
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), ms AS (
        SELECT unnest(range(4)) AS m
    ), seeds AS (
        SELECT seed_rank, v FROM (
            SELECT row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                       AS seed_rank,
                   v
            FROM e
        ) WHERE seed_rank < 8
    ), sub AS (
        SELECT vec_id, m, v[m*16+1 : m*16+16] AS x FROM e, ms
    ), ssub AS (
        SELECT seed_rank, m, v[m*16+1 : m*16+16] AS c FROM seeds, ms
    ), a0 AS (
        SELECT vec_id, m, seed_rank AS code FROM (
            SELECT sub.vec_id, sub.m, ssub.seed_rank,
                   row_number() OVER (PARTITION BY sub.vec_id, sub.m ORDER BY
                       list_inner_product(sub.x, sub.x)
                       - 2*list_inner_product(sub.x, ssub.c)
                       + list_inner_product(ssub.c, ssub.c),
                       ssub.seed_rank) AS rn
            FROM sub JOIN ssub USING (m)
        ) WHERE rn = 1
    ), xd AS (
        SELECT vec_id, m, unnest(x) AS xv, generate_subscripts(x, 1) AS dim
        FROM sub
    ), cent AS (
        SELECT a0.m, a0.code, xd.dim, round(avg(xd.xv), 6) AS cv
        FROM a0 JOIN xd ON a0.vec_id = xd.vec_id AND a0.m = xd.m
        GROUP BY 1, 2, 3
    ), clist AS (
        SELECT m, code, list(cv ORDER BY dim) AS c FROM cent GROUP BY m, code
    ), enc AS (
        SELECT vec_id, m, code FROM (
            SELECT sub.vec_id, sub.m, clist.code,
                   row_number() OVER (PARTITION BY sub.vec_id, sub.m ORDER BY
                       list_inner_product(sub.x, sub.x)
                       - 2*list_inner_product(sub.x, clist.c)
                       + list_inner_product(clist.c, clist.c),
                       clist.code) AS rn
            FROM sub JOIN clist USING (m)
        ) WHERE rn = 1
    )
"""

def _pq_book(spark, sf_dir):
    """The trained PQ codebook, cached per corpus (``cache`` kind
    ``pq_book``) under the embeddings file token, so an in-session
    corpus rewrite trains a fresh one."""
    from ..operators.pq import pq_codebook

    return cache.get("pq_book", sf_dir, lambda: pq_codebook(
        load_table(spark, sf_dir, "embeddings"), m=4, k=8, sub_dim=16
    ), _embeddings_token(sf_dir))


def _pq_empty(spark, cols):
    """Zero-row frame with the PQ output schema — the empty-corpus
    degenerate (same contract as _probe_plan's vacuous path)."""
    schema = ", ".join(cols)
    return spark.createDataFrame([], schema)


@register(
    "q_pq_codes",
    _PQ_CTE
    + """
    SELECT e.vec_id, e.label,
           CAST(max(CASE WHEN enc.m = 0 THEN enc.code END) AS BIGINT) AS c0,
           CAST(max(CASE WHEN enc.m = 1 THEN enc.code END) AS BIGINT) AS c1,
           CAST(max(CASE WHEN enc.m = 2 THEN enc.code END) AS BIGINT) AS c2,
           CAST(max(CASE WHEN enc.m = 3 THEN enc.code END) AS BIGINT) AS c3
    FROM e JOIN enc USING (vec_id)
    GROUP BY e.vec_id, e.label
    ORDER BY e.vec_id
    """,
    doc="Product-quantization encoder: every vector compressed to 4 "
    "subspace codes (4 bytes vs 64 floats — the memory-bound ANN "
    "regime's storage format). Codebook = deterministic seed draw "
    "(smallest (md5(id), id) — both engines derive it identically) + "
    "ONE Lloyd refinement with per-dim means ROUNDED at 6 so the "
    "refined codebook is bit-shared; assignment/encode argmins order "
    "by (distance, code) where distance is the ||x||^2 - 2x.c + "
    "||c||^2 identity over sequential-fold inner products (the "
    "q_knn_exact discipline). Spark side: codebook collect is bounded "
    "(m*k*sub_dim rows — the k-means/IVF centroid contract), encoding "
    "is a pure map-side column expression against the literal "
    "codebook: no join, no corpus shuffle. The one corpus-wide shuffle "
    "is the refinement's (m, code, dim) aggregate.",
)
def q_pq_codes(spark, sf_dir):
    from ..operators.pq import pq_encode

    book = _pq_book(spark, sf_dir)
    if not book:
        return _pq_empty(
            spark, ["vec_id long", "label int", "c0 long", "c1 long",
                    "c2 long", "c3 long"]
        )
    e = load_table(spark, sf_dir, "embeddings")
    return (
        pq_encode(e, book, m=4, sub_dim=16)
        .select("vec_id", "label", "c0", "c1", "c2", "c3")
        .orderBy("vec_id")
    )


@register(
    "q_pq_ann",
    _PQ_CTE
    + """
    , q AS (
        SELECT v FROM e WHERE vec_id = 0
    ), qsub AS (
        SELECT m, q.v[m*16+1 : m*16+16] AS qs FROM q, ms
    ), lut AS (
        SELECT clist.m, clist.code,
               round(list_inner_product(qsub.qs, qsub.qs)
                     - 2*list_inner_product(qsub.qs, clist.c)
                     + list_inner_product(clist.c, clist.c), 6) AS d
        FROM clist JOIN qsub USING (m)
    ), adc AS (
        SELECT enc.vec_id,
               CAST(sum(CAST(lut.d AS DECIMAL(28,12))) AS DOUBLE) AS adc_dist
        FROM enc JOIN lut ON enc.m = lut.m AND enc.code = lut.code
        WHERE enc.vec_id <> 0
        GROUP BY enc.vec_id
    )
    SELECT adc.vec_id, e.label, adc.adc_dist
    FROM adc JOIN e ON adc.vec_id = e.vec_id
    ORDER BY adc.adc_dist, adc.vec_id
    LIMIT 10
    """,
    doc="PQ asymmetric-distance (ADC) top-10 vs the vec_id=0 probe: the "
    "query's distance to each (subspace, code) centroid is a 32-entry "
    "lookup table (rounded 6, then DECIMAL-quantized so the 4-term "
    "per-vector sum is exact and order-free); a vector's approximate "
    "distance is the sum of its code's entries. Spark scores with a "
    "literal lookup map over the codes frame — map-only, no join, no "
    "raw-vector access (THE point of PQ: at 100 TB serving scans the "
    "4-byte codes table, never the float corpus) — then TakeOrdered "
    "merges per-partition top-10 heads.",
)
def q_pq_ann(spark, sf_dir):
    from ..operators.pq import pq_adc_lut, pq_adc_topk, pq_encode

    book = _pq_book(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    if not book or qv is None:
        return _pq_empty(spark, ["vec_id long", "label int", "adc_dist double"])
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    codes = pq_encode(e, book, m=4, sub_dim=16)
    lut = pq_adc_lut(qv, book, m=4, sub_dim=16)
    return pq_adc_topk(codes, lut, k_top=10, m=4).select(
        "vec_id", "label", "adc_dist"
    )
