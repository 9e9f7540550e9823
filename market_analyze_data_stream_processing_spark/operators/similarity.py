"""Similarity search over embedding columns (SURVEY.md §2.10 U2; the
reference's filtered cosine top-k, rag_engine.py:212-217).

Two paths, same semantics:
- ``knn_exact``: brute-force scan + TakeOrderedAndProject — at 100 TB
  this is an embarrassingly parallel map + per-partition top-k + driver
  merge of k rows per partition; no shuffle of the corpus.
- ``ann_lsh``: random-hyperplane LSH bucketing (sign bits of projections
  onto fixed seeded planes) — prunes the scan to matching buckets; the
  planes are literal arrays broadcast with the plan, the bucket filter
  pushes into the scan when bucket ids are materialized as a column.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache
from ..functions.vectors import as_double, cosine_sim, dot, fold_dots, fold_sumsq, lit_vector


def knn_exact(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact cosine top-k against a broadcast query vector.

    orderBy+limit compiles to TakeOrderedAndProject: each partition keeps
    only k candidates, the driver merges — O(k · partitions) transfer.
    """
    emb = as_double(F.col(vec_col))
    q = lit_vector([float(x) for x in query_vec])
    sim = cosine_sim(emb, q)
    if round_to is not None:
        sim_out = F.round(sim, round_to)
    else:
        sim_out = sim
    return (
        df.withColumn("__sim", sim)
        .orderBy(F.desc("__sim"), F.asc(id_col))
        .limit(k)
        .withColumn("sim", sim_out if round_to is None else F.round(F.col("__sim"), round_to))
        .drop("__sim")
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def with_lsh_bucket(
    df: DataFrame,
    planes: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Add the sign-LSH bucket id (int, one bit per plane)."""
    emb = as_double(F.col(vec_col))
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        side = dot(emb, lit_vector(plane.tolist()))
        bucket = bucket + F.when(side > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return df.withColumn(out_col, bucket)


def _observed_count_is_exact(top: DataFrame, n_seen: int, limit: int) -> bool:
    """Whether a metric observed below ``top`` (a sort-and-limit that has
    run) saw every input row. Under a full top-k pass it did: a
    ``TakeOrderedAndProjectExec`` whose child is not already in the
    requested order keeps a per-partition heap over all rows. An
    ordered child makes it take the first ``limit`` rows per partition
    instead, and other plans (an incremental take) stop once ``limit``
    rows are in; in both a partition is cut short only after it has
    yielded ``limit`` rows, so fewer than ``limit`` rows seen proves
    every partition ran out."""
    if n_seen < limit:
        return True
    plan = top._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    if plan.getClass().getSimpleName() != "TakeOrderedAndProjectExec":
        return False
    sort_order = top.sparkSession._jvm.org.apache.spark.sql.catalyst.expressions.SortOrder
    return not sort_order.orderingSatisfies(plan.child().outputOrdering(), plan.sortOrder())


def build_seed_cell_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_block: int = 256,
    max_cells: int = 128,
) -> dict:
    """Build the seed-cell coarse index: ``{"k", "target_block",
    "max_cells", "seeds": [(id, [floats]), ...]}`` — picklable,
    parquet-storable (:func:`save_seed_cell_index`), ≤ max_cells rows
    of d floats.

    ONE job, no standalone corpus scan for K (round 15; round 14 ran a
    bounded ``take`` for K plus a TakeOrderedAndProject for the seeds —
    two sequential driver actions; the r14 walldecomp put the ANN
    family's wall in exactly these build-phase pre-pass jobs):

    - the seed collect is a TakeOrderedAndProject over the ``max_cells``
      smallest-id valid rows: per-partition top-K heaps, one bounded
      driver merge. Collecting ``max_cells`` (not K) rows is sound
      because K ≤ max_cells always — the K seeds are a prefix of the
      collected rows, sliced locally;
    - ``n_valid`` rides the SAME job as an observed metric
      (``CollectMetrics`` below the top-k): every valid row flows
      through the heap pass anyway, so the exact count is free — and
      exactly-once (result-stage accumulator updates apply only to the
      first completion of each partition). The K formula on the exact
      count is the oracle's ``count(*)`` formula verbatim.

    The observed count is exact only when every valid row reaches the
    heap. Input already ordered by ``id_col`` breaks that: Spark then
    takes the first ``max_cells`` rows of each partition, or turns the
    sort-and-limit into an incremental take, and the metric counts only
    the rows pulled. :func:`_observed_count_is_exact` reads the executed
    plan, and a second job counts the valid rows exactly when it cannot
    vouch for the metric — or when the metric is below the rows
    collected, which no full pass can produce.
    """
    from pyspark.sql import Observation

    emb = as_double(F.col(vec_col))
    sumsq = F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x)
    valid = F.col(vec_col).isNotNull() & (sumsq > F.lit(0.0))
    obs = Observation()
    top = (
        df.where(valid)
        .select(F.col(id_col).alias("i"), emb.alias("v"))
        .observe(obs, F.count(F.lit(1)).alias("n_valid"))
        .orderBy("i")
        .limit(max_cells)
    )
    seed_rows = top.collect()
    n_valid = int(obs.get["n_valid"])
    if n_valid < len(seed_rows) or not _observed_count_is_exact(top, n_valid, max_cells):
        n_valid = df.where(valid).count()
    k = max(1, min(max_cells, -(-n_valid // target_block)))
    return {
        "k": k,
        "target_block": target_block,
        "max_cells": max_cells,
        "seeds": [(r["i"], [float(x) for x in r["v"]]) for r in seed_rows[:k]],
    }


def save_seed_cell_index(index: dict, spark, path: str) -> None:
    """Persist a seed-cell index as a parquet artifact (mirror of
    :func:`save_ivf_index`): at 100 TB the quantizer is built once by a
    batch job and shipped with the table, not rebuilt per execution.
    ``k`` and the build parameters ride on every row (provenance — a
    loaded artifact says what it was built as); an empty-seed index
    stores one null-seed marker row so the metadata survives the round
    trip."""
    meta = (int(index["k"]), int(index["target_block"]), int(index["max_cells"]))
    rows = [(*meta, int(i), v) for i, v in index["seeds"]]
    if not rows:
        rows = [(*meta, None, None)]
    spark.createDataFrame(
        rows, "k int, target_block int, max_cells int, seed_id long, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_seed_cell_index(spark, path: str) -> dict:
    """Load a stored seed-cell index (inverse of
    :func:`save_seed_cell_index`)."""
    rows = spark.read.parquet(path).collect()
    return {
        "k": int(rows[0]["k"]),
        "target_block": int(rows[0]["target_block"]),
        "max_cells": int(rows[0]["max_cells"]),
        "seeds": sorted(
            (int(r["seed_id"]), [float(x) for x in r["vec"]])
            for r in rows
            if r["seed_id"] is not None
        ),
    }


def seed_cell_column(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_block: int = 256,
    max_cells: int = 128,
    out_col: str = "__cell",
    index: dict | None = None,
    cache_key: object | None = None,
):
    """Attach a DATA-DRIVEN coarse-cell id to every row: an IVF coarse
    quantizer whose centroids are the first K valid rows by id (a
    deterministic data sample — the zero-Lloyd-iteration special case of
    IVF training, which is the only variant whose assignment is
    bit-reproducible across engines: Lloyd means are order-dependent
    float sums, seed vectors are literal data).

    K = max(1, min(max_cells, ceil(n_valid / target_block))) — the cell
    COUNT grows with the corpus while expected cell depth stays pinned
    near ``target_block``, which is what makes cell-blocked quadratic
    work (SemDeDup-style near-dup, per-cell kNN) LINEAR in corpus size
    instead of quadratic-per-fixed-block.  At 100 TB this is the shape
    of a stored IVF index (``save_ivf_index``); here the seeds are
    collected in one bounded job (K ≤ max_cells rows of d floats — the
    same driver-state budget as the k-means seeder).

    Assignment: cell = id of the seed maximizing cosine(row, seed),
    ties to the smallest seed id; the scores are the shared fold
    (``fold_dots`` / ``fold_sumsq``), so they — and therefore the
    argmax — are bit-identical to the oracle's ``list_inner_product``.
    Rows that cannot be assigned keep deterministic sentinel cells: NULL
    or zero-norm vector → -1 (a ZERO-LENGTH vector is zero-norm, so it
    takes -1 too — explicitly, not via -1-0); a vector whose length
    (≥ 1) matches no seed → -1 - length, which is ≤ -2 and therefore
    never collides with the -1 class (ragged rows still co-group among
    themselves, mirroring the near-dup kernel's per-length pairing).

    Index reuse (round 14): pass ``index`` (a
    :func:`build_seed_cell_index` / :func:`load_seed_cell_index`
    artifact) to run with ZERO pre-pass jobs, or ``cache_key`` to
    build once per key and reuse across executions in the session —
    the production IVF shape (quantizer built once, shipped with the
    table).  Fresh builds themselves no longer full-scan: K derives
    from a bounded incremental ``take`` that is provably identical to
    the exact-count formula (see :func:`build_seed_cell_index`).
    The reuse goes through ``cache`` kind ``seed_cells``, which
    ``invalidate_ivf_index`` clears; a caller whose corpus can be
    rewritten folds its version (e.g. a ``cache.file_token``) into
    ``cache_key``.

    Returns ``(df_with_out_col, n_cells)``.
    """
    from pyspark.sql.types import LongType

    # The cache key is namespaced by the build parameters: a caller
    # that reuses a key with DIFFERENT target_block/max_cells gets a
    # fresh build, never a silently-mismatched quantizer (a stale k=4
    # index serving a target_block=256 request would blow per-cell
    # quadratic work up by the depth ratio squared). An EXPLICIT
    # ``index`` argument governs regardless of the params — it IS the
    # quantizer (the stored-artifact contract).
    if index is None:
        build = functools.partial(
            build_seed_cell_index, df, id_col=id_col, vec_col=vec_col,
            target_block=target_block, max_cells=max_cells,
        )
        index = build() if cache_key is None else cache.get(
            "seed_cells", (cache_key, target_block, max_cells), build
        )
    k = index["k"]
    seeds = index["seeds"]
    seeds_by_len: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for length in {len(v) for _i, v in seeds}:
        grp = [(i, v) for i, v in seeds if len(v) == length]
        ids = np.asarray([i for i, _v in grp], dtype=np.int64)
        C = np.asarray([v for _i, v in grp], dtype=np.float64)
        seeds_by_len[length] = (ids, C, np.sqrt(fold_sumsq(C)))

    @F.pandas_udf(LongType())
    def cell_of(vs: pd.Series) -> pd.Series:
        out = np.full(len(vs), -1, dtype=np.int64)
        notnull = vs.notna().to_numpy()
        if not notnull.any():
            return pd.Series(out)
        lens = np.full(len(vs), -1, dtype=np.int64)
        lens[notnull] = vs[notnull].map(len).to_numpy()
        for length in np.unique(lens[notnull]):
            sel = np.nonzero(lens == length)[0]
            if length == 0:
                # zero-length == zero-norm: same unassignable class as
                # NULL, so the -1 sentinel — keeps -1-length (≤ -2)
                # reserved for ragged lengths ≥ 1.
                out[sel] = -1
                continue
            if length not in seeds_by_len:
                out[sel] = -1 - int(length)
                continue
            cids, C, cnrm = seeds_by_len[int(length)]
            M = np.stack(vs.iloc[sel].to_numpy()).astype(np.float64)
            rnrm = np.sqrt(fold_sumsq(M))
            ok = rnrm > 0.0
            score = fold_dots(M, C) / np.multiply.outer(np.where(ok, rnrm, 1.0), cnrm)
            # first-max == smallest seed index == smallest seed id
            # (seeds are id-sorted) — the SQL `ORDER BY score DESC, cid`
            # tie-break.
            best = cids[np.argmax(score, axis=1)]
            out[sel] = np.where(ok, best, -1)
        return pd.Series(out)

    return df.withColumn(out_col, cell_of(F.col(vec_col))), k


def invalidate_ivf_index() -> None:
    """Drop every cached IVF centroid set and seed-cell index (``cache``
    kinds ``ivf`` and ``seed_cells``), so the next ANN query rebuilds its
    index end to end. Benchmarks call this after every query; see the
    ``cache`` module for why the expression, probe and plan kinds are
    kept. A caller that rewrites a corpus in place can call this, or
    fold a table version into its ``cache_key``."""
    cache.clear("ivf", "seed_cells")


def ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    cluster_col: str = "label",
    cache_key: object | None = None,
    dim: int | None = None,
) -> dict[int, np.ndarray]:
    """Build the IVF coarse index: per-cluster mean vectors (centroids).

    One pass over the corpus: posexplode → (cluster, pos) partial avg
    (map-side combined) → reassemble per-cluster arrays; only k·dim tiny
    rows are collected. Pass ``cache_key`` (e.g. the table path) to reuse
    the built index across queries in the same session, the way a stored
    index would be at 100 TB.
    """
    build = functools.partial(_ivf_centroids, df, vec_col, cluster_col, dim)
    centroids = build() if cache_key is None else cache.get("ivf", cache_key, build)
    return centroids or {}


def _ivf_centroids(df, vec_col, cluster_col, dim) -> dict[int, np.ndarray] | None:
    """The uncached :func:`ivf_index` build; ``None`` for an empty corpus.
    An empty index is never cached: caching it would pin empty ANN
    results after the table is populated under the same key."""
    if dim is None:
        row = df.select(F.size(vec_col)).first()
        if row is None:
            return None
        dim = row[0]
    # Per-slot avg aggregates instead of posexplode: no |rows|·dim row
    # explosion, map-side combined, one row per cluster per partition on
    # the shuffle — the cheapest possible full-corpus centroid pass.
    # The dim-wide expression list is memoized per process (``cache``
    # kind ``kernel``): building it costs ~5 Py4J roundtrips per slot
    # (~0.4 s at dim=64, measured by cProfile as the single largest
    # build item of a fresh q_ann_ivf execution), and the list is a pure
    # function of the column names and dim.
    group, aggs = cache.get("kernel", ("ivf_aggs", vec_col, cluster_col, dim), lambda: (
        F.col(cluster_col).alias("c"),
        [
            F.avg(F.element_at(F.col(vec_col), i + 1)).alias(f"m{i}")
            for i in range(dim)
        ],
    ))
    cents = df.groupBy(group).agg(*aggs).collect()
    # positional slice, not per-field name lookup: cProfile (round 15)
    # put 0.4 s of every fresh q_ann_ivf build in the by-name Row access
    # loop (dim × k string-keyed getitems); the agg's output order is
    # (c, m0..m{dim-1}) by construction.
    return {
        int(r[0]): np.asarray(r[1:], dtype=np.float64) for r in cents
    } or None


def save_ivf_index(centroids: dict[int, np.ndarray], spark, path: str) -> None:
    """Persist an IVF coarse index as a (cell, vec) parquet artifact — at
    100 TB the index is built once by a batch job and SHIPPED with the
    table (tiny: k×dim doubles), not rebuilt per query session."""
    rows = [(int(c), [float(x) for x in v]) for c, v in sorted(centroids.items())]
    spark.createDataFrame(rows, "cell int, vec array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_ivf_index(spark, path: str) -> dict[int, np.ndarray]:
    """Load a stored IVF index (inverse of :func:`save_ivf_index`)."""
    return {
        int(r["cell"]): np.asarray(r["vec"], dtype=np.float64)
        for r in spark.read.parquet(path).collect()
    }


def ann_ivf(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 20,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "label",
    round_to: int | None = 6,
    centroids: dict[int, np.ndarray] | None = None,
    cache_key: object | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse cells from per-cluster centroids, probe the
    ``n_probe`` cells nearest the query, exact cosine inside them.

    Structure of a production IVF index: centroids are tiny (collected +
    broadcast as literal vectors), cell assignment is a pure expression
    argmax over centroid similarities, and at scale the table is
    partitioned by cell id so probing = partition pruning. Here the
    coarse clustering seeds from ``cluster_col`` groups (a k-means
    iteration would refine the same structure). Pass ``centroids`` (from
    :func:`ivf_index`) or ``cache_key`` to reuse a built index instead of
    re-aggregating the corpus per query.
    """
    if centroids is None:
        centroids = ivf_index(
            df, vec_col=vec_col, cluster_col=cluster_col,
            cache_key=cache_key, dim=len(list(query_vec)),
        )
    if not centroids:
        # Empty corpus → empty index → nothing to probe; the total
        # answer is the empty top-k, same schema as the populated path.
        return knn_exact(
            df.where(F.lit(False)), query_vec, k=k,
            vec_col=vec_col, id_col=id_col, round_to=round_to,
        )
    probe = _nearest_cells(centroids, query_vec, n_probe)
    pruned = (
        with_ivf_cell(df, centroids, vec_col)
        .where(F.col("__cell").isin(probe))
        .drop("__cell")
    )
    return knn_exact(pruned, query_vec, k=k, vec_col=vec_col, id_col=id_col, round_to=round_to)


def _nearest_cells(
    centroids: dict[int, np.ndarray], query_vec: Sequence[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` cell ids whose centroids are nearest the query."""
    qv = np.asarray(list(query_vec), dtype=np.float64)

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b / (na * nb)) if na and nb else -1.0

    return sorted(centroids, key=lambda c: -cos(centroids[c], qv))[:n_probe]


def with_ivf_cell(
    df: DataFrame,
    centroids: dict[int, np.ndarray],
    vec_col: str,
    out_col: str = "__cell",
) -> DataFrame:
    """Append each row's nearest-centroid cell id — the Arrow twin of
    the former array_max-over-(sim, cell)-structs expression. That form
    evaluated one INTERPRETED cosine fold per centroid per row (HOFs
    never enter whole-stage codegen), a flat evaluator cost that
    dominated q_ann_ivf at every SF; here the same arithmetic is one
    batched pass with the centroids in the task closure.

    Bit-parity with the expression form (and the oracle's
    list_inner_product composition):
    - every cosine is functions/vectors.cosine_sim's composition over
      the shared fold: den = sqrt(dxx)*sqrt(dcc), sim = dab/den;
    - a zero-norm row or centroid made sim NULL, and struct ordering
      treats NULL as smallest — replicated by scoring those cells
      -inf (legit cosines are >= -1, so the proxy can't collide);
    - array_max ties (equal sims) resolve to the HIGHEST cell id —
      replicated by argmax over REVERSED columns (the
      assign_clusters_arrow tie-break), which also makes the all-NULL
      (zero-norm) row land in the highest cell, exactly as the struct
      max of all-NULL sims did."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    ids = sorted(centroids)
    C = np.asarray([centroids[c] for c in ids], dtype=np.float64)
    ncc = np.sqrt(fold_sumsq(C))
    id_arr = np.asarray(ids, dtype=np.int64)
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType())]
    )

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            den = np.multiply.outer(np.sqrt(fold_sumsq(X)), ncc)
            sims = np.divide(
                fold_dots(X, C), den, out=np.full(den.shape, -np.inf), where=den != 0
            )
            idx = sims.shape[1] - 1 - np.argmax(sims[:, ::-1], axis=1)
            pdf[out_col] = id_arr[idx].astype(np.int32)
            yield pdf

    return df.mapInPandas(part, schema)


def probe_buckets(q_bucket: int, n_planes: int, probe_hamming: int = 0) -> list[int]:
    """All bucket ids within Hamming distance ≤ probe_hamming of the
    query bucket (multi-probe LSH): flipping the h least-confident sign
    bits is approximated by flipping every combination of ≤h bits."""
    from itertools import combinations

    out = []
    for h in range(probe_hamming + 1):
        for bits in combinations(range(n_planes), h):
            b = q_bucket
            for i in bits:
                b ^= 1 << i
            out.append(b)
    return out


def ann_lsh(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 20,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the query's LSH
    bucket(s). At scale the table is written partitioned by bucket, so
    this becomes partition pruning (read ~|probed|/2^planes of the data).

    Recall is tunable on two axes: fewer planes = coarser buckets, and
    ``probe_hamming`` = multi-probe (also scan buckets whose code is
    within Hamming distance h of the query's — sum(C(n,i) for i≤h)
    buckets). Note recall of ANY pruning index is bounded by the
    geometry: on uniform-random vectors neighbors do not cluster, so
    recall ≈ fraction of corpus scanned; high recall at low scan
    fraction requires genuinely clustered data."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qv = np.asarray(list(query_vec), dtype=np.float64)
    q_bucket = int(sum((1 << i) for i, p in enumerate(planes) if float(np.dot(p, qv)) > 0))
    probed = probe_buckets(q_bucket, n_planes, probe_hamming)
    bucketed = with_lsh_bucket(df, planes, vec_col=vec_col)
    return knn_exact(
        bucketed.where(F.col("bucket").isin(probed)).drop("bucket"),
        query_vec,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        round_to=round_to,
    )


def write_lsh_layout(
    df: DataFrame,
    path: str,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus PARTITIONED BY its sign-LSH bucket — the
    build-once half of the at-scale ANN serving path. One map-only pass
    computes each row's bucket (an expression, no shuffle beyond the
    partitioned write); the layout then makes every probe a PARTITION
    PRUNE instead of a full scan. The planes are a pure function of
    (dim, n_planes, seed), so the prober recomputes them — nothing but
    parquet needs shipping. ``mode='append'`` is SOUND here (unlike the
    IVF layout): the bucketing function is corpus-independent, so new
    batches land in the same buckets old ones did."""
    if "bucket" in df.columns:
        raise ValueError(
            "input already has a 'bucket' column; the layout would "
            "silently overwrite it — rename it first"
        )
    row = df.selectExpr(f"size({vec_col})").first()
    if row is None:
        raise ValueError("cannot build an LSH layout from an empty corpus")
    planes = hyperplanes(dim=row[0], n_planes=n_planes, seed=seed)
    with_lsh_bucket(df, planes, vec_col=vec_col).write.mode(mode).partitionBy(
        "bucket"
    ).parquet(path)


def ann_lsh_stored(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 20,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
    probe_hamming: int = 0,
) -> DataFrame:
    """Probe a ``write_lsh_layout`` corpus: the bucket filter lands in
    the scan's PartitionFilters (directory-level pruning — only the
    probed ~sum(C(n,i) for i<=h)/2^n of the data is READ, the property
    the expression-form ``ann_lsh`` can only claim). Results are
    identical to ``ann_lsh`` on the unstored table for the same
    (n_planes, seed): both derive the bucket from the same planes."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qv = np.asarray(list(query_vec), dtype=np.float64)
    q_bucket = int(
        sum((1 << i) for i, p in enumerate(planes) if float(np.dot(p, qv)) > 0)
    )
    probed = probe_buckets(q_bucket, n_planes, probe_hamming)
    stored = spark.read.parquet(path).where(F.col("bucket").isin(probed))
    return knn_exact(
        stored.drop("bucket"), query_vec, k=k,
        vec_col=vec_col, id_col=id_col, round_to=round_to,
    )


def write_ivf_layout(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> None:
    """Materialize the full IVF serving artifact: the corpus PARTITIONED
    BY its nearest-centroid cell (``<path>/data``) plus the centroid
    index shipped beside it (``<path>/index``, k×dim doubles). Build is
    one centroid aggregation + one map-only assignment pass; after it,
    every probe is a partition-pruned scan of ``n_probe`` cell
    directories and the centroids load without touching the corpus —
    the build-once / probe-many split a 100 TB ANN deployment runs.

    Always a full OVERWRITE: cell assignments are only meaningful under
    the centroids they were written with, so appending a batch assigned
    under fresh centroids while replacing the index would leave old
    partitions probing wrong — a corpus refresh is a rebuild (or an
    incremental design that keeps the ORIGINAL centroids fixed)."""
    if "cell" in df.columns:
        raise ValueError(
            "input already has a 'cell' column; the layout would "
            "silently overwrite it — rename it first"
        )
    centroids = ivf_index(df, vec_col=vec_col, cluster_col=cluster_col)
    if not centroids:
        raise ValueError("cannot build an IVF layout from an empty corpus")
    assigned = with_ivf_cell(df, centroids, vec_col, out_col="cell")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/data")
    save_ivf_index(centroids, df.sparkSession, f"{path}/index")


def ann_ivf_stored(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 20,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
    index_version: object | None = None,
) -> DataFrame:
    """Probe a ``write_ivf_layout`` corpus: centroids come from the tiny
    stored index (no corpus aggregation), and the cell filter lands in
    the scan's PartitionFilters — only the ``n_probe`` probed cell
    directories are read. Results are identical to ``ann_ivf`` with the
    same centroids: both sides assign cells through ``with_ivf_cell``.
    The index is cached per path (``cache`` kind ``ivf``) with the
    layout's version as its token, so a serving loop pays the parquet
    read + collect once, not per probe, and a rebuilt layout replaces
    the superseded entry for that path.

    ``index_version``: the layout's version stamp. Pass one explicitly
    wherever the writer can supply it (a build id, a snapshot/commit id,
    a manifest timestamp) — REQUIRED on object stores, where the driver
    has no local mtime to read. Default ``None`` falls back to the
    ``(mtime_ns, size)`` of the index directory, which only works for
    driver-visible local paths."""
    index = f"{path}/index"
    version = index_version if index_version is not None else cache.file_token(index)
    centroids = cache.get(
        "ivf", ("ivf-stored", path), lambda: load_ivf_index(spark, index), version
    )
    probe = _nearest_cells(centroids, query_vec, n_probe)
    stored = spark.read.parquet(f"{path}/data").where(F.col("cell").isin(probe))
    return knn_exact(
        stored.drop("cell"), query_vec, k=k,
        vec_col=vec_col, id_col=id_col, round_to=round_to,
    )
