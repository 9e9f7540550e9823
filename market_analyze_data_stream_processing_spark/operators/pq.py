"""Product quantization (PQ): compressed-domain ANN, the third leg of
the engine's similarity-serving triad (sign-LSH probes, IVF cell
pruning, and now PQ code compression — the FAISS-style memory-bound
path). Generalizes the reference's cosine retrieval (rag_engine.py:
212-217) to the regime where the raw vectors no longer fit: each
vector is stored as m tiny codes (here 4 bytes instead of 64 floats —
a 64x working-set compression), and search scans CODES against a
per-query lookup table instead of touching raw floats.

Pipeline (all deterministic, all oracle-expressible):

1. Seeds: the k vectors with the smallest (md5(id), id) — a fixed,
   data-derived pseudo-random draw both engines compute identically.
2. One Lloyd refinement per subspace: assign every subvector to its
   nearest seed (squared-L2 via the ||x||^2 - 2x.c + ||c||^2 identity,
   each inner product a sequential fold — the q_knn_exact discipline),
   then recompute per-(subspace, code, dim) means, ROUNDED at 6 so
   both engines share the refined codebook bit-for-bit.
3. Encode: nearest refined centroid per subspace, ties to the lowest
   code. The argmin is `array_min` over (distance, code) structs — a
   pure column expression against the broadcast literal codebook.
4. ADC search: the query's distance to every (subspace, code) cell is
   a k*m lookup table; a vector's approximate distance is the sum of
   its m table entries. Entries round at 6, then quantize to DECIMAL
   before summing, so the 4-term sum is exact and order-free.

Scale shape: the codebook is k*m*sub_dim floats (tiny — collected and
re-broadcast exactly like the k-means/IVF centroid contract); encoding
and ADC scoring are map-only column expressions (no join, no shuffle
on the corpus); the only corpus-wide shuffles are the one refinement
aggregate (n*dim rows, two-level hash agg) and the final top-k
(per-partition heads merged on the driver). At 100 TB the codes table
is what serving reads — 4 bytes a vector — and a probe never touches
raw vectors at all.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double, fold_dots, fold_sumsq


def _sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Squared-L2 from every row of ``X`` to every row of ``C``, as
    ``(||x||^2 - 2 x.c) + ||c||^2`` — the oracle expression's parse
    order, each inner product the shared fold."""
    return (fold_sumsq(X)[:, None] - 2.0 * fold_dots(X, C)) + fold_sumsq(C)[None, :]


def pq_seeds(
    e: DataFrame, k: int = 8, vec_col: str = "embedding", id_col: str = "vec_id"
) -> list[list[float]]:
    """The k seed vectors: smallest (md5(id), id) — deterministic,
    order-stable, and a bounded k-row collect (the centroid-collect
    contract k-means and IVF already use). Returns [] on an empty
    corpus; fewer than k rows seed fewer than k cells."""
    rows = (
        e.select(
            as_double(F.col(vec_col)).alias("__v"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
            F.col(id_col).alias("__id"),
        )
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r["__v"]] for r in rows]


def pq_codebook(
    e: DataFrame,
    m: int = 4,
    k: int = 8,
    sub_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict[tuple[int, int], list[float]]:
    """Train the PQ codebook: seed, one Lloyd refinement, round at 6.
    Returns {(subspace, code): centroid} — empty on an empty corpus.
    Cells that attract no vectors disappear (their seed was dominated);
    encoding then chooses among the surviving cells only.

    One corpus pass for the seed draw (TakeOrdered k), one map-only
    assignment + posexplode, one (m, code, dim) hash aggregate of at
    most m*k*sub_dim output rows — then a bounded collect of exactly
    those rows."""
    seeds = pq_seeds(e, k=k, vec_col=vec_col, id_col=id_col)
    if not seeds:
        return {}
    # Seed assignment reuses the Arrow encode kernel with the seed
    # slices as a {(subspace, rank): centroid} book — same fold
    # arithmetic, same lowest-code tie-break, no interpreted HOFs.
    seed_book = {
        (ms, rank): s[ms * sub_dim : (ms + 1) * sub_dim]
        for ms in range(m)
        for rank, s in enumerate(seeds)
    }
    assigned = pq_encode(
        e.select(as_double(F.col(vec_col)).alias("__v")),
        seed_book,
        m=m,
        sub_dim=sub_dim,
        vec_col="__v",
    ).select(
        "__v", *[F.col(f"c{ms}").alias(f"__code_{ms}") for ms in range(m)]
    )
    exploded = assigned.select(
        F.posexplode("__v").alias("__pos", "__x"),
        *[f"__code_{ms}" for ms in range(m)],
    ).select(
        (F.col("__pos") / sub_dim).cast("int").alias("__m"),
        (F.col("__pos") % sub_dim + 1).alias("__dim"),
        F.col("__x"),
        F.element_at(
            F.array(*[F.col(f"__code_{ms}") for ms in range(m)]),
            (F.col("__pos") / sub_dim).cast("int") + 1,
        ).alias("__code"),
    )
    rows = (
        exploded.groupBy("__m", "__code", "__dim")
        .agg(F.round(F.avg("__x"), 6).alias("__cv"))
        .collect()
    )
    book: dict[tuple[int, int], list[float]] = {}
    dims: dict[tuple[int, int], dict[int, float]] = {}
    for r in rows:
        dims.setdefault((r["__m"], r["__code"]), {})[r["__dim"]] = r["__cv"]
    for key, dv in dims.items():
        book[key] = [dv[d] for d in sorted(dv)]
    return book


def pq_encode(
    e: DataFrame,
    book: dict[tuple[int, int], list[float]],
    m: int = 4,
    sub_dim: int = 16,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append code columns c0..c{m-1}: nearest refined centroid per
    subspace, ties to the lowest code. Map-only, no shuffle; this is
    the pass that turns a 100 TB float corpus into a 4-bytes-a-row
    codes table.

    Arrow-backed since round 11: the former per-candidate
    ``aggregate(zip_with(...))`` expression ladder evaluated ~m·k·2
    INTERPRETED higher-order folds per row (HOFs never enter
    whole-stage codegen), which made encode cost ~2.5 s for 2k rows —
    pure evaluator overhead, flat across SFs. The Arrow pass computes
    the identical fold arithmetic (``_sq_dists``) batch-wise;
    centroids ride in the task closure, so re-encoding against a new
    codebook never rebuilds a plan. Argmin over code-ascending
    candidates IS the (distance, code) struct-min tie-break."""
    from pyspark.sql.types import LongType, StructField, StructType

    books = []
    for ms in range(m):
        cands = sorted((int(code), c) for (mm, code), c in book.items() if mm == ms)
        books.append((
            np.asarray([code for code, _c in cands], dtype=np.int64),
            np.asarray([c for _code, c in cands], dtype=np.float64),
        ))
    schema = StructType(
        list(e.schema.fields)
        + [StructField(f"c{ms}", LongType()) for ms in range(m)]
    )

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            for ms, (codes, C) in enumerate(books):
                dmat = _sq_dists(X[:, ms * sub_dim : (ms + 1) * sub_dim], C)
                # argmin returns the FIRST minimum; candidates are
                # code-ascending, so ties resolve to the lowest code —
                # identical to the former (d, code) struct-min.
                pdf[f"c{ms}"] = codes[np.argmin(dmat, axis=1)]
            yield pdf

    return e.mapInPandas(part, schema)


def pq_adc_lut(
    query_vec: Sequence[float],
    book: dict[tuple[int, int], list[float]],
    m: int = 4,
    sub_dim: int = 16,
) -> dict[tuple[int, int], float]:
    """The per-query ADC lookup table: squared-L2 from each query
    subvector to each (subspace, code) centroid, rounded at 6 — m*k
    doubles computed with the same left-fold op sequence the engines
    use, so the literal table matches the oracle's derivation."""
    q = np.asarray(query_vec, dtype=np.float64)[None, :]
    lut: dict[tuple[int, int], float] = {}
    for (ms, code), c in book.items():
        qs = q[:, ms * sub_dim : (ms + 1) * sub_dim]
        d = _sq_dists(qs, np.asarray([c], dtype=np.float64))[0, 0]
        lut[(ms, code)] = round(float(d), 6)
    return lut


def pq_adc_topk(
    codes: DataFrame,
    lut: dict[tuple[int, int], float],
    k_top: int = 10,
    m: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by ADC distance: each vector's distance is the
    sum of its m lookup-table entries, each quantized to DECIMAL(28,12)
    AFTER the shared round-6 so the m-term sum is exact and order-free
    on every engine. Map-only scoring + TakeOrdered — the corpus
    shuffles nothing."""
    def entry(ms: int) -> Column:
        col = F.col(f"c{ms}")
        expr: Column = F.lit(None).cast("double")
        for (mm, code), d in sorted(lut.items()):
            if mm == ms:
                expr = F.when(col == code, F.lit(d)).otherwise(expr)
        return expr.cast("decimal(28,12)")

    total = entry(0)
    for ms in range(1, m):
        total = total + entry(ms)
    return (
        codes.withColumn("adc_dist", total.cast("double"))
        .orderBy("adc_dist", id_col)
        .limit(k_top)
    )
