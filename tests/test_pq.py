"""Product-quantization operators: codebook determinism, encode/ADC
semantics on a synthetic clustered corpus (where PQ must be exact), and
the codebook cache's rebuild contract. The oracle differentials
(q_pq_codes / q_pq_ann) cover the corpus-level cross-engine check."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from market_analyze_data_stream_processing_spark.operators.pq import (
    pq_adc_lut,
    pq_adc_topk,
    pq_codebook,
    pq_encode,
    pq_seeds,
)

M, SUB = 4, 4  # 4 subspaces x 4 dims = 16-dim vectors for the tests


def _frame(spark, vecs):
    rows = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _clustered(n_per=6, centers=(0.0, 10.0, 20.0, 30.0)):
    """Vectors tightly packed around 4 well-separated per-subspace
    levels: every subvector sits ~0.01 from its level and ~10 from the
    next, so PQ with k >= 4 must recover the clusters exactly."""
    rng_off = 0.01
    vecs = []
    for ci, c in enumerate(centers):
        for j in range(n_per):
            # deterministic tiny offsets, distinct per vector
            off = rng_off * ((ci * n_per + j) % 5 - 2)
            vecs.append([c + off] * (M * SUB))
    return vecs


def _numpy_pq(vecs, m, k, sub_dim):
    """Driver-side twin of the PQ derivation (seed by (md5(id), id),
    one Lloyd step, round-6 means, re-encode) — the ground truth the
    distributed plan must reproduce exactly."""
    import hashlib

    X = np.asarray([np.asarray(v, dtype=np.float32).astype(np.float64)
                    for v in vecs])
    ids = list(range(len(vecs)))
    order = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    seeds = [X[i] for i in order[:k]]
    book, codes = {}, {}
    for ms in range(m):
        lo, hi = ms * sub_dim, (ms + 1) * sub_dim
        subs = X[:, lo:hi]
        s_subs = [s[lo:hi] for s in seeds]
        assign = [
            min(range(len(s_subs)),
                key=lambda r: (float(np.sum((subs[i] - s_subs[r]) ** 2)), r))
            for i in ids
        ]
        for code in sorted(set(assign)):
            members = subs[[i for i in ids if assign[i] == code]]
            book[(ms, code)] = [round(float(x), 6) for x in members.mean(axis=0)]
        cands = sorted((c, np.asarray(v)) for (mm, c), v in book.items()
                       if mm == ms)
        for i in ids:
            codes.setdefault(i, {})[ms] = min(
                cands, key=lambda cv: (float(np.sum((subs[i] - cv[1]) ** 2)),
                                       cv[0]))[0]
    return book, codes


def test_pq_codebook_matches_numpy_twin(spark):
    vecs = _clustered()
    e = _frame(spark, vecs)
    book = pq_codebook(e, m=M, k=8, sub_dim=SUB)
    ref_book, ref_codes = _numpy_pq(vecs, M, 8, SUB)
    assert set(book) == set(ref_book)
    for key in book:
        assert book[key] == [round(x, 6) for x in ref_book[key]], key
    codes = pq_encode(e, book, m=M, sub_dim=SUB).select(
        "vec_id", "c0", "c1", "c2", "c3"
    )
    by_id = {r["vec_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
             for r in codes.collect()}
    for i, cm in ref_codes.items():
        assert by_id[i] == (cm[0], cm[1], cm[2], cm[3]), i


def test_pq_adc_exact_on_separated_clusters(spark):
    vecs = _clustered()
    e = _frame(spark, vecs)
    book = pq_codebook(e, m=M, k=8, sub_dim=SUB)
    # Probe near cluster 2 (level 20): ADC top-6 must be exactly that
    # cluster's 6 members (approximation error << cluster separation).
    q = [20.0] * (M * SUB)
    lut = pq_adc_lut(q, book, m=M, sub_dim=SUB)
    top = pq_adc_topk(
        pq_encode(e, book, m=M, sub_dim=SUB), lut, k_top=6, m=M
    ).collect()
    got = {r["vec_id"] for r in top}
    assert got == {12, 13, 14, 15, 16, 17}
    # ADC distances of the winning cluster are near zero; check the
    # decimal-quantized sum came back as a double.
    assert all(isinstance(r["adc_dist"], float) for r in top)
    assert all(r["adc_dist"] < 1.0 for r in top)


def test_pq_seed_determinism_and_tie_order(spark):
    vecs = _clustered()
    e = _frame(spark, vecs)
    s1 = pq_seeds(e, k=8)
    s2 = pq_seeds(e, k=8)
    assert s1 == s2  # the (md5(id), id) draw is a pure function of ids
    book1 = pq_codebook(e, m=M, k=8, sub_dim=SUB)
    book2 = pq_codebook(e, m=M, k=8, sub_dim=SUB)
    assert book1 == book2


def test_pq_empty_and_undersized_corpus(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert pq_codebook(empty, m=M, k=8, sub_dim=SUB) == {}
    # Fewer rows than k: fewer seeds, but encode still works and every
    # vector gets a code from a surviving cell.
    small = _frame(spark, _clustered(n_per=1))  # 4 vectors, k=8
    book = pq_codebook(small, m=M, k=8, sub_dim=SUB)
    assert 0 < len({c for (_, c) in book}) <= 4
    codes = pq_encode(small, book, m=M, sub_dim=SUB)
    assert codes.where(F.col("c0").isNull()).count() == 0


def test_pq_book_cache_rebuild_contract(spark, tmp_path):
    import os
    import time

    from market_analyze_data_stream_processing_spark import cache
    from market_analyze_data_stream_processing_spark.plans.vectors import _pq_book

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "embeddings.parquet")
    _frame(spark, _clustered()).write.mode("overwrite").parquet(path)
    b1 = _pq_book(spark, sf_dir)
    assert b1 and _pq_book(spark, sf_dir) is b1  # cached

    time.sleep(1.1)  # distinct mtime granularity
    _frame(spark, [[v + 1.0 for v in vec] for vec in _clustered()]).write.mode(
        "overwrite"
    ).parquet(path)
    b2 = _pq_book(spark, sf_dir)
    assert b2 is not b1  # rebuilt for the fresh corpus
    # The superseded entry was replaced under the same key: one entry
    # for this corpus, carrying the fresh file's token.
    assert cache.tokens("pq_book")[sf_dir] == cache.file_token(path)
