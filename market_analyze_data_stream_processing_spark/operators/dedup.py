"""Deduplication operators for the LLM-training-data pipeline family:
exact (hash), MinHash signatures + LSH banding, SimHash, and n-gram
Jaccard near-dup pairs.

Design for 100 TB:
- Exact dedup is a hash + groupBy — one shuffle on a 16-byte key.
- MinHash signatures are computed per-row with array expressions (zero
  shuffle, whole-stage codegen); only the LSH band join shuffles, and it
  shuffles on short band keys, not documents.
- Jaccard pairs go through a grouped inverted shingle index (explode →
  window DF-prune → per-shingle id lists → map-side pair expansion) —
  one linear chain, no self-join; frequent shingles are the skew risk,
  so `max_shingle_df` drops shingles that occur in more than N docs
  (stopword-shingle suppression), which bounds the pair fan-out exactly
  like minhash banding does probabilistically.

MinHash here uses min(md5(seed || shingle)) over the *hex string* order —
a valid min-wise hash family that both Spark and DuckDB can evaluate
identically (no engine-specific 64-bit hash needed for the oracle).
xxhash64-based signatures (cheaper at scale) are provided for the
engine path; the md5 family is the oracle-checkable one.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import unpin
from ..functions.text import fingerprint, shingles, shingles_from_tokens, tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-identity dedup: group by normalized-content fingerprint,
    keep the lowest id (U7 generalized: the reference's hash(link)/hash(title)
    id discipline, producer.py:98, consumer.py:153-154)."""
    return (
        df.withColumn("content_hash", fingerprint(F.col(text_col)))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures: ``n_hashes ≤ 4`` min-hash columns ``mh{i}``,
    all derived from ONE md5 per shingle — hash slot i takes the min over
    shingles of hex chars [8i, 8i+8) of md5(shingle). md5 dominates the
    cost, so one digest feeding 4 independent 32-bit slices is ~4×
    cheaper than 4 keyed digests.

    Shape: explode shingles → md5 once → groupBy id with per-slot mins.
    The min is algebraic, so Spark's map-side partial aggregation reduces
    each partition to one row per doc before the shuffle — at 100 TB the
    shuffle carries |docs|·|partitions| short rows, not |shingles|.
    """
    if n_hashes > 4:
        raise ValueError("sliced-md5 signature supports at most 4 hash slots")
    # Tokenize behind a projection boundary — an inline tokens() inside the
    # shingle transform lambda re-runs the regex split per element_at ref.
    toksed = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    hashed = toksed.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias("s"),
    ).select(id_col, F.md5("s").alias("h"))
    # min() over STRINGS forces SortAggregate (no fixed-size hash buffer);
    # taking the min over the hex slice parsed as a 32-bit value is
    # identical (fixed-width lowercase hex sorts like its numeric value)
    # and keeps the whole aggregation in HashAggregate with map-side
    # combine — the shape that matters when the shuffle input is 100 TB
    # of shingles. Re-encode to the 8-char hex form afterwards.
    sig = hashed.groupBy(id_col).agg(
        *[
            F.min(F.conv(F.substring("h", 1 + 8 * i, 8), 16, 10).cast("long")).alias(
                f"_m{i}"
            )
            for i in range(n_hashes)
        ]
    )
    return sig.select(
        F.col(id_col),
        *[
            F.lower(F.lpad(F.hex(F.col(f"_m{i}")), 8, "0")).alias(f"mh{i}")
            for i in range(n_hashes)
        ],
    )


def lsh_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-document LSH band keys: ``(id, band, h)`` — one row per band,
    where ``h`` hashes that band's consecutive minhash slots. Two docs
    sharing any (band, h) are near-dup candidates. This is the unit the
    banded self-join AND the persistent incremental index are built
    from.

    ``carry_cols``: extra per-doc columns (functionally dependent on
    ``id_col``, e.g. a text hash) riding through the signature aggregate
    as additional group keys — a few bytes on the per-doc shuffle row
    instead of a separate corpus scan plus doc-id joins afterwards."""
    rows_per_band = n_hashes // bands
    keys = [id_col, *carry_cols]
    # Signature via explode + columnar min aggregation (codegen'd, map-side
    # combined) — the array-fold form recomputes the shingle array per
    # hash slot and is ~5× slower at 64+ shingles/doc.
    toksed = df.select(*keys, tokens(F.col(text_col)).alias("__toks"))
    hashed = toksed.select(
        *keys,
        F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias("s"),
    )
    sig = hashed.groupBy(*keys).agg(
        *[F.min(F.xxhash64(F.lit(i), "s")).alias(f"h{i}") for i in range(n_hashes)]
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("h"),
        )
        for b in range(bands)
    ]
    return sig.select(*keys, F.explode(F.array(*band_cols)).alias("bk")).select(
        *keys, "bk.band", "bk.h"
    )


def lsh_band_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 256,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """MinHash-LSH candidate pairs: documents agreeing on any band of
    ``n_hashes/bands`` consecutive signature slots. Returns (id_a, id_b)
    with id_a < id_b. Join key = (band_idx, band_hash) — short keys, and
    the shuffle is on candidate buckets, never all-pairs.

    ``max_bucket`` is the VIRAL-DUPLICATE skew guard: a bucket of n docs
    emits C(n,2) clique pairs, so one document duplicated a million
    times (routine in web corpora) would emit 5·10^11 pairs per band and
    kill the job. Buckets larger than the cap instead emit a STAR — each
    member paired with the bucket's smallest id, O(n) edges. The
    downstream consumer is connected-components clustering, for which a
    star and a clique induce the SAME component; what's lost is only
    per-pair candidate enumeration inside oversized buckets (borderline
    members whose star edge fails exact verification may split off,
    where some clique edge might have held them — the standard
    trade-off, since an oversized bucket is overwhelmingly one
    duplicate crowd). ``max_bucket=None`` disables the guard.

    ``carry_cols``: per-doc columns to surface on each pair as
    ``{col}_a`` / ``{col}_b`` (riding the banding shuffle, see
    ``lsh_bands``). On star edges the REPRESENTATIVE side (``*_a``) is
    null — the representative's values aren't on the member's row."""
    banded = lsh_bands(
        df, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        bands=bands, shingle_n=shingle_n, carry_cols=carry_cols,
    )
    if max_bucket is not None:
        # Bucket size + representative in one window pass over the same
        # (band, h) partitioning the join shuffles on anyway. WindowExec
        # buffers one bucket per task and spills if a bucket is huge —
        # O(n) per bucket, never O(n²).
        w = Window.partitionBy("band", "h")
        banded = (
            banded.withColumn("__n", F.count(F.lit(1)).over(w))
            .withColumn("__mn", F.min(id_col).over(w))
        )
        star = (
            banded.where(
                (F.col("__n") > max_bucket) & (F.col(id_col) != F.col("__mn"))
            )
            .select(
                F.col("__mn").alias("id_a"),
                F.col(id_col).alias("id_b"),
                *[
                    F.lit(None).cast(dict(banded.dtypes)[c]).alias(f"{c}_a")
                    for c in carry_cols
                ],
                *[F.col(c).alias(f"{c}_b") for c in carry_cols],
            )
        )
        banded = banded.where(F.col("__n") <= max_bucket).drop("__n", "__mn")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry_cols],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry_cols],
        )
    )
    if max_bucket is not None:
        pairs = pairs.union(star)
    if carry_cols and max_bucket is not None:
        # The same (id_a, id_b) pair can appear BOTH as a star edge
        # (null *_a carries) and as a clique pair from another band
        # (populated carries); a plain distinct() would keep both rows
        # and break the unique-pair contract. Collapse per pair keeping
        # any non-null carry — all non-null values are identical, since
        # carries are functionally dependent on the ids.
        return pairs.groupBy("id_a", "id_b").agg(
            *[
                F.first(f"{c}_a", ignorenulls=True).alias(f"{c}_a")
                for c in carry_cols
            ],
            *[
                F.first(f"{c}_b", ignorenulls=True).alias(f"{c}_b")
                for c in carry_cols
            ],
        )
    return pairs.distinct()


def simhash(text: Column, bits: int = 64, shingle_n: int = 2) -> Column:
    """SimHash: sign-aggregate of per-shingle xxhash64 bits → 64-bit long.

    For each bit b: +1 if hash bit set else -1, summed over shingles; the
    fingerprint bit is the sign. Pure array expressions (map-only stage).
    """
    sh = shingles(text, shingle_n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))

    def bit_vote(bit: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_exprs = []
    for b in range(bits):
        votes = F.aggregate(hashes, F.lit(0), bit_vote(b))
        bit_exprs.append(
            F.when(votes > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
        )
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out.bitwiseOR(e)
    return out


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    shingle_n: int = 2,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """SimHash at scale: explode shingle hashes → 64 per-bit vote sums in
    ONE hash aggregate (map-side combined) → recombine bits.

    ~50× faster than the per-row array-fold form for 64 bits: the votes
    are plain codegen'd sum aggregates instead of interpreted
    higher-order-function folds, and the shuffle carries one 64-column
    row per doc per partition.

    ``carry_cols``: extra per-doc columns to ride through the aggregate
    as additional group keys (functionally dependent on ``id_col``, e.g.
    a text hash) — a few bytes on the one-row-per-doc-per-partition
    shuffle instead of a second corpus scan plus a join afterwards."""
    keys = [id_col, *carry_cols]
    toksed = df.select(*keys, tokens(F.col(text_col)).alias("__toks"))
    hashed = toksed.select(
        *keys,
        F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias("s"),
    ).select(*keys, F.xxhash64("s").alias("h"))
    # Branch-free vote kernel (round-14, guide §1.2 per-task work):
    # sum the raw BIT per slot plus one shared row count instead of a
    # conditional ±1 per slot — the signed vote is recovered exactly as
    # 2·s_b − n (integers), so "vote > 0" becomes "2·s_b > n" with
    # identical tie behavior (vote 0 ⟺ 2·s_b = n ⟺ bit stays 0). Same
    # fingerprints bit-for-bit (pinned in test_dedup_similarity);
    # measured 2.74 → 2.49 s normalized end-to-end on q_simhash at
    # sf0.1 — 64 when-branches per shingle row become 64
    # shift+mask+adds.
    votes = hashed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(bits)
        ],
    )
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"b{b}") * 2 > F.col("__n"),
                F.shiftleft(F.lit(1).cast("long"), b),
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select(*keys, fp.alias("fingerprint"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def near_dup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 256,
) -> DataFrame:
    """THE production near-dup shape at 100 TB: LSH banding generates
    candidate pairs (band-key shuffle, never all-pairs, oversized
    buckets star-capped — see ``lsh_band_candidates``), then exact
    n-gram Jaccard verifies ONLY those candidates (per-pair array
    intersect/union — the candidate set is tiny relative to the corpus).
    Sound by construction: every reported pair's Jaccard is exact and
    ≥ threshold; recall follows the banding S-curve (1-(1-s^b)^r).
    Compare `q_near_dup_jaccard` (exact inverted-index path, the
    verification-only twin) and SCALING.md's crossover table."""
    cands = lsh_band_candidates(
        df, id_col=id_col, text_col=text_col,
        n_hashes=n_hashes, bands=bands, shingle_n=shingle_n,
        max_bucket=max_bucket,
    )
    sh = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.array_distinct(shingles_from_tokens(F.col("__toks"), shingle_n)).alias(
            "shset"
        ),
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shset").alias("sa"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shset").alias("sb"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sa", "sb"))
            / F.size(F.array_union("sa", "sb")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.35,
    cells: str | None = "auto",
    target_cell: int = 256,
    max_cells: int = 128,
    cell_index: dict | None = None,
    cell_cache_key: object | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by ``block_col``
    (SemDeDup-style: cluster/cell assignment first, exact cosine only
    WITHIN a block). One shuffle on the block id brings each block to a
    single ``applyInPandas`` task; the quadratic pair work then runs as
    vectorized numpy inside the task — never as a row-at-a-time join,
    and never all-pairs over the corpus.

    ``cells="auto"`` (the default since round 13) refines the block key
    to ``(block_col, cell)`` with a DATA-DRIVEN IVF coarse cell
    (:func:`..similarity.seed_cell_column`): the cell COUNT grows with
    the corpus (K ≈ n/target_cell, capped), so block depth — and with
    it the per-block quadratic pair work — stays bounded as the corpus
    grows even when ``block_col`` is a fixed-cardinality label. That is
    the 100 TB shape: a fixed label set makes label-blocked pair work
    grow quadratically per decade; cell-refined blocking keeps it
    linear. Corpora smaller than ``target_cell`` derive K=1 (a single
    cell), so the refinement is the identity there. ``cells=None``
    restores pure label blocking (the pre-round-13 semantics).

    Index reuse (round 14): pass ``cell_index`` (a prebuilt
    ``build_seed_cell_index``/``load_seed_cell_index`` artifact) to run
    with zero quantizer pre-pass jobs, or ``cell_cache_key`` to build
    the quantizer once per key and reuse it across executions —
    ``invalidate_ivf_index`` clears that cache. Fresh builds derive K
    from a bounded take, never a full-corpus count (see
    ``similarity.build_seed_cell_index``).

    Numeric contract: the kernel accumulates ``outer(A[:,k], B[:,k])``
    over k IN ELEMENT ORDER, so every pair's dot product is bitwise
    identical to the sequential ``aggregate()`` fold (and to DuckDB's
    ``list_inner_product``) in float64 — the oracle hash-matches without
    any tolerance. A BLAS ``M @ M.T`` would be ~d× fewer passes but uses
    blocked summation, which can flip the last ulp; exactness wins here.

    Memory is bounded: the similarity matrix is computed in row chunks
    of ``CHUNK`` (CHUNK×n floats live at once, not n×n), so a 100k-row
    IVF cell at CHUNK=1024 peaks around 800 MB of float64 scratch per
    task rather than 80 GB."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = df.schema[id_col].dataType
    blk_type = df.schema[block_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField(block_col, blk_type),
            StructField("sim", DoubleType()),
        ]
    )
    thr = float(threshold)
    CHUNK = 1024

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pdf["__id"][:0], "id_b": pdf["__id"][:0],
             block_col: pdf["__b"][:0], "sim": pd.Series(dtype="float64")}
        )
        # Null vectors can't pair (the replaced join form computed a
        # null sim the threshold filter dropped); drop them up front so
        # np.stack below can't crash the task on a None element.
        pdf = pdf[pdf["__v"].notna()]
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        lens = pdf["__v"].map(len).to_numpy()
        out_a, out_b, out_s = [], [], []
        # Pair within each vector LENGTH group: the join form's
        # zip_with fold yielded null (dropped) for mixed-length pairs
        # but real sims for same-length pairs, so a ragged block must
        # neither crash np.stack nor invent cross-length pairs.
        for L in np.unique(lens):
            if L == 0:
                continue
            sel = lens == L
            if sel.sum() < 2:
                continue
            sub = pdf[sel]
            a, b, s = pairs_within(
                sub["__id"].to_numpy(),
                np.stack(sub["__v"].to_numpy()).astype(np.float64),
            )
            if len(a):
                out_a.append(a)
                out_b.append(b)
                out_s.append(s)
        if not out_a:
            return empty
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b),
             block_col: pdf["__b"].iloc[0], "sim": np.concatenate(out_s)}
        )

    def pairs_within(ids, M):
        """Chunked cosine pairs over one dimension-consistent row set;
        returns (id_a, id_b, sim) numpy arrays (possibly empty)."""
        n, d = M.shape
        # k-ordered accumulation == the sequential fold, vectorized over rows.
        nrm2 = np.zeros(n)
        for k in range(d):
            c = M[:, k]
            nrm2 = nrm2 + c * c
        nrm = np.sqrt(nrm2)
        # Cosine is undefined for zero-norm vectors (including values
        # whose squares underflow float64); a 0/0 here would leak
        # inf/nan sims as silently-wrong pairs. Exclude those rows from
        # pairing instead of dividing by zero.
        valid = nrm > 0.0
        nrm_safe = np.where(valid, nrm, 1.0)
        out_a, out_b, out_s = [], [], []
        for s in range(0, n - 1, CHUNK):
            e = min(s + CHUNK, n)
            G = np.zeros((e - s, n))
            for k in range(d):
                G = G + np.multiply.outer(M[s:e, k], M[:, k])
            sims = G / np.multiply.outer(nrm_safe[s:e], nrm_safe)
            # Pair on id VALUES (id_a < id_b), not row indices: with a
            # duplicated id in the block an index-triangle mask emits a
            # bogus (x, x) self-pair the join form never produced.
            mask = (
                (sims >= thr)
                & (ids[None, :] > ids[s:e, None])
                & valid[None, :]
                & valid[s:e, None]
            )
            ii, jj = np.nonzero(mask)
            out_a.append(ids[ii + s])
            out_b.append(ids[jj])
            out_s.append(sims[ii, jj])
        if not out_a:
            z = ids[:0]
            return z, z, np.array([], dtype=np.float64)
        return (
            np.concatenate(out_a),
            np.concatenate(out_b),
            np.concatenate(out_s),
        )

    if cells == "auto":
        from .similarity import seed_cell_column

        src, _k = seed_cell_column(
            df, id_col=id_col, vec_col=vec_col,
            target_block=target_cell, max_cells=max_cells,
            index=cell_index, cache_key=cell_cache_key,
        )
        base = src.select(
            F.col(block_col).alias("__b"),
            F.col("__cell"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
        )
        grouped = base.groupBy("__b", "__cell")
    else:
        base = df.select(
            F.col(block_col).alias("__b"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
        )
        grouped = base.groupBy("__b")
    return (
        grouped
        .applyInPandas(block_pairs, schema=out_schema)
        .select("id_a", "id_b", block_col, F.round("sim", 6).alias("sim"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.1,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all candidate pairs sharing ≥1
    shingle: ``_shingle_pair_stats`` builds the shared-shingle counts,
    jaccard = n_common / (n_a + n_b - n_common) filters them. See the
    stats builder for the scale shape."""
    common = _shingle_pair_stats(df, id_col, text_col, shingle_n, max_shingle_df)
    return (
        common.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """ASYMMETRIC near-dup: n-gram CONTAINMENT — the fraction of the
    smaller document's shingles found in the other,
    ``max(n_common/n_a, n_common/n_b)``.

    This is the dedup lens symmetric Jaccard is blind to: a short
    document quoted whole inside a long one (boilerplate wrapping,
    quote inclusion, template expansion) has near-1 containment but
    tiny Jaccard (the union is dominated by the long side). Same
    inverted-index pipeline and skew guard as :func:`jaccard_pairs` —
    the two share ``_shingle_pair_stats`` — so the scale story is
    identical: linear in postings, never all-pairs. The ratios are
    exact-integer divisions (bit-identical across engines); both
    directed ratios are emitted alongside the max so a consumer can
    tell container from containee."""
    common = _shingle_pair_stats(df, id_col, text_col, shingle_n, max_shingle_df)
    cont_a = F.col("n_common") / F.col("n_a")
    cont_b = F.col("n_common") / F.col("n_b")
    return (
        common.withColumns(
            {
                "cont_a_in_b": cont_a,
                "cont_b_in_a": cont_b,
                "containment": F.greatest(cont_a, cont_b),
            }
        )
        .where(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b", "n_common",
            "cont_a_in_b", "cont_b_in_a", "containment",
        )
    )


def _shingle_pair_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Shared-shingle pair statistics ``(id_a, id_b, n_common, n_a,
    n_b)`` for every candidate pair sharing ≥ 1 surviving shingle, via a
    GROUPED inverted index: explode shingles once, prune by document
    frequency, collect the ≤``max_shingle_df`` doc ids per surviving
    shingle, and expand pairs map-side from each sorted list — no
    self-join. The pair fan-out is bounded per-shingle by construction
    (df_cap·(df_cap-1)/2) instead of by join-skew luck.

    ``max_shingle_df`` drops shingles occurring in more than N documents
    BEFORE the collect (the skew guard from dedup literature: a stopword
    shingle must never materialize a corpus-sized list). The DF count is
    a WINDOW count over ``partitionBy(sh)``, not a groupBy + self-join:
    one shuffle of the exploded set instead of two (count partials +
    join probe), and the hot-shingle partition is a sort-based spillable
    run — rows, never an in-memory corpus-sized list — so the guard
    itself cannot OOM on the skew it exists to cut.

    Per-doc set sizes ride INSIDE the inverted index: a window count
    over ``partitionBy(id)`` attaches ``n_sh`` before grouping, so each
    expanded pair already carries both sizes and the downstream ratio
    (Jaccard or containment) needs NO join after pair aggregation.

    ROUND-14 A/B, measured both ways and settled at sf1: an alternative
    form derived the sizes from a map-side-combined ``groupBy(id)``
    branch joined onto the aggregated pair stream, cutting the three
    full-stream exchanges here (W(sh), W(id), groupBy(sh)) to ONE
    reused exchange — and it measured ~1.2× faster at sf0.1 (shuffle
    write 412→202 MB at sf1, exactly as designed). But at sf1 it was
    2–6× SLOWER wall with up to 3.4× the executor CPU (4.3–4.5 s /
    ~82 s CPU here vs 9.3–26.3 s / 87–290 s CPU there): the branch form
    evaluates the full-stream window subtree once per consumer (pair
    branch + two size-join sides — ReuseExchange dedupes only the
    shuffle WRITE), so the 10× stream pays three window sorts and
    erratic memory pressure where this linear chain pays two, and a
    checkpoint pin of the branch is worse still (its job cannot share
    the main query's exchange — the stream shuffles twice). This
    joinless rider form is the measured at-scale optimum; the bytes it
    spends on the extra full-stream exchange buy single-evaluation of
    every subtree. Pinned by
    tests/test_dedup_similarity.py::test_shingle_pair_stats_joinless_rider_form.
    The whole plan is one linear chain (explode → df-prune → size →
    group → expand → aggregate), so nothing needs checkpointing."""
    from pyspark.sql import Window

    sh = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__toks"), shingle_n))
        ).alias("sh"),
    )
    if max_shingle_df is not None:
        df_cnt = F.count(F.lit(1)).over(Window.partitionBy("sh"))
        sh = sh.withColumn("__df", df_cnt).where(
            F.col("__df") <= max_shingle_df
        ).drop("__df")
    sized = sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    # lists are capped at max_shingle_df elements by the filter above;
    # sort_array on (i, n) structs orders by doc id (the first field)
    grouped = (
        sized.groupBy("sh")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("n_sh").alias("n")))
            ).alias("ids")
        )
        .where(F.size("ids") >= 2)
    )
    common = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                            lambda y: F.struct(
                                x["i"].alias("id_a"),
                                x["n"].alias("n_a"),
                                y["i"].alias("id_b"),
                                y["n"].alias("n_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.n_a", "p.id_b", "p.n_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("n_a").alias("n_a"),  # constant within the group
            F.max("n_b").alias("n_b"),
        )
    )
    return common


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Group candidate duplicate PAIRS into duplicate CLUSTERS: connected
    components by iterative min-label propagation. Returns one row per
    node appearing in any edge: ``(node, component)`` where ``component``
    is the smallest node id reachable from it.

    This is the step between pair generation (Jaccard/LSH/SemDeDup — all
    emit pairs) and an actual dedup decision: near-duplication is
    transitive in practice (A≈B, B≈C ⇒ keep one of {A,B,C}), so the unit
    of deduplication is the component, not the pair.

    Scale shape: each iteration is a neighbor-min join + groupBy-min
    (one shuffle on node id) followed by a POINTER-JUMP — every label is
    re-resolved through the label table (``comp ← label(comp)``, one
    more shuffle) — so label information doubles its reach per round and
    the iteration count is O(log diameter), not O(diameter). A 60-node
    chain converges in a handful of rounds where pure min-propagation
    needs 59 (and silently returned wrong labels when ``max_iter`` cut
    it off — now a RuntimeError, since truncated labels are wrong
    answers). The INITIAL labels are already the closed-neighborhood
    minimum — the same groupBy shuffle a plain ``distinct()`` init
    would pay, but productive — so pairs, stars and cliques (the
    overwhelming near-dup shapes) converge in ONE loop round (which,
    since round 15, also skips the pointer-jump — see ``_cc_iterate``);
    ``max_iter=25`` covers diameters up to ~2^24. The per-iteration
    ``localCheckpoint`` truncates lineage so the plan stays flat, and
    each round's single aggregate compares ``sum(comp)`` against the
    carried previous label sum — labels only ever decrease, so equal
    sums mean an exact fixed point. The checkpoint is LAZY
    (``eager=False``): the convergence aggregate is the action that
    materializes it, so each round launches exactly ONE job that both
    persists the new labels and returns the convergence scalars — not a
    materialize-then-probe pair.

    Memory discipline: the pinned symmetrized set and every superseded
    per-round labels checkpoint are RELEASED before returning (through
    ``cache.unpin``, so a caller's own pins are never touched); only the
    CONVERGED round's labels checkpoint — already materialized by that
    round's convergence aggregate, and what the returned frame reads —
    stays pinned (one |V|-row block set per call, exactly what an eager
    result re-checkpoint would pin, without spending a job on it).
    Without the cleanup, each call pinned a 2|E|-row cache plus one
    |V|-row checkpoint per round for the session lifetime.

    Job count: symmetrization is a map-side ``explode`` of each edge
    into both directions — NOT ``union(e, e.reversed)``, which executes
    pair generation twice and forced an extra eager edge-checkpoint job
    to prevent that. With the explode form, pair generation runs exactly
    once, into the sym checkpoint's blocks, whatever round first
    materializes it — so a converged-at-init graph (pairs, stars,
    cliques: the overwhelming near-dup shapes) completes in ONE Spark
    job: the round-1 aggregate that fills the sym pin, builds the
    initial labels, checks the fixed point, and persists the result
    checkpoint."""
    # Pin the symmetrized set so pair generation runs once, not once per
    # round. No pre-repartition: under AQE the planner sees a pinned
    # frame's partitioning as unknown (cached-plan output partitioning
    # is hidden), so every round's join re-exchanges sym regardless — a
    # repartition here would be one extra 2|E| shuffle that buys
    # nothing. A LAZY localCheckpoint (not persist): no job of its own
    # (the round-1 aggregate materializes it).
    both_dirs = F.explode(
        F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )
    )
    sym = (
        edges.select(both_dirs.alias("e"))
        .select("e.u", "e.v")
        .localCheckpoint(eager=False)
    )
    pins = [sym]
    # Initial labels = closed-neighborhood minimum: the same one-shuffle
    # groupBy a distinct() node list would cost, but it already performs
    # the first propagation — a pair/star/clique arrives at the loop
    # ALREADY converged and exits after one confirming round.
    labels = sym.groupBy(F.col("u").alias("node")).agg(
        F.least(F.min("v"), F.first("u")).alias("comp")
    )
    try:
        converged = _cc_iterate(sym, labels, max_iter, pins)
    except Exception:
        unpin(*pins)
        raise
    # The converged round's checkpoint (the last pin) is already
    # materialized (its convergence aggregate was the action) and is
    # what the result reads; release everything else.
    unpin(*pins[:-1])
    return converged


def _cc_iterate(sym, labels, max_iter, pins):
    """Propagation rounds from ``labels`` to the fixed point; each
    round's labels pin is appended to ``pins``."""
    for rnd in range(max_iter):
        # Carry each node's PREVIOUS label through the round as ``old``
        # (null on neighbor rows, so min() recovers it per node): the
        # round's one aggregate then yields both sum(comp) and sum(old),
        # and equal sums mean an exact elementwise fixed point (labels
        # only decrease) — no separate baseline job, convergence checked
        # against the round's own input.
        lab_rows = labels.select("node", "comp", F.col("comp").alias("old"))
        nbr = sym.join(labels, sym["v"] == labels["node"]).select(
            sym["u"].alias("node"),
            F.col("comp"),
            F.lit(None).cast("long").alias("old"),
        )
        propagated = (
            lab_rows.union(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("old").alias("old"))
        )
        # Pointer jump: resolve each label through the label table so a
        # chain's min reaches twice as far per round. Every comp value
        # is itself a node id, so the lookup is a self-join; labels only
        # decrease, making min(old, jumped) safe and monotone.
        #
        # ROUND 1 SKIPS THE JUMP (round 15): the initial labels are
        # already the closed-neighborhood minimum, so pairs, stars and
        # cliques — the overwhelming near-dup shapes — arrive at round 1
        # CONVERGED, and the round is pure confirmation. For them the
        # jump is a no-op that still costs its plan: one more exchange
        # plus (under AQE, which broadcasts the tiny lut side without
        # exchange-reuse) a full second evaluation of the propagated
        # subtree per round. Correctness is untouched — neighbor-min
        # alone has the same unique fixed point (stable ⇒ equal labels
        # across every edge ⇒ per-component constant = component min),
        # and the sum-convergence test is sound for either round shape;
        # only deep-chain graphs pay one extra round (the jump resumes
        # from round 2, so reach still doubles per round: max_iter=25
        # covers diameters ~2^24).
        if rnd == 0:
            new_labels = propagated
        else:
            lut = propagated.select(
                F.col("node").alias("__jn"), F.col("comp").alias("__jc")
            )
            new_labels = propagated.join(
                lut, propagated["comp"] == F.col("__jn"), "left"
            ).select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("__jc"), F.col("comp"))
                ).alias("comp"),
                "old",
            )
        labels = new_labels.localCheckpoint(eager=False)
        pins.append(labels)
        # This aggregate is the ONLY action this round: it computes the
        # new labels, persists them via the lazy checkpoint, and returns
        # both convergence scalars in a single job.
        cur_sum, old_sum = labels.agg(F.sum("comp"), F.sum("old")).first()
        if cur_sum == old_sum:
            return labels.select("node", F.col("comp").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        "(component diameter > ~2^max_iter); truncated labels would be "
        "wrong answers, so none are returned"
    )
