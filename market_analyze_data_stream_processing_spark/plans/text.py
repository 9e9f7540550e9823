"""Text-analysis & dedup queries over the ``documents`` table (the
LLM-training-pipeline operator family: exact dedup, minhash, n-gram
Jaccard near-dup, token stats, quality scoring, language-ID,
fingerprinting). All [D]: every expression mirrors into DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.scalars import stable_round
from ..operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_pairs,
    lsh_band_candidates,
    minhash_signatures,
    simhash_fingerprints,
)
from ..sources.tables import load_table, spread
from .registry import register

# DuckDB mirror of functions.text.normalized_text (note the 'g' flags —
# DuckDB regexp_replace is first-match-only by default, Spark replaces all).
_NORM_SQL = "trim(regexp_replace(regexp_replace(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"


@register(
    "q_doc_exact_dedup",
    f"""
    SELECT content_hash, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM (SELECT doc_id, md5({_NORM_SQL}) AS content_hash FROM documents)
    GROUP BY content_hash
    """,
    doc="U7 generalized exact dedup: md5 fingerprint of normalized text, "
    "keep lowest id. One shuffle on a 16-byte key at any scale.",
)
def q_doc_exact_dedup(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return exact_dedup(d, text_col="text", id_col="doc_id")


@register(
    "q_token_stats",
    r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           length(text) AS n_chars_measured,
           n_chars,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 6) AS avg_tok_len
    FROM documents
    """,
    doc="Token counting + length stats (text-analysis family).",
)
def q_token_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text"))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        "n_chars",
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .cast("double")
            / F.greatest(n_tok, F.lit(1)),
            6,
        ).alias("avg_tok_len"),
    )


@register(
    "q_quality_score",
    r"""
    WITH x AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(the|and|of|to|is|in|that|it|for|with)\b')) AS n_stop,
               CAST(length(regexp_replace(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1) AS punct_ratio
        FROM documents
    )
    SELECT doc_id,
           round(0.4 * least(CAST(n_stop AS DOUBLE) / greatest(n_tok, 1) * 5.0, 1.0)
                 + 0.3 * least(n_tok / 100.0, 1.0)
                 + 0.3 * (1.0 - least(punct_ratio * 10.0, 1.0)), 6) AS quality
    FROM x
    """,
    doc="Gopher/C4-style heuristic quality score: stopword density, length "
    "prior, punctuation-noise penalty — pure codegen expressions.",
)
def q_quality_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.round(T.quality_score(F.col("text")), 6).alias("quality"))


@register(
    "q_gopher_filters",
    r"""
    WITH x AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\s+') AS toks,
               len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(the|and|of|to|is|in|that|it|for|with)\b')) AS n_stop
        FROM documents
    ), m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                   / greatest(len(toks), 1) AS mwl,
               CAST(n_sym AS DOUBLE) / greatest(len(toks), 1) AS swr,
               CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
                   / greatest(len(toks), 1) AS awr,
               n_stop
        FROM x
    )
    SELECT doc_id, n_words,
           round(mwl, 6) AS mean_word_len,
           round(swr, 6) AS symbol_word_ratio,
           round(awr, 6) AS alpha_word_ratio,
           n_stop,
           (n_words BETWEEN 20 AND 100000)
               AND (mwl BETWEEN 3.8 AND 10.0)
               AND swr < 0.1 AND awr > 0.8 AND n_stop >= 2 AS keep
    FROM m
    ORDER BY doc_id
    """,
    doc="Gopher-style rejection-rule family (word count, mean word length, "
    "symbol-to-word ratio, alphabetic-word ratio, stopword floor) with "
    "per-rule measurements and the final keep verdict — the standard "
    "document-level quality gate for LLM training corpora; every rule is "
    "a codegen expression, so the gate is a zero-shuffle map over the scan.",
)
def q_gopher_filters(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    n_words = T.token_count(F.col("text"))
    mwl = T.mean_word_len(F.col("text"))
    swr = T.symbol_word_ratio(F.col("text"))
    awr = T.alpha_word_ratio(F.col("text"))
    n_stop = T.marker_hits(F.col("text"), T.LANG_MARKERS["en"])
    return (
        d.select(
            "doc_id",
            n_words.alias("n_words"),
            F.round(mwl, 6).alias("mean_word_len"),
            F.round(swr, 6).alias("symbol_word_ratio"),
            F.round(awr, 6).alias("alpha_word_ratio"),
            n_stop.alias("n_stop"),
            (
                n_words.between(20, 100000)
                & mwl.between(3.8, 10.0)
                & (swr < 0.1)
                & (awr > 0.8)
                & (n_stop >= 2)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_lang_id",
    r"""
    WITH h AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(the|and|of|to|is|in|that|it|for|with)\b')) AS h_en,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b')) AS h_de,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(le|la|les|et|est|une|pas|pour|que|dans)\b')) AS h_fr,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(el|los|las|es|una|por|para|con|del|como)\b')) AS h_es
        FROM documents
    )
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'unknown'
                WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
           END AS pred_lang
    FROM h
    """,
    doc="Language-ID heuristic (stopword-marker voting, fixed tiebreak order).",
)
def q_lang_id(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        T.lang_id(F.col("text")).alias("pred_lang"),
    )


@register(
    "q_doc_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fp
    FROM documents
    """,
    doc="F9/U7: stable content fingerprint (md5 over canonicalized text; "
    "engine-stable unlike Python hash()).",
)
def q_doc_fingerprint(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


#: DuckDB mirror of functions.text.shingles(n=3): list of word 3-grams.
_SHINGLES_SQL = (
    "list_transform(generate_series(1, len(toks) - 2),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)

# Shared CTE chain producing exact-Jaccard near-dup pairs (threshold 0.1,
# document-frequency pruning at 100) — the oracle twin of
# operators.dedup.jaccard_pairs; reused by q_near_dup_jaccard and the
# connected-components clustering oracle.
_JACCARD_PAIRS_CTES = rf"""w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, unnest({_SHINGLES_SQL}) AS s
            FROM w WHERE len(toks) >= 3
        )
    ), rare AS (
        SELECT s FROM sh GROUP BY s HAVING count(*) <= 100
    ), shp AS (
        SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
    ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM shp GROUP BY doc_id
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM shp a JOIN shp b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT id_a, id_b, n_common,
               CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    )"""


@register(
    "q_shingle_count",
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
    )
    SELECT doc_id, len(list_distinct({_SHINGLES_SQL})) AS n_shingles
    FROM w
    WHERE len(toks) >= 3
    """,
    doc="3-gram shingling: distinct shingle count per doc (dedup primitive).",
)
def q_shingle_count(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.size(
                F.array_distinct(T.shingles_from_tokens(F.col("toks"), 3))
            ).alias("n_shingles"),
        )
    )


@register(
    "q_minhash_signature",
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
    ), sh AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS s
        FROM w WHERE len(toks) >= 3
    )
    SELECT doc_id,
           min(substr(md5(s), 1, 8))  AS mh0,
           min(substr(md5(s), 9, 8))  AS mh1,
           min(substr(md5(s), 17, 8)) AS mh2,
           min(substr(md5(s), 25, 8)) AS mh3
    FROM sh GROUP BY doc_id
    """,
    doc="MinHash signature: 4 min-hash slots from one md5 per 3-gram shingle; "
    "map-side partial agg keeps the shuffle at one row per doc per partition.",
)
def q_minhash_signature(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    return minhash_signatures(
        d.where(T.token_count(F.col("text")) >= 3),
        id_col="doc_id", text_col="text", n_hashes=4, shingle_n=3,
    )


@register(
    "q_near_dup_jaccard",
    rf"""
    WITH {_JACCARD_PAIRS_CTES}
    SELECT id_a, id_b, n_common, round(jaccard, 6) AS jaccard
    FROM pairs
    """,
    doc="Exact n-gram Jaccard near-dup pairs via inverted shingle index; "
    "shingles in >100 docs are dropped on BOTH sides (document-frequency "
    "pruning — the skew guard that bounds join fan-out at scale).",
)
def q_near_dup_jaccard(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    pairs = jaccard_pairs(
        d, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.1,
        max_shingle_df=100,  # mirrored in the oracle: bounds candidate fan-out
    )
    return pairs.select("id_a", "id_b", "n_common", F.round("jaccard", 6).alias("jaccard"))


@register(
    "q_dup_clusters",
    rf"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTES},
    sym AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(n, m) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m
    ),
    comp AS (
        SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n
    )
    SELECT doc_id, component,
           doc_id = component AS is_canonical,
           count(*) OVER (PARTITION BY component)::BIGINT AS n_members
    FROM comp
    ORDER BY doc_id
    """,
    doc="Near-dup CLUSTERS from pair candidates: connected components by "
    "iterative min-label propagation (near-duplication is transitive in "
    "practice, so the dedup unit is the component). is_canonical marks "
    "the kept representative (lowest doc_id); dropping the rest is the "
    "actual dedup decision. Oracle = recursive-CTE transitive closure.",
)
def q_dup_clusters(spark, sf_dir):
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents"))
    pairs = jaccard_pairs(
        d, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.1,
        max_shingle_df=100,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        comp.select(F.col("node").alias("doc_id"), "component")
        .withColumn("is_canonical", F.col("doc_id") == F.col("component"))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .orderBy("doc_id")
    )


@register(
    "q_doc_source_stats",
    r"""
    SELECT source, lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(len(regexp_split_to_array(trim(text), '\s+'))), 4) AS avg_tokens,
           min(doc_id) AS min_doc_id
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
    """,
    doc="Corpus profiling rollup per (source, lang).",
)
def q_doc_source_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(T.token_count(F.col("text"))), 4).alias("avg_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("source", "lang")
    )


@register(
    "q_simhash",
    r"""
    WITH d AS (
        SELECT doc_id, md5(text) AS th FROM documents
        WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2
    )
    SELECT count(*)::BIGINT AS n_docs,
           count(DISTINCT th)::BIGINT AS n_text_groups,
           TRUE AS fp_per_text_unique
    FROM d
    """,
    doc="SimHash 64-bit fingerprints (sign-aggregated shingle hash bits "
    "via one 64-column vote aggregate — map-side combined, one row per "
    "doc per partition on the shuffle). The fingerprint VALUE is a pure "
    "function of xxhash64, so it can't be hash-matched by another "
    "engine; the oracle contract checks the deterministic claims "
    "instead: every doc with ≥2 tokens gets exactly one fingerprint "
    "(n_docs counts the engine's FINGERPRINT rows and the oracle counts "
    "eligible docs independently — the hash-match IS the coverage "
    "proof), and identical texts get identical fingerprints "
    "(fp_per_text_unique: one distinct fingerprint per md5(text) group "
    "— same tokens ⇒ same shingle hashes ⇒ same bit votes, "
    "deterministically). The text hash rides through the vote aggregate "
    "as a carried group key — no second corpus scan, no join. Per-doc "
    "fingerprint values and hamming behavior stay pinned in pytest "
    "(test_dedup_similarity).",
)
def q_simhash(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    fp = simhash_fingerprints(
        d.withColumn("th", F.md5("text")),
        id_col="doc_id", text_col="text", bits=64, shingle_n=2,
        carry_cols=["th"],
    )
    # Per-group fingerprint uniqueness as min==max (a group holds one
    # distinct value iff its extremes agree) — plain min/max aggregates
    # instead of COUNT DISTINCT's expand/two-phase plan.
    per_text = fp.groupBy("th").agg(
        F.count(F.lit(1)).alias("n_fp"),
        (F.min("fingerprint") == F.max("fingerprint")).alias("fp_unique"),
    )
    return per_text.agg(
        F.coalesce(F.sum("n_fp"), F.lit(0)).cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_text_groups"),
        F.coalesce(F.every(F.col("fp_unique")), F.lit(True)).alias(
            "fp_per_text_unique"
        ),
    )


@register(
    "q_lsh_band_candidates",
    r"""
    WITH d AS (
        SELECT doc_id, md5(text) AS th FROM documents
        WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
    )
    SELECT count(*)::BIGINT AS n_exact_dup_pairs,
           count(*)::BIGINT AS n_covered,
           TRUE AS all_covered
    FROM d a JOIN d b ON a.th = b.th AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH banded candidate pairs (8 hashes, 4 bands): the "
    "at-scale near-dup candidate generator — shuffles band keys, never "
    "all-pairs. Oracle contract (the banding hash is engine-specific, so "
    "pairs can't be hash-matched directly): LSH candidates must COVER "
    "every exact-duplicate pair — identical raw text ⇒ identical tokens "
    "⇒ identical signature ⇒ all bands collide, deterministically. The "
    "oracle hash-matches the exact-dup pair count and asserts full "
    "coverage. Neither contract side adds a corpus shuffle: the text "
    "hash RIDES the banding shuffle as a carried group key "
    "(carry_cols), so every candidate pair surfaces both endpoints' "
    "hashes for free — a pair is covered iff they agree, since LSH "
    "candidates ⊇ equal-hash pairs is exactly the claim under test — "
    "and the dup-pair count is sum C(n,2) over md5(text) group sizes "
    "(one shuffle of 16-byte keys, no self-join). Candidate-set "
    "semantics beyond the invariant stay pinned in pytest "
    "(test_dedup_similarity).",
)
def q_lsh_band_candidates(spark, sf_dir):
    from ..functions.text import token_count

    d = spread(load_table(spark, sf_dir, "documents"))
    # max_bucket=None: this query's contract is PAIR-LEVEL coverage
    # (every exact-dup pair is a candidate edge), which only the
    # uncapped clique form guarantees. The production default keeps the
    # star-cap (component-level coverage, O(n) edges per viral bucket);
    # its semantics are pinned in test_dedup_similarity.
    cand = lsh_band_candidates(
        d.withColumn("th", F.md5("text")),
        id_col="doc_id", text_col="text", n_hashes=8, bands=4,
        max_bucket=None, carry_cols=["th"],
    )
    covered = cand.agg(
        F.coalesce(
            F.sum((F.col("th_a") == F.col("th_b")).cast("long")), F.lit(0)
        ).alias("n_covered")
    )
    # Dup identity = md5(text), the same 16-byte key exact_dedup shuffles
    # on — raw text as a group key would shuffle full documents at
    # scale. Docs with <3 tokens have no 3-shingles, hence no signature
    # and no candidates; restricting the dup universe to them keeps both
    # sides of the contract over the same population.
    n_pairs = (
        d.where(token_count(F.col("text")) >= 3)
        .groupBy(F.md5("text").alias("th"))
        .count()
        .agg(
            F.coalesce(
                F.sum(F.col("count") * (F.col("count") - 1) / 2), F.lit(0)
            )
            .cast("long")
            .alias("n_exact_dup_pairs")
        )
    )
    # Two 1-row scalar aggregates; the cross join is a broadcast of one
    # row (the PLANLINT-allowlisted shape).
    return n_pairs.crossJoin(F.broadcast(covered)).select(
        "n_exact_dup_pairs",
        "n_covered",
        (F.col("n_exact_dup_pairs") == F.col("n_covered")).alias("all_covered"),
    )


@register(
    "q_curation_pipeline",
    rf"""
    WITH scored AS (
        SELECT doc_id, source, lang, text,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(the|and|of|to|is|in|that|it|for|with)\b')) AS n_stop,
               CAST(length(regexp_replace(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1) AS punct_ratio
        FROM documents
    ), quality AS (
        SELECT doc_id, source, lang, text,
               0.4 * least(CAST(n_stop AS DOUBLE) / greatest(n_tok, 1) * 5.0, 1.0)
               + 0.3 * least(n_tok / 100.0, 1.0)
               + 0.3 * (1.0 - least(punct_ratio * 10.0, 1.0)) AS q
        FROM scored
    ), kept AS (
        SELECT md5({_NORM_SQL}) AS fp, min(doc_id) AS doc_id,
               min(source) AS source
        FROM quality
        WHERE q >= 0.5 AND lang IN ('en', 'fr')
        GROUP BY md5({_NORM_SQL})
    )
    SELECT source, count(*) AS n_kept
    FROM kept GROUP BY source ORDER BY source
    """,
    doc="LLM-data curation pipeline composition: quality gate (>=0.5) -> "
    "language allowlist -> exact dedup by normalized fingerprint -> "
    "per-source retention counts. One declarative plan; the scan computes "
    "score+fingerprint in a single pass, only the dedup groupBy shuffles.",
)
def q_curation_pipeline(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    q = T.quality_score(F.col("text"))
    kept = (
        d.where((q >= 0.5) & F.col("lang").isin("en", "fr"))
        .withColumn("fp", T.fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.min("source").alias("source"))
    )
    return (
        kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("source")
    )


@register(
    "q_hash_split",
    """
    WITH tagged AS (
        SELECT n_chars,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
    FROM tagged GROUP BY split ORDER BY split
    """,
    doc="Deterministic train/val/test split (~80/10/10) by md5(doc_id) "
    "hex-prefix thresholds — pure string compares, identical in any "
    "engine, stable across runs/reshards (the property a 100 TB corpus "
    "split must have: membership is a function of the id, not of "
    "partitioning or row order). Map-only until the tiny count agg.",
)
def q_hash_split(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < "cd", "train").when(h < "e6", "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("split")
    )


@register(
    "q_redact_tokens",
    """
    WITH r AS (
        SELECT doc_id, source,
               regexp_replace(text, '\\b(customer|supplier)\\b', '<REDACTED>', 'g') AS scrubbed,
               len(regexp_extract_all(text, '\\b(customer|supplier)\\b')) AS n_redacted
        FROM documents
    )
    SELECT doc_id, source, n_redacted, length(scrubbed) AS scrubbed_len
    FROM r
    WHERE n_redacted > 0
    ORDER BY doc_id
    """,
    doc="Sensitive-token redaction (the PII-scrub stage shape: in "
    "production the patterns are emails/phones/ids; the synthetic corpus "
    "carries a wordlist stand-in): regexp scrub + per-doc match count, "
    "all codegen'd expressions — a 100 TB scrub is one map-only pass.",
)
def q_redact_tokens(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pat = r"\b(customer|supplier)\b"
    return (
        d.select(
            "doc_id",
            "source",
            F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias("n_redacted"),
            F.length(F.regexp_replace("text", pat, "<REDACTED>")).alias("scrubbed_len"),
        )
        .where(F.col("n_redacted") > 0)
        .orderBy("doc_id")
    )


@register(
    "q_domain_mix_sample",
    """
    WITH sampled AS (
        SELECT lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
              CASE WHEN lang = 'en' THEN 'cd' ELSE '34' END
    )
    SELECT lang, count(*) AS n_sampled FROM sampled GROUP BY lang ORDER BY lang
    """,
    doc="Domain-mixing sampler: per-domain deterministic sampling rates "
    "(en ~80%, other languages ~20%) via md5(doc_id) prefix thresholds — "
    "the corpus-mixture primitive (upsample/downsample sources to hit a "
    "target mix) as a stateless map-side filter; no RNG, so replays and "
    "retries keep identical membership.",
)
def q_domain_mix_sample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thr = F.when(F.col("lang") == "en", F.lit("cd")).otherwise(F.lit("34"))
    return (
        d.where(h < thr)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


@register(
    "q_unigram_logprob",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')), '\s+')) AS tok
        FROM documents
    ), freq AS (
        SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ), tot AS (
        SELECT count(*) AS total FROM toks
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_tok,
           round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob
    FROM toks JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Self-trained unigram LM scoring (perplexity-style curation "
    "filter): corpus token frequencies -> per-doc mean log-probability; "
    "low scores flag out-of-distribution text. Two shuffles (vocab "
    "count, per-doc mean), both map-side combined; at scale the vocab "
    "table is Zipf-small and broadcastable so scoring stays map-only.",
)
def q_unigram_logprob(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(T.tokens(T.portable_lower(F.col("text")))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(F.avg(F.log(F.col("cnt").cast("double") / F.col("total"))), 4).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "q_stratified_sample",
    """
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS sample_rank
        FROM documents
    )
    SELECT source, doc_id, sample_rank
    FROM ranked WHERE sample_rank <= 5
    ORDER BY source, sample_rank
    """,
    doc="Fixed-size per-stratum sampling (deterministic reservoir): "
    "exactly k=5 docs per source, chosen by md5(doc_id) rank — the "
    "eval-set / inspection-sample primitive. Complements the rate-based "
    "q_domain_mix_sample (rates give proportions; this gives exact "
    "counts). One shuffle on the stratum key; no RNG, so replays pick "
    "identical members. At scale the rank-k window prunes with a "
    "per-partition top-k before the shuffle (WindowGroupLimit).",
)
def q_stratified_sample(spark, sf_dir):
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("sample_rank"))
        .where(F.col("sample_rank") <= 5)
        .orderBy("source", "sample_rank")
    )


@register(
    "q_doc_chunks",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents WHERE doc_id <= 40
    ),
    chunks AS (
        SELECT doc_id,
               g.i AS chunk_idx,
               array_to_string(t[(g.i * 40 + 1):(g.i * 40 + 50)], ' ') AS chunk
        FROM toks,
             LATERAL (SELECT unnest(range(0, greatest(1, CAST(ceil((len(t) - 10) / 40.0) AS BIGINT)))) AS i) g
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk,
           len(regexp_split_to_array(chunk, '\s+')) AS n_tokens
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    doc="Sliding-window document chunking (chunk=50 tokens, stride=40, "
    "overlap=10) — the embedding/RAG chunker as pure array expressions: "
    "tokenize once, slice per window, no UDF. Map-only row expansion; at "
    "100 TB the fan-out is len/stride and chunk boundaries depend only "
    "on the doc, never on partitioning.",
)
def q_doc_chunks(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 40)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.greatest(
        F.lit(1), F.ceil((F.size(toks) - F.lit(10)) / F.lit(40.0)).cast("long")
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    out = (
        d.select(F.col("doc_id"), toks.alias("t"), F.explode(idx).alias("chunk_idx"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.col("t"), F.col("chunk_idx") * 40 + 1, 50)).alias("chunk"),
        )
        .withColumn("n_tokens", F.size(F.split(F.col("chunk"), r"\s+")))
        .orderBy("doc_id", "chunk_idx")
    )
    return out


@register(
    "q_token_pack",
    r"""
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT doc_id, source, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 2048.0) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT source, bin_id, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
    FROM packed
    GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
    doc="Deterministic sequence packing: docs stream into 2048-token bins "
    "per source via a running token cumsum (bin = floor(prefix_sum/"
    "budget)) — the training-batch packing primitive as ONE window pass; "
    "membership depends only on (source, doc_id) order, so replays and "
    "different partitionings pack identically.",
)
def q_token_pack(spark, sf_dir):
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select("doc_id", "source", n_tok.alias("n_tok"))
    packed = toks.withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 2048.0).cast("long"),
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .orderBy("source", "bin_id")
    )


@register(
    "q_near_dup_pipeline",
    r"""
    WITH d AS (
        SELECT doc_id, md5(text) AS th FROM documents
        WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
    )
    SELECT count(*)::BIGINT AS n_exact_dup_pairs,
           count(*)::BIGINT AS n_exact_dup_covered,
           TRUE AS all_exact_dups_found,
           TRUE AS all_sound
    FROM d a JOIN d b ON a.th = b.th AND a.doc_id < b.doc_id
    """,
    doc="Composed production near-dup: MinHash-LSH banding generates "
    "candidates (band-key shuffle, never all-pairs) -> exact Jaccard "
    "verifies only those pairs (array intersect/union per candidate). "
    "The pair SET depends on the engine's banding hash (xxhash64), so "
    "it can't be hash-matched directly; the oracle contract checks the "
    "two deterministic claims instead. Soundness: every emitted pair "
    "carries exact jaccard >= 0.5 (all_sound, computed in-plan over the "
    "pipeline's own output). Coverage: identical texts ⇒ identical "
    "signatures ⇒ every band collides, so the pipeline must report "
    "every exact-duplicate pair (jaccard 1.0); the oracle hash-matches "
    "the exact-dup pair count from a text self-join and asserts "
    "n_exact_dup_covered equals it. Recall S-curve behavior stays "
    "pinned in pytest. q_near_dup_jaccard is the exact-path twin "
    "(SCALING.md crossover).",
)
def q_near_dup_pipeline(spark, sf_dir):
    from ..operators.dedup import near_dup_pipeline

    d = spread(load_table(spark, sf_dir, "documents"))
    # max_bucket=None: the all-exact-dups-found contract is pair-level,
    # which only the uncapped clique candidates guarantee (see
    # q_lsh_band_candidates; star-capped behavior is pinned in pytest).
    pipe = near_dup_pipeline(d, threshold=0.5, max_bucket=None)
    eligible = d.where(T.token_count(F.col("text")) >= 3).select(
        "doc_id", F.md5("text").alias("th")
    )
    a = eligible.select(F.col("doc_id").alias("id_a"), F.col("th").alias("ha"))
    b = eligible.select(F.col("doc_id").alias("id_b"), F.col("th").alias("hb"))
    dups = a.join(
        b, (F.col("ha") == F.col("hb")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b")
    coverage = (
        dups.join(pipe.select("id_a", "id_b", F.lit(1).alias("__hit")), ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact_dup_pairs"),
            # sum over zero rows is NULL: no exact dups ⇒ 0 covered
            F.coalesce(F.sum(F.coalesce("__hit", F.lit(0))), F.lit(0))
            .cast("long")
            .alias("n_exact_dup_covered"),
        )
    )
    # every() over zero rows is NULL; an empty pair set is vacuously sound
    sound = pipe.agg(
        F.coalesce(F.every(F.col("jaccard") >= 0.5), F.lit(True)).alias("all_sound")
    )
    return coverage.crossJoin(sound).select(
        "n_exact_dup_pairs",
        "n_exact_dup_covered",
        (F.col("n_exact_dup_covered") == F.col("n_exact_dup_pairs")).alias(
            "all_exact_dups_found"
        ),
        "all_sound",
    )


#: DuckDB mirror of functions.text.shingles(n=2): list of word bigrams.
_SHINGLES2_SQL = (
    "list_transform(generate_series(1, len(toks) - 1),"
    " i -> toks[i] || ' ' || toks[i+1])"
)

#: DuckDB mirror of functions.text.shingles(n=5): list of word 5-grams.
_SHINGLES5_SQL = (
    "list_transform(generate_series(1, len(toks) - 4),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
    " || ' ' || toks[i+3] || ' ' || toks[i+4])"
)


@register(
    "q_decontaminate",
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), eval_grams AS (
        SELECT DISTINCT s FROM (
            SELECT unnest({_SHINGLES5_SQL}) AS s
            FROM w WHERE doc_id % 53 = 0 AND len(toks) >= 5
        )
    ), train AS (
        SELECT doc_id, list_distinct({_SHINGLES5_SQL}) AS grams
        FROM w WHERE doc_id % 53 <> 0 AND len(toks) >= 5
    ), sh AS (
        SELECT doc_id, unnest(grams) AS s FROM train
    ), hits AS (
        SELECT doc_id, count(*) AS n_hits
        FROM sh JOIN eval_grams USING (s)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.grams) AS n_grams,
           coalesce(h.n_hits, 0) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / len(t.grams), 6)
               AS hit_frac,
           CAST(coalesce(h.n_hits, 0) AS DOUBLE) / len(t.grams) >= 0.05
               AS is_contaminated
    FROM train t LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Benchmark decontamination: flag training docs sharing 5-gram "
    "shingles with a held-out eval set (doc_id % 53 = 0 stands in for "
    "the benchmark corpus). The eval n-gram set is tiny relative to the "
    "corpus, so the overlap probe is a BROADCAST semi-join with counts — "
    "a map-only pass over 100 TB of training text, no corpus-side "
    "shuffle except the per-doc hit count. The standard pre-training "
    "hygiene step (strip eval-set leakage before the corpus ships).",
)
def q_decontaminate(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    # Tokenize ONCE behind a projection boundary, then shingle from the
    # array — inlining tokens() into the transform lambda re-runs the
    # regex split once per element_at reference (5x per gram).
    toksed = d.select("doc_id", T.tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 5
    )
    # Materialize the shingled corpus ONCE (the jaccard_pairs pattern):
    # the plan reads it in 3 branches (eval-gram set, hit counts, final
    # join), and without the checkpoint each branch re-scans and
    # re-shingles — worse, the explode's inferred non-empty filter gets
    # predicate-pushed below the tokenize projection with the full
    # shingle expression inlined (n splits per gram) into a scan-level
    # Filter. At 100 TB this materialization is the staged shingle table
    # a production decontamination pass would write anyway.
    base = toksed.select(
        "doc_id",
        F.array_distinct(T.shingles_from_tokens(F.col("toks"), 5)).alias("grams"),
    ).localCheckpoint()
    eval_grams = (
        base.where(F.col("doc_id") % 53 == 0)
        .select(F.explode("grams").alias("s"))
        .distinct()
    )
    train = base.where(F.col("doc_id") % 53 != 0)
    hits = (
        train.select("doc_id", F.explode("grams").alias("s"))
        .join(F.broadcast(eval_grams), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    frac = n_hits.cast("double") / F.size("grams")
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            n_hits.alias("n_hits"),
            F.round(frac, 6).alias("hit_frac"),
            (frac >= 0.05).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_repetition_filters",
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), b2 AS (
        SELECT doc_id, s, count(*) AS cnt FROM (
            SELECT doc_id, unnest({_SHINGLES2_SQL}) AS s
            FROM w WHERE len(toks) >= 5
        ) GROUP BY doc_id, s
    ), g2 AS (
        SELECT doc_id, sum(cnt) AS n_bigrams, max(cnt) AS top_bigram_n
        FROM b2 GROUP BY doc_id
    ), b5 AS (
        SELECT doc_id, s, count(*) AS cnt FROM (
            SELECT doc_id, unnest({_SHINGLES5_SQL}) AS s
            FROM w WHERE len(toks) >= 5
        ) GROUP BY doc_id, s
    ), g5 AS (
        SELECT doc_id, sum(cnt) AS n_5grams,
               coalesce(sum(cnt) FILTER (cnt >= 2), 0) AS dup_5gram_n
        FROM b5 GROUP BY doc_id
    )
    SELECT g2.doc_id,
           g2.n_bigrams::BIGINT AS n_bigrams,
           g2.top_bigram_n::BIGINT AS top_bigram_n,
           round(CAST(g2.top_bigram_n AS DOUBLE) / g2.n_bigrams, 6) AS top2_frac,
           g5.n_5grams::BIGINT AS n_5grams,
           g5.dup_5gram_n::BIGINT AS dup_5gram_n,
           round(CAST(g5.dup_5gram_n AS DOUBLE) / g5.n_5grams, 6) AS dup5_frac,
           (CAST(g2.top_bigram_n AS DOUBLE) / g2.n_bigrams <= 0.2
            AND CAST(g5.dup_5gram_n AS DOUBLE) / g5.n_5grams <= 0.3) AS keep
    FROM g2 JOIN g5 USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Gopher repetition rules (the in-document half of the quality "
    "gate, complementing q_gopher_filters' static rules): fraction of "
    "the doc occupied by its most frequent bigram, and fraction of "
    "5-gram occurrences that are repeats. Per-DOC metrics need no "
    "shuffle at any scale: every gram of a doc lives in its own row, so "
    "a sorted-array run-length fold (aggregate over array_sort — equal "
    "grams are adjacent; track current run, max run, and the sum of "
    "runs ≥ 2) computes both statistics MAP-ONLY. The previous form "
    "paid two explode → groupBy(doc_id, gram) → groupBy(doc_id) shuffle "
    "chains plus a join for the same numbers. Rejection thresholds "
    "(top2 > 0.2, dup5 > 0.3) follow the Gopher paper's repetition "
    "table, adapted to token fractions.",
)
def q_repetition_filters(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.select("doc_id", T.tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 5
    )

    stats = base.select(
        "doc_id",
        F.size(T.shingles_from_tokens(F.col("toks"), 2))
        .cast("long")
        .alias("n_bigrams"),
        T.gram_run_stats(T.shingles_from_tokens(F.col("toks"), 2))["top"]
        .cast("long")
        .alias("top_bigram_n"),
        F.size(T.shingles_from_tokens(F.col("toks"), 5))
        .cast("long")
        .alias("n_5grams"),
        T.gram_run_stats(T.shingles_from_tokens(F.col("toks"), 5))["dup"]
        .cast("long")
        .alias("dup_5gram_n"),
    )
    top2 = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    dup5 = F.col("dup_5gram_n").cast("double") / F.col("n_5grams")
    return (
        stats
        .select(
            "doc_id",
            "n_bigrams",
            "top_bigram_n",
            F.round(top2, 6).alias("top2_frac"),
            "n_5grams",
            "dup_5gram_n",
            F.round(dup5, 6).alias("dup5_frac"),
            ((top2 <= 0.2) & (dup5 <= 0.3)).alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_chunk_dup_rate",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, md5(array_to_string(t[(g.i * 20 + 1):(g.i * 20 + 20)], ' ')) AS h
        FROM toks,
             LATERAL (SELECT unnest(range(0, CAST(floor(len(t) / 20.0) AS BIGINT))) AS i) g
    ),
    freq AS (SELECT h, count(*) AS c FROM chunks GROUP BY h),
    per_doc AS (
        SELECT chunks.doc_id,
               count(*) AS n_chunks,
               sum(CASE WHEN freq.c >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks
        FROM chunks JOIN freq USING (h)
        GROUP BY chunks.doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_chunks, 0) AS n_chunks,
           coalesce(p.n_dup_chunks, 0) AS n_dup_chunks,
           round(CAST(coalesce(p.n_dup_chunks, 0) AS DOUBLE)
                 / greatest(coalesce(p.n_chunks, 0), 1), 6) AS dup_ratio,
           (coalesce(p.n_dup_chunks, 0) * 5 <= coalesce(p.n_chunks, 0)) AS keep
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
    doc="RefinedWeb/CCNet-style duplicated-chunk fraction: split each doc "
    "into non-overlapping 20-token chunks, a chunk is boilerplate when its "
    "hash occurs >=2 times corpus-wide (within- or cross-doc); docs are "
    "kept when <=20% of their chunks are duplicated (integer-exact gate, "
    "no float compare). Scale shape: map-only chunking (fan-out len/20, "
    "chunk identity independent of partitioning), one shuffle on the "
    "16-byte chunk hash for corpus frequencies, AQE join back on that "
    "hash, one per-doc re-agg — never all-pairs, never a driver loop.",
)
def q_chunk_dup_rate(spark, sf_dir):
    W = 20
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select("doc_id", toks.alias("t"))
    n = F.floor(F.size(F.col("t")) / W).cast("int")
    # Guard: sequence(0, n-1) turns DESCENDING for n=0 (same trap as
    # functions.text.shingles) — short docs must yield zero chunks.
    idx = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    # Hash inside the transform so the exploded rows carry 16-byte md5s,
    # not the token array (row width stays constant as docs grow).
    hashes = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i * W + 1, W)))
    )
    chunks = base.select("doc_id", F.explode(hashes).alias("h"))
    # Corpus chunk frequency as a window over the hash, NOT a groupBy +
    # join-back: the join form re-tokenizes the whole corpus a second
    # time (two full scans at 100 TB); the window form shuffles the
    # 16-byte hashes once and counts within each hash group in place.
    from pyspark.sql import Window

    c = F.count(F.lit(1)).over(Window.partitionBy("h"))
    per_doc = (
        chunks.withColumn("c", c)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("n_dup_chunks"),
        )
    )
    return d.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
        F.round(
            F.coalesce("n_dup_chunks", F.lit(0)).cast("double")
            / F.greatest(F.coalesce("n_chunks", F.lit(0)), F.lit(1)),
            6,
        ).alias("dup_ratio"),
        (
            F.coalesce("n_dup_chunks", F.lit(0)) * 5
            <= F.coalesce("n_chunks", F.lit(0))
        ).alias("keep"),
    )


@register(
    "q_split_leakage",
    rf"""
    WITH {_JACCARD_PAIRS_CTES},
    splits AS (
        SELECT doc_id,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           count(*) AS n_pairs,
           round(avg(jaccard), 6) AS avg_jaccard
    FROM pairs
    JOIN splits sa ON sa.doc_id = pairs.id_a
    JOIN splits sb ON sb.doc_id = pairs.id_b
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Split-leakage audit: near-dup pairs (exact Jaccard >= 0.1, same "
    "inverted-index path as q_near_dup_jaccard) bucketed by the train/val/"
    "test membership of both endpoints — the cross-split rows are eval "
    "contamination that inflates benchmark scores. Composition of the "
    "dedup and hash-split operators: split membership is a pure function "
    "of doc_id (no extra scan or join against a split table), so the "
    "audit costs one projection on top of the pair generation.",
)
def q_split_leakage(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    pairs = jaccard_pairs(
        d, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.1,
        max_shingle_df=100,
    )

    def split_of(c):
        h = F.substring(F.md5(c.cast("string")), 1, 2)
        return F.when(h < "cd", "train").when(h < "e6", "val").otherwise("test")

    tagged = pairs.select(
        split_of(F.col("id_a")).alias("sa"),
        split_of(F.col("id_b")).alias("sb"),
        "jaccard",
    )
    return (
        tagged.groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("split_a", "split_b")
    )


@register(
    "q_ngram_containment",
    rf"""
    WITH {_JACCARD_PAIRS_CTES},
    contained AS (
        SELECT id_a, id_b, n_common,
               CAST(n_common AS DOUBLE) / sa.n_sh AS cont_a_in_b,
               CAST(n_common AS DOUBLE) / sb.n_sh AS cont_b_in_a
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, n_common,
           round(cont_a_in_b, 6) AS cont_a_in_b,
           round(cont_b_in_a, 6) AS cont_b_in_a,
           round(greatest(cont_a_in_b, cont_b_in_a), 6) AS containment
    FROM contained
    WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.5
    """,
    doc="ASYMMETRIC near-dup: n-gram CONTAINMENT — "
    "max(n_common/n_a, n_common/n_b), the fraction of the smaller "
    "document's shingles found in the other. The dedup lens symmetric "
    "Jaccard is blind to: a short document quoted whole inside a long "
    "one has near-1 containment but tiny Jaccard (the union is "
    "dominated by the long side). Shares the inverted-index pipeline "
    "and >100-doc shingle DF skew guard with q_near_dup_jaccard "
    "(operators.dedup._shingle_pair_stats — linear in postings, never "
    "all-pairs); the ratios are exact-integer divisions, bit-identical "
    "across engines. Both directed ratios are emitted so a consumer "
    "can tell container from containee.",
)
def q_ngram_containment(spark, sf_dir):
    from ..operators.dedup import containment_pairs

    d = spread(load_table(spark, sf_dir, "documents"))
    pairs = containment_pairs(
        d, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.5,
        max_shingle_df=100,
    )
    return pairs.select(
        "id_a",
        "id_b",
        "n_common",
        F.round("cont_a_in_b", 6).alias("cont_a_in_b"),
        F.round("cont_b_in_a", 6).alias("cont_b_in_a"),
        F.round("containment", 6).alias("containment"),
    )


@register(
    "q_bloom_decontaminate",
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), eval_grams AS (
        SELECT DISTINCT s FROM (
            SELECT unnest({_SHINGLES5_SQL}) AS s
            FROM w WHERE doc_id % 53 = 0 AND len(toks) >= 5
        )
    ), train AS (
        SELECT doc_id, list_distinct({_SHINGLES5_SQL}) AS grams
        FROM w WHERE doc_id % 53 <> 0 AND len(toks) >= 5
    ), sh AS (
        SELECT doc_id, unnest(grams) AS s FROM train
    ), hits AS (
        SELECT doc_id, count(*) AS n_hits
        FROM sh JOIN eval_grams USING (s)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.grams) AS n_grams,
           coalesce(h.n_hits, 0) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / len(t.grams), 6)
               AS hit_frac,
           CAST(coalesce(h.n_hits, 0) AS DOUBLE) / len(t.grams) >= 0.05
               AS is_contaminated
    FROM train t LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Decontamination, BLOOM-PREFILTERED scale path: q_decontaminate's "
    "exact semantics through a different physical strategy for the case "
    "where the eval n-gram set outgrows a broadcast-join hash table "
    "(~50+ bytes/entry) but a bit-packed Bloom filter (~10 bits/key) "
    "still fits. Build: k=4 xxhash64 positions per eval gram folded into "
    "64-bit words by a bit_or hash aggregate — the driver collects at "
    "most m/64 = 4096 rows (the BITMAP size, not the eval-set size). "
    "Probe: the bitmap ships as a 1-row broadcast column (a large array LITERAL is re-materialized per row — measured 5x slower) and "
    "each corpus gram is k element_at+shift+mask tests — pure JVM "
    "codegen, no join, no corpus-side shuffle. Survivors (true hits + "
    "~(1-e^(-kn/m))^k false positives) then pass the exact broadcast "
    "confirm join: no false negatives by construction, so the final "
    "answer is EXACT and the oracle is the plain exact SQL — the "
    "hash-parity check proves the prefilter preserved semantics. "
    "operators/bloom.py.",
)
def q_bloom_decontaminate(spark, sf_dir):
    from ..operators.bloom import bloom_build, bloom_prefilter

    M_BITS, K = 1 << 18, 4
    d = spread(load_table(spark, sf_dir, "documents"))
    toksed = d.select("doc_id", T.tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 5
    )
    base = toksed.select(
        "doc_id",
        F.array_distinct(T.shingles_from_tokens(F.col("toks"), 5)).alias("grams"),
    ).localCheckpoint()
    eval_grams = (
        base.where(F.col("doc_id") % 53 == 0)
        .select(F.explode("grams").alias("s"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    words = bloom_build(eval_grams, col="s", m_bits=M_BITS, k=K)
    train = base.where(F.col("doc_id") % 53 != 0)
    candidates = bloom_prefilter(
        train.select("doc_id", F.explode("grams").alias("s")),
        "s", words, m_bits=M_BITS, k=K,
    )
    hits = (
        candidates.join(F.broadcast(eval_grams), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    frac = n_hits.cast("double") / F.size("grams")
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            n_hits.alias("n_hits"),
            F.round(frac, 6).alias("hit_frac"),
            (frac >= 0.05).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_bm25",
    r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ), base AS (
        SELECT doc_id, toks, len(toks) AS dl FROM w
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base
    ), tf AS (
        SELECT doc_id, dl, s, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS s FROM base)
        WHERE s IN ('hash', 'join', 'vector')
        GROUP BY doc_id, dl, s
    ), df AS (
        SELECT s, count(*) AS df FROM tf GROUP BY s
    ), scored AS (
        SELECT tf.doc_id,
               CAST(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                    * tf.tf * (1.2 + 1.0)
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))
                    AS DECIMAL(18,8)) AS part
        FROM tf JOIN df USING (s) CROSS JOIN stats
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_matched,
           floor(CAST(sum(part) AS DOUBLE) * 10000 + 0.5) / 10000 AS bm25
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Okapi BM25 corpus scoring for the query terms "
    "('hash', 'join', 'vector') — the lexical retrieval leg beside the "
    "vector kNN (q_knn_exact) in a hybrid RAG stack. Robertson idf "
    "ln((N-df+0.5)/(df+0.5)+1), k1=1.2, b=0.75. Plan shape: tokenize "
    "once; (N, avgdl) is a 1-row aggregate broadcast (the allowlisted "
    "scalar-subquery NLJ); the explode is filtered TO THE QUERY TERMS "
    "before any shuffle, so the shuffled stream is |terms| matches per "
    "doc, not the token stream; per-term document frequencies are a "
    "|terms|-row broadcast join. Per-term partials cast to "
    "DECIMAL(18,8) so the per-doc sum is order-insensitive — "
    "bit-reproducible whatever Spark's aggregation order (ln precedent: "
    "q_unigram_logprob).",
)
def q_bm25(spark, sf_dir):
    from ..functions.scalars import stable_round
    from ..operators.retrieval import bm25_scores

    d = spread(load_table(spark, sf_dir, "documents"))
    out = bm25_scores(d, ["hash", "join", "vector"], k1=1.2, b=0.75)
    return out.select(
        "doc_id",
        "n_matched",
        stable_round(F.col("bm25"), 4).alias("bm25"),
    ).orderBy("doc_id")


@register(
    "q_heavy_hitters",
    r"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS item
        FROM documents
    )
    SELECT item, CAST(count(*) AS BIGINT) AS cnt,
           floor(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM toks)
                 * 1000000 + 0.5) / 1000000 AS share
    FROM toks
    GROUP BY item
    HAVING count(*) * 50 > (SELECT count(*) FROM toks)
    ORDER BY cnt DESC, item
    """,
    doc="Exact heavy hitters (tokens with frequency > N/50) via the "
    "two-pass Misra-Gries shape: per-partition MG summaries (<= 50 "
    "candidate rows per task, O(k) state, Arrow-batched) whose union "
    "is a pigeonhole-guaranteed SUPERSET of the answer, then a "
    "broadcast semi-join recount of only the candidates with the "
    "exact N/k threshold. The wide groupBy over the full vocabulary "
    "(billions of mostly-singleton keys at 100 TB) never happens — "
    "the shuffle is bounded by partitions x k — yet the output is "
    "exact and partitioning-independent (false candidates die at the "
    "threshold; true hitters cannot be missed). operators/frequency.py.",
)
def q_heavy_hitters(spark, sf_dir):
    from ..operators.frequency import heavy_hitters

    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("item"))
    out = heavy_hitters(toks, "item", k=50)
    return out.select(
        "item",
        "cnt",
        stable_round(F.col("share"), 6).alias("share"),
    ).orderBy(F.desc("cnt"), "item")


@register(
    "q_char_entropy",
    r"""
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents
    ), freq AS (
        SELECT doc_id, ch, count(*) AS c
        FROM chars WHERE ch <> '' GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round((ln(CAST(sum(c) AS DOUBLE))
                  - sum(c * ln(CAST(c AS DOUBLE))) / sum(c))
                 / 0.6931471805599453, 4) AS entropy_bits
    FROM freq GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Per-document character-level Shannon entropy in bits (plus "
    "char counts) — the compressibility/quality gate that catches "
    "degenerate or repetitive text (low entropy) and binary-ish noise "
    "(high entropy). Algebraic form H = log2(n) - (sum c*log2 c)/n "
    "needs only the per-(doc, char) counts: explode chars -> one hash "
    "aggregate on (doc_id, ch) -> one on doc_id, all map-side "
    "combined; cost is linear in corpus characters (the honest price "
    "of char-grain stats, same shape as the tokenization queries).",
)
def q_char_entropy(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"))
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    sln = F.sum(F.col("c") * F.log(F.col("c").cast("double")))
    return (
        freq.groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(
                (F.log(n.cast("double")) - sln / n) / F.lit(0.6931471805599453), 4
            ).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_bigram_logprob",
    r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')), '\s+') AS toks
        FROM documents
    ), bg AS (
        SELECT doc_id, unnest("""
    + _SHINGLES2_SQL
    + r""") AS bigram
        FROM w WHERE len(toks) >= 2
    ), ctx AS (
        SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1 FROM bg
    ), c2 AS (
        SELECT bigram, count(*) AS cnt2 FROM ctx GROUP BY bigram
    ), c1 AS (
        SELECT w1, count(*) AS cnt1 FROM ctx GROUP BY w1
    ), vocab AS (
        SELECT count(DISTINCT split_part(bigram, ' ', 2)) AS v FROM ctx
    ), terms AS (
        SELECT doc_id,
               CAST(ln((cnt2 + 0.5::DOUBLE)
                       / (cnt1 + 0.5::DOUBLE * v)) AS DECIMAL(18,8)) AS t
        FROM ctx JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN vocab
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           floor(CAST(sum(t) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
               AS avg_logprob
    FROM terms GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Self-trained BIGRAM LM scoring (the perplexity curation filter "
    "one order up from q_unigram_logprob): corpus conditional counts "
    "c(w1 w2)/c(w1·) with add-0.5 smoothing over the second-token "
    "vocabulary, then per-doc mean log-probability. Per-term logs are "
    "cast to DECIMAL(18,8) before the per-doc sum (the q_bm25 "
    "discipline) so distributed accumulation order can't flip the "
    "hash. Counts shuffle with map-side combine; the bigram and "
    "context tables are Zipf-small relative to the corpus, so at scale "
    "scoring degrades to two broadcast joins over one corpus pass.",
)
def q_bigram_logprob(spark, sf_dir):
    import market_analyze_data_stream_processing_spark.functions.text as T
    from ..functions.scalars import stable_round

    # The exploded bigram stream feeds FOUR consumers (c2, c1, vocab,
    # probe side) and the plan showed zero exchange reuse: tokenize +
    # explode executed four times per run, serialized on the single
    # input split. spread() parallelizes the tokenize across cores and
    # a lazy localCheckpoint pins the stream so it tokenizes ONCE (the
    # q_decontaminate / node_overlap discipline). At 100 TB this is the
    # staged token table every n-gram LM build materializes anyway.
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", T.tokens(T.portable_lower(F.col("text"))).alias("toks")
    ).where(F.size("toks") >= 2)
    ctx = toks.select(
        "doc_id",
        F.explode(T.shingles_from_tokens(F.col("toks"), n=2)).alias("bigram"),
    ).withColumn(
        "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    ).localCheckpoint(eager=False)
    c2 = ctx.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = ctx.groupBy("w1").agg(F.count(F.lit(1)).alias("cnt1"))
    vocab = ctx.select(
        F.countDistinct(F.split_part(F.col("bigram"), F.lit(" "), F.lit(2))).alias("v")
    )
    term = F.log(
        (F.col("cnt2") + F.lit(0.5)) / (F.col("cnt1") + F.lit(0.5) * F.col("v"))
    ).cast("decimal(18,8)")
    # Round-15 lowering: score at the BIGRAM level, not the occurrence
    # level. The term is a pure function of the bigram (cnt2, cnt1 of
    # its w1, v), so the former plan's two full-occurrence-stream joins
    # (ctx ⋈ c2 by bigram, then ⋈ c1 by w1 — two exchanges + two sorts
    # of every occurrence) collapse to one DISTINCT-BIGRAM-level join
    # chain (c2 ⋈ c1 ⋈ vocab) probed by per-(doc, bigram)
    # multiplicities. Σ_occurrences term ≡ Σ_distinct mult·term exactly:
    # term is a DECIMAL(18,8) grid value and mult an integer, so the
    # product is the same repeated addition, order-free — bit-identical
    # avg_logprob, same n_bigrams = Σ mult.
    occ = ctx.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("mult"))
    bterm = (
        c2.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("bigram", term.alias("__t"))
    )
    return (
        occ.join(bterm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("mult").alias("n_bigrams"),
            stable_round(
                F.sum(F.col("mult").cast("decimal(10,0)") * F.col("__t")).cast(
                    "double"
                )
                / F.sum("mult"),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_readability",
    r"""
    WITH m AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
               len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syllables,
               greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences
        FROM documents
    )
    SELECT doc_id, n_words, n_syllables,
           CASE WHEN n_words > 0 THEN
             floor((206.835
                    - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                    - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)))
                   * 10000 + 0.5) / 10000
           END AS fre
    FROM m ORDER BY doc_id
    """,
    doc="Flesch reading ease per document with the classic vowel-group "
    "syllable heuristic (a maximal [aeiouy]+ run ≈ one syllable; "
    "letters-only word tokens; sentence count floors at 1 because the "
    "synthetic corpus carries no terminal punctuation — real corpora "
    "exercise the [.!?]+ splitter, same expression). Three "
    "regexp_extract_all counts per row, all codegen'd — a 100 TB "
    "readability pass is map-only with zero shuffles.",
)
def q_readability(spark, sf_dir):
    from ..functions.scalars import stable_round

    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+"), F.lit(0)))
    n_syl = F.size(
        F.regexp_extract_all("text", F.lit("[aeiouyAEIOUY]+"), F.lit(0))
    )
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0)))
    )
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_syl.alias("n_syllables"),
        n_sent.alias("n_sentences"),
    )
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences").cast("double"))
        - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words").cast("double"))
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_syllables",
        F.when(F.col("n_words") > 0, stable_round(fre, 4)).alias("fre"),
    ).orderBy("doc_id")


@register(
    "q_weighted_sample",
    r"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               list_sum(list_transform(generate_series(1, 8),
                   i -> (strpos('0123456789abcdef',
                                substr(md5(CAST(doc_id AS VARCHAR)), i, 1))
                         - 1)
                        * CAST(16 ** (8 - i) AS BIGINT))) AS u_int
        FROM documents WHERE n_chars > 0
    ), scored AS (
        SELECT doc_id, n_chars,
               floor(ln((u_int + 1) / 4294967296.0) / n_chars
                     * 1000000000000 + 0.5) / 1000000000000 AS priority
        FROM keyed
    )
    SELECT doc_id, n_chars, priority
    FROM scored
    ORDER BY priority DESC, doc_id
    LIMIT 25
    """,
    doc="Deterministic WEIGHTED sampling without replacement "
    "(Efraimidis–Spirakis A-ES): each doc draws u ∈ (0,1] from "
    "md5(doc_id) (no RNG — replays and retries pick identical members, "
    "the q_hash_split discipline) and scores priority = ln(u)/weight "
    "with weight = n_chars; the global top-k by priority IS a weighted "
    "sample without replacement. Longer docs are proportionally "
    "likelier — the importance-sampling primitive for token-budgeted "
    "corpus draws. Map-only scoring + TakeOrderedAndProject top-k "
    "(per-partition heaps, no global sort); priorities are rounded "
    "BEFORE the ordering so boundary ties break identically by doc_id "
    "on any engine. The u integer is the md5 prefix's VALUE, so Spark "
    "derives it with conv(hex) while the oracle folds digits — "
    "different mechanisms, identical integer.",
)
def q_weighted_sample(spark, sf_dir):
    from ..functions.scalars import stable_round

    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u_int = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (u_int + 1) / F.lit(4294967296.0)
    priority = stable_round(F.log(u) / F.col("n_chars"), 12)
    return (
        d.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy(F.desc("priority"), "doc_id")
        .limit(25)
    )


@register(
    "q_boolean_search",
    r"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')), '\s+')) AS tok
        FROM documents
    ), hits AS (
        SELECT doc_id, count(*) AS n_matched
        FROM toks WHERE tok IN ('spark', 'join', 'window')
        GROUP BY doc_id
        HAVING count(*) = 3
    ), tf AS (
        SELECT doc_id, count(*) AS total_tf
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')), '\s+')) AS tok
            FROM documents
        )
        WHERE tok IN ('spark', 'join', 'window')
        GROUP BY doc_id
    )
    SELECT h.doc_id, CAST(t.total_tf AS BIGINT) AS total_tf
    FROM hits h JOIN tf t ON t.doc_id = h.doc_id
    ORDER BY h.doc_id
    """,
    doc="Conjunctive boolean retrieval (AND of all query terms): the "
    "postings-intersection primitive under every keyword filter. The "
    "intersection is COUNT-MATCHED — distinct (doc, term) hits per doc "
    "must equal |query| — which is one filtered aggregate instead of "
    "|query|−1 self-joins; a term-frequency tally over the same scan "
    "gives the relevance hint. The term filter prunes the exploded "
    "postings BEFORE any shuffle, so cost tracks matching postings, "
    "not corpus tokens. Complements q_bm25 (ranked) with the exact "
    "boolean leg of hybrid retrieval.",
)
def q_boolean_search(spark, sf_dir):
    import market_analyze_data_stream_processing_spark.functions.text as T

    terms = ["spark", "join", "window"]
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(T.tokens(T.portable_lower(F.col("text")))).alias("tok")
    ).where(F.col("tok").isin(terms))
    hits = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .where(F.col("n_matched") == len(terms))
    )
    tf = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("total_tf"))
    return (
        hits.join(tf, "doc_id")
        .select("doc_id", F.col("total_tf").cast("long").alias("total_tf"))
        .orderBy("doc_id")
    )


@register(
    "q_oov_rate",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')), '\s+')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS cnt,
                   row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
            FROM toks GROUP BY tok
        ) WHERE rk <= 30
    )
    SELECT t.doc_id,
           count(*)::BIGINT AS n_tok,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           floor(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
               AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
    doc="Tokenizer vocabulary coverage: induce a top-30 frequency "
    "vocabulary from the corpus itself (deterministic count-then-token "
    "tiebreak), then score every document's out-of-vocabulary token "
    "rate against it — the coverage audit run before committing a "
    "tokenizer or a fixed vocab to a training run. The vocab is "
    "Zipf-tiny and broadcast; scoring is one left join + one hash "
    "aggregate over the postings, counts exact LONGs. At 100 TB the "
    "vocab induction is the only shuffle (map-side combined), and a "
    "frozen production vocab replaces it with a pure broadcast.",
)
def q_oov_rate(spark, sf_dir):
    from pyspark.sql import Window

    import market_analyze_data_stream_processing_spark.functions.text as T
    from ..functions.scalars import stable_round

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(T.tokens(T.portable_lower(F.col("text")))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    rk = Window.orderBy(F.desc("cnt"), "tok")
    vocab = (
        freq.withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= 30)
        .select(F.col("tok").alias("vtok"))
    )
    j = toks.join(
        F.broadcast(vocab), toks.tok == vocab.vtok, "left"
    )
    oov = F.sum(F.when(F.col("vtok").isNull(), 1).otherwise(0))
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            oov.cast("long").alias("n_oov"),
            stable_round(oov / F.count(F.lit(1)).cast("double"), 6).alias(
                "oov_rate"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "q_cohen_kappa",
    r"""
    WITH gates AS (
        SELECT doc_id,
               CAST(n_chars >= 300 AS INT) AS a,
               CAST(len(list_distinct(regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')),
                                                            '\s+')))
                    / CAST(greatest(len(regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')),
                                                              '\s+')), 1)
                           AS DOUBLE) >= 0.5 AS INT) AS b
        FROM documents
    ), cells AS (
        SELECT count(*) AS n,
               sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
               sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10,
               sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01,
               sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00
        FROM gates
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           floor(((n11 + n00) / CAST(n AS DOUBLE)
                  - ((n11 + n10) * (n11 + n01)
                     + (n01 + n00) * (n10 + n00)) / (CAST(n AS DOUBLE) * n))
                 / (1.0 - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00))
                          / (CAST(n AS DOUBLE) * n))
                 * 1000000 + 0.5) / 1000000 AS kappa
    FROM cells
    """,
    doc="Cohen's kappa agreement between two deterministic document "
    "gates (length ≥ 300 chars vs unique-token ratio ≥ 0.5) — the "
    "inter-annotator / classifier-agreement statistic every labeling "
    "and auto-curation pipeline reports: observed agreement corrected "
    "for chance agreement from the marginals. One scan builds the 2×2 "
    "contingency cells as exact LONGs; kappa is one fixed-order double "
    "expression on the single summary row. Swap any two boolean "
    "columns in — the operator is the contingency + kappa shape.",
)
def q_cohen_kappa(spark, sf_dir):
    import market_analyze_data_stream_processing_spark.functions.text as T
    from ..functions.scalars import stable_round

    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens(T.portable_lower(F.col("text")))
    uniq_ratio = F.size(F.array_distinct(toks)) / F.greatest(
        F.size(toks), F.lit(1)
    ).cast("double")
    gates = d.select(
        (F.col("n_chars") >= 300).cast("int").alias("a"),
        (uniq_ratio >= 0.5).cast("int").alias("b"),
    )
    cells = gates.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)).alias("n11"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)).alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)).alias("n01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0)).alias("n00"),
    )
    nD = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / nD
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ) / (nD * F.col("n"))
    return cells.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        stable_round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


@register(
    "q_source_diversity",
    r"""
    WITH counts AS (
        SELECT source, lang, count(*) AS n
        FROM documents GROUP BY 1, 2
    ), terms AS (
        SELECT source, n,
               sum(n) OVER (PARTITION BY source) AS tot,
               count(*) OVER (PARTITION BY source) AS n_langs,
               CAST(-(n / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE))
                    * ln(n / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE))
                    AS DECIMAL(28,12)) AS t
        FROM counts
    )
    SELECT source,
           CAST(max(tot) AS BIGINT) AS n_docs,
           CAST(max(n_langs) AS BIGINT) AS n_langs,
           floor(CAST(sum(t) AS DOUBLE) * 1000000 + 0.5) / 1000000
               AS lang_entropy
    FROM terms GROUP BY source ORDER BY source
    """,
    doc="Corpus-mix diversity audit: Shannon entropy of the language "
    "distribution within each source — the metric a data-mixing stage "
    "watches so one domain doesn't silently collapse to a single "
    "language. One hash aggregate to the O(sources × langs) grid; each "
    "−p·ln p term is DECIMAL-quantized before the per-source sum "
    "(order-insensitive); a single-language source scores exactly 0.",
)
def q_source_diversity(spark, sf_dir):
    from ..functions.scalars import stable_round

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("source")
    p = F.col("n") / F.sum("n").over(w).cast("double")
    terms = counts.select(
        "source",
        F.sum("n").over(w).alias("tot"),
        F.count(F.lit(1)).over(w).alias("n_langs"),
        (-p * F.log(p)).cast("decimal(28,12)").alias("t"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("tot").cast("long").alias("n_docs"),
            F.max("n_langs").cast("long").alias("n_langs"),
            stable_round(F.sum("t").cast("double"), 6).alias("lang_entropy"),
        )
        .orderBy("source")
    )


@register(
    "q_collocations",
    r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')), '\s+') AS toks
        FROM documents
    ), uni AS (
        SELECT unnest(toks) AS tok FROM w
    ), ucnt AS (
        SELECT tok, count(*) AS c1 FROM uni GROUP BY tok
    ), utot AS (
        SELECT count(*) AS n FROM uni
    ), bg AS (
        SELECT unnest("""
    + _SHINGLES2_SQL
    + r""") AS bigram
        FROM w WHERE len(toks) >= 2
    ), bcnt AS (
        SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram
        HAVING count(*) >= 5
    ), scored AS (
        SELECT b.bigram, b.c2,
               floor(ln(CAST(b.c2 AS DOUBLE) * n
                        / (CAST(ua.c1 AS DOUBLE) * ub.c1))
                     * 1000000 + 0.5) / 1000000 AS pmi
        FROM bcnt b
        JOIN ucnt ua ON ua.tok = split_part(b.bigram, ' ', 1)
        JOIN ucnt ub ON ub.tok = split_part(b.bigram, ' ', 2)
        CROSS JOIN utot
    )
    SELECT bigram, CAST(c2 AS BIGINT) AS c2, pmi
    FROM scored
    ORDER BY pmi DESC, bigram
    LIMIT 25
    """,
    doc="Collocation mining: top-25 adjacent word pairs by pointwise "
    "mutual information PMI = ln(N·c(ab)/(c(a)·c(b))) with a min-count "
    "floor of 5 (the sparse-pair variance guard) — the phrase-"
    "detection primitive behind tokenizer merge rules and multiword "
    "vocab entries. Unigram and bigram counts are two map-side-"
    "combined aggregates over one corpus scan each; the Zipf-small "
    "count tables join broadcast-style; N is a 1-row contract scalar. "
    "PMI is rounded BEFORE the top-k ordering so boundary ties break "
    "identically by bigram on any engine.",
)
def q_collocations(spark, sf_dir):
    import market_analyze_data_stream_processing_spark.functions.text as T
    from ..functions.scalars import stable_round

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(T.tokens(T.portable_lower(F.col("text"))).alias("toks"))
    uni = toks.select(F.explode("toks").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    utot = uni.agg(F.count(F.lit(1)).alias("n"))
    bg = toks.where(F.size("toks") >= 2).select(
        F.explode(T.shingles_from_tokens(F.col("toks"), n=2)).alias("bigram")
    )
    bcnt = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c2"))
        .where(F.col("c2") >= 5)
    )
    ua = ucnt.select(F.col("tok").alias("t1"), F.col("c1").alias("ca"))
    ub = ucnt.select(F.col("tok").alias("t2"), F.col("c1").alias("cb"))
    scored = (
        bcnt.withColumn("t1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("t2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(ua, "t1")
        .join(ub, "t2")
        .crossJoin(F.broadcast(utot))
        .select(
            "bigram",
            "c2",
            stable_round(
                F.log(
                    F.col("c2").cast("double")
                    * F.col("n")
                    / (F.col("ca").cast("double") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return (
        scored.select("bigram", F.col("c2").cast("long").alias("c2"), "pmi")
        .orderBy(F.desc("pmi"), "bigram")
        .limit(25)
    )


@register(
    "q_dup_rate_by_source",
    """
    WITH fp AS (
        SELECT source,
               md5(trim(translate(lower(translate(regexp_replace(text, '\\s+', ' ', 'g'), 'İ', 'i')), 'ς', 'σ'))) AS h
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup_docs,
           floor((count(*) - count(DISTINCT h)) / CAST(count(*) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS dup_rate
    FROM fp GROUP BY source ORDER BY source
    """,
    doc="Duplicate-rate scorecard per source: normalized-text md5 "
    "fingerprints (the q_doc_exact_dedup canonicalization) reduced to "
    "docs − distinct(fingerprints) per source — the per-provider "
    "contamination report a curation pipeline publishes after every "
    "crawl drop. One hash aggregate with a single distinct; counts "
    "exact LONGs. At 100 TB the distinct partial-aggregates per "
    "partition before the shuffle, so the wire carries fingerprints, "
    "not documents.",
)
def q_dup_rate_by_source(spark, sf_dir):
    from ..functions.scalars import stable_round

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.trim(T.portable_lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    )
    fp = d.select("source", h.alias("h"))
    n = F.count(F.lit(1))
    ndup = n - F.countDistinct("h")
    return (
        fp.groupBy("source")
        .agg(
            n.alias("n_docs"),
            ndup.cast("long").alias("n_dup_docs"),
            stable_round(ndup / n.cast("double"), 6).alias("dup_rate"),
        )
        .orderBy("source")
    )


@register(
    "q_ngram_novelty",
    r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')), '\s+') AS toks
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, unnest("""
    + _SHINGLES_SQL
    + r""") AS s
            FROM w WHERE len(toks) >= 3
        )
    ), df AS (
        SELECT s, count(*) AS df FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           count(*)::BIGINT AS n_grams,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           floor(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
               AS novelty
    FROM sh JOIN df USING (s)
    GROUP BY sh.doc_id ORDER BY sh.doc_id
    """,
    doc="N-gram novelty score: the share of a document's DISTINCT word "
    "3-grams that appear in NO other document (corpus document "
    "frequency 1) — high novelty marks unique content, low novelty "
    "marks boilerplate and near-duplicates; the inverse signal of the "
    "dedup family computed on the SAME shingle representation "
    "(operators/dedup's 3-gram convention). Two hash aggregates over "
    "the postings — df is Zipf-small; the df=1 test needs no per-pair "
    "work at all, making this the cheapest memorization screen in the "
    "curation toolbox.",
)
def q_ngram_novelty(spark, sf_dir):
    import market_analyze_data_stream_processing_spark.functions.text as T
    from ..functions.scalars import stable_round

    # The distinct posting set feeds TWO consumers (the df aggregate
    # and the probe side of the join) with zero exchange reuse —
    # tokenize + explode + dedup executed twice, serialized on the
    # single local input split. spread() parallelizes the tokenize and
    # a lazy localCheckpoint pins the postings so they materialize ONCE
    # (the q_bigram_logprob / node_overlap discipline).
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", T.tokens(T.portable_lower(F.col("text"))).alias("toks"))
    sh = (
        toks.where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(T.shingles_from_tokens(F.col("toks"), n=3)).alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Round-15 joinless lowering (guide §2.4): the round-14 form joined
    # the full posting stream back onto its own df aggregate — the 10×
    # corpus paid two SMJ sorts of the whole stream plus the join, and
    # it was the worst kept per-decade ratio of round 14 (4.2×/decade
    # at sf1). df(s) = 1 means the shingle has exactly ONE posting, so
    # its owning doc is recoverable from the SAME per-shingle aggregate
    # that computes df (min(doc_id) == the only doc). n_novel per doc
    # then falls out of a tiny second aggregate over the df=1 rows, and
    # the full-stream join disappears: per-doc gram counts and per-doc
    # novel counts meet in a |docs|-row co-partitioned join instead.
    # Bit-exact: same counts, same rounding, same rows.
    per_sh = sh.groupBy("s").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("only_doc")
    )
    novel = (
        per_sh.where(F.col("df") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    grams = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    nn = F.coalesce(F.col("n_novel"), F.lit(0))
    return (
        grams.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            nn.cast("long").alias("n_novel"),
            stable_round(nn / F.col("n_grams").cast("double"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "q_lang_confusion",
    r"""
    WITH h AS (
        SELECT lang,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(the|and|of|to|is|in|that|it|for|with)\b')) AS h_en,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b')) AS h_de,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(le|la|les|et|est|une|pas|pour|que|dans)\b')) AS h_fr,
               len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), '\b(el|los|las|es|una|por|para|con|del|como)\b')) AS h_es
        FROM documents
    ), pred AS (
        SELECT lang AS actual_lang,
               CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'unknown'
                    WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                    WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                    WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                    WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
               END AS pred_lang
        FROM h
    ), cells AS (
        SELECT actual_lang, pred_lang, count(*) AS n
        FROM pred GROUP BY 1, 2
    )
    SELECT actual_lang, pred_lang, CAST(n AS BIGINT) AS n,
           floor(n / CAST(sum(n) OVER (PARTITION BY actual_lang) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS recall_share,
           floor(n / CAST(sum(n) OVER (PARTITION BY pred_lang) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS precision_share
    FROM cells ORDER BY actual_lang, pred_lang
    """,
    doc="Classifier evaluation matrix: the lang-ID heuristic's full "
    "confusion matrix against the labeled lang column, each cell "
    "annotated with its recall share (within the actual language) and "
    "precision share (within the prediction) — the per-class "
    "diagnostics behind every auto-labeling QA report, computed on the "
    "O(langs²) grid after ONE corpus scan + one hash aggregate. "
    "Counts exact; two normalizing windows run on the tiny grid.",
)
def q_lang_confusion(spark, sf_dir):
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("actual_lang"),
        T.lang_id(F.col("text")).alias("pred_lang"),
    )
    cells = pred.groupBy("actual_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    wa = Window.partitionBy("actual_lang")
    wp = Window.partitionBy("pred_lang")
    return cells.select(
        "actual_lang",
        "pred_lang",
        F.col("n").cast("long").alias("n"),
        stable_round(F.col("n") / F.sum("n").over(wa).cast("double"), 6).alias(
            "recall_share"
        ),
        stable_round(F.col("n") / F.sum("n").over(wp).cast("double"), 6).alias(
            "precision_share"
        ),
    ).orderBy("actual_lang", "pred_lang")


@register(
    "q_zipf_fit",
    r"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ')), '\s+')) AS tok
        FROM documents
    ), freq AS (
        SELECT tok, count(*) AS f FROM toks GROUP BY tok
    ), ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rk
        FROM freq
    ), pts AS (
        SELECT CAST(ln(CAST(rk AS DOUBLE)) AS DECIMAL(28,12)) AS x,
               CAST(ln(CAST(f AS DOUBLE)) AS DECIMAL(28,12)) AS y,
               CAST(floor(ln(CAST(rk AS DOUBLE)) * ln(CAST(f AS DOUBLE))
                          * 1000000000000 + 0.5) / 1000000000000
                    AS DECIMAL(38,12)) AS xy,
               CAST(floor(ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))
                          * 1000000000000 + 0.5) / 1000000000000
                    AS DECIMAL(38,12)) AS xx
        FROM ranked WHERE rk <= 30
    )
    SELECT count(*)::BIGINT AS n_points,
           floor((count(*) * CAST(sum(xy) AS DOUBLE)
                  - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
                 / (count(*) * CAST(sum(xx) AS DOUBLE)
                    - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS zipf_slope
    FROM pts
    """,
    doc="Zipf's-law fit: the least-squares slope of ln(frequency) on "
    "ln(rank) over the top-30 corpus tokens (a natural corpus follows "
    "slope ≈ −1; a synthetic or templated one deviates — the "
    "distributional-health check beside q_token_frequency's raw "
    "table). Rank ties break by token, so the point set is total-"
    "ordered; every fit moment (x, y, xy, x²) is stable_rounded and "
    "DECIMAL-quantized before the sums. One vocab aggregate + one "
    "top-k rank window on the Zipf-small frequency table.",
)
def q_zipf_fit(spark, sf_dir):
    from pyspark.sql import Window

    import market_analyze_data_stream_processing_spark.functions.text as T

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens(T.portable_lower(F.col("text")))).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    rk = Window.orderBy(F.desc("f"), "tok")
    ranked = freq.withColumn("rk", F.row_number().over(rk)).where(
        F.col("rk") <= 30
    )
    x = F.log(F.col("rk").cast("double"))
    y = F.log(F.col("f").cast("double"))
    pts = ranked.select(
        x.cast("decimal(28,12)").alias("x"),
        y.cast("decimal(28,12)").alias("y"),
        stable_round(x * y, 12).cast("decimal(38,12)").alias("xy"),
        stable_round(x * x, 12).cast("decimal(38,12)").alias("xx"),
    )
    n = F.count(F.lit(1))
    slope = (
        n * F.sum("xy").cast("double")
        - F.sum("x").cast("double") * F.sum("y").cast("double")
    ) / (
        n * F.sum("xx").cast("double")
        - F.sum("x").cast("double") * F.sum("x").cast("double")
    )
    return pts.agg(
        n.cast("long").alias("n_points"),
        stable_round(slope, 6).alias("zipf_slope"),
    )
