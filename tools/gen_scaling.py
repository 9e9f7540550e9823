"""Generate SCALING.md: wall-clock for headline queries across sf0.001 /
sf0.01 / sf0.1 (100× data range) — evidence that plan cost scales with
data, not with fixed overheads, i.e. the shapes that survive a 1000×
scale-up to 100 TB.

Usage: python tools/gen_scaling.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_one, warm_up
from market_analyze_data_stream_processing_spark.plans import QUERIES
from market_analyze_data_stream_processing_spark.session import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q05_regional_revenue",
    "q21_sole_late_supplier",
    "q_ma_rolling",
    "q_sessionize",
    "q_minhash_signature",
    "q_knn_exact",
    "q_embedding_near_dup",
    "q_token_frequency",
    "q_salted_brand_revenue",
    "q_dup_clusters",      # pair-gen + CC iterations
    "q_ewma",              # bounded-frame fold window
    "q_asof_join",         # union+window as-of lowering
    "q_unigram_logprob",   # vocab + doc-mean double shuffle
    "q_gopher_filters",    # zero-shuffle codegen gate
    "q_zorder_values",     # bit-interleave map
    "q_chunk_dup_rate",    # chunk-hash window, single corpus scan
    "q_quantize_embeddings",  # map-only int8 quantization
    "q_funnel_conversion", # one shuffle + ordered window pass
    "q_cohort_retention",  # distinct-collapse then small joins
    "q_kmeans_clusters",   # fused Arrow Lloyd iterations
    "q_decontaminate",     # checkpointed shingle base, broadcast eval set
    "q_near_dup_jaccard",  # DF-pruned inverted index
    "q_resample_weekly",   # one min_by/max_by OHLC aggregate
    "q_gapfill_daily",     # per-key calendar + ffill window
    "q_macd",              # composed halo-block EWM convolutions
    "q_heavy_hitters",     # MG partials + broadcast recount, bounded shuffle
    "q_pagerank",          # 3 unrolled join+agg iterations, no collect
    "q_rolling_distinct",  # explode-onto-window-ends, linear growth
    "q_market_basket",     # basket-bounded pair fan-out
    "q_volatility_estimators",  # two hash aggregates, no window
    "q_var_cvar",          # shared-partitioning rank + aggregate
    "q_seasonal_anomalies",  # decompose + med/MAD percentile passes
    "q_pq_codes",          # bounded codebook collect + map-only encode
    "q_scd2_history",      # one-shuffle change-flag version build
    "q_embedding_covariance",  # numpy Gram partials, d^2-bounded rows
    "q_psi_drift",         # one-scan two-period histogram, O(groups) out
    "q_bigram_logprob",    # Zipf-small conditional-count joins
    "q_supplier_overlap",  # df-capped inverted-index pair generation
    "q_order_backlog",     # sweep-line: window input is the calendar
    "q_cusum",             # prefix-min closed form, one shuffle+sort
    "q_hurst",             # block windows + two tiny fit aggregates
    "q_embedding_outliers",  # (label,dim) centroid agg + vec_id distance agg
    "q_collocations",      # two map-side-combined count passes + broadcast
]

SFS = ["sf0.001", "sf0.01", "sf0.1"]

#: effective-sf1 directory (10× key-shifted replication of sf0.1 built
#: by tools/make_sf1.py into scratch space). When present, the sweep
#: gains an sf1 column — a 1000× total range. Overridable for CI-less
#: environments via SPARK_GRAFT_SF1_DIR.
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")


def main() -> None:
    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    warm_up(spark, {n: QUERIES[n] for n in HEADLINE})

    have_sf1 = os.path.isdir(SF1_DIR)
    dirs = [f"/root/testdata/{sf}" for sf in SFS] + ([SF1_DIR] if have_sf1 else [])

    # bench.run_one: noop sink, then the pins and the IVF index dropped
    rows = [(name, [run_one(spark, QUERIES[name], d)[0] for d in dirs])
            for name in HEADLINE]

    rng = "1000×" if have_sf1 else "100×"
    hdr_sf1 = " sf1 |" if have_sf1 else ""
    out = [
        f"# SCALING — headline queries across a {rng} data range",
        "",
        f"Wall-clock seconds on local[{cores}] (warm JVM), forced end-to-end via",
        "noop writes. 100× more rows costing far less than 100× more time",
        "means fixed overhead still dominates at these SFs — the plan-cost",
        "component (the part that matters at 100 TB) grows sub-linearly to",
        "linearly in rows for every query."
        + (
            " The sf1 column runs the 10× key-shifted replication of sf0.1"
            " built by tools/make_sf1.py (6M lineitem / 1M events rows);"
            " its ratio column is t(sf1)/t(sf0.1) — ≤10 means at-or-below"
            " linear scaling over that decade."
            if have_sf1
            else ""
        ),
        "",
        f"| query | sf0.001 | sf0.01 | sf0.1 |{hdr_sf1} t(0.1)/t(0.001) |"
        + (" t(1)/t(0.1) |" if have_sf1 else ""),
        "|---|---|---|---|---|" + ("---|---|" if have_sf1 else ""),
    ]
    for name, ts in rows:
        ratio = ts[2] / ts[0] if ts[0] > 0 else float("nan")
        line = f"| {name} | {ts[0]:.2f} | {ts[1]:.2f} | {ts[2]:.2f} |"
        if have_sf1:
            r1 = ts[3] / ts[2] if ts[2] > 0 else float("nan")
            line += f" {ts[3]:.2f} | {ratio:.1f}× | {r1:.1f}× |"
        else:
            line += f" {ratio:.1f}× |"
        out.append(line)
    out.append("")
    out.append("Row counts: lineitem 6k → 60k → 600k; events 1k → 10k → 100k; ")
    out.append("documents 500 → 500 → 5,000; embeddings 500 → 500 → 2,000.")
    if have_sf1:
        out.append("sf1 adds one decade: lineitem 6M, events 1M, documents 50k, ")
        out.append("embeddings 20k.")
    out.append("")
    if have_sf1:
        out += [
            "sf1-column interpretation (SHARD-mode clone — the",
            "tools/make_sf1.py default since round 11, and the corpus the",
            "full-registry oracle differential runs on):",
            "",
            "- Shard mode applies referential closure to text and vectors:",
            "  replica k>0 suffixes every document token (disjoint",
            "  vocabulary shards) and circularly rotates each embedding, so",
            "  postings and candidate sets grow the way 10× of REAL corpus",
            "  does. Two decade workloads exceed 10× by construction and",
            "  must be read per unit of work, not per row:",
            "  documents carry ~13.3× the CHARACTERS (suffixed tokens grow",
            "  every token), and the embedding LABEL set is fixed, so the",
            "  per-block-quadratic pair multiset of `q_embedding_near_dup`",
            "  grows ~100× (Σ C(10n, 2); measured 100.5× via duckdb over",
            "  both corpora). Ratios at or below those workload factors are",
            "  at-or-below linear in work. At 100 TB the embedding block id",
            "  is an IVF/k-means CELL whose count grows with the corpus,",
            "  holding block depth bounded; the fixed-label clone prices the",
            "  worst case where it does not.",
            "- Executed pins for the dedup tails:",
            "  `tests/test_dedup_similarity.py::test_dedup_tail_bounds_sf1`",
            "  asserts at sf1 that the shingle pair multiset respects the",
            "  (cap−1)/2·postings linear bound and that the blocked-cosine",
            "  candidate stream is exactly Σ C(block, 2) — block-scoped,",
            "  never corpus-quadratic.",
            "- For bounded timing probes of worst-case duplication (10",
            "  verbatim copies of the whole corpus) use CLIQUE mode —",
            "  deliberately adversarial, intractable for full sweeps (its",
            "  q_dup_clusters DuckDB oracle alone ran >25 min at sf1).",
            "",
        ]
    out.append("The `q_supplier_overlap` outlier is the Σ C(df,2) candidate-pair")
    out.append("multiset becoming visible as lineitem fills the supplier×part")
    out.append("incidence (at sf0.001 most parts touch one supplier — near-zero")
    out.append("pairs; at sf0.1 the df≤50 cap binds). The growth stays the")
    out.append("documented shape, not all-pairs: pair rows ≤ (max_item_df−1)/2 ·")
    out.append("|pruned edges| — linear in postings — pinned by executed evidence")
    out.append("at sf0.1 in `tests/test_graph.py::test_node_overlap_pair_growth_bound_sf01`;")
    out.append("the structural escape at corpus scale is the LSH-banding")
    out.append("crossover below.")
    out.append("")

    # ---- exact-Jaccard vs LSH-banding crossover (near-dup dedup) ----
    xrows = [
        (sf, [run_one(spark, QUERIES[name], d)[0]
              for name in ("q_near_dup_jaccard", "q_lsh_band_candidates")])
        for sf, d in zip(SFS, dirs)
    ]
    out += [
        "## Exact-Jaccard vs LSH-banding crossover (near-dup dedup)",
        "",
        "Same task (candidate near-dup pairs on `documents`), two algorithms:",
        "",
        "| sf | `q_near_dup_jaccard` (inverted index + DF≤100 pruning) | `q_lsh_band_candidates` (8-hash, 4-band minhash) |",
        "|---|---|---|",
    ]
    for sf, ts in xrows:
        out.append(f"| {sf.replace('sf','')} | {ts[0]:.2f} | {ts[1]:.2f} |")
    out += [
        "",
        "LSH banding is uniformly cheaper and its advantage is structural:",
        "the exact path's pair aggregation is quadratic in per-shingle",
        "document frequency (DF pruning caps the constant, not the shape),",
        "while banding shuffles one short band key per doc·band. At 100 TB",
        "the default is LSH banding; exact Jaccard is the verification pass",
        "run WITHIN candidate buckets, not across the corpus",
        "(`operators/dedup.py` documents both).",
        "",
    ]

    # ---- sf1-equivalent soak: replicate sf0.1 10× on the executors ----
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from market_analyze_data_stream_processing_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
    li10 = li.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    t0 = time.perf_counter()
    (
        li10.where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.sum(disc), F.avg("l_discount"), F.count(F.lit(1)))
        .write.format("noop").mode("overwrite").save()
    )
    t_q1 = time.perf_counter() - t0

    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    ev10 = ev.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
    w = Window.partitionBy("event_type", "rep").orderBy("ts", "event_id").rowsBetween(-49, 0)
    t0 = time.perf_counter()
    (
        ev10.select("event_type", "rep", F.avg("value").over(w).alias("ma50"))
        .write.format("noop").mode("overwrite").save()
    )
    t_ma = time.perf_counter() - t0

    out.append("## sf1-equivalent soak (10× replication on executors)")
    out.append("")
    out.append("| workload | rows | seconds | rows/sec |")
    out.append("|---|---|---|---|")
    out.append(f"| Q1-style pricing summary | 6,000,000 | {t_q1:.2f} | {6e6/t_q1:,.0f} |")
    out.append(f"| 50-row windowed MA per series | 1,000,000 | {t_ma:.2f} | {1e6/t_ma:,.0f} |")
    out.append("")
    out.append("Throughput holds at 10× the bench SF — the aggregation is "
               "map-side combined and the window shuffles once on the series "
               "key; both shapes scale horizontally with executors.")

    # ---- hot-key MACD soak: halo blocks parallelize ONE key ---------
    from market_analyze_data_stream_processing_spark.operators.indicators import (
        macd_blocked,
    )

    hot_rows = []
    for n in (100_000, 1_000_000):
        hot = spark.range(n).select(
            F.lit("HOT").alias("ticker"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("id"))).alias("ts"),
            (100.0 + F.sin(F.col("id") / 97.0) * 5.0
             + (F.col("id") % 13).cast("double") * 0.1).alias("price"),
            F.col("id").alias("seq"),
        )
        t0 = time.perf_counter()
        macd_blocked(hot).write.format("noop").mode("overwrite").save()
        hot_rows.append((n, time.perf_counter() - t0))
    out.append("")
    out.append("## Hot-key MACD soak (ONE ticker, halo-block parallelism)")
    out.append("")
    out.append("| rows (single key) | blocks | seconds | rows/sec |")
    out.append("|---|---|---|---|")
    for n, t in hot_rows:
        out.append(f"| {n:,} | {-(-n // 4096)} | {t:.2f} | {n / t:,.0f} |")
    out.append("")
    out.append(
        "The entire series belongs to ONE key — the case that serializes "
        "any groupBy(key).applyInPandas operator into a single task. The "
        "halo-block lowering instead fans it out across "
        "rows/4096 blocks (+160-row halos), so throughput HOLDS at 10× "
        "the rows: per-task state stays O(block), and the same shape "
        "spreads a billion-row ticker across a cluster."
    )

    # ---- upsert merge cost vs table size (partition-pruned proof) ----
    import shutil
    import tempfile

    from market_analyze_data_stream_processing_spark.streaming.upsert import (
        upsert_parquet,
    )

    urows = []
    for n in (2_000, 20_000, 200_000):  # first row doubles as plan warmup
        base = spark.range(n).select(
            F.concat(F.lit("k"), F.col("id")).alias("k"),
            F.lit(1).alias("seq"),
            F.col("id").cast("double").alias("v"),
        )
        path = os.path.join(tempfile.mkdtemp(), "t")
        upsert_parquet(spark, base, path, keys=["k"], order=["seq"], n_buckets=32)
        inc = spark.createDataFrame([("k0", 2, 99.0)], "k string, seq int, v double")
        t0 = time.perf_counter()
        upsert_parquet(spark, inc, path, keys=["k"], order=["seq"], n_buckets=32)
        urows.append((n, time.perf_counter() - t0))
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    out += [
        "",
        "## Upsert merge cost vs table size (bucket-pruned, 1-key batch)",
        "",
        "| table rows | single-key merge seconds |",
        "|---|---|",
    ]
    for n, t in urows:
        out.append(f"| {n:,} | {t:.2f} |")
    out.append("")
    out.append(
        "A 10× larger table costs ~the same to merge into: the batch reads "
        "and rewrites only the 1/32 bucket partition its key hashes to "
        "(dynamic partition overwrite), so per-trigger I/O is O(touched "
        "buckets), not O(table) — the property that makes a 60 s trigger "
        "viable against a 100 TB store."
    )

    # ---- incremental dedup probe cost vs index size ----
    from market_analyze_data_stream_processing_spark.streaming.dedup_index import (
        merge_near_dup_index,
    )

    drows = []
    for n in (1_000, 10_000, 100_000):  # first row doubles as plan warmup
        corpus = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha beta gamma delta epsilon zeta eta theta doc "),
                F.col("id"), F.lit(" iota kappa "), F.col("id") * 7,
            ).alias("text"),
        )
        ipath = os.path.join(tempfile.mkdtemp(), "idx")
        merge_near_dup_index(spark, corpus, ipath)
        batch = spark.range(n, n + 100).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha beta gamma delta epsilon zeta eta theta doc "),
                F.col("id"), F.lit(" iota kappa "), F.col("id") * 7,
            ).alias("text"),
        )
        t0 = time.perf_counter()
        merge_near_dup_index(spark, batch, ipath)
        drows.append((n, time.perf_counter() - t0))
        shutil.rmtree(os.path.dirname(ipath), ignore_errors=True)
    out += [
        "",
        "## Incremental near-dup probe cost vs index size (100-doc batch)",
        "",
        "| indexed docs | 100-doc batch seconds |",
        "|---|---|",
    ]
    for n, t in drows:
        out.append(f"| {n:,} | {t:.2f} |")
    out.append("")
    out.append(
        "Probing a 100× larger band index costs ~the same: the batch joins "
        "only against the index buckets its band hashes touch "
        "(partition-pruned scan) and appends its own keys — per-trigger "
        "dedup is O(batch), not O(corpus) "
        "(`streaming/dedup_index.py`)."
    )

    # ---- dedup-family soak: 10×-duplicated corpus (50k docs) ----------
    from market_analyze_data_stream_processing_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        near_dup_pipeline,
    )

    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    # 10 replicas with distinct ids and IDENTICAL text: every document
    # becomes a ≥10-member duplicate clique — the adversarial case for
    # pair fan-out (C(10,2)·bands candidates per group) and for CC
    # (every component is a dense clique). doc_id stays unique.
    docs10 = docs.crossJoin(
        spark.range(10).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"), "text"
    )
    n_docs10 = docs10.count()

    t0 = time.perf_counter()
    kept = exact_dedup(docs10).count()
    t_exact = time.perf_counter() - t0

    t0 = time.perf_counter()
    pairs10 = near_dup_pipeline(docs10, threshold=0.5)
    comp10 = connected_components(pairs10, "id_a", "id_b")
    n_nodes = comp10.count()
    n_comps = comp10.select("component").distinct().count()
    t_near = time.perf_counter() - t0

    out += [
        "",
        "## Dedup-family soak (10×-duplicated corpus: every doc a ≥10-clique)",
        "",
        "| workload | input docs | output | seconds | docs/sec |",
        "|---|---|---|---|---|",
        f"| exact dedup (md5, keep-lowest-id) | {n_docs10:,} | "
        f"{kept:,} kept | {t_exact:.2f} | {n_docs10 / t_exact:,.0f} |",
        f"| LSH-band → Jaccard-verify → CC clusters | {n_docs10:,} | "
        f"{n_nodes:,} nodes / {n_comps:,} clusters | {t_near:.2f} | "
        f"{n_docs10 / t_near:,.0f} |",
        "",
        "Replicating every document 10× with fresh ids is the worst case "
        "for near-dup machinery — every text is a dense duplicate clique, "
        "so candidate generation, exact verification, and clustering all "
        "run at their maximum per-doc fan-out (C(10,2) pairs per clique). "
        "End-to-end cost stays linear-ish in corpus size because no stage "
        "is ever corpus-quadratic: banding shuffles band keys, the verify "
        "join touches only candidates, and CC converges in O(log diameter) "
        "rounds (cliques: 1-2) with one shuffle per round.",
    ]

    # ---- stored ANN layouts: build-once cost vs per-probe cost -------
    from market_analyze_data_stream_processing_spark.operators.similarity import (
        ann_ivf,
        ann_ivf_stored,
        ann_lsh,
        ann_lsh_stored,
        ivf_index,
        write_ivf_layout,
        write_lsh_layout,
    )

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    dim = emb.selectExpr("size(embedding)").first()[0]
    qv = [float((i % 7) - 3) for i in range(dim)]
    lsh_path = os.path.join(tempfile.mkdtemp(), "lsh")
    ivf_path = os.path.join(tempfile.mkdtemp(), "ivf")

    t0 = time.perf_counter()
    write_lsh_layout(emb, lsh_path, n_planes=8)
    t_lsh_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    write_ivf_layout(emb, ivf_path)
    t_ivf_build = time.perf_counter() - t0

    def t_probe(fn):
        fn().write.format("noop").mode("overwrite").save()  # warm plan
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    t_lsh_inline = t_probe(lambda: ann_lsh(emb, qv, k=20, probe_hamming=2))
    t_lsh_stored = t_probe(
        lambda: ann_lsh_stored(spark, lsh_path, qv, k=20, probe_hamming=2)
    )
    cents = ivf_index(emb)
    t_ivf_inline = t_probe(lambda: ann_ivf(emb, qv, k=20, centroids=cents))
    t_ivf_stored = t_probe(lambda: ann_ivf_stored(spark, ivf_path, qv, k=20))

    out += [
        "",
        "## Stored ANN layouts: build once, probe partition-pruned",
        "",
        "| index | build (once) | probe inline (full scan + filter) | probe stored (partition-pruned) |",
        "|---|---|---|---|",
        f"| sign-LSH (8 planes, Hamming≤2 probe) | {t_lsh_build:.2f} s | "
        f"{t_lsh_inline:.2f} s | {t_lsh_stored:.2f} s |",
        f"| IVF (label cells, 2-probe) | {t_ivf_build:.2f} s | "
        f"{t_ivf_inline:.2f} s | {t_ivf_stored:.2f} s |",
        "",
        "The inline probe computes every row's bucket/cell per query "
        "(full corpus scan); the stored probe reads ONLY the probed "
        "partition directories (PartitionFilters — pinned by "
        "test_dedup_similarity). At these SFs both are scan-cheap; at "
        "100 TB the stored probe's read volume is the probed fraction "
        "(~37/256 buckets for Hamming≤2, n_probe/k cells for IVF) while "
        "the inline form re-reads the corpus — the layout is what turns "
        "ANN from a scan problem into a pruning problem.",
    ]
    shutil.rmtree(os.path.dirname(lsh_path), ignore_errors=True)
    shutil.rmtree(os.path.dirname(ivf_path), ignore_errors=True)

    # ---- mergeable sketch partials: merge cost is O(partials) --------
    from market_analyze_data_stream_processing_spark.operators.sketches import (
        hll_merge_estimate,
        hll_partials,
    )

    sk_rows = []
    for sf in ("sf0.01", "sf0.1"):
        ev = load_table(spark, f"/root/testdata/{sf}", "events")
        sk_path = os.path.join(tempfile.mkdtemp(), "hll_partials")
        t0 = time.perf_counter()
        hll_partials(
            ev, "user_id", ["event_type", F.to_date("ts").alias("day")]
        ).write.mode("overwrite").parquet(sk_path)
        t_build = time.perf_counter() - t0
        stored = spark.read.parquet(sk_path)
        n_partials = stored.count()
        t0 = time.perf_counter()
        hll_merge_estimate(stored, ["event_type"]).write.format("noop").mode(
            "overwrite"
        ).save()
        t_merge = time.perf_counter() - t0
        t0 = time.perf_counter()
        ev.groupBy("event_type").agg(
            F.countDistinct("user_id")
        ).write.format("noop").mode("overwrite").save()
        t_raw = time.perf_counter() - t0
        sk_rows.append((sf, n_partials, t_build, t_merge, t_raw))
        shutil.rmtree(os.path.dirname(sk_path), ignore_errors=True)
    out += [
        "",
        "## Mergeable sketch partials (HLL): reaggregation without raw rows",
        "",
        "| sf | stored partials | build partials (scans raw, once/day) | merge+estimate from STORED partials | exact re-agg over raw rows |",
        "|---|---|---|---|---|",
    ]
    for sf, n, tb, tm, tr in sk_rows:
        out.append(
            f"| {sf.replace('sf','')} | {n} | {tb:.2f} s | {tm:.2f} s | {tr:.2f} s |"
        )
    out += [
        "",
        "The build pass scans raw events once (the per-day incremental "
        "job); every LATER rollup reads only the KB-sized sketch binaries "
        "— its cost tracks the partial count, not the row count, which is "
        "the whole point at 100 TB: day→month→corpus distinct-user "
        "rollups without a second pass over data. The exact re-aggregation "
        "column is what a plan-internal sketch (approx_count_distinct) "
        "forces you to re-run instead. Estimates vs exact are "
        "oracle-gated in `q_sketch_reaggregation`.",
    ]

    # ---- streaming soak: rate source → watermark → tumbling agg ----
    import tempfile

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500_000)
        .option("numPartitions", 8)
        .load()
        .withWatermark("timestamp", "2 seconds")
        .groupBy(
            F.window("timestamp", "1 second"),
            (F.col("value") % 16).alias("k"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("m"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("soak_rate")
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    time.sleep(12)
    rates = []
    for p in q.recentProgress:
        r = p.get("processedRowsPerSecond") if isinstance(p, dict) else None
        if r:
            rates.append(r)
    q.stop()
    peak = max(rates) if rates else 0.0
    out.append("")
    out.append("## Streaming soak (rate source → watermark → 1 s tumbling agg)")
    out.append("")
    out.append(
        f"Peak micro-batch throughput {peak:,.0f} rows/s on local[{cores}] "
        "(500 K rows/s offered; watermarked update-mode aggregation with "
        "16-way keys). The stateful agg shuffles once on (window, key) and "
        "state is bounded by the watermark horizon — the same plan scales "
        "horizontally by adding executors and shuffle partitions."
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALING.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote SCALING.md")
    spark.stop()


if __name__ == "__main__":
    main()
