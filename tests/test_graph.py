"""PageRank operator: closed-form fixed points and dangling-mass
semantics on hand graphs (the oracle differential covers the derived
corpus graph)."""

from __future__ import annotations

from market_analyze_data_stream_processing_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_symmetric_cycle_is_uniform_fixed_point(spark):
    # A→B, B→A: the uniform 1/2 start is the exact fixed point, so any
    # iteration count returns 0.5 per node and total mass 1.
    out = {r["node"]: r["rank"] for r in
           pagerank(_edges(spark, [("A", "B"), ("B", "A")]), iterations=4).collect()}
    assert abs(out["A"] - 0.5) < 1e-12 and abs(out["B"] - 0.5) < 1e-12


def test_sink_accumulates_and_dangling_mass_leaks(spark):
    # A→C, B→C: C is dangling. After 1 iteration from uniform 1/3:
    # r(A)=r(B)=0.05, r(C)=0.05+0.85*(1/3+1/3)
    out = {r["node"]: r["rank"] for r in
           pagerank(_edges(spark, [("A", "C"), ("B", "C")]), iterations=1).collect()}
    t = 0.15 / 3
    assert abs(out["A"] - t) < 1e-12
    assert abs(out["B"] - t) < 1e-12
    assert abs(out["C"] - (t + 0.85 * (2 / 3))) < 1e-12
    # dangling: total mass < 1 by design (simplified variant)
    assert sum(out.values()) < 1.0


def test_out_fanout_splits_by_degree(spark):
    # A→B, A→C, B→A, C→A; after 1 iter: B and C each get d*(r(A)/2)
    out = {r["node"]: r["rank"] for r in
           pagerank(_edges(spark, [("A", "B"), ("A", "C"), ("B", "A"), ("C", "A")]),
                    iterations=1).collect()}
    t = 0.15 / 3
    third = 1 / 3
    assert abs(out["B"] - (t + 0.85 * (third / 2))) < 1e-12
    assert abs(out["B"] - out["C"]) < 1e-15
    assert abs(out["A"] - (t + 0.85 * (third + third))) < 1e-12


def test_triangle_count_k4_and_square(spark):
    from market_analyze_data_stream_processing_spark.operators.graph import (
        triangle_count,
    )

    # K4: C(3,2)=3 triangles per node, 4 triangles total; edges given in
    # mixed orientation + a duplicate + a self-loop, all canonicalized.
    k4 = [("A", "B"), ("C", "A"), ("A", "D"), ("B", "C"), ("D", "B"),
          ("C", "D"), ("B", "A"), ("D", "D")]
    out = {r["node"]: r["n_tri"] for r in triangle_count(_edges(spark, k4)).collect()}
    assert out == {"A": 3, "B": 3, "C": 3, "D": 3}
    # 4-cycle without diagonals: no triangles at all
    sq = [("A", "B"), ("B", "C"), ("C", "D"), ("D", "A")]
    assert triangle_count(_edges(spark, sq)).count() == 0


def test_node_overlap_jaccard_and_df_cap(spark):
    from market_analyze_data_stream_processing_spark.operators.graph import (
        node_overlap,
    )

    def m(rows):
        return spark.createDataFrame(rows, "node string, item long")

    # A={1,2,3}, B={2,3,4}: common 2, union 4 -> jaccard 0.5;
    # C={9} shares nothing. Duplicate membership rows must collapse.
    rows = [("A", 1), ("A", 2), ("A", 3), ("A", 3),
            ("B", 2), ("B", 3), ("B", 4), ("C", 9)]
    out = node_overlap(m(rows), max_item_df=10, top_k=5).collect()
    assert [(r["a"], r["b"]) for r in out] == [("A", "B")]
    (r,) = out
    assert (r["common"], r["na"], r["nb"]) == (2, 3, 3)
    assert abs(r["jaccard"] - 0.5) < 1e-12

    # df cap: item 2 touches 3 nodes -> pruned at max_item_df=2, so the
    # only surviving pair evidence is item 3 (A,B); sizes stay UNpruned.
    rows2 = [("A", 2), ("A", 3), ("B", 2), ("B", 3), ("C", 2)]
    out2 = node_overlap(m(rows2), max_item_df=2, top_k=5).collect()
    assert [(r["a"], r["b"], r["common"]) for r in out2] == [("A", "B", 1)]
    # jaccard uses unpruned sizes: 1 / (2 + 2 - 1)
    assert abs(out2[0]["jaccard"] - 1 / 3) < 1e-6


def test_node_overlap_topk_tiebreak_is_deterministic(spark):
    from market_analyze_data_stream_processing_spark.operators.graph import (
        node_overlap,
    )

    # three disjoint pairs with IDENTICAL jaccard: top-2 must pick the
    # (a, b)-lexicographic first two, every run
    rows = [(n, i) for k, n in enumerate("ABCDEF")
            for i in (100 * (k // 2), 100 * (k // 2) + 1)]
    df = spark.createDataFrame(rows, "node string, item long")
    out = node_overlap(df, max_item_df=10, top_k=2).collect()
    assert [(r["a"], r["b"]) for r in out] == [("A", "B"), ("C", "D")]


def test_node_overlap_pair_growth_bound_sf01(spark):
    """Executed evidence for the Sigma df^2 scale claim (SCALING.md's
    q_supplier_overlap row): at sf0.1 the candidate-pair multiset the
    inverted index generates -- Sigma_i C(df_i, 2) over df-capped items,
    exactly the join's output rows with a < b -- stays within the
    documented max_item_df * |pruned edges| bound, so pair growth is
    linear in postings, never all-pairs. Also pins that the df cap
    actually prunes at this SF (hot parts exist) and that node_overlap
    itself executes on the real table."""
    from pyspark.sql import functions as F

    from market_analyze_data_stream_processing_spark.operators.graph import (
        node_overlap,
    )

    cap = 50
    m = (
        spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select(F.col("l_suppkey").alias("node"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    df_counts = m.groupBy("item").agg(F.count(F.lit(1)).alias("df"))
    stats = df_counts.agg(
        F.sum(F.when(F.col("df") <= cap, F.col("df"))).alias("edges_kept"),
        F.sum(
            F.when(F.col("df") <= cap, F.col("df") * (F.col("df") - 1) / 2)
        ).cast("long").alias("pair_mult"),
        F.sum((F.col("df") > cap).cast("long")).alias("n_pruned_items"),
    ).collect()[0]
    assert stats["pair_mult"] <= cap * stats["edges_kept"], stats
    # the tighter arithmetic bound the docstring's loose one derives from
    assert stats["pair_mult"] <= (cap - 1) / 2 * stats["edges_kept"], stats
    out = node_overlap(m, max_item_df=cap, top_k=25).collect()
    assert len(out) == 25
    assert all(r["a"] < r["b"] and r["common"] >= 1 for r in out)
