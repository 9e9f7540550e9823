"""Edge-semantics parity for the round-11 Arrow kernels.

pq_encode and with_ivf_cell replaced interpreted higher-order-fold
expression ladders with mapInPandas numpy passes that claim BIT-parity:
same sequential-fold arithmetic, same tie-breaks, same zero-norm (NULL
cosine) resolution. These tests pin the claims on the inputs where the
two formulations could plausibly part: exact distance ties, duplicate
centroids, and zero-norm rows/centroids — the with_ivf_cell case is
checked directly against the ORIGINAL struct-expression twin built
inline here. Under all of them, the shared fold kernel itself is
checked against the JVM ``dot`` to the last bit."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
from pyspark.sql import functions as F

from market_analyze_data_stream_processing_spark.functions.vectors import (
    as_double,
    cosine_sim,
    dot,
    fold_dots,
    fold_sumsq,
    lit_vector,
)
from market_analyze_data_stream_processing_spark.operators.pq import pq_encode
from market_analyze_data_stream_processing_spark.operators.similarity import (
    hyperplanes,
    ivf_index,
    with_ivf_cell,
    with_lsh_bucket,
)
from market_analyze_data_stream_processing_spark.sources.tables import load_table


def _cell_expr_twin(centroids, vec_col):
    """The pre-round-11 expression form of IVF cell assignment (array_max
    over (sim, cell) structs) — kept HERE as the parity oracle."""
    emb = as_double(F.col(vec_col))
    pairs = F.array(
        *[
            F.struct(
                cosine_sim(emb, lit_vector(centroids[c].tolist())).alias("s"),
                F.lit(c).alias("c"),
            )
            for c in sorted(centroids)
        ]
    )
    return F.array_max(pairs)["c"]


def _vec_frame(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_fold_kernel_matches_jvm_dot_bit_for_bit(spark):
    """fold_dots / fold_sumsq equal Spark's ``vectors.dot`` of the same
    pairs exactly (compared as ``float.hex``) on a zero row, subnormal
    rows and magnitudes mixed within and across rows."""
    rng = np.random.default_rng(11)
    d = 24
    X = rng.standard_normal((10, d)) * 10.0 ** rng.uniform(-6, 6, size=(10, 1))
    X[0] = 0.0
    X[1] = 5e-324 * rng.integers(-1000, 1000, size=d)  # subnormals
    X[2] *= 10.0 ** rng.uniform(-150, 150, size=d)
    C = rng.standard_normal((4, d)) * 10.0 ** rng.uniform(-3, 3, size=(4, 1))
    C[3] = X[1]  # subnormal x subnormal underflows
    rows = [
        (i, j, X[i].tolist(), C[j].tolist())
        for i in range(len(X))
        for j in range(len(C))
    ]
    df = spark.createDataFrame(rows, "i int, j int, x array<double>, c array<double>")
    got = df.select(
        "i", "j",
        dot(F.col("x"), F.col("c")).alias("xc"),
        dot(F.col("x"), F.col("x")).alias("xx"),
    ).collect()
    G, S = fold_dots(X, C), fold_sumsq(X)
    assert len(got) == G.size
    for r in got:
        assert r["xc"].hex() == float(G[r["i"], r["j"]]).hex(), (r["i"], r["j"])
        assert r["xx"].hex() == float(S[r["i"]]).hex(), r["i"]


def test_ivf_cell_matches_expression_twin_on_edges(spark):
    """Arrow cell ids == struct-expression cell ids on ties, zero-norm
    rows, zero-norm centroids, and ordinary vectors alike."""
    centroids = {
        0: np.array([1.0, 0.0, 0.0, 0.0]),
        1: np.array([0.0, 1.0, 0.0, 0.0]),
        2: np.array([1.0, 0.0, 0.0, 0.0]),  # duplicate of cell 0: exact tie
        5: np.array([0.0, 0.0, 0.0, 0.0]),  # zero-norm centroid: NULL sim
    }
    vecs = [
        [1.0, 0.0, 0.0, 0.0],   # ties cells 0 and 2 exactly
        [0.0, 1.0, 0.0, 0.0],   # cell 1
        [0.0, 0.0, 0.0, 0.0],   # zero-norm row: every sim NULL
        [0.5, 0.5, 0.0, 0.0],   # ties 0/2 vs 1? no — equal sim to 0,1,2
        [-1.0, 0.0, 0.0, 0.0],  # sim exactly -1 to cells 0/2
    ]
    df = _vec_frame(spark, vecs)
    got = {
        r["vec_id"]: r["cell"]
        for r in with_ivf_cell(df, centroids, "embedding", out_col="cell").collect()
    }
    want = {
        r["vec_id"]: r["cell"]
        for r in df.withColumn(
            "cell", _cell_expr_twin(centroids, "embedding")
        ).collect()
    }
    assert got == want
    # and the documented resolutions hold explicitly:
    assert got[0] == 2  # exact tie -> HIGHEST cell id
    assert got[2] == 5  # all-NULL (zero-norm row) -> highest cell id


def test_ann_cells_match_their_twins_at_corpus_scale(spark):
    """The q_ann_ivf and q_ann_lsh oracle rows are recall thresholds, so
    the differential would pass any cell assignment that keeps recall
    up. Pin both cell columns row for row on the 2,000 sf0.1 embeddings:
    IVF cells against the struct-expression twin, LSH buckets against
    bits rebuilt in numpy from ``fold_dots`` (bit-equal to ``dot``)."""
    e = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    centroids = ivf_index(e)
    rows = (
        with_ivf_cell(e, centroids, "embedding", out_col="cell")
        .withColumn("twin", _cell_expr_twin(centroids, "embedding"))
        .select("vec_id", "cell", "twin")
        .collect()
    )
    assert len(rows) == 2000
    assert [r["vec_id"] for r in rows if r["cell"] != r["twin"]] == []

    dim = e.select(F.size("embedding")).first()[0]
    planes = hyperplanes(dim)
    rows = with_lsh_bucket(e, planes).select("vec_id", "embedding", "bucket").collect()
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    bits = (fold_dots(X, planes) > 0) << np.arange(len(planes))
    assert [r["bucket"] for r in rows] == bits.sum(axis=1).tolist()


def test_pq_encode_tie_resolves_to_lowest_code(spark):
    """Duplicate centroids produce identical distances; the (distance,
    code) struct-min semantics say the LOWEST code wins — pinned against
    the Arrow argmin-over-code-ascending implementation."""
    book = {
        (0, 3): [1.0, 0.0],
        (0, 7): [1.0, 0.0],  # same centroid, higher code
        (1, 2): [0.0, 1.0],
        (1, 4): [5.0, 5.0],
    }
    df = _vec_frame(spark, [[1.0, 0.0, 0.0, 1.0], [1.0, 0.0, 5.0, 5.0]])
    rows = {
        r["vec_id"]: (r["c0"], r["c1"])
        for r in pq_encode(df, book, m=2, sub_dim=2).collect()
    }
    assert rows[0] == (3, 2)  # tie in subspace 0 -> lowest code 3
    assert rows[1] == (3, 4)


def test_pq_encode_preserves_input_columns_and_types(spark):
    book = {(0, 0): [0.0, 0.0], (1, 0): [0.0, 0.0]}
    df = _vec_frame(spark, [[1.0, 2.0, 3.0, 4.0]]).withColumn(
        "label", F.lit(7).cast("int")
    )
    out = pq_encode(df, book, m=2, sub_dim=2)
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "embedding", "label", "c0", "c1",
    ]
    row = out.collect()[0]
    assert row["label"] == 7 and row["c0"] == 0 and row["c1"] == 0
    assert [round(float(x), 4) for x in row["embedding"]] == [1.0, 2.0, 3.0, 4.0]


def test_worker_closures_run_without_the_package_on_the_worker_path(tmp_path):
    """A host application that puts the package on ``sys.path`` and runs
    from another cwd (how ``__spark_entry__`` is loaded) gives Python
    workers no path to the package, yet every kernel below runs a worker
    closure that calls package functions or classes: the fold kernels,
    the k-means assignment pass, the enrich embedding and sentiment
    UDFs, the ``mads_feed`` Python data source and a stateful operator
    whose step is a module function. They run only because the package
    pickles itself by value. Runs in a fresh process with ``PYTHONPATH``
    unset and a cwd outside the checkout, one fresh SparkSession per
    kernel so no kernel rides on state another one left in its workers."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import json, sys
sys.path.insert(0, {repo!r})
import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from market_analyze_data_stream_processing_spark.operators.clustering import assign_clusters_arrow
from market_analyze_data_stream_processing_spark.operators.dedup import embedding_near_dup_pairs
from market_analyze_data_stream_processing_spark.operators.enrich import (
    make_embedding_udf, make_sentiment_udf,
)
from market_analyze_data_stream_processing_spark.operators.pq import pq_encode
from market_analyze_data_stream_processing_spark.operators.similarity import (
    seed_cell_column, with_ivf_cell,
)
from market_analyze_data_stream_processing_spark.sources.feed_source import FeedDataSource
from market_analyze_data_stream_processing_spark.streaming.stateful import obv_per_key_stateful

def vecs(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.1], 0)], "vec_id long, embedding array<double>, label int"
    )

def texts(spark):
    return spark.createDataFrame([("ACME gains on strong growth",), ("ACME falls",)], "t string")

def feed(spark):
    spark.dataSource.register(FeedDataSource)
    return spark.read.format("mads_feed").option("tickers", "MC.PA").option("items_per_ticker", "2").load()

def stateful(spark):
    src = {str(tmp_path)!r} + "/stream_in"
    import os
    os.makedirs(src)
    with open(src + "/b0.json", "w") as fh:
        fh.write("\\n".join(json.dumps(r) for r in [
            {{"key": "A", "seq": 1, "price": 10.0, "vol": 5}},
            {{"key": "A", "seq": 2, "price": 12.0, "vol": 3}},
            {{"key": "B", "seq": 1, "price": 5.0, "vol": 1}},
        ]))
    stream = spark.readStream.schema("key string, seq long, price double, vol long").json(src)
    q = (
        obv_per_key_stateful(stream).writeStream.format("memory").queryName("obv")
        .outputMode("update").option("checkpointLocation", {str(tmp_path)!r} + "/cp")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return spark.sql("SELECT * FROM obv")

kernels = [
    lambda spark: pq_encode(vecs(spark), {{(0, 0): [1.0, 0.0]}}, m=1, sub_dim=2),
    lambda spark: with_ivf_cell(vecs(spark), {{0: np.array([1.0, 0.0])}}, "embedding"),
    lambda spark: seed_cell_column(vecs(spark))[0],
    lambda spark: embedding_near_dup_pairs(vecs(spark), cells=None),
    lambda spark: assign_clusters_arrow(vecs(spark), {{0: np.array([1.0, 0.0]), 1: np.array([0.0, 1.0])}}),
    lambda spark: texts(spark).select(make_embedding_udf()(F.col("t")).alias("e")),
    lambda spark: texts(spark).select(make_sentiment_udf()(F.col("t")).alias("s")),
    feed,
    stateful,
]
for kernel in kernels:
    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    print(len(kernel(spark).collect()), flush=True)
    spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["2", "2", "2", "1", "2", "2", "2", "2", "3"]
