"""Schema-drift guard for the events loader.

The driver has regenerated /root/testdata more than once, and the physical
encoding of events.ts has changed between regenerations (TIMESTAMP(NANOS)
in rounds 1-3, timestamp[us] NTZ in round 4). ``load_table(..., "events")``
must yield identical instants for every encoding it has ever seen — this
test writes tiny fixture parquets in all three encodings and asserts
equality.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from market_analyze_data_stream_processing_spark.sources.tables import load_table

# Instants with sub-second precision; the nanos fixture adds sub-microsecond
# digits that must TRUNCATE (not round) to these micros.
_MICROS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
    dt.datetime(2024, 6, 15, 12, 30, 45, 999999),
    dt.datetime(2025, 12, 31, 23, 59, 59, 1),
]

_EPOCH = dt.datetime(1970, 1, 1)
_US = [int((t - _EPOCH).total_seconds()) * 1_000_000 + t.microsecond for t in _MICROS]


def _write_events(root, name, ts_array):
    n = len(_MICROS)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click"] * n, pa.string()),
            "value": pa.array([1.5] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    d = root / name
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("events_encodings")
    return {
        # TIMESTAMP(NANOS): sub-microsecond digits 789 must truncate away.
        "nanos": _write_events(
            root, "nanos", pa.array([v * 1000 + 789 for v in _US], pa.timestamp("ns"))
        ),
        # timestamp[us] isAdjustedToUTC=false (NTZ) — the round-4 shape.
        "ntz": _write_events(root, "ntz", pa.array(_US, pa.timestamp("us"))),
        # timestamp[us] UTC-adjusted (LTZ).
        "ltz": _write_events(root, "ltz", pa.array(_US, pa.timestamp("us", tz="UTC"))),
    }


def test_load_events_identical_instants_across_encodings(spark, encoded_dirs):
    results = {}
    for label, d in encoded_dirs.items():
        df = load_table(spark, d, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp", (
            f"{label}: expected session-TZ timestamp, got {df.schema['ts'].dataType}"
        )
        rows = df.orderBy("event_id").select("event_id", "ts").collect()
        results[label] = [(r.event_id, r.ts) for r in rows]
    assert results["nanos"] == results["ntz"] == results["ltz"]
    # and they equal the authored instants (UTC session TZ in conftest)
    assert [ts for _, ts in results["ntz"]] == _MICROS


def test_load_events_matches_real_testdata(spark):
    # Whatever encoding the driver last generated, the loader must read it.
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.limit(1).count() == 1


_EXPECTED_COLUMNS = {
    "region": {"r_regionkey", "r_name"},
    "nation": {"n_nationkey", "n_name", "n_regionkey"},
    "customer": {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"},
    "supplier": {"s_suppkey", "s_name", "s_nationkey", "s_acctbal"},
    "part": {"p_partkey", "p_name", "p_brand", "p_type", "p_retailprice"},
    "orders": {"o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"},
    "lineitem": {"l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"},
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
    "documents": {"doc_id", "text", "lang", "source", "n_chars"},
    "embeddings": {"vec_id", "embedding", "label"},
}


def test_all_tables_load_with_expected_columns(spark):
    """Early warning for future testdata regenerations: every table the
    registry depends on loads, and the columns the queries reference are
    present (supersets allowed — the driver may add columns)."""
    from market_analyze_data_stream_processing_spark.sources.tables import load_table

    for name, expected in _EXPECTED_COLUMNS.items():
        df = load_table(spark, "/root/testdata/sf0.001", name)
        missing = expected - set(df.columns)
        assert not missing, f"{name}: missing columns {missing}"


def test_load_table_cache_invalidates_on_rewrite(spark, tmp_path):
    """The session plan cache must never serve a scan plan whose file
    index lists deleted files: overwriting a table path and re-loading
    has to produce the NEW rows (regression: round-14 plan cache +
    tests that rewrite tmp_path parquet between queries)."""
    from market_analyze_data_stream_processing_spark.sources.tables import (
        load_table,
    )

    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(1, "one", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(p)
    assert load_table(spark, str(tmp_path), "documents").count() == 1
    # Overwrite with different contents; the cached plan is now stale.
    spark.createDataFrame(
        [(1, "one", "en", "s", 3), (2, "two", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(p)
    assert load_table(spark, str(tmp_path), "documents").count() == 2


def test_spread_gates_on_input_parallelism(spark):
    """Round-14 spread() gate: a narrow input fans out to
    defaultParallelism; an already-parallel input passes through with
    NO added exchange (the sf1 A/B measured the ungated repartition as
    a pure 255 MB shuffle tax on a 32-split scan). Row values are
    identical either way."""
    from market_analyze_data_stream_processing_spark.sources.tables import spread

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide = spark.range(1000).repartition(max(2, par))

    s_narrow = spread(narrow)
    s_wide = spread(wide)
    assert s_narrow.rdd.getNumPartitions() == par
    # pass-through: same object, no repartition wrapped on top
    assert s_wide is wide
    assert sorted(r["id"] for r in s_narrow.collect()) == list(range(1000))


def test_spread_gate_reads_scan_metadata(spark, tmp_path):
    """Round-15 spread() gate: for parquet scans the gate is decided
    from FILE METADATA (byte-range splits bounded by row-group count),
    with no DataFrame→RDD physical-planning pass. The row-group bound
    is the behavioral fix over the round-14 RDD-count gate: a file that
    byte-splits many ways but holds ONE row group produces rows in one
    task — it must fan out; a genuinely multi-row-group file must pass
    through untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from market_analyze_data_stream_processing_spark.sources.tables import (
        _scan_splits,
        spread,
    )

    tbl = pa.table({"v": pa.array(range(100_000), type=pa.int64())})
    one_rg = str(tmp_path / "one_rg.parquet")
    many_rg = str(tmp_path / "many_rg.parquet")
    pq.write_table(tbl, one_rg, row_group_size=100_000)
    pq.write_table(tbl, many_rg, row_group_size=4_000)

    par = spark.sparkContext.defaultParallelism
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # tiny splits + zero open cost: both files byte-split many ways,
        # so only the row-group bound separates them
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df_one = spark.read.parquet(one_rg)
        df_many = spark.read.parquet(many_rg)
        assert _scan_splits(df_one) == 1
        assert _scan_splits(df_many) >= max(2, par // 2)
        s_one = spread(df_one)
        s_many = spread(df_many)
        assert s_many is df_many  # already parallel: no added exchange
        assert s_one is not df_one
        assert s_one.rdd.getNumPartitions() == par
        # values identical either way (the gate only moves computation)
        assert s_one.count() == df_many.count() == 100_000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)


def test_scan_splits_reads_leaf_node_default_parallelism(spark, tmp_path):
    """With ``spark.sql.files.minPartitionNum`` unset, Spark's
    FilePartition.maxSplitBytes divides the scan by
    ``spark.sql.leafNodeDefaultParallelism`` before it falls back to
    ``defaultParallelism``; the metadata replica must do the same, or
    its byte-split estimate drifts from the planned partition count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from market_analyze_data_stream_processing_spark.sources.tables import (
        _scan_splits,
    )

    path = str(tmp_path / "many_rg.parquet")
    tbl = pa.table({"v": pa.array(range(100_000), type=pa.int64())})
    pq.write_table(tbl, path, row_group_size=4_000)  # 25 row groups
    leaf = 2
    assert leaf != spark.sparkContext.defaultParallelism
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # zero open cost: the split size is totalBytes / leaf, not the
        # 4 MB open-cost floor, so the parallelism conf decides it
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        spark.conf.set("spark.sql.leafNodeDefaultParallelism", str(leaf))
        df = spark.read.parquet(path)
        planned = df.rdd.getNumPartitions()
        assert planned < 25  # the byte bound, not the row-group bound
        assert _scan_splits(df) == planned
    finally:
        spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)


def test_every_spread_call_site_passes_a_single_leaf_plan(spark, monkeypatch):
    """``_scan_splits`` reads ``inputFiles``, which merges the file
    lists of every relation in the plan: a spread() input with two
    leaves (a join, a union) would read the parallelism of both. Pin the
    contract at every call site by building the plan of every registered
    query (build-time jobs run, nothing else executes) with a
    ``_scan_splits`` that first checks its frame has exactly one leaf."""
    from market_analyze_data_stream_processing_spark.cache import unpin_all
    from market_analyze_data_stream_processing_spark.plans import QUERIES
    from market_analyze_data_stream_processing_spark.sources import tables

    original = tables._scan_splits
    seen = []

    def checked(df):
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        seen.append(leaves.size())
        assert leaves.size() == 1, leaves.toString()
        return original(df)

    monkeypatch.setattr(tables, "_scan_splits", checked)
    for q in QUERIES.values():
        q.fn(spark, "/root/testdata/sf0.001")
        unpin_all(spark)
    assert seen  # the wrapper saw the call sites
