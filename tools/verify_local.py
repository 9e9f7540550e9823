"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle at a given SF, compare row count,
column names, and (order-insensitively) values.

Usage: python tools/verify_local.py [--assert] [sf_dir] [query ...]

--assert sets SPARK_GRAFT_NUMERIC_ASSERT=1: every stable_round/quantize
snap raises per-row on out-of-domain inputs (|x|·10^d ≥ 2^53, NaN,
±inf) instead of silently diverging cross-engine.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from market_analyze_data_stream_processing_spark.cache import unpin_all
from market_analyze_data_stream_processing_spark.plans import QUERIES
from market_analyze_data_stream_processing_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    """FULL-precision float normalization (shortest round-trip repr).

    The external driver hash-compares raw values, so a 1-ULP
    cross-engine divergence at the 16th significant digit is a driver
    RED — the round-9 q_portfolio_return exp-ULP failure sat exactly
    there while this replica's former %.9g normalization masked it for
    two rounds. Local green must predict driver green, so this gate is
    now bit-exact too (repr of a double is its shortest exact
    round-trip: equal strings <=> equal doubles)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            v = 0.0
        return repr(v)
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main():
    argv = list(sys.argv[1:])
    if "--assert" in argv:
        # run the whole differential under the opt-in numeric-domain
        # assertion mode: every stable_round/quantize raises on
        # out-of-contract inputs (|x|*10^d >= 2^53, NaN, ±inf) instead
        # of silently diverging — proves the registry's grids are sized
        # to their documented domains, not just to today's data.
        argv.remove("--assert")
        os.environ["SPARK_GRAFT_NUMERIC_ASSERT"] = "1"
        print("numeric-domain assert mode ON")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_rowsonly = 0
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            unpin_all(spark)
        if q.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            cur = con.execute(q.oracle)
            otypes = list(cur.arrow().schema)
            ores = con.execute(q.oracle).fetchall()
            ocols = [d[0] for d in con.description]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        # DuckDB SUM(INTEGER) yields HUGEINT (arrow decimal128(38,0));
        # pandas/arrow-based comparators coerce it to float64 and the value
        # hash diverges from Spark's bigint. Force ::BIGINT in the oracle.
        huge = [f.name for f in otypes if str(f.type) == "decimal128(38, 0)"]
        if huge:
            problems.append(f"oracle emits HUGEINT cols {huge}: add ::BIGINT casts")
        if len(srows) != len(ores):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(ores)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            a = norm_rows(scols, [tuple(r) for r in srows])
            b = norm_rows(ocols, ores)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
