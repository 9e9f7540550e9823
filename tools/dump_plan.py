"""Dump .explain('formatted') for queries to plans/r15/<name>_<tag>.txt.

Usage: python tools/dump_plan.py before q_supplier_overlap [q_x ...]
       python tools/dump_plan.py after  q_supplier_overlap
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from market_analyze_data_stream_processing_spark.plans import QUERIES
from market_analyze_data_stream_processing_spark.session import get_spark
from market_analyze_data_stream_processing_spark.sources.storage import explain_string


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plan")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        txt = explain_string(QUERIES[name].fn(spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
