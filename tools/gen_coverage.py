"""Generate COVERAGE.md from the query registry: every driver-contract
query with its check mode and one-line description.

Usage: python tools/gen_coverage.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from market_analyze_data_stream_processing_spark.plans import QUERIES


def main() -> None:
    oracle = {n: q for n, q in QUERIES.items() if q.oracle}
    rows_only = {n: q for n, q in QUERIES.items() if not q.oracle}
    out = [
        "# COVERAGE — driver-contract query registry",
        "",
        f"{len(QUERIES)} queries: {len(oracle)} DuckDB-oracle-checked "
        f"(row count + schema + order-insensitive value hash), "
        f"{len(rows_only)} rows-only (approximate / iterative / binary-media "
        "— no SQL equivalent; correctness pinned in pytest).",
        "",
        "Generated by `tools/gen_coverage.py` from "
        "`market_analyze_data_stream_processing_spark/plans/`.",
        "",
        "## Oracle-checked",
        "",
        "| query | covers |",
        "|---|---|",
    ]
    for name in sorted(oracle):
        doc = " ".join((oracle[name].doc or "").split())
        out.append(f"| `{name}` | {doc} |")
    out += ["", "## Rows-only", "", "| query | covers |", "|---|---|"]
    for name in sorted(rows_only):
        doc = " ".join((rows_only[name].doc or "").split())
        out.append(f"| `{name}` | {doc} |")
    out += [
        "",
        "## ANN recall contract (measured, asserted in "
        "`tests/test_dedup_similarity.py`)",
        "",
        "| data | lsh (8 planes) | ivf (probe 2) | asserted floor |",
        "|---|---|---|---|",
        "| clustered 10×50 synthetic (the data shape ANN is for) | 1.00 (multi-probe h=1) | 1.00 | ≥0.6 / ≥0.9 |",
        "| sf0.01 embeddings (uniform-random vectors) | 0.40 (multi-probe h=2) | 0.35 | ≥0.10 / ≥0.15 |",
        "",
        "On uniform-random vectors ANY pruning index's recall ≈ fraction of "
        "corpus scanned (neighbors don't cluster), so the real-data floors "
        "are theory-derived; the clustered corpus carries the quality "
        "contract. Exact↔LSH near-dup crossover is measured in SCALING.md.",
        "",
        "## Kafka verification status (S1/S2)",
        "",
        "No broker exists in this environment (no kafka connector jar in "
        "the pyspark distribution, no `kafka-python`, no network to fetch "
        "either), so the real-Kafka paths are **config-verified only, not "
        "round-trip-tested**: `to_kafka_frame` (producer sink framing, S1) "
        "and `kafka_topic_stream` (multi-topic source, S2) build the exact "
        "`format(\"kafka\")` read/write plans a broker deployment would use, "
        "and their SEMANTICS (dispatch, dedup, upsert, watermarking, "
        "lifecycle) are fully exercised through the file-replay streaming "
        "twin (`streaming/ingest.py`, `tests/test_full_lifecycle.py`, "
        "`tests/test_streaming.py`). The config surface itself is PINNED by "
        "executing tests (`tests/test_kafka_config.py`): the exact option "
        "maps (`kafka_source_options` / `kafka_sink_options` — bootstrap, "
        "subscribe list and order, startingOffsets, checkpointLocation), "
        "the wire frame schema (string key / JSON value carrying every "
        "payload column / per-row topic), and the fact that "
        "`kafka_topic_stream` reaches Spark's data-source resolution (it "
        "must fail with \"kafka source not found\" here — any OTHER failure "
        "means the built plan drifted). What a real deployment still "
        "exercises first: broker connectivity, auth, and the connector jar "
        "itself.",
        "",
        "## Dashboard shell (app.py)",
        "",
        "The reference's Streamlit surfaces (src/app/main.py:219-487) — "
        "sidebar market watch, per-ticker chart with gated MA overlays, "
        "and the RAG query panel with typed sources — ship as a "
        "dependency-free text CLI "
        "(`python -m market_analyze_data_stream_processing_spark.app`). "
        "Pure presentation over `operators/serving.py` / "
        "`operators/messages.py` / `rag.get_answer`: every rendered number "
        "comes from the oracle-checked engine paths, and the only "
        "driver-side rows are screen-sized. End-to-end determinism is "
        "pinned in `tests/test_app.py`.",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "COVERAGE.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote COVERAGE.md ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
