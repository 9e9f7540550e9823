"""Streaming drift monitor (the stateful twin of plans/profiling's
q_psi_drift): per-key incremental histograms in bounded state, PSI
against a FROZEN reference histogram emitted every trigger.

Deployment shape: a batch job freezes the reference distribution
(operators/profiling.bucketize_counts over a trusted period); the
monitor then watches the live stream and emits a per-key PSI after
each micro-batch — the alert feed that catches upstream schema burns
and distribution shifts before they poison a training snapshot.

State per key is ONE fixed-length long vector (n_buckets+1 counters),
independent of stream length — a million triggers cost the same state
as one. The PSI math is the shared pure kernel
operators/profiling.psi_from_counts, so batch and stream can never
disagree (pinned by tests/test_drift_stream.py's parity test).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.profiling import bucket_index, psi_from_counts
from .stateful import _apply

DRIFT_OUTPUT_SCHEMA = StructType(
    [
        StructField("grp", StringType()),
        StructField("n_seen", LongType()),
        StructField("psi", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("counts", ArrayType(LongType()))])


def drift_monitor_stateful(
    stream: DataFrame,
    ref_hists: dict[str, list[int]],
    bucket_width: float = 25.0,
    n_buckets: int = 20,
    smooth: float = 0.5,
    group: str = "grp",
    value: str = "value",
) -> DataFrame:
    """Attach the drift monitor to a streaming frame with columns
    (group, value). ``ref_hists`` maps key → frozen bucket counts
    (length n_buckets+1, from ``bucketize_counts``); keys absent from
    the reference are scored against an all-zero histogram (maximal
    drift — a brand-new category IS drift). Emits (grp, n_seen, psi)
    for every key touched by each trigger, update mode."""
    n_slots = n_buckets + 1

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        counts = list(state.get[0]) if state.exists else [0] * n_slots
        for pdf in pdfs:
            for v in pdf[value]:
                # bucket_index is total: a null/NaN value routes to the
                # overflow slot instead of ValueError-ing the stream —
                # the alert feed must be at least as robust as the
                # pipeline it monitors.
                counts[bucket_index(v, bucket_width, n_buckets)] += 1
        state.update((counts,))
        ref = list(ref_hists.get(key[0], [0] * n_slots))
        # Unknown key → all-zero reference: score over ALL slots, not
        # just observed ones — otherwise concentrated mass normalizes to
        # share 1 on both sides and a brand-new category reads as zero
        # drift (the exact opposite of the truth).
        known = any(ref)
        yield pd.DataFrame(
            {
                "grp": [key[0]],
                "n_seen": [int(sum(counts))],
                "psi": [
                    psi_from_counts(ref, counts, smooth, observed_only=known)
                ],
            }
        )

    return _apply(stream, [group], fn, DRIFT_OUTPUT_SCHEMA, _STATE_SCHEMA)
