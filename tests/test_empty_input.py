"""Empty-input totality sweep: every registered query must run to
completion on ZERO-ROW tables.

At 100 TB a filter, partition prune, or time-window that eliminates
every row is routine, not exceptional — a pipeline stage that crashes
on empty input (instead of propagating an empty frame of the right
schema) takes the whole job down at 3 a.m. The classic failure shapes
are driver-side scalar probes (``.first()[0]`` → ``None``), seeding
collects (k-means with no seeds), and numpy kernels fed zero rows
(``np.stack([])``); all of those live behind this sweep.
"""

from __future__ import annotations

import pytest

from market_analyze_data_stream_processing_spark.cache import unpin_all
from market_analyze_data_stream_processing_spark.plans import QUERIES

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """Zero-row copies of every testdata table, schemas preserved."""
    root = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        df = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(
            str(root / f"{t}.parquet")
        )
    return str(root)


def test_every_query_is_total_on_empty_tables(spark, empty_sf_dir):
    fails = []
    for name, q in QUERIES.items():
        try:
            q.fn(spark, empty_sf_dir).count()
        except Exception as e:  # noqa: BLE001 - recording, not handling
            fails.append(f"{name}: {str(e).splitlines()[0][:100]}")
        # Drop checkpoint blocks some queries pin (shingle bases, CC
        # labels) so the sweep doesn't accumulate cached empties.
        unpin_all(spark)
    assert not fails, "queries crash on empty input:\n" + "\n".join(fails)
