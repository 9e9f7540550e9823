from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

# ASSERT mode is the suite DEFAULT (round-11 stretch item): every
# stable_round/quantize snap raises per-row on out-of-domain inputs
# (|x|·10^digits >= 2^53, NaN, ±inf) instead of silently diverging
# cross-engine, so new code with out-of-grid inputs fails at
# development time, not at the next sf1 differential sweep. The full
# registry is green under it (13-axis ASSERT differential). Opt out for
# a single run with SPARK_GRAFT_NUMERIC_ASSERT=0 if a test must probe
# the silent-saturation behavior itself (the assert-mode tests in
# test_numeric_assert.py set/unset the env var explicitly per-case).
os.environ.setdefault("SPARK_GRAFT_NUMERIC_ASSERT", "1")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("mads-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


SF1_DIR = "/tmp/sf1"


def pytest_terminal_summary(terminalreporter):
    """Name the sf1-contract tests that skipped because the sf1 corpus
    is missing, so the skip is not mistaken for a pass."""
    if os.path.isdir(SF1_DIR):
        return
    missed = [
        r.nodeid
        for r in terminalreporter.stats.get("skipped", [])
        if "make_sf1.py" in str(r.longrepr)
    ]
    if missed:
        terminalreporter.write_line(
            f"sf1 corpus {SF1_DIR} missing, did not run: {', '.join(missed)}; "
            "build it with: python tools/make_sf1.py"
        )
