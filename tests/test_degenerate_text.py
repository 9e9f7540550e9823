"""Degenerate-document totality: every documents-table consumer must
run to completion on a corpus containing NULL, empty, and
whitespace-only text rows.

Web-scale corpora carry broken rows as a matter of course (failed
extraction → null, stripped boilerplate → empty). The text family's
contract is to CLASSIFY or DROP such rows (quality gates, token
floors), never to crash on them — tokenize/shingle expressions fold
null to null, explodes skip it, and gates evaluate it like any other
failing document.
"""

from __future__ import annotations

import inspect

import pytest

from market_analyze_data_stream_processing_spark.cache import unpin_all
from market_analyze_data_stream_processing_spark.plans import QUERIES


def _documents_consumers():
    return [
        name
        for name, q in QUERIES.items()
        if "documents" in inspect.getsource(q.fn)
    ]


@pytest.fixture(scope="module")
def degenerate_sf_dir(spark, tmp_path_factory):
    """sf0.001 with three degenerate documents appended: null text,
    empty text, whitespace-only text (fresh high doc_ids)."""
    import os
    import shutil

    root = tmp_path_factory.mktemp("sf_degen")
    src = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem "
        "events embeddings"
    ).split():
        s, d = f"{src}/{t}.parquet", str(root / f"{t}.parquet")
        shutil.copytree(s, d) if os.path.isdir(s) else shutil.copy(s, d)
    d = spark.read.parquet(f"{src}/documents.parquet")
    cols = d.columns
    rows = []
    for i, r in enumerate(d.limit(3).collect()):
        rd = r.asDict()
        rd["doc_id"] = 900000 + i
        rd["text"] = [None, "", "   \t  "][i]
        rows.append(tuple(rd[c] for c in cols))
    bad = spark.createDataFrame(rows, d.schema)
    d.unionByName(bad).coalesce(1).write.parquet(str(root / "documents.parquet"))
    return str(root)


def test_text_family_is_total_on_degenerate_docs(spark, degenerate_sf_dir):
    names = _documents_consumers()
    assert len(names) >= 25  # the family is substantial; guard the guard
    fails = []
    for name in names:
        try:
            QUERIES[name].fn(spark, degenerate_sf_dir).count()
        except Exception as e:  # noqa: BLE001 - recording, not handling
            fails.append(f"{name}: {str(e).splitlines()[0][:100]}")
        unpin_all(spark)
    assert not fails, "queries crash on degenerate text:\n" + "\n".join(fails)
