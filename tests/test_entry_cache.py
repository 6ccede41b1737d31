"""Driver-harness /tmp entry caches: staleness discipline.

The segment-index caches must invalidate when the FIXTURE content
changes, not only on library-format bumps — an old index over a new
documents.parquet passes every structural check while the oracle reads
the new file (review finding)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest


@pytest.fixture()
def sf_clone(tmp_path):
    src = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(src):
        pytest.skip("fixture missing")
    d = tmp_path / "sfclone"
    d.mkdir()
    shutil.copy(src, d / "documents.parquet")
    return str(d)


def test_ensure_index_invalidates_on_fixture_change(spark, sf_clone):
    import __spark_entry__ as e

    idx1 = e._ensure_index(spark, sf_clone)
    m1 = os.path.getmtime(os.path.join(idx1, "manifest.json"))
    # unchanged fixture: cache reused (no rebuild)
    e._ensure_index(spark, sf_clone)
    assert os.path.getmtime(os.path.join(idx1, "manifest.json")) == m1
    # regenerate the fixture (drop one row): MUST rebuild
    pdf = pd.read_parquet(os.path.join(sf_clone, "documents.parquet"))
    pdf.iloc[:-1].to_parquet(os.path.join(sf_clone, "documents.parquet"),
                             index=False)
    idx2 = e._ensure_index(spark, sf_clone)
    from jvector_spark.sources.segment import load_manifest

    assert load_manifest(idx2)["n_docs"] == len(pdf) - 1
    shutil.rmtree(idx2, ignore_errors=True)


def test_ensure_index_rebuilds_when_a_segment_dir_is_missing(
        spark, sf_clone, tmp_path, monkeypatch):
    """A cached index whose manifest names a segment dir that does not
    resolve (no meta.json) is rebuilt, not served: every query over it
    would fail with FileNotFoundError."""
    import __spark_entry__ as e
    from jvector_spark.sources.segment import load_manifest

    monkeypatch.setattr(e, "ENTRY_INDEX_ROOT", str(tmp_path / "entry"))
    idx = e._ensure_index(spark, sf_clone)
    assert idx.startswith(str(tmp_path / "entry"))
    gone = load_manifest(idx)["segments"][0]["path"]
    shutil.rmtree(gone)
    m1 = os.path.getmtime(os.path.join(idx, "manifest.json"))
    assert e._ensure_index(spark, sf_clone) == idx
    assert os.path.getmtime(os.path.join(idx, "manifest.json")) != m1
    assert all(os.path.exists(os.path.join(s["path"], "meta.json"))
               for s in load_manifest(idx)["segments"])
