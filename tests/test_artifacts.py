"""The artifact warehouse (plans/artifacts.py): SPARK_GRAFT_ARTIFACTS
accepts warm|off, every artifact computes the same rows in both modes,
off mode never touches the warehouse, and a build that crashes before
its manifest commit publishes nothing and repairs on retry."""

from __future__ import annotations

import shutil
from collections import Counter
from pathlib import Path

import pytest

from commercial_rfp_data_pipeline_spark.plans import artifacts as A

# every ensure_* plus the dedup index and the manifest-literal counts
ARTIFACTS = sorted(n for n in dir(A) if n.startswith("ensure_")) + [
    "dedup_index_for",
    "token_index_n_docs",
    "copurchase_n_edges",
    "bipartite_n_edges",
]


def _freeze(v):
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    return v


def _rows(out) -> list:
    """Every table an artifact function returns, as row multisets (a
    count accessor's int passes through)."""
    if isinstance(out, int):
        return [out]
    tables = out if isinstance(out, tuple) else (out,)
    return [
        Counter(tuple(_freeze(v) for v in r) for r in df.collect())
        for df in tables
    ]


def test_artifacts_mode_validation(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ARTIFACTS", raising=False)
    assert A.artifacts_mode() == "warm"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "OFF")
    assert A.artifacts_mode() == "off"
    for bad in ("hot", "cold"):
        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", bad)
        with pytest.raises(ValueError):
            A.artifacts_mode()


@pytest.mark.parametrize("name", ARTIFACTS)
def test_artifacts_off_matches_warm_and_never_writes(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """off mode derives the identical rows inline, without creating
    anything under the warehouse root."""
    fn = getattr(A, name)
    wh = tmp_path / "art"
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(wh))
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "warm")
    warm = _rows(fn(spark, sf_dir))
    assert wh.exists()

    shutil.rmtree(wh)  # off must not need it
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    off = _rows(fn(spark, sf_dir))
    assert off == warm
    # no read, no write: the root removed before the off pass must not
    # have been recreated by it
    assert not wh.exists()


def test_crash_mid_build_publishes_nothing_and_retry_repairs(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A builder that raises after the first table is staged leaves no
    manifest, so nothing is served; the retry builds and serves the
    same rows as off mode."""
    from commercial_rfp_data_pipeline_spark.operators import textops

    wh = tmp_path / "art"
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(wh))
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "warm")
    root = Path(A.corpus_warehouse(spark, sf_dir), "clean_pool_v1")

    def boom(*args, **kwargs):
        raise RuntimeError("injected crash in the second builder")

    real = textops.contamination_overlap
    monkeypatch.setattr(textops, "contamination_overlap", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        A.ensure_clean_pool(spark, sf_dir)
    assert (root / "kept").is_dir()  # the first table was staged
    assert not (root / "MANIFEST.json").exists()

    monkeypatch.setattr(textops, "contamination_overlap", real)
    served = _rows(A.ensure_clean_pool(spark, sf_dir))
    assert (root / "MANIFEST.json").exists()

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    assert served == _rows(A.ensure_clean_pool(spark, sf_dir))


def test_query_level_off_matches_warm(spark, sf_dir, tmp_path, monkeypatch):
    """End-to-end: an artifact-served registry query computes identical
    rows in off and warm modes."""
    from commercial_rfp_data_pipeline_spark.registry import all_queries

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "art"))
    q = all_queries()["fuzzy_name_pairs"]
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "warm")
    warm = {tuple(r) for r in q(spark, sf_dir).collect()}
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", "off")
    off = {tuple(r) for r in q(spark, sf_dir).collect()}
    assert off == warm
