"""A query owns its cached state for exactly its run: nothing a build
persists or collects may survive into the next query. Pins (a) that
bm25_scores re-reads corpus stats after a corpus is rewritten at the
same path, (b) that catalog.run_query releases every persist, also when
the action raises, and (c) that every benched catalog entry leaves the
CacheManager empty after its run."""

from __future__ import annotations

import pytest

import bench
from fegis_spark.catalog import catalog, run_query
from fegis_spark.operators.bm25 import bm25_scores
from tests.conftest import SF_DIR

BENCHED = [n for n, e in catalog().items() if e.bench] + bench.GROUP2


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _write(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)


def _scores(spark, path):
    df = spark.read.parquet(path)
    return {r.id: r.score for r in bm25_scores(df, "text", "doc_id", ["data"]).collect()}


def test_bm25_after_rewrite_matches_cold_build(spark, tmp_path):
    path = str(tmp_path / "corpus")
    _write(
        spark,
        path,
        [(1, "data systems store data"), (2, "model data"), (3, "no match here")],
    )
    _scores(spark, path)
    spark.catalog.clearCache()

    rewritten = [(1, "data"), (2, "data data"), (3, "model only"), (4, "more text here")]
    _write(spark, path, rewritten)
    got = _scores(spark, path)
    spark.catalog.clearCache()

    cold = str(tmp_path / "cold")
    _write(spark, cold, rewritten)
    want = _scores(spark, cold)
    spark.catalog.clearCache()
    assert set(want) == {1, 2}
    assert got == want


def test_run_query_releases_persists(spark, tmp_path):
    path = str(tmp_path / "corpus")
    _write(spark, path, [(1, "data systems"), (2, "model data")])
    spark.catalog.clearCache()

    def build():
        return bm25_scores(spark.read.parquet(path), "text", "doc_id", ["data"])

    def action(df):
        assert not _cache_empty(spark)  # the tfs projection is persisted
        return df.count()

    assert run_query(spark, build, action) == 2
    assert _cache_empty(spark)

    def failing(df):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        run_query(spark, build, failing)
    assert _cache_empty(spark)


@pytest.mark.parametrize("name", BENCHED)
def test_benched_entry_leaves_cache_empty(spark, name):
    e = catalog()[name]
    spark.catalog.clearCache()
    run_query(
        spark,
        lambda: e.builder(spark, SF_DIR),
        lambda df: df.write.format("noop").mode("overwrite").save(),
    )
    assert _cache_empty(spark)
