"""Resumability tests: bucketed checkpoint lineage (spark/lineage.py)."""

import pytest

from shapely_spark.spark.extract import with_geo
from shapely_spark.spark.lineage import LineageRun
from shapely_spark.spark.pages import regions_df, synth_pages, synth_regions


@pytest.fixture(scope="module")
def pages(spark):
    return with_geo(synth_pages(spark, 2000)).cache()


def _transform(regions_frame):
    from shapely_spark.spark.join import spatial_join

    def fn(df):
        return spatial_join(df, regions_frame, predicate="intersects").select("url", "region_id")

    return fn


def test_lineage_resume_identical_output(spark, pages, tmp_path):
    """Kill after 3 of 8 buckets → resume → output equals a single-shot run
    (the north-rule resumability contract)."""
    rdf = regions_df(spark, synth_regions(40, seed=42))
    fn = _transform(rdf)

    out1 = str(tmp_path / "run_resumable")
    run = LineageRun(out1, n_buckets=8, bucket_key="url")
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(pages, fn, fail_after=3)
    assert len(run.completed()) == 3

    # resume: only the remaining 5 buckets run
    resumed = LineageRun(out1, n_buckets=8, bucket_key="url")
    ran = resumed.run(pages, fn)
    assert ran == 5
    assert len(resumed.completed()) == 8

    got = {(r.url, r.region_id) for r in resumed.result(spark).collect()}
    want = {(r.url, r.region_id) for r in fn(pages).collect()}
    assert got == want
    assert len(got) > 0


def test_lineage_metrics(spark, pages, tmp_path):
    rdf = regions_df(spark, synth_regions(10, seed=1))
    run = LineageRun(str(tmp_path / "m"), n_buckets=4, bucket_key="url")
    run.run(pages, _transform(rdf))
    m = run.metrics()
    assert len(m) == 4
    assert sum(r["rows_in"] for r in m) == pages.count()
    assert all(r["wall_sec"] > 0 for r in m)


def test_lineage_rerun_is_noop(spark, pages, tmp_path):
    rdf = regions_df(spark, synth_regions(10, seed=1))
    run = LineageRun(str(tmp_path / "n"), n_buckets=4, bucket_key="url")
    assert run.run(pages, _transform(rdf)) == 4
    assert run.run(pages, _transform(rdf)) == 0  # everything committed
