"""Resumability (checkpoint lineage) and Structured Streaming tests."""

import os

import pytest
from pyspark.sql import functions as F

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


def test_streaming_matches_batch(spark, tmp_path):
    """availableNow stream over the same files == batch result (windowed
    per-cell counts)."""
    from shapely_spark.streaming.pipeline import (
        read_pages_stream,
        run_stream_to_memory,
        stream_with_geo,
        windowed_tile_counts,
    )

    src = str(tmp_path / "landing")
    batch_pages = synth_pages(spark, 3000)
    batch_pages.write.mode("overwrite").parquet(src)

    stream = read_pages_stream(spark, src, max_files=2)
    assert stream.isStreaming
    counts_stream = windowed_tile_counts(stream_with_geo(stream), window="1 hour")
    # complete mode: append only emits windows the watermark has closed,
    # which never happens within a single availableNow drain
    run_stream_to_memory(counts_stream, "tile_counts_test", output_mode="complete")
    got = {
        (r.window_start, r.cell_id): r.n_pages
        for r in spark.sql("SELECT * FROM tile_counts_test").collect()
    }

    batch_geo = with_geo(spark.read.parquet(src)).where(F.col("cell_id") >= 0)
    want = {
        (r.win["start"], r.cell_id): r.n_pages
        for r in batch_geo.groupBy(F.window("warc_ts", "1 hour").alias("win"), "cell_id")
        .agg(F.count("*").alias("n_pages"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_foreach_batch_spatial_join(spark, tmp_path):
    from shapely_spark.streaming.pipeline import (
        foreach_batch_spatial_join,
        read_pages_stream,
        stream_with_geo,
    )

    src = str(tmp_path / "landing2")
    synth_pages(spark, 1000).write.mode("overwrite").parquet(src)
    rdf = regions_df(spark, synth_regions(20, seed=5))
    fn = foreach_batch_spatial_join(rdf)

    results = []

    def sink(batch_df, batch_id):
        out = fn(batch_df, batch_id)
        results.extend((r.url, r.region_id) for r in out.select("url", "region_id").collect())

    stream = stream_with_geo(read_pages_stream(spark, src, max_files=10))
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    from shapely_spark.spark.join import spatial_join

    want = {
        (r.url, r.region_id)
        for r in spatial_join(with_geo(spark.read.parquet(src)), rdf)
        .select("url", "region_id")
        .collect()
    }
    assert set(results) == want


def test_streaming_foreach_batch_knn_join(spark, tmp_path):
    """Streaming twin of the kNN join: readStream → with_geo →
    foreachBatch(knn_join) produces the same (url, target_id, rank) set as
    the batch plan over the same files — the SURVEY §2.10 claim that the
    batch kernels run unchanged per micro-batch, proven for the second
    flagship join."""
    from shapely_spark.spark.pages import HOTSPOTS
    from shapely_spark.streaming.pipeline import (
        foreach_batch_knn_join,
        read_pages_stream,
        stream_with_geo,
    )

    src = str(tmp_path / "landing_knn")
    synth_pages(spark, 1000).write.mode("overwrite").parquet(src)
    trows = [(i, float(lat), float(lon)) for i, (lat, lon) in enumerate(HOTSPOTS)]
    targets = spark.createDataFrame(trows, "target_id long, t_lat double, t_lon double")
    fn = foreach_batch_knn_join(targets, k=2, k_ring=2)

    results = []

    def sink(batch_df, batch_id):
        out = fn(batch_df, batch_id)
        results.extend(
            (r.url, r.target_id, r.knn_rank)
            for r in out.select("url", "target_id", "knn_rank").collect()
        )

    # several micro-batches: maxFilesPerTrigger=1 over a multi-file source
    stream = stream_with_geo(read_pages_stream(spark, src, max_files=1))
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    from shapely_spark.spark.knn import knn_join

    want = {
        (r.url, r.target_id, r.knn_rank)
        for r in knn_join(with_geo(spark.read.parquet(src)), targets, k=2, k_ring=2)
        .select("url", "target_id", "knn_rank")
        .collect()
    }
    assert set(results) == want
    assert len(want) > 0


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState session operator: closed sessions emitted by
    the stream must be a subset of (and in the common case equal to) the
    batch sessionization's non-final sessions, with identical aggregates."""
    from pyspark.sql import functions as F

    from shapely_spark.streaming.stateful import sessionize_stream

    src = str(tmp_path / "events_src")
    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    )
    # several files, range-ordered by event time: the file source lists
    # part files in name order, so microbatches arrive in event-time order
    # (cross-batch disorder with a 0s watermark would drop late events and
    # legitimately split sessions — a property, not a bug, but it would
    # make this equality test nondeterministic)
    events.repartitionByRange(3, "ts").sortWithinPartitions("ts").write.parquet(src)
    # the file source breaks listing ties by an unspecified order when all
    # part files share one mtime (observed under load): pin ascending
    # mtimes in partition order (repartitionByRange partition 0 = lowest
    # range) so microbatches really do arrive in event-time order
    import glob
    import os as _os
    import time as _time

    base = _time.time() - 3600
    for i, f in enumerate(sorted(glob.glob(_os.path.join(src, "part-*")))):
        _os.utime(f, (base + i * 10, base + i * 10))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, round(r.session_start, 3)): (r.n_events, round(r.sum_value, 2))
        for r in spark.sql("select * from sessions").collect()
    }
    assert len(got) > 0

    # batch truth: same gap sessionization
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    lag_ts = F.lag("ts").over(w)
    gap = F.col("ts").cast("double") - lag_ts.cast("double")
    sess = (
        events.withColumn("new_s", F.when(lag_ts.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min(F.col("ts").cast("double")).alias("start"),
             F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    truth = {
        (r.user_id, round(r.start, 3)): (r.n, r.s)
        for r in sess.collect()
    }
    for k, v in got.items():
        assert k in truth, k
        assert truth[k][0] == v[0] and abs(truth[k][1] - v[1]) < 0.05, (k, v, truth[k])


def test_streaming_foreach_batch_dwithin_join(spark, tmp_path):
    """Streaming twin of the fixed-radius join (r4): readStream →
    with_geo → foreachBatch(dwithin_join) yields the same pair set as
    the batch plan over the same files — stateless, so micro-batching
    only partitions the pairs by arrival."""
    from shapely_spark.spark.pages import HOTSPOTS
    from shapely_spark.streaming.pipeline import (
        foreach_batch_dwithin_join,
        read_pages_stream,
        stream_with_geo,
    )

    src = str(tmp_path / "landing_dwithin")
    synth_pages(spark, 1000).write.mode("overwrite").parquet(src)
    trows = [(i, float(lat), float(lon)) for i, (lat, lon) in enumerate(HOTSPOTS)]
    targets = spark.createDataFrame(trows, "target_id long, t_lat double, t_lon double")
    fn = foreach_batch_dwithin_join(targets, 500.0)

    results = set()

    def sink(batch_df, batch_id):
        out = fn(batch_df, batch_id)
        results.update((r.url, r.target_id)
                       for r in out.select("url", "target_id").collect())

    stream = stream_with_geo(read_pages_stream(spark, src, max_files=1))
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    from shapely_spark.spark.knn import dwithin_join

    want = {(r.url, r.target_id)
            for r in dwithin_join(with_geo(spark.read.parquet(src)),
                                  targets, 500.0)
            .select("url", "target_id").collect()}
    assert results == want and len(want) > 0


def test_streaming_foreach_batch_asof_join(spark, tmp_path):
    """Streaming twin of the as-of join (r4): each micro-batch of pages
    asof-joins its warc_ts against a static snapshot table; the
    streaming union must equal the batch result over the same files
    (stateless against a static right — per-row matches don't depend on
    batching)."""
    from shapely_spark.spark.temporal import asof_join
    from shapely_spark.streaming.pipeline import (
        foreach_batch_asof_join, read_pages_stream)

    src = str(tmp_path / "landing_asof")
    synth_pages(spark, 800).write.mode("overwrite").parquet(src)
    snaps = spark.createDataFrame(
        [(s, f"2026-01-01 00:0{m}:00", float(s * 10 + m))
         for s in range(6) for m in range(10)],
        "site long, snap_ts string, snap_val double",
    ).selectExpr("site", "CAST(snap_ts AS TIMESTAMP) AS snap_ts", "snap_val")

    def with_site(df):
        return df.selectExpr(
            "url", "warc_ts",
            "CAST(regexp_extract(url, 'site([0-9]+)', 1) AS LONG) % 6 AS site",
        )

    fn = foreach_batch_asof_join(snaps, on="site", left_ts="warc_ts",
                                 right_ts="snap_ts")
    results = set()

    def sink(batch_df, batch_id):
        out = fn(with_site(batch_df), batch_id)
        results.update((r.url, r.snap_val) for r in
                       out.select("url", "snap_val").collect())

    q = (read_pages_stream(spark, src, max_files=1)
         .writeStream.foreachBatch(sink).trigger(availableNow=True).start())
    q.awaitTermination()

    want = {(r.url, r.snap_val) for r in
            asof_join(with_site(spark.read.parquet(src)), snaps,
                      on="site", left_ts="warc_ts", right_ts="snap_ts")
            .select("url", "snap_val").collect()}
    assert results == want and len(want) > 0
    assert any(v is not None for _, v in want)


def _stamp_mtimes(src, step):
    """Give every not-yet-stamped parquet part in `src` a strictly
    increasing mtime so the streaming file source lists microbatches in
    write order (same-instant writes otherwise tie arbitrarily)."""
    import glob
    import os

    t0 = 1_000_000_000 + step * 1000
    for f in sorted(glob.glob(os.path.join(src, "*.parquet"))):
        if os.path.getmtime(f) > t0 + 999:
            os.utime(f, (t0, t0))


def test_revisit_stream_matches_batch_twin(spark, tmp_path):
    """Streaming revisit detection equals the batch version_changes
    classification when fetches arrive in crawl (ts) order, and flags —
    rather than misclassifies — a late out-of-order fetch."""
    import pandas as pd
    from pyspark.sql import functions as F

    from shapely_spark.spark.crawl import version_changes
    from shapely_spark.streaming.stateful import revisit_stream

    base = 1_700_000_000
    rows = []
    for v in range(3):                    # 3 crawl rounds
        for u in range(4):                # 4 urls
            text = f"u{u} rev {0 if v == 0 else (v if (u + v) % 2 else v - 1)}"
            rows.append((f"https://h{u % 2}.example.org/{u}",
                         base + v * 1000 + u, text))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "epoch", "text"]),
        "url string, epoch long, text string",
    ).withColumn("warc_ts", F.col("epoch").cast("timestamp")).drop("epoch")
    src = str(tmp_path / "fetch_src")
    # one file per crawl round, mtimes stamped increasing so the file
    # source (which orders by modification time) replays crawl order
    for v in range(3):
        lo, hi = base + v * 1000, base + v * 1000 + 999
        (df.where((F.col("warc_ts").cast("long") >= lo)
                  & (F.col("warc_ts").cast("long") <= hi))
         .coalesce(1).write.mode("append").parquet(src))
        _stamp_mtimes(src, v)

    stream = (spark.readStream.schema("url string, text string, warc_ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (revisit_stream(stream).writeStream.format("memory")
         .queryName("revisit_out").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.url, r.ts): (r.is_first, r.changed, r.out_of_order)
           for r in spark.sql("select * from revisit_out").collect()}
    assert len(got) == 12
    truth = {(r.url, float(r.warc_ts.timestamp())): (r.is_first, r.changed)
             for r in version_changes(df).collect()}
    for k, (first, changed, ood) in got.items():
        assert not ood
        assert truth[k] == (first, changed), (k, truth[k], (first, changed))


def test_revisit_stream_out_of_order_flag(spark, tmp_path):
    """A fetch older than the url's newest state is flagged, not used to
    roll state backwards."""
    import pandas as pd
    from pyspark.sql import functions as F

    from shapely_spark.streaming.stateful import revisit_stream

    base = 1_700_000_000
    batches = [
        [("https://a/x", base + 100, "new")],
        [("https://a/x", base + 50, "old")],   # arrives late
        [("https://a/x", base + 200, "new")],  # unchanged vs state (base+100)
    ]
    src = str(tmp_path / "ooo_src")
    for i, b in enumerate(batches):
        spark.createDataFrame(
            pd.DataFrame(b, columns=["url", "epoch", "text"]),
            "url string, epoch long, text string",
        ).withColumn("warc_ts", F.col("epoch").cast("timestamp")).drop(
            "epoch").coalesce(1).write.mode("append").parquet(src)
        _stamp_mtimes(src, i)

    stream = (spark.readStream.schema("url string, text string, warc_ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (revisit_stream(stream).writeStream.format("memory")
         .queryName("revisit_ooo").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = sorted(spark.sql("select * from revisit_ooo").collect(),
                  key=lambda r: r.ts)
    flags = {round(r.ts - base): (r.is_first, r.changed, r.out_of_order)
             for r in rows}
    assert flags[100] == (True, False, False)
    # the late ts=50 fetch is flagged out-of-order (classified against the
    # newest state, "new", so changed=True) and does NOT roll state back
    assert flags[50] == (False, True, True)
    assert flags[200] == (False, False, False)  # "new" vs "new": unchanged


def test_streaming_foreach_batch_robots_filter(spark, tmp_path):
    """Streaming twin of the robots politeness filter (r5 join tier):
    readStream → foreachBatch(robots_filter) flags each arriving page
    identically to the batch plan — stateless against a static robots
    relation, no driver collect, no per-host plan literal."""
    from shapely_spark.streaming.pipeline import (
        foreach_batch_robots_filter,
        read_pages_stream,
    )
    from shapely_spark.text.robots import robots_filter

    src = str(tmp_path / "landing_robots")
    synth_pages(spark, 400).write.mode("overwrite").parquet(src)
    # synth urls are https://site<N>.example/page/<i>; block /page/1*
    # (with an /page/12* carve-out) on half the hosts
    robots = spark.createDataFrame(
        [(f"site{i}.example",
          "User-agent: *\nDisallow: /page/1\nAllow: /page/12\n")
         for i in range(0, 400, 2)],
        "host string, robots_txt string")
    fn = foreach_batch_robots_filter(robots)

    results = {}

    def sink(batch_df, batch_id):
        out = fn(batch_df, batch_id)
        results.update((r.url, r.robots_allowed)
                       for r in out.select("url", "robots_allowed").collect())

    q = (read_pages_stream(spark, src, max_files=1)
         .writeStream.foreachBatch(sink).trigger(availableNow=True).start())
    q.awaitTermination()

    want = {(r.url, r.robots_allowed)
            for r in robots_filter(spark.read.parquet(src), robots)
            .select("url", "robots_allowed").collect()}
    assert set(results.items()) == want and len(want) == 400
    assert any(not allowed for _u, allowed in want)  # the filter bites
