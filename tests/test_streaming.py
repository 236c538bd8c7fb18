"""Structured Streaming: windowed aggregation, stateful sessionizing and
the incremental decode of committed waves."""

import pytest
from pyspark.sql import functions as F

from kmers_spark import pages


@pytest.mark.slow
def test_windowed_agg_stream_equals_batch(spark, tmp_path):
    """Watermarked windowed aggregation over the events stream matches the
    batch groupBy(window(...)) on the same data (late-data semantics are
    a no-op here because the source replays in order)."""
    src = "/root/testdata/sf0.001/events.parquet"
    batch = spark.read.parquet(src).withColumn(
        "ts", F.col("ts").cast("timestamp")  # watermarks need TZ-aware event time
    )

    agg_batch = (
        batch.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
        .collect()
    )

    import shutil as _sh

    src_dir = str(tmp_path / "events_src")
    import os as _os

    _os.makedirs(src_dir, exist_ok=True)
    _sh.copy(src, f"{src_dir}/events.parquet")
    raw_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_agg")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    agg_stream = spark.sql("SELECT * FROM win_agg").collect()

    key = lambda r: (r["window"]["start"], r["event_type"])
    b = {key(r): (r["n"], r["v"]) for r in agg_batch}
    s = {key(r): (r["n"], r["v"]) for r in agg_stream}
    assert b == s


@pytest.mark.slow
def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer over two arrivals == the batch
    sessionize query on the union (state carries session counters and
    last-seen across micro-batches)."""
    from kmers_spark.functions import olap
    from kmers_spark.streaming import stateful

    sf = "/root/testdata/sf0.001"
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf}/events.parquet").select("event_id", "user_id", "ts")
    src = str(tmp_path / "ev_src")
    # arrival order must respect per-user ts order: split at the global
    # ts median (percent_rank is type-agnostic; NTZ won't cast to double)
    ranked = ev.withColumn("r", F.percent_rank().over(W.orderBy("ts", "event_id")))
    ranked.filter(F.col("r") <= 0.5).drop("r").coalesce(1).write.parquet(f"{src}/b=1")
    ranked.filter(F.col("r") > 0.5).drop("r").coalesce(1).write.parquet(f"{src}/b=2")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b=*")
    )
    out = stateful.sessionize_stream(stream, gap_s=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["event_id"], r["user_id"]): r["session_id"]
        for r in spark.table("sess_out").collect()
    }
    expect = {
        (r["event_id"], r["user_id"]): r["session_id"]
        for r in olap.sessionize(spark, sf).collect()
    }
    assert len(got) == len(expect)
    assert got == expect


def test_streaming_decode_of_wave_layout(spark, tmp_path):
    """Decode mirror of the streaming encode (round 3): a ticker-driven
    foreachBatch decodes newly committed waves incrementally, idempotent
    per wave, equivalent to the batch decode at every step."""
    from kmers_spark import pages
    from kmers_spark.operators import decode as dec, encode as enc
    from kmers_spark.streaming import decode_stream as ds

    out = str(tmp_path / "snap_sdec")
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "ckpt/processed_waves.json")
    df = pages.pages_df(spark, 1500, seed=9, partitions=4).cache()
    df.count()

    # wave 1: a partial encode (buckets 0-2 of 6)
    enc.encode_table(df, out, num_buckets=6, detect_skew=False,
                     fail_buckets_over=3, commit_every=3)
    done = ds.decode_new_waves(spark, out, sink, state)
    assert len(done) == 1
    got1 = ds.read_decoded(spark, sink)
    want1 = dec.decode_table(spark, out)
    assert got1.count() == want1.count() > 0
    assert got1.join(want1, "url", "left_anti").count() == 0

    # no new waves -> no work
    assert ds.decode_new_waves(spark, out, sink, state) == []

    # wave 2: the encode resumes; the stream picks up ONLY the new wave
    enc.encode_table(df, out, num_buckets=6, detect_skew=False, commit_every=3)
    done = ds.decode_new_waves(spark, out, sink, state)
    assert len(done) == 1
    got2 = ds.read_decoded(spark, sink)
    assert got2.count() == df.count()
    assert got2.join(df, "url", "left_anti").count() == 0
    assert df.join(got2, "url", "left_anti").count() == 0

    # replay idempotence: losing the marker re-decodes the same wave
    # into the same files (overwrite), never duplicating rows
    import json
    with open(state) as f:
        st = json.load(f)
    lost = st["waves"].pop()
    st["buckets"] = []  # as if the marker write never happened
    with open(state, "w") as f:
        json.dump(st, f)
    assert ds.decode_new_waves(spark, out, sink, state) == [lost]
    assert ds.read_decoded(spark, sink).count() == df.count()


def test_streaming_decode_survives_compaction(spark, tmp_path):
    """Compaction rewrites delivered waves into a fresh dir; the stream
    must not re-deliver those rows (bucket-level processed state), and
    must still deliver buckets compaction merged in that it had NOT yet
    shipped."""
    from kmers_spark import pages
    from kmers_spark.operators import encode as enc
    from kmers_spark.streaming import decode_stream as ds

    out = str(tmp_path / "snap_sc")
    sink = str(tmp_path / "sink_sc")
    state = str(tmp_path / "ckpt_sc/processed_waves.json")
    df = pages.pages_df(spark, 1000, seed=11, partitions=2).cache()
    df.count()

    # two waves; the stream delivers only the first
    enc.encode_table(df, out, num_buckets=4, detect_skew=False,
                     fail_buckets_over=2, commit_every=2)
    assert len(ds.decode_new_waves(spark, out, sink, state)) == 1
    n1 = ds.read_decoded(spark, sink).count()
    enc.encode_table(df, out, num_buckets=4, detect_skew=False, commit_every=2)

    # compaction merges the delivered and the undelivered wave
    enc.compact_waves(spark, out)

    # the stream sees one new (compacted) wave: it decodes ONLY the
    # buckets it hasn't shipped — total rows equal the table exactly
    done = ds.decode_new_waves(spark, out, sink, state)
    assert len(done) == 1
    got = ds.read_decoded(spark, sink)
    assert got.count() == df.count() > n1
    assert got.select("url").distinct().count() == df.count()

    # fully-delivered store + another compaction: nothing re-decodes
    enc.compact_waves(spark, out)  # no-op (single wave)
    assert ds.decode_new_waves(spark, out, sink, state) == []
    assert ds.read_decoded(spark, sink).count() == df.count()


def test_streaming_decode_query_available_now(spark, tmp_path):
    """The actual StreamingQuery wiring: an availableNow ticker run
    decodes every committed wave then stops."""
    from kmers_spark import pages
    from kmers_spark.streaming import decode_stream as ds
    from kmers_spark.operators import encode as enc

    out = str(tmp_path / "snap_sq")
    sink = str(tmp_path / "sink_sq")
    ckpt = str(tmp_path / "ckpt_sq")
    df = pages.pages_df(spark, 800, seed=10, partitions=2).cache()
    df.count()
    enc.encode_table(df, out, num_buckets=4, detect_skew=False, commit_every=2)

    q = ds.decode_stream(spark, out, sink, ckpt, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive
    assert ds.read_decoded(spark, sink).count() == df.count()


def test_streaming_decode_filtered_view(spark, tmp_path):
    """--filter turns the streaming sink into an incrementally
    maintained filtered materialized view: each wave ships only
    matching rows, and the accumulated sink equals a batch scan."""
    from kmers_spark import pages
    from kmers_spark.operators import decode as dec, encode as enc
    from kmers_spark.streaming import decode_stream as ds

    out = str(tmp_path / "snap_fview")
    sink = str(tmp_path / "fsink")
    state = str(tmp_path / "fckpt/processed_waves.json")
    df = pages.pages_df(spark, 1500, seed=23, partitions=4).cache()
    filters = [("lang", "=", "de")]

    enc.encode_table(df, out, num_buckets=6, detect_skew=False,
                     fail_buckets_over=3, commit_every=3)
    assert len(ds.decode_new_waves(spark, out, sink, state, filters=filters)) == 1
    # remaining buckets commit; the stream ships only their matches
    enc.encode_table(df, out, num_buckets=6, detect_skew=False, commit_every=3)
    assert len(ds.decode_new_waves(spark, out, sink, state, filters=filters)) == 1

    got = ds.read_decoded(spark, sink).toPandas().sort_values("url").reset_index(drop=True)
    want = dec.scan_table(spark, out, filters).toPandas().sort_values("url").reset_index(drop=True)
    assert got.equals(want)
    assert len(got) == df.filter(df.lang == "de").count() > 0
