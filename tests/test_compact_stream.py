"""In-place generation compaction of streamed stores
(operators/compact.compact_stream).

A sink-appended store accumulates one generation per (micro-batch,
bucket) forever; compaction merges them into one generation per bucket
while the stream keeps appending, and the stream reader's offsets
survive via the stream_wave_base watermark (virgin checkpoints re-read
merged history exactly once; checkpoints inside the merged range raise
— Iceberg's incremental-read-across-rewrite rule)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kmers_spark import datasource, manifest, pages
from kmers_spark.operators import partitioning
from kmers_spark.operators.compact import compact_stream
from kmers_spark.operators.decode import (
    decode_colocated,
    decode_table,
    lookup_keys,
    scan_table,
)

N_B = 8


def _run_sink(spark, src_dir, schema, out, ckpt, stream_id=None):
    sdf = spark.readStream.schema(schema).parquet(src_dir)
    w = (
        partitioning.with_bucket(sdf, N_B, {}).repartition("bucket")
        .writeStream.format("kmers")
        .option("checkpointLocation", ckpt)
        .option("numBuckets", str(N_B))
    )
    if stream_id:
        w = w.option("streamId", stream_id)
    q = w.trigger(availableNow=True).start(out)
    q.awaitTermination(120)


def _thirds(df):
    h = F.abs(F.xxhash64("url")) % 3
    return [df.filter(h == i) for i in range(3)]


@pytest.fixture(scope="module")
def compacted_store(spark, tmp_path_factory):
    """1200 rows ingested as 3 sink batches (3 generations per bucket),
    then compact_stream merged them all."""
    root = tmp_path_factory.mktemp("cstream")
    src, out, ckpt = str(root / "src"), str(root / "snap"), str(root / "ckpt")
    df = pages.pages_df(spark, 1200, seed=97, partitions=4).cache()
    datasource.register(spark)
    for i, part in enumerate(_thirds(df)):
        part.write.mode("append").parquet(src)
        _run_sink(spark, src, df.schema, out, ckpt)
    m0 = manifest.load(out)
    assert len(m0["wave_dirs"]) == 3
    res = compact_stream(spark, out)
    assert [d.rsplit("/", 1)[-1] for d in res["merged_waves"]]
    return out, df


def test_manifest_shape_after_compaction(compacted_store):
    out, _df = compacted_store
    m = manifest.load(out)
    assert len(m["wave_dirs"]) == 1
    assert m["stream_wave_base"] == 3
    assert m["streamed"] is True
    # exactly-once bookkeeping survives: a replayed old batchId still
    # reads as committed
    epochs = m["stream_epochs"]["stream"]
    assert manifest.is_replayed_epoch(epochs, 0) is True
    # one generation per bucket: no duplicate (bucket, column) entries
    blocks = manifest.block_stats(out, m)
    for b, stats in blocks.items():
        cols = [s["column"] for s in stats]
        assert len(cols) == len(set(cols)), f"bucket {b} kept generations"
    # stats row counts add up to the table
    n = sum(next(s["n_rows"] for s in st if s["column"] == "url")
            for st in blocks.values())
    assert n == 1200


def test_all_readers_bit_identical(spark, compacted_store):
    out, df = compacted_store
    want = df.toPandas().sort_values("url").reset_index(drop=True)
    for name, reader in (
        ("colocated", lambda: decode_colocated(spark, out)),
        ("decode_table", lambda: decode_table(spark, out)),
        ("datasource", lambda: spark.read.format("kmers").load(out)),
    ):
        got = reader().toPandas().sort_values("url").reset_index(drop=True)
        assert got.equals(want[got.columns]), name


def test_scan_and_lookup_after_compaction(spark, compacted_store):
    out, df = compacted_store
    got = scan_table(spark, out, [("lang", "=", "en")]).toPandas() \
        .sort_values("url").reset_index(drop=True)
    want = df.filter(F.col("lang") == "en").toPandas()[got.columns] \
        .sort_values("url").reset_index(drop=True)
    assert got.equals(want)
    urls = [r["url"] for r in df.select("url").limit(3).collect()]
    assert lookup_keys(spark, out, urls).count() == len(set(urls))
    assert lookup_keys(spark, out, ["http://nope.example/x"]).count() == 0


def test_keep_last_appends_and_second_compaction(spark, tmp_path):
    """keep_last leaves the newest generations unmerged; appends after
    a compaction keep working (inline-stat suffix arithmetic), and a
    second compaction merges the previous merged head with the tail."""
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "snap", "ckpt"))
    df = pages.pages_df(spark, 900, seed=31, partitions=3).cache()
    datasource.register(spark)
    parts = _thirds(df)
    for part in parts[:3]:
        part.write.mode("append").parquet(src)
        _run_sink(spark, src, df.schema, out, ckpt)

    res = compact_stream(spark, out, keep_last=1)
    m = manifest.load(out)
    assert len(res["merged_waves"]) == 2
    assert len(m["wave_dirs"]) == 2  # merged head + kept tail
    assert m["stream_wave_base"] == 2
    got = decode_colocated(spark, out).toPandas() \
        .sort_values("url").reset_index(drop=True)
    assert got.equals(df.toPandas()[got.columns]
                      .sort_values("url").reset_index(drop=True))

    # append a 4th batch AFTER the compaction (same query continues)
    df2 = pages.pages_df(spark, 300, seed=32, partitions=1) \
        .withColumn("url", F.concat(F.lit("http://g4."),
                                    F.col("url").substr(8, 999))).cache()
    df2.write.mode("append").parquet(src)
    _run_sink(spark, src, df.schema, out, ckpt)
    m = manifest.load(out)
    assert len(m["wave_dirs"]) == 3
    assert manifest.stream_seq_end(m) == 4

    # second compaction: merged head (no seq) + 2 tail waves
    res2 = compact_stream(spark, out)
    m = manifest.load(out)
    assert len(res2["merged_waves"]) == 3
    assert len(m["wave_dirs"]) == 1
    assert m["stream_wave_base"] == 4
    all_rows = df.toPandas()
    want = (
        __import__("pandas").concat([all_rows, df2.toPandas()])
        .sort_values("url").reset_index(drop=True)
    )
    got = decode_colocated(spark, out).toPandas() \
        .sort_values("url").reset_index(drop=True)
    assert got.equals(want[got.columns])
    # stats stayed consistent through both swaps
    blocks = manifest.block_stats(out, m)
    n = sum(next(s["n_rows"] for s in st if s["column"] == "url")
            for st in blocks.values())
    assert n == 1200


def test_stream_reader_offsets_across_compaction(spark, tmp_path):
    """A reader checkpointed at/after the watermark continues exactly;
    after a full compaction it sees nothing new; a FRESH checkpoint
    re-reads merged history exactly once; a checkpoint strictly inside
    the merged range raises."""
    src, out = str(tmp_path / "src"), str(tmp_path / "snap")
    wck, rck, rck2 = (str(tmp_path / n) for n in ("wck", "rck", "rck2"))
    df = pages.pages_df(spark, 600, seed=71, partitions=2).cache()
    datasource.register(spark)
    parts = _thirds(df)

    def drain(ck) -> int:
        seen = []
        q = (
            spark.readStream.format("kmers").load(out)
            .writeStream.foreachBatch(lambda b, i: seen.append(b.count()))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sum(seen)

    parts[0].write.mode("append").parquet(src)
    _run_sink(spark, src, df.schema, out, wck)
    parts[1].write.mode("append").parquet(src)
    _run_sink(spark, src, df.schema, out, wck)
    n01 = parts[0].count() + parts[1].count()
    assert drain(rck) == n01  # reader checkpointed at seq 2

    parts[2].write.mode("append").parquet(src)
    _run_sink(spark, src, df.schema, out, wck)
    compact_stream(spark, out, keep_last=1)  # base=2: reader unaffected
    assert drain(rck) == parts[2].count()  # exactly the new generation

    compact_stream(spark, out)  # merge everything; base=3
    assert drain(rck) == 0  # reader at watermark: nothing new
    assert drain(rck2) == 600  # virgin checkpoint: full history once

    m = manifest.load(out)
    with pytest.raises(ValueError, match="compaction watermark"):
        manifest.stream_dirs_between(m, 1, manifest.stream_seq_end(m))


def test_evolution_before_compaction_hardens(spark, tmp_path):
    """Generations predating an evolution null-fill; the merge writes a
    REAL block (with nulls) for the evolved column, and the remapped
    watermark (mark -> 0) makes a merged wave missing it RAISE — the
    compaction upgrades the store's integrity, never weakens it."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    out, ck1, ck2 = (str(tmp_path / n) for n in ("snap", "c1", "c2"))
    df = pages.pages_df(spark, 300, seed=81, partitions=2).cache()
    datasource.register(spark)
    df.write.parquet(src1)
    _run_sink(spark, src1, df.schema, out, ck1)

    manifest.evolve_schema(out, {"score": "double"})
    df2 = pages.pages_df(spark, 200, seed=82, partitions=2) \
        .withColumn("url", F.concat(F.lit("http://g2."),
                                    F.col("url").substr(8, 999))) \
        .withColumn("score", F.lit(1.5)).cache()
    df2.write.parquet(src2)
    _run_sink(spark, src2, df2.schema, out, ck2, stream_id="gen2")

    compact_stream(spark, out)
    m = manifest.load(out)
    assert m["evolution_waves"]["score"] == 0  # nothing predates it now
    got = decode_colocated(spark, out).toPandas()
    assert len(got) == 500
    assert got["score"].isna().sum() == 300  # pre-evo rows stay null

    # the merged wave carries a real score block: stripping it is
    # CORRUPTION, not evolution
    stripped = 0
    for f in glob.glob(f"{out}/{m['wave_dirs'][0]}/part-*"):
        t = pq.read_table(f)
        t2 = t.filter(pc.not_equal(t.column("column"), "score"))
        stripped += t.num_rows - t2.num_rows
        pq.write_table(t2, f, compression="none")
        # the compaction wave was written by Spark, which leaves .crc
        # sidecars; drop them so the rewrite reads (the batch-store
        # corruption test's waves are pyarrow-written and have none)
        d, base = f.rsplit("/", 1)
        crc = f"{d}/.{base}.crc"
        if __import__("os").path.exists(crc):
            __import__("os").unlink(crc)
    assert stripped > 0
    with pytest.raises(Exception, match="corrupt"):
        decode_colocated(spark, out).toPandas()


@pytest.fixture(scope="module")
def two_gen_store(spark, tmp_path_factory):
    """A streamed store of 2 sink batches (2 generations per bucket),
    not compacted; tests corrupt copies of it."""
    root = tmp_path_factory.mktemp("twogen")
    src, out, ckpt = str(root / "src"), str(root / "snap"), str(root / "ckpt")
    df = pages.pages_df(spark, 400, seed=29, partitions=2).cache()
    datasource.register(spark)
    for part in _thirds(df)[:2]:
        part.write.mode("append").parquet(src)
        _run_sink(spark, src, df.schema, out, ckpt)
    assert len(manifest.load(out)["wave_dirs"]) == 2
    return out


@pytest.mark.parametrize("how,msg", [
    ("missing", r"generation 'w_\w+': bucket \d+ block set is corrupt: "
                r"missing columns \['lang'\]"),
    ("duplicate", r"generation 'w_\w+': duplicate block rows for bucket"),
])
def test_corrupt_generation_fails_compaction(spark, two_gen_store, tmp_path,
                                             how, msg):
    """The merge decodes each generation through the bucket-decode
    kernel: a generation missing a column the schema never evolved, or
    holding a column twice, fails the compaction instead of merging
    silently wrong rows — and the store keeps its generations."""
    import glob
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = str(tmp_path / "snap")
    shutil.copytree(two_gen_store, out)
    m = manifest.load(out)
    f = sorted(glob.glob(f"{out}/{m['wave_dirs'][0]}/*.parquet"))[0]
    t = pq.read_table(f)
    in_b = pc.equal(t.column("bucket"), t.column("bucket")[0])
    lang = pc.and_(in_b, pc.equal(t.column("column"), "lang"))
    if how == "missing":
        t = t.filter(pc.invert(lang))
    else:
        t = pa.concat_tables([t, t.filter(lang)])
    pq.write_table(t, f, compression="none")
    d, base = f.rsplit("/", 1)
    if os.path.exists(f"{d}/.{base}.crc"):  # Spark checks the checksum
        os.unlink(f"{d}/.{base}.crc")

    with pytest.raises(Exception, match=msg):
        compact_stream(spark, out)
    assert manifest.load(out)["wave_dirs"] == m["wave_dirs"]


def test_evolution_after_compaction_allows_merged_wave(spark, tmp_path):
    """A column evolved AFTER a compaction: the merged wave predates it
    and must keep the null-fill allowance (remap must not over-harden)."""
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "snap", "ckpt"))
    df = pages.pages_df(spark, 400, seed=83, partitions=2).cache()
    datasource.register(spark)
    for part in _thirds(df)[:2]:
        part.write.mode("append").parquet(src)
        _run_sink(spark, src, df.schema, out, ckpt)
    compact_stream(spark, out)
    manifest.evolve_schema(out, {"rank": "int64"})
    m = manifest.load(out)
    assert m["evolution_waves"]["rank"] == 1  # merged wave (index 0) predates
    allow = manifest.wave_allowance(m, ["rank"])
    merged_name = m["wave_dirs"][0].rsplit("/", 1)[-1]
    assert allow[merged_name] == {"rank"}
    got = decode_colocated(spark, out).toPandas()
    n01 = sum(p.count() for p in _thirds(df)[:2])
    assert len(got) == n01
    assert got["rank"].isna().all()


def test_to_batch_unlocks_mutations(spark, tmp_path):
    """Retirement path for a finished ingest: stop sink ->
    compact_stream -> to_batch -> the batch mutation surface applies
    (delete_keys on a store that began life as a stream)."""
    from kmers_spark.operators.compact import to_batch
    from kmers_spark.operators.delete import delete_keys

    src, out, ckpt = (str(tmp_path / n) for n in ("src", "snap", "ckpt"))
    df = pages.pages_df(spark, 500, seed=13, partitions=2).cache()
    datasource.register(spark)
    for part in _thirds(df)[:2]:
        part.write.mode("append").parquet(src)
        _run_sink(spark, src, df.schema, out, ckpt)

    # multi-generation store refuses the flip
    with pytest.raises(ValueError, match="compact_stream"):
        to_batch(out)
    compact_stream(spark, out)
    m = to_batch(out)
    assert m["streamed"] is False
    assert "stream_epochs" in m  # replay detection survives a sink restart

    n01 = sum(p.count() for p in _thirds(df)[:2])
    doomed = [r["url"] for r in df.select("url").limit(3).collect()]
    in_store = decode_colocated(spark, out) \
        .filter(F.col("url").isin(doomed)).count()
    res = delete_keys(spark, out, doomed)
    assert res["rows_deleted"] == in_store
    left = decode_colocated(spark, out).toPandas()
    assert len(left) == n01 - in_store
    assert not set(doomed) & set(left["url"])


def test_refusals_and_noop(spark, tmp_path):
    from kmers_spark.operators.encode import encode_table
    from kmers_spark.streaming.decode_stream import decode_new_waves

    # batch snapshot: compact_waves' territory
    bdir = str(tmp_path / "batch")
    df = pages.pages_df(spark, 200, seed=11, partitions=1)
    encode_table(df, bdir, num_buckets=4)
    with pytest.raises(ValueError, match="batch snapshot"):
        compact_stream(spark, bdir)

    # single-generation streamed store: nothing to merge
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "snap", "ckpt"))
    datasource.register(spark)
    df.write.parquet(src)
    _run_sink(spark, src, df.schema, out, ckpt)
    res = compact_stream(spark, out)
    assert res["merged_waves"] == []

    # the batch-store follower refuses streamed stores (its wave-name
    # dedup would silently skip new generations of delivered buckets)
    with pytest.raises(ValueError, match="readStream"):
        decode_new_waves(spark, out, str(tmp_path / "sink"),
                         str(tmp_path / "st.json"))


# Spark jobs of a compact_stream over 3 generations (one evolved):
# the merge's read and its write. Counting each bucket's inline stat
# entries with a job of its own cost 2 more.
COMPACT_STREAM_JOBS = 2


def test_compact_stream_jobs_and_inline_stats(spark, tmp_path):
    """The merged generations' inline stat entries are counted in the
    driver (no Spark job): each bucket's list becomes the merged wave's
    fresh stats followed by the kept generation's entries — what
    counting the merged waves' block rows gives."""
    import os

    import pyarrow.dataset as pads

    from kmers_spark import wavewrite
    from tests.conftest import jobs_of

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    out, ck1, ck2 = (str(tmp_path / n) for n in ("snap", "c1", "c2"))
    df = pages.pages_df(spark, 600, seed=83, partitions=2).cache()
    datasource.register(spark)
    first, second, third = _thirds(df)
    first.write.parquet(src1)
    _run_sink(spark, src1, df.schema, out, ck1)
    manifest.evolve_schema(out, {"score": "double"})
    for part in (second, third):
        part = part.withColumn("score", F.length("text").cast("double"))
        part.write.mode("append").parquet(src2)
        _run_sink(spark, src2, part.schema, out, ck2, stream_id="gen2")
    m0 = manifest.load(out)
    assert len(m0["wave_dirs"]) == 3 and "stats_files" not in m0
    old = m0["wave_dirs"][:2]
    rows = pads.dataset([pads.dataset(os.path.join(out, d), format="parquet")
                         for d in old]).to_table(columns=["bucket"])
    old_len: dict[int, int] = {}
    for b in rows.column("bucket").to_pylist():
        old_len[b] = old_len.get(b, 0) + 1

    res, jobs = jobs_of(spark, lambda: compact_stream(spark, out, keep_last=1))
    assert res["merged_waves"] == old
    assert jobs == COMPACT_STREAM_JOBS
    m1 = manifest.load(out)
    schema = manifest.ordered_schema(m1)
    merged = pads.dataset(os.path.join(out, m1["wave_dirs"][0]),
                          format="parquet").to_table()
    fresh, _ranges = wavewrite.blockstats(merged, schema, m1["key"])
    assert sorted(fresh) == res["buckets"]
    for b in res["buckets"]:
        head = sorted(fresh[b], key=lambda s: s["column"])
        got = m1["blocks"][str(b)]
        assert sorted(got[:len(head)], key=lambda s: s["column"]) == head
        assert got[len(head):] == m0["blocks"][str(b)][old_len[b]:]
    assert decode_colocated(spark, out).count() == 600
