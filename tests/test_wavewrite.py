"""The write protocol (kmers_spark/wavewrite.py): the driver claims only
the files named by the collected commit records, a bucket in two
records aborts the publish, a failed manifest commit leaves only an
unregistered wave dir, and every writer records the same stats."""
from __future__ import annotations

import datetime
import hashlib
import os

import pyarrow as pa
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from kmers_spark import datasource, manifest, pages, wavewrite
from kmers_spark.kernels import bloom
from kmers_spark.operators import decode, partitioning
from kmers_spark.operators.decode import decode_table, lookup_keys
from kmers_spark.operators.delete import delete_keys
from kmers_spark.operators.upsert import upsert_table
from kmers_spark.operators.encode import (
    encode_table,
    make_encode_fn_arrow,
    sweep_orphan_waves,
)

SCHEMA = {"k": "string", "n": "int64", "x": "double",
          "ts": "timestamp", "host": "string"}


def _rows(n: int) -> list[tuple]:
    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    out = []
    for i in range(n):
        x = float("nan") if i % 17 == 0 else None if i % 11 == 0 else i * 0.5
        out.append((f"k-{i:05d}", i * 7 - 300 if i % 13 else None, x,
                    t0 + datetime.timedelta(seconds=37 * i),
                    f"host-{i % 23}"))
    return out


def _bucket_blocks(bucket: int, n: int = 50) -> pa.Table:
    """One bucket's encoded block rows plus its tagged key Bloom row."""
    rows = _rows(n)
    table = pa.table({
        "k": pa.array([f"b{bucket}-{r[0]}" for r in rows]),
        "n": pa.array([r[1] for r in rows], pa.int64()),
        "x": pa.array([r[2] for r in rows], pa.float64()),
        "ts": pa.array([r[3] for r in rows], pa.timestamp("us", tz="UTC")),
        "host": pa.array([r[4] for r in rows]),
        "bucket": pa.array([bucket] * n, pa.int32()),
    })
    fn = wavewrite.with_blooms(make_encode_fn_arrow(SCHEMA, "k", None),
                               SCHEMA, "k", None)
    return fn(table)


def _staged(wave_dir: str) -> list[str]:
    return [n for n in os.listdir(wave_dir) if n.startswith(".staged-")]


def test_publish_claims_only_the_collected_attempt(spark, tmp_path):
    out = str(tmp_path / "snap")
    manifest.init(out, snapshot_id="s", schema=SCHEMA, num_buckets=2, key="k")
    wave_dir = os.path.join(out, "blocks", "w_attempts")
    group = pa.concat_tables([_bucket_blocks(0), _bucket_blocks(1)])
    # two attempts of one task: both stage, only one record is collected
    kept = wavewrite.stage_blocks(group, wave_dir, SCHEMA, "k")
    lost = wavewrite.stage_blocks(group, wave_dir, SCHEMA, "k")
    assert len(_staged(wave_dir)) == 2 * 3  # a data file + 2 key Blooms each
    stats, key_ranges, bb, bc = wavewrite.publish([kept], wave_dir, wave_dir)
    assert lost.staged_file not in os.listdir(wave_dir)
    manifest.commit_buckets(out, stats, wave_dir="blocks/w_attempts",
                            key_ranges=key_ranges, bloom_buckets=bb,
                            bloom_cols=bc or None)

    names = os.listdir(wave_dir)
    assert len([n for n in names if n.startswith("part-")]) == 1
    assert not _staged(wave_dir)
    sidecars = bloom.list_sidecars(os.path.join(wave_dir, bloom.BLOOM_DIR))
    assert {b: len(p) for b, p in sidecars.items()} == {0: 1, 1: 1}
    assert manifest.load(out)["bloom_buckets"] == {"blocks/w_attempts": [0, 1]}
    # decode_table raises on duplicate block rows
    assert decode_table(spark, out).count() == 100


def test_bucket_in_two_records_aborts_publish(tmp_path):
    out = str(tmp_path / "snap")
    manifest.init(out, snapshot_id="s", schema=SCHEMA, num_buckets=2, key="k")
    version = manifest.current_version(out)
    wave_dir = os.path.join(out, "blocks", "w_split")
    a = wavewrite.stage_blocks(_bucket_blocks(0), wave_dir, SCHEMA, "k")
    b = wavewrite.stage_blocks(
        pa.concat_tables([_bucket_blocks(0), _bucket_blocks(1)]),
        wave_dir, SCHEMA, "k")
    with pytest.raises(ValueError, match="bucket 0 spans multiple write tasks"):
        wavewrite.publish([a, b], wave_dir, wave_dir)
    # nothing was renamed, nothing registered
    assert not [n for n in os.listdir(wave_dir) if not n.startswith(".")]
    assert manifest.current_version(out) == version
    assert manifest.load(out)["wave_dirs"] == []


class _FailingBackend(manifest.LocalLinkBackend):
    def publish(self, tmp_path, version_path):
        raise OSError("injected CAS failure")


def _wave_dirs_on_disk(out: str) -> set[str]:
    root = os.path.join(out, "blocks")
    return {f"blocks/{n}" for n in os.listdir(root) if n.startswith("w_")}


@pytest.mark.parametrize("op,plan", [
    ("encode", None), ("delete", "driver"), ("delete", "spark"),
    ("upsert", "driver"), ("upsert", "spark"),
], ids=["encode", "delete", "delete-spark", "upsert", "upsert-spark"])
def test_failed_commit_leaves_only_an_orphan(spark, tmp_path, monkeypatch,
                                             op, plan):
    out = str(tmp_path / "snap")
    df = pages.pages_df(spark, 400, seed=11, partitions=2).cache()
    encode_table(df, out, num_buckets=8, detect_skew=False, commit_every=4,
                 fail_buckets_over=4 if op == "encode" else None)
    urls = sorted(r["url"] for r in df.select("url").collect())
    # a driver-local batch, so that the driver plan can run
    batch = spark.createDataFrame(
        df.filter(F.col("url").isin(urls[:3])).withColumn("lang", F.lit("xx"))
        .toArrow())
    version = manifest.current_version(out)
    before = sorted(decode_table(spark, out).collect())
    registered = set(manifest.load(out)["wave_dirs"])
    if plan == "spark":
        monkeypatch.setattr(decode, "LOCAL_READ_MAX_BYTES", 0)
    prev = manifest.set_publish_backend(_FailingBackend())
    try:
        with pytest.raises(OSError, match="injected CAS failure"):
            if op == "encode":
                encode_table(df, out, num_buckets=8, detect_skew=False,
                             commit_every=4)
            elif op == "delete":
                delete_keys(spark, out, urls[:3])
            else:
                upsert_table(spark, out, batch)
    finally:
        manifest.set_publish_backend(prev)
    assert manifest.current_version(out) == version
    assert sorted(decode_table(spark, out).collect()) == before
    if op != "encode":
        got = lookup_keys(spark, out, urls[:3]).collect()
        assert sorted(r["url"] for r in got) == urls[:3]
        assert {r["lang"] for r in got} != {"xx"}
    orphans = _wave_dirs_on_disk(out) - registered
    assert len(orphans) == 1
    sweep_orphan_waves(out, grace_sec=0)
    assert _wave_dirs_on_disk(out) == registered
    assert sorted(decode_table(spark, out).collect()) == before


def _rows_on_disk(out: str) -> list[tuple]:
    m = manifest.load(out)
    t = pads.dataset([pads.dataset(os.path.join(out, d), format="parquet")
                      for d in m["wave_dirs"]]).to_table()
    return sorted(
        (r["bucket"], r["column"], r["codec"], r["n_rows"], r["raw_nbytes"],
         r["enc_nbytes"], hashlib.md5(r["payload"]).hexdigest(), r["meta"])
        for r in t.to_pylist())


def _per_bucket(reg: dict | None) -> dict:
    """{wave: [buckets]} or {wave: {col: [buckets]}} -> per-bucket view."""
    out: dict = {}
    for v in (reg or {}).values():
        if isinstance(v, dict):
            for c, bs in v.items():
                for b in bs:
                    out.setdefault(c, set()).add(int(b))
        else:
            out.setdefault("key", set()).update(int(b) for b in v)
    return out


def test_writers_record_identical_stats(spark, tmp_path):
    df = spark.createDataFrame(
        _rows(600), "k string, n bigint, x double, ts timestamp, host string")
    enc_out, ds_out = str(tmp_path / "enc"), str(tmp_path / "ds")
    encode_table(df, enc_out, key="k", num_buckets=4, detect_skew=False,
                 bloom_columns=["host", "n"], ndv_columns=["host", "n"])
    datasource.register(spark)
    (
        partitioning.with_bucket(df, 4, {}, url_col="k").repartition("bucket")
        .write.format("kmers").option("key", "k").option("numBuckets", "4")
        .option("bucketScheme", partitioning.BUCKET_SCHEME)
        .option("bloomColumns", "host,n").option("ndvColumns", "host,n")
        .mode("append").save(ds_out)
    )
    m_enc, m_ds = manifest.load(enc_out), manifest.load(ds_out)
    assert m_enc["bucket_scheme"] == m_ds["bucket_scheme"]
    assert _rows_on_disk(enc_out) == _rows_on_disk(ds_out)

    def by_column(stats: dict) -> dict:
        return {b: sorted(v, key=lambda s: s["column"])
                for b, v in stats.items()}

    stats = by_column(manifest.block_stats(enc_out, m_enc))
    assert stats == by_column(manifest.block_stats(ds_out, m_ds))
    assert sorted(stats) == ["0", "1", "2", "3"]
    x_stats = [s for v in stats.values() for s in v if s["column"] == "x"]
    assert sum(s["znan"] for s in x_stats) > 0
    assert all(s.get("znull") for s in x_stats)
    assert all(isinstance(s["zmin"], int) for v in stats.values()
               for s in v if s["column"] == "ts")
    assert m_enc["bucket_key_ranges"] == m_ds["bucket_key_ranges"]
    assert _per_bucket(m_enc["bloom_buckets"]) == \
        _per_bucket(m_ds["bloom_buckets"]) == {"key": {0, 1, 2, 3}}
    assert _per_bucket(m_enc["bloom_cols"]) == _per_bucket(m_ds["bloom_cols"])
    assert set(_per_bucket(m_enc["bloom_cols"])) == {"host", "n"}

    # blockstats over the written rows is what the manifest recorded
    for out, m in ((enc_out, m_enc), (ds_out, m_ds)):
        t = pads.dataset(os.path.join(out, m["wave_dirs"][0]),
                         format="parquet").to_table()
        got, key_ranges = wavewrite.blockstats(t, SCHEMA, "k")
        assert by_column({str(b): v for b, v in got.items()}) == stats
        assert {str(b): r for b, r in key_ranges.items()} == \
            m["bucket_key_ranges"]


def test_row_groups_hold_whole_buckets(tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    monkeypatch.setattr(wavewrite, "ROW_GROUP_BYTES", 1)
    blocks = pa.concat_tables([_bucket_blocks(b) for b in (2, 0, 1)])
    rec = wavewrite.stage_blocks(blocks, str(tmp_path), SCHEMA, "k")
    f = pq.ParquetFile(os.path.join(str(tmp_path), rec.staged_file))
    assert f.metadata.num_row_groups == 3
    for i in range(3):
        rg = f.metadata.row_group(i)
        st = {rg.column(j).path_in_schema: rg.column(j).statistics
              for j in range(rg.num_columns)}
        assert st["bucket"].min == st["bucket"].max == i
        assert st["column"].has_min_max
        assert st["payload"] is None and st["meta"] is None
