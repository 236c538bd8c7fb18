"""End-to-end encode -> block table -> decode, bit-identical per url
(the north-rule invariant), plus checkpoint/resume and skew salting."""

import numpy as np
from pathlib import Path
import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest, pages
from kmers_spark.operators import decode as dec, encode as enc, partitioning

N_ROWS = 2000
N_BUCKETS = 8


@pytest.fixture(scope="module")
def pages_df(spark):
    df = pages.pages_df(spark, N_ROWS, seed=42, partitions=4).cache()
    df.count()
    return df


def _roundtrip_check(spark, pages_df, decoded):
    """Every column byte-identical per url."""
    a = pages_df.alias("a")
    b = decoded.alias("b")
    joined = a.join(b, "url", "full_outer")
    bad = joined.filter(
        ~(
            (F.col("a.warc_ts") == F.col("b.warc_ts"))
            & (F.col("a.html") == F.col("b.html"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (
                (F.col("a.text") == F.col("b.text"))
                | (F.col("a.text").isNull() & F.col("b.text").isNull())
            )
        )
    )
    assert bad.count() == 0
    assert decoded.count() == pages_df.count()


def test_encode_decode_bit_identical(spark, pages_df, tmp_path):
    out = str(tmp_path / "snap")
    m = enc.encode_table(pages_df, out, num_buckets=N_BUCKETS, snapshot_id="t1")
    assert sorted(m["committed_buckets"]) == list(range(N_BUCKETS))

    decoded = dec.decode_table(spark, out)
    _roundtrip_check(spark, pages_df, decoded)

    # compression actually happened on the compressible columns
    blocks = enc.read_blocks(spark, out)
    ratios = {
        r["column"]: r["enc"] / r["raw"]
        for r in blocks.groupBy("column")
        .agg(F.sum("enc_nbytes").alias("enc"), F.sum("raw_nbytes").alias("raw"))
        .collect()
    }
    # thresholds calibrated at 250-row blocks; fixed per-block overhead
    # (dict blob, offsets) amortizes away at real block sizes — bench.py
    # reports the sf0.1-scale ratios
    assert ratios["lang"] < 0.30, ratios      # dict(+RLE) on 12 values
    assert ratios["warc_ts"] < 0.60, ratios   # FOR/delta bit-pack
    assert ratios["text"] < 0.80, ratios      # FSST
    assert ratios["url"] < 0.80, ratios


def test_resume_from_checkpoint(spark, pages_df, tmp_path):
    out = str(tmp_path / "snap_resume")
    # simulate a job killed after committing buckets < 3
    m1 = enc.encode_table(pages_df, out, num_buckets=N_BUCKETS, fail_buckets_over=3)
    assert set(m1["committed_buckets"]) == {0, 1, 2}
    assert manifest.pending_buckets(out) == list(range(3, N_BUCKETS))

    # resume completes only the missing buckets
    m2 = enc.encode_table(pages_df, out, num_buckets=N_BUCKETS)
    assert sorted(m2["committed_buckets"]) == list(range(N_BUCKETS))

    decoded = dec.decode_table(spark, out)
    _roundtrip_check(spark, pages_df, decoded)


def test_resume_is_noop_when_complete(spark, pages_df, tmp_path):
    out = str(tmp_path / "snap_noop")
    enc.encode_table(pages_df, out, num_buckets=4)
    before = enc.read_blocks(spark, out).count()
    enc.encode_table(pages_df, out, num_buckets=4)  # all committed -> no new blocks
    assert enc.read_blocks(spark, out).count() == before


def test_determinism_same_seed_same_blocks(spark, pages_df, tmp_path):
    outs = []
    for name in ("d1", "d2"):
        out = str(tmp_path / name)
        enc.encode_table(pages_df, out, num_buckets=4, detect_skew=False)
        rows = (
            enc.read_blocks(spark, out)
            .select("bucket", "column", F.md5(F.col("payload")).alias("h"))
            .collect()
        )
        outs.append(sorted((r["bucket"], r["column"], r["h"]) for r in rows))
    assert outs[0] == outs[1]


def test_skew_salting_splits_hot_host(spark, tmp_path):
    # one host owning ~40% of rows (FIXTURES §4 skew axis)
    from pyspark.sql import Row

    rows = [Row(url=f"https://hot.example.com/p/{i}", v=i) for i in range(800)] + [
        Row(url=f"https://host{i % 50}.example.com/p/{i}", v=i) for i in range(1200)
    ]
    df = spark.createDataFrame(rows)
    hot = partitioning.detect_hot_keys(df, num_buckets=8)
    assert "hot.example.com" in hot and hot["hot.example.com"] >= 3

    bucketed = partitioning.with_bucket(df, 8, hot)
    sizes = bucketed.filter(F.col("url").startswith("https://hot")).groupBy(
        "bucket"
    ).count().collect()
    # hot host spread over >1 bucket, and no bucket dominated by it entirely
    assert len(sizes) >= 2
    assert max(r["count"] for r in sizes) < 800

    # unsalted control: the hot host would land in exactly 1 bucket
    unsalted = partitioning.with_bucket(df, 8, {})
    ctl = unsalted.filter(F.col("url").startswith("https://hot")).select(
        "bucket"
    ).distinct().count()
    assert ctl == 1


def test_pages_generator_deterministic(spark):
    a = pages.generate_chunk(100, 50, seed=42)
    b = pages.generate_chunk(100, 50, seed=42)
    assert a.equals(b)
    # split-invariance: generating [100,150) in two chunks gives same rows
    c = pages.generate_chunk(100, 20, seed=42)
    d = pages.generate_chunk(120, 30, seed=42)
    import pandas as pd

    joined = pd.concat([c, d], ignore_index=True)
    assert joined.equals(a.reset_index(drop=True))


def test_colocated_encode_matches_shuffled(spark, pages_df, tmp_path):
    """The shuffle-free path over a pre-bucketed layout (the kmers sink
    encodes each partition's whole buckets where they sit) produces the
    same blocks (bucket, column, payload md5) as the groupBy path."""
    from pyspark.sql import functions as F

    from kmers_spark import datasource, selector
    from kmers_spark.operators.encode import encode_blocks_df

    schema = {f.name: selector.spark_type_name(f.dataType) for f in pages_df.schema.fields}
    b = pages_df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
    )
    shuffled = encode_blocks_df(b, schema, "url", None)
    out = str(tmp_path / "snap_colocated")
    datasource.register(spark)
    (
        b.repartition("bucket").write.format("kmers").option("key", "url")
        .option("numBuckets", str(N_BUCKETS)).mode("append").save(out)
    )
    colocated = enc.read_blocks(spark, out)
    h = lambda df: sorted(
        (r["bucket"], r["column"], r["h"])
        for r in df.select("bucket", "column", F.md5("payload").alias("h")).collect()
    )
    assert h(shuffled) == h(colocated)


def test_stray_files_in_blocks_dir_ignored(spark, pages_df, tmp_path):
    """Orphan temp files from a crashed writer must not corrupt decode:
    spark.read.parquet ignores _-/.-prefixed paths (committer contract)."""
    import os

    out = str(tmp_path / "snap_stray")
    enc.encode_table(pages_df, out, num_buckets=4)
    os.makedirs(f"{out}/blocks/_temporary/0", exist_ok=True)
    with open(f"{out}/blocks/_temporary/0/part-junk", "w") as f:
        f.write("garbage from a killed task")
    with open(f"{out}/blocks/.part-000-inprogress.parquet.crc", "w") as f:
        f.write("junk")
    decoded = dec.decode_table(spark, out)
    _roundtrip_check(spark, pages_df, decoded)


def test_metrics_tables(spark, pages_df, tmp_path):
    from kmers_spark import metrics

    out = str(tmp_path / "snap_metrics")
    enc.encode_table(pages_df, out, num_buckets=4)

    cm = {r["column"]: r for r in metrics.column_metrics(spark, out).collect()}
    assert set(cm) == {"url", "warc_ts", "html", "text", "lang"}
    assert all(r["ratio"] < 1.0 for r in cm.values())

    bm = metrics.bucket_metrics(spark, out).collect()
    assert len(bm) == 4

    summary = metrics.snapshot_summary(spark, out)
    assert summary["buckets_committed"] == 4
    assert 0 < summary["ratio"] < 1.0
    assert summary["skew_max_over_p50"] < 4.0  # salting keeps buckets even


def test_decode_colocated_matches(spark, pages_df, tmp_path):
    out = str(tmp_path / "snap_coloc_dec")
    enc.encode_table(pages_df, out, num_buckets=4)
    decoded = dec.decode_colocated(spark, out)
    _roundtrip_check(spark, pages_df, decoded)


def test_hot_key_dict_bounded_on_high_cardinality(spark):
    """detect_hot_keys must collect only hosts over the bucket target —
    on an all-distinct host table nothing is hot, so nothing reaches the
    driver (at 100 TB there are ~10^8 hosts; collecting them all OOMs)."""
    from pyspark.sql import Row

    rows = [Row(url=f"https://h{i}.example.com/p", v=i) for i in range(2000)]
    df = spark.createDataFrame(rows)
    hot = partitioning.detect_hot_keys(df, num_buckets=8)
    assert hot == {}
    # and mathematically: at most num_buckets hosts can ever exceed
    # total/num_buckets rows each, so the dict is bounded by construction.


def test_decode_raises_on_duplicate_block_rows(spark, pages_df, tmp_path,
                                               monkeypatch):
    """Stray duplicate (bucket, column) rows (e.g. a crashed pre-manifest
    write) must fail loudly, not silently drop part of the bucket, on
    both plans of the reader."""
    out = str(tmp_path / "snap_dup")
    enc.encode_table(pages_df, out, num_buckets=4)
    wave = enc.committed_wave_paths(out)[0]
    blocks = enc.read_blocks(spark, out)
    one = blocks.limit(1)
    one.write.mode("append").option("compression", "none").parquet(wave)
    for limit in (dec.LOCAL_READ_MAX_BYTES, 0):
        monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", limit)
        with pytest.raises(Exception, match="duplicate block rows"):
            dec.decode_table(spark, out).count()


def test_whole_bucket_copy_raises_on_every_read(spark, tmp_path, monkeypatch):
    """A second file in a committed wave holding one whole bucket's
    block rows is a valid block set on its own, so each file decodes
    cleanly and the bucket's rows would come back twice. Every read
    raises instead, on both plans, before decoding either copy and
    without a Spark job."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.conftest import jobs_of

    df = pages.pages_df(spark, 400, seed=3, partitions=2)
    urls = [r.url for r in df.select("url").collect()]
    out = str(tmp_path / "snap_copy")
    enc.encode_table(df, out, num_buckets=4, detect_skew=False)
    wave = enc.committed_wave_paths(out)[0]
    t = pq.read_table(sorted(glob.glob(f"{wave}/part-*.parquet"))[0])
    b = t.column("bucket")[0].as_py()
    pq.write_table(t.filter(pc.equal(t.column("bucket"), b)),
                   f"{wave}/part-copy.parquet")
    reads = {
        "decode_table": lambda: dec.decode_table(spark, out),
        "decode_table buckets": lambda: dec.decode_table(spark, out, buckets=[b]),
        "scan_table": lambda: dec.scan_table(spark, out, [("lang", "=", "en")]),
        "lookup_keys": lambda: dec.lookup_keys(spark, out, urls),
    }

    def attempt(read):
        with pytest.raises(ValueError, match="duplicate block rows"):
            read()

    for limit in (dec.LOCAL_READ_MAX_BYTES, 0):
        monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", limit)
        for name, read in reads.items():
            # raised at call time, and the check launched no Spark job
            _r, jobs = jobs_of(spark, lambda: attempt(read))
            assert jobs == 0, (limit, name)
    # buckets the copy does not hold still read
    other = dec.decode_table(spark, out, buckets=[x for x in range(4) if x != b])
    assert 0 < other.count() < len(urls)


def test_decode_colocated_immune_to_small_maxPartitionBytes(spark, pages_df, tmp_path,
                                                           monkeypatch):
    """decode_colocated plans its read on an isolated session with the
    file-split knobs pinned huge; a tiny maxPartitionBytes in the caller's
    session must not split block files (which would scatter buckets).
    The store is small, so the Spark plan is forced."""
    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
    out = str(tmp_path / "snap_split")
    enc.encode_table(pages_df, out, num_buckets=4)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        decoded = dec.decode_colocated(spark, out)
        _roundtrip_check(spark, pages_df, decoded)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_lookup_keys_prunes_buckets(spark, pages_df, tmp_path, monkeypatch):
    """Point lookups decode only the buckets the keys hash to. The store
    is small, so the Spark plan is forced: its bucket predicate must
    reach the block-parquet scan (test_local_read.py pins the local
    plan's counterpart)."""
    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
    out = str(tmp_path / "snap_lookup")
    enc.encode_table(pages_df, out, num_buckets=N_BUCKETS)
    urls = [r["url"] for r in pages_df.select("url").limit(3).collect()]
    got = dec.lookup_keys(spark, out, urls)
    rows = {r["url"]: r for r in got.collect()}
    assert set(rows) == set(urls)
    orig = {r["url"]: r for r in pages_df.filter(F.col("url").isin(urls)).collect()}
    for u in urls:
        assert rows[u]["text"] == orig[u]["text"]
        assert rows[u]["warc_ts"] == orig[u]["warc_ts"]
    # pruning: the bucket filter reaches the block-parquet scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bucket" in plan.split("PushedFilters")[1][:300]


@pytest.mark.slow
def test_kill9_resume_preserves_committed_waves(spark, tmp_path):
    """TRUE crash resume: a subprocess encode job (commit_every=2) is
    SIGKILLed once the manifest shows >= 2 committed buckets; the
    in-flight wave's output is hidden staged files in a wave dir the
    manifest never registered (never read), and a resume run completes
    exactly the missing buckets with a bit-identical round trip and no
    duplicate block rows."""
    import os
    import signal
    import subprocess
    import time

    from kmers_spark import manifest

    out = str(tmp_path / "snap_kill9")
    script = f"""
import sys; sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})
from kmers_spark.session import get_spark
from kmers_spark import pages
from kmers_spark.operators import encode as enc
spark = get_spark(master="local[2]", shuffle_partitions=8)
df = pages.pages_df(spark, 8000, seed=4, partitions=4)
enc.encode_table(df, {out!r}, num_buckets=8, detect_skew=False, commit_every=2)
"""
    proc = subprocess.Popen(
        ["python", "-c", script], stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL, start_new_session=True,
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            m = manifest.load(out)
            if m and len(m["committed_buckets"]) >= 2:
                break
            time.sleep(0.2)
        else:
            pytest.fail("subprocess never committed a wave")
        os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    finally:
        proc.wait(timeout=30)

    m = manifest.load(out)
    n_before = len(m["committed_buckets"])
    assert 2 <= n_before < 8, m["committed_buckets"]

    df = pages.pages_df(spark, 8000, seed=4, partitions=4)
    m2 = enc.encode_table(df, out, num_buckets=8, detect_skew=False, commit_every=2)
    assert sorted(m2["committed_buckets"]) == list(range(8))

    decoded = dec.decode_table(spark, out)  # raises on duplicate block rows
    _roundtrip_check(spark, df, decoded)


def test_orphan_wave_invisible_and_swept(spark, pages_df, tmp_path):
    """A wave written but not manifest-committed (crash in the gap
    between parquet write and commit marker) must be invisible to every
    reader — no duplicate block rows on resume — and get swept by the
    next encode run."""
    import os
    import shutil

    import time

    out = str(tmp_path / "snap_orphan")
    enc.encode_table(pages_df, out, num_buckets=4)
    n_rows = enc.read_blocks(spark, out).count()

    committed = enc.committed_wave_paths(out)[0]
    orphan = f"{out}/blocks/w_deadbeef0000"
    shutil.copytree(committed, orphan)

    # invisible: same block rows, decode clean (no duplicate-row raise)
    assert enc.read_blocks(spark, out).count() == n_rows
    _roundtrip_check(spark, pages_df, dec.decode_table(spark, out))

    # a YOUNG unregistered dir survives the sweep (it could be a
    # concurrent encode's in-flight, pre-commit wave — ADVICE r2)
    enc.encode_table(pages_df, out, num_buckets=4)
    assert os.path.exists(orphan)

    # once older than the grace period it's a true orphan: swept
    old = time.time() - 2 * enc.SWEEP_GRACE_SEC
    os.utime(orphan, (old, old))
    enc.encode_table(pages_df, out, num_buckets=4)
    assert not os.path.exists(orphan)


def test_legacy_flat_layout_migrates_on_resume(spark, pages_df, tmp_path):
    """Pre-wave snapshots (flat part files under blocks/, no wave_dirs in
    the manifest) must stay fully visible after a resume run starts
    writing wave dirs — the migration moves flat files into a
    registered w_legacy dir."""
    import os
    import shutil

    out = str(tmp_path / "snap_legacy")
    enc.encode_table(pages_df, out, num_buckets=N_BUCKETS, fail_buckets_over=3)

    # rewrite the store to the legacy flat layout
    m = manifest.load(out)
    for wd in m["wave_dirs"]:
        src = f"{out}/{wd}"
        for name in os.listdir(src):
            shutil.move(os.path.join(src, name), f"{out}/blocks/{name}")
        os.rmdir(src)
    del m["wave_dirs"]
    manifest.save(out, m)

    assert enc.read_blocks(spark, out).count() > 0  # legacy fallback path

    # resume: must migrate, then complete the missing buckets
    m2 = enc.encode_table(pages_df, out, num_buckets=N_BUCKETS)
    assert sorted(m2["committed_buckets"]) == list(range(N_BUCKETS))
    assert "blocks/w_legacy" in m2["wave_dirs"]
    _roundtrip_check(spark, pages_df, dec.decode_table(spark, out))


def test_hash_empty_buckets_commit_and_resume_noop(spark, tmp_path):
    """Buckets no (host, salt) hashes to must still commit (else they
    stay pending forever) and an all-committed re-run adds no waves."""
    from pyspark.sql import Row

    rows = [Row(url=f"https://h{i % 3}.x.com/p/{i}", v=i) for i in range(60)]
    df = spark.createDataFrame(rows)
    out = str(tmp_path / "snap_empty")
    m = enc.encode_table(df, out, num_buckets=16, detect_skew=False)
    assert sorted(m["committed_buckets"]) == list(range(16))
    waves_before = list(m["wave_dirs"])

    m2 = enc.encode_table(df, out, num_buckets=16, detect_skew=False)
    assert m2["wave_dirs"] == waves_before  # true no-op

    decoded = dec.decode_table(spark, out)
    assert decoded.count() == 60


def test_compact_waves(spark, pages_df, tmp_path):
    """Compaction rewrites many small wave dirs into one, data and
    pruning untouched; old dirs are swept."""
    import os

    out = str(tmp_path / "snap_compact")
    enc.encode_table(pages_df, out, num_buckets=N_BUCKETS, commit_every=2)
    m = manifest.load(out)
    assert len(m["wave_dirs"]) == N_BUCKETS // 2
    before = sorted(
        (r["bucket"], r["column"], r["h"])
        for r in enc.read_blocks(spark, out)
        .select("bucket", "column", F.md5("payload").alias("h")).collect()
    )

    m2 = enc.compact_waves(spark, out)
    assert len(m2["wave_dirs"]) == 1
    after = sorted(
        (r["bucket"], r["column"], r["h"])
        for r in enc.read_blocks(spark, out)
        .select("bucket", "column", F.md5("payload").alias("h")).collect()
    )
    assert before == after  # payloads moved verbatim
    _roundtrip_check(spark, pages_df, dec.decode_table(spark, out))
    # old dirs are RETIRED, not yanked from under concurrent readers:
    # they survive the grace window, then the next sweep reclaims them
    import time

    dirs = [n for n in os.listdir(f"{out}/blocks") if n.startswith("w_")]
    assert len(dirs) == N_BUCKETS // 2 + 1
    old_t = time.time() - 2 * enc.SWEEP_GRACE_SEC
    for n in dirs:
        if f"blocks/{n}" not in m2["wave_dirs"]:
            os.utime(f"{out}/blocks/{n}", (old_t, old_t))
    enc.sweep_orphan_waves(out)
    dirs = [n for n in os.listdir(f"{out}/blocks") if n.startswith("w_")]
    assert len(dirs) == 1
    # idempotent
    assert enc.compact_waves(spark, out)["wave_dirs"] == m2["wave_dirs"]


def test_compact_preserves_colocated_decode(spark, pages_df, tmp_path):
    """Compaction must keep every bucket's rows in one output file so
    the shuffle-free decode still works afterwards (the rewrite
    repartitions on bucket instead of inheriting scan splits)."""
    out = str(tmp_path / "snap_compact_coloc")
    enc.encode_table(pages_df, out, num_buckets=N_BUCKETS, commit_every=2)
    enc.compact_waves(spark, out)
    _roundtrip_check(spark, pages_df, dec.decode_colocated(spark, out))


def test_compact_on_legacy_and_single_wave_is_clean_noop(spark, pages_df, tmp_path):
    """compact on a legacy flat store migrates (manifest gains
    wave_dirs) and no-ops; on a single-wave store it no-ops without
    touching data — and jobs/compact.py's m['wave_dirs'] access holds."""
    import os
    import shutil

    out = str(tmp_path / "snap_compact_legacy")
    enc.encode_table(pages_df, out, num_buckets=4)
    m = manifest.load(out)
    for wd in m["wave_dirs"]:
        for name in os.listdir(f"{out}/{wd}"):
            shutil.move(os.path.join(out, wd, name), f"{out}/blocks/{name}")
        os.rmdir(f"{out}/{wd}")
    del m["wave_dirs"]
    manifest.save(out, m)

    m2 = enc.compact_waves(spark, out)
    assert m2["wave_dirs"] == ["blocks/w_legacy"]
    _roundtrip_check(spark, pages_df, dec.decode_table(spark, out))


def test_concurrent_commits_do_not_clobber(spark, tmp_path):
    """Two committers racing on the same manifest (the compaction-vs-
    encode scenario) must both land: commit_buckets runs read-merge-save
    under the commit lock."""
    import threading

    out = str(tmp_path / "snap_race")
    manifest.init(out, snapshot_id="r", schema={"url": "string"}, num_buckets=64,
                  key="url")

    def commit(b):
        for i in range(20):
            manifest.commit_buckets(out, {b * 100 + i: []}, wave_dir=f"blocks/w_{b}_{i}")

    ts = [threading.Thread(target=commit, args=(b,)) for b in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    m = manifest.load(out)
    assert len(m["committed_buckets"]) == 80
    assert len(m["wave_dirs"]) == 80


def test_commit_conflict_rejected(spark, tmp_path):
    """A stale concurrent committer re-committing an already-committed
    bucket must fail before registering its wave (Iceberg-style commit
    validation); the snapshot stays consistent."""
    out = str(tmp_path / "snap_conflict")
    manifest.init(out, snapshot_id="c", schema={"url": "string"}, num_buckets=4,
                  key="url")
    manifest.commit_buckets(out, {0: [], 1: []}, wave_dir="blocks/w_a")
    with pytest.raises(ValueError, match="commit conflict"):
        manifest.commit_buckets(out, {1: [], 2: []}, wave_dir="blocks/w_b")
    m = manifest.load(out)
    assert m["committed_buckets"] == [0, 1]
    assert m["wave_dirs"] == ["blocks/w_a"]  # conflicting wave never registered


def test_wave_pruning_for_bucket_filtered_reads(spark, pages_df, tmp_path):
    """With commit_every waves, a bucket-filtered decode reads only the
    wave dirs whose manifest bucket list intersects the filter."""
    out = str(tmp_path / "snap_prune")
    enc.encode_table(pages_df, out, num_buckets=N_BUCKETS, commit_every=2)
    m = manifest.load(out)
    assert len(m["wave_dirs"]) == N_BUCKETS // 2
    assert set(m["wave_buckets"]) == set(m["wave_dirs"])

    # bucket 0 lives in exactly one wave -> one path survives pruning
    paths = enc.committed_wave_paths(out, buckets=[0])
    assert len(paths) == 1
    owner = [d for d, bs in m["wave_buckets"].items() if 0 in bs]
    assert paths[0].endswith(owner[0])

    got = dec.decode_table(spark, out, buckets=[0])
    direct = dec.decode_table(spark, out)
    b0_urls = {r["url"] for r in got.collect()}
    assert 0 < len(b0_urls) < pages_df.count()
    assert b0_urls <= {r["url"] for r in direct.collect()}

    # compaction keeps the map coherent (single wave holds everything)
    m2 = enc.compact_waves(spark, out)
    assert list(m2["wave_buckets"]) == m2["wave_dirs"]
    assert m2["wave_buckets"][m2["wave_dirs"][0]] == list(range(N_BUCKETS))
    _roundtrip_check(spark, pages_df, dec.decode_table(spark, out))


# ------------------------------------------------- round 3: CAS manifest


def test_cas_commit_no_lockfile_and_versioned_chain(spark, tmp_path):
    """The commit protocol is CAS (manifest-v{N}.json published with an
    atomic create-if-absent), not a lock: no .manifest.lock is ever
    created, versions form a chain, and version-hint points at the
    latest."""
    import os

    out = str(tmp_path / "snap_cas")
    manifest.init(out, snapshot_id="v", schema={"url": "string"}, num_buckets=4,
                  key="url")
    manifest.commit_buckets(out, {0: []}, wave_dir="blocks/w_0")
    manifest.commit_buckets(out, {1: []}, wave_dir="blocks/w_1")
    names = sorted(os.listdir(out))
    assert ".manifest.lock" not in names
    versions = [n for n in names if n.startswith("manifest-v")]
    assert versions == ["manifest-v1.json", "manifest-v2.json", "manifest-v3.json"]
    with open(os.path.join(out, "version-hint.text")) as f:
        assert f.read().strip() == "3"
    assert manifest.load(out)["committed_buckets"] == [0, 1]


def test_lost_cas_retries_and_merges(tmp_path):
    """A committer that loses the CAS (another process published its
    version number first) must retry against the fresh manifest and
    merge — simulated by pre-publishing the version it will try first."""
    import json
    import os

    out = str(tmp_path / "snap_lost_cas")
    manifest.init(out, snapshot_id="l", schema={"url": "string"}, num_buckets=8,
                  key="url")  # -> manifest-v1.json

    # a racing committer snapshots v1 and publishes v2 before ours lands
    racer = manifest.load(out)
    racer["committed_buckets"] = [5]
    racer["blocks"]["5"] = []
    racer.setdefault("wave_dirs", []).append("blocks/w_racer")
    with open(os.path.join(out, "manifest-v2.json"), "w") as f:
        json.dump(racer, f)

    m = manifest.commit_buckets(out, {0: []}, wave_dir="blocks/w_mine")
    # our commit lost v2, retried on the racer's state, merged both
    assert m["committed_buckets"] == [0, 5]
    assert set(m["wave_dirs"]) == {"blocks/w_racer", "blocks/w_mine"}
    assert manifest.load(out) == m


def test_legacy_single_file_manifest_upgrades(tmp_path):
    """A pre-CAS store (single manifest.json) stays readable; its first
    commit publishes manifest-v1.json and retires the legacy file."""
    import json
    import os

    out = str(tmp_path / "snap_legacy_manifest")
    os.makedirs(out)
    legacy = {
        "format_version": 1, "snapshot_id": "old", "schema": {"url": "string"},
        "key": "url", "num_buckets": 4, "seed": 42, "committed_buckets": [0],
        "blocks": {"0": []}, "wave_dirs": ["blocks/w_old"], "hot_keys": {},
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(legacy, f)

    assert manifest.load(out)["committed_buckets"] == [0]
    m = manifest.commit_buckets(out, {1: []}, wave_dir="blocks/w_new")
    assert m["committed_buckets"] == [0, 1]
    assert os.path.exists(os.path.join(out, "manifest-v1.json"))
    assert not os.path.exists(os.path.join(out, "manifest.json"))
    assert manifest.load(out)["wave_dirs"] == ["blocks/w_old", "blocks/w_new"]


def test_sweep_never_deletes_concurrently_committed_wave(spark, pages_df, tmp_path):
    """ADVICE r2 (high): a wave committed by a concurrent encode AFTER
    this job loaded its manifest snapshot must survive the orphan sweep
    — the sweep re-loads the latest manifest itself."""
    import os
    import time

    out = str(tmp_path / "snap_sweep_race")
    enc.encode_table(pages_df, out, num_buckets=4)

    # concurrent committer registers a new wave; make its dir OLD so
    # only the manifest registration (not the grace period) protects it
    wave = f"{out}/blocks/w_concurrent1"
    os.makedirs(wave)
    old = time.time() - 10 * enc.SWEEP_GRACE_SEC
    os.utime(wave, (old, old))
    m = manifest.load(out)

    def register(cur):
        cur["wave_dirs"].append("blocks/w_concurrent1")
        return cur

    manifest.commit(out, register)

    # the sweeping job still holds the PRE-commit snapshot `m`; the
    # sweep must not trust it
    enc.sweep_orphan_waves(out, grace_sec=0)
    assert os.path.exists(wave)

    # a truly unregistered old dir IS swept in the same pass
    orphan = f"{out}/blocks/w_trueorphan1"
    os.makedirs(orphan)
    os.utime(orphan, (old, old))
    enc.sweep_orphan_waves(out, grace_sec=0)
    assert not os.path.exists(orphan)
    assert os.path.exists(wave)


# -------------------------------------- round 3: key ranges + lookups


def test_bucket_for_key_matches_spark_expression(spark):
    """The driver-side xxhash64 bucket mirror must agree with
    partitioning.with_bucket's Spark expression, salted hot hosts
    included."""
    urls = (
        [f"https://hot.example.com/p/{i}" for i in range(40)]
        + [f"https://h{i}.example.org/x/{i}" for i in range(40)]
        + ["no-scheme-at-all", "ftp://UPPER.not.matched/x", "https://日本.jp/ページ"]
    )
    hot = {"hot.example.com": 7}
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    expected = {
        r["url"]: r["bucket"]
        for r in partitioning.with_bucket(df, 16, hot).collect()
    }
    for u in urls:
        assert partitioning.bucket_for_key(u, 16, hot) == expected[u], u

    # int64 keys: the host is the key's string form, but a hot key's
    # salt hashes the typed bigint column
    ids = [7, 0, -3, 2**40 + 5, *range(100, 140)]
    hot = {"7": 5, "-3": 2}
    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    expected = {
        r["id"]: r["bucket"]
        for r in partitioning.with_bucket(df, 16, hot, url_col="id").collect()
    }
    for i in ids:
        assert partitioning.bucket_for_key(i, 16, hot) == expected[i], i


def test_hot_int64_key_lookup_and_delete(spark, tmp_path):
    """A hot int64 key's rows are salted by the typed key: a lookup
    finds every one of them, and a key-list delete (driver plan)
    removes every one of them."""
    out = str(tmp_path / "snap_hot_int")
    df = spark.range(1000).select(
        F.when(F.col("id") < 500, F.lit(7)).otherwise(F.col("id") + 1000)
        .alias("id"),
        F.format_string("v-%d", F.col("id")).alias("v"),
    )
    enc.encode_table(df, out, key="id", num_buckets=4, detect_skew=True)
    m = manifest.load(out)
    assert m["hot_keys"].get("7", 0) > 1
    assert dec.lookup_keys(spark, out, ["7"]).count() == 500
    assert dec.lookup_keys(spark, out, ["1500"]).count() == 1

    from kmers_spark.operators.delete import delete_keys

    res = delete_keys(spark, out, [7, 1500])
    assert res["plan"] == "driver"
    assert res["rows_deleted"] == 501
    assert dec.lookup_keys(spark, out, ["7", "1500"]).count() == 0
    assert dec.decode_table(spark, out).count() == 499


def test_lookup_keys_key_range_pruning(spark, pages_df, tmp_path):
    """Per-bucket key ranges recorded at commit prune buckets whose
    range excludes the probe key: an absent key outside every range
    decodes ZERO buckets (no parquet scan at all) — beyond what bucket
    pruning alone can do (the key still hashes to some bucket)."""
    out = str(tmp_path / "snap_keyrange")
    enc.encode_table(pages_df, out, num_buckets=N_BUCKETS)
    m = manifest.load(out)
    ranges = m.get("bucket_key_ranges", {})
    nonempty = [b for b, blks in m["blocks"].items() if blks]
    assert set(ranges) == set(nonempty)
    for lo, hi in ranges.values():
        assert lo <= hi

    # present key: still found
    url = pages_df.select("url").first()["url"]
    got = dec.lookup_keys(spark, out, [url])
    assert got.count() == 1

    # absent key lexicographically above every stored url: all buckets
    # range-pruned -> empty local relation, no block scan
    probe = "zzz://never-crawled.invalid/nothing"
    b = partitioning.bucket_for_key(probe, m["num_buckets"], m.get("hot_keys") or {})
    assert str(b) in ranges and not (ranges[str(b)][0] <= probe <= ranges[str(b)][1])
    got = dec.lookup_keys(spark, out, [probe])
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert ("LocalRelation" in plan or "LogicalRDD" in plan)
    assert "parquet" not in plan.lower() and "Relation [" not in plan
    assert got.count() == 0

    # mixed probe: decodes only the present key's bucket
    got = dec.lookup_keys(spark, out, [url, probe])
    assert [r["url"] for r in got.collect()] == [url]


def test_decode_column_projection(spark, pages_df, tmp_path, monkeypatch):
    """Column-projected decode: only the requested columns' block rows
    are read (the Spark plan's `column` filter reaches the block
    scan), and the values stay bit-identical to a full decode."""
    out = str(tmp_path / "snap_proj")
    enc.encode_table(pages_df, out, num_buckets=4)

    got = dec.decode_table(spark, out, columns=["url", "warc_ts"])
    assert got.columns == ["url", "warc_ts"]
    full = dec.decode_table(spark, out).select("url", "warc_ts")
    assert got.count() == full.count()
    assert got.exceptAll(full).count() == 0

    # the projection filter is pushed to the block-parquet scan
    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
    plan = dec.decode_table(spark, out, columns=["url", "warc_ts"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:400]
    assert "column" in pushed, pushed

    # single column, order follows manifest schema; unknown names raise
    one = dec.decode_table(spark, out, columns=["lang"])
    assert one.columns == ["lang"]
    assert one.count() == pages_df.count()
    with pytest.raises(KeyError):
        dec.decode_table(spark, out, columns=["nope"])


def test_manifest_versions_never_auto_pruned(tmp_path):
    """Auto-pruning old versions would reopen their names and let a
    stale committer's create-if-absent succeed on a dead slot (ABA on
    the CAS, losing its commit silently). The chain must keep every
    version; retention is an explicit operator action."""
    import os

    out = str(tmp_path / "snap_aba")
    manifest.init(out, snapshot_id="a", schema={"url": "string"}, num_buckets=64,
                  key="url")
    for b in range(12):
        manifest.commit_buckets(out, {b: []}, wave_dir=f"blocks/w_{b}")
    versions = sorted(
        int(n[len("manifest-v"):-len(".json")])
        for n in os.listdir(out) if n.startswith("manifest-v")
    )
    assert versions == list(range(1, 14))  # init + 12 commits, none pruned


def test_time_travel_reads(spark, pages_df, tmp_path):
    """decode_table(version=N) reads exactly the waves version N's
    commit published (snapshot-read over the immutable version chain)."""
    out = str(tmp_path / "snap_tt")
    enc.encode_table(pages_df, out, num_buckets=4, detect_skew=False,
                     fail_buckets_over=2, commit_every=2)
    v1 = manifest.current_version(out)
    rows_v1 = dec.decode_table(spark, out).count()
    assert 0 < rows_v1 < pages_df.count()

    enc.encode_table(pages_df, out, num_buckets=4, detect_skew=False, commit_every=2)
    v2 = manifest.current_version(out)
    assert v2 > v1
    assert dec.decode_table(spark, out).count() == pages_df.count()

    # as-of the first commit: only the first wave's rows, same values
    past = dec.decode_table(spark, out, version=v1)
    assert past.count() == rows_v1
    assert past.join(pages_df, "url", "left_anti").count() == 0

    with pytest.raises(FileNotFoundError):
        dec.decode_table(spark, out, version=v2 + 100)


def test_colocated_column_projection(spark, pages_df, tmp_path):
    """The shuffle-free decode also supports column projection (the
    per-partition column-count contract adapts to the projected set)."""
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    out = str(tmp_path / "snap_coloc_proj")
    enc.encode_table(pages_df, out, num_buckets=4)
    got = dec.decode_colocated(spark, out, columns=["url", "lang"])
    assert set(got.columns) == {"url", "lang"}  # order: manifest schema
    full = dec.decode_table(spark, out).select(*got.columns)
    assert got.count() == full.count()
    assert got.exceptAll(full).count() == 0


def test_snapshot_history(spark, pages_df, tmp_path):
    from kmers_spark import metrics

    out = str(tmp_path / "snap_hist")
    enc.encode_table(pages_df, out, num_buckets=4, detect_skew=False, commit_every=2)
    hist = metrics.snapshot_history(out)
    assert [h["version"] for h in hist] == list(range(1, len(hist) + 1))
    assert hist[0]["committed_buckets"] == 0     # creation commit
    assert hist[-1]["committed_buckets"] == 4    # all buckets landed
    assert hist[-1]["waves"] == 2
    counts = [h["committed_buckets"] for h in hist]
    assert counts == sorted(counts)  # monotone chain
