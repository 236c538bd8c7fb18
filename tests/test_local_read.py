"""decode_colocated's two plans agree: the driver-local plan (payload
at most LOCAL_READ_MAX_BYTES) and the Spark plan.

Each check runs the read twice: as is (every store here is small, so
the local plan) and with LOCAL_READ_MAX_BYTES monkeypatched to 0, which
forces the Spark plan. Both must return the same rows, order-
insensitive, on every store shape and read path, and raise the same
ValueError on a corrupt block set. The local plan's costs are pinned
too: no Spark job for a present-key lookup, a selective scan, a read
pruned to nothing or a filtered aggregate, and no change to the
driver's Arrow thread pool.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kmers_spark import blockdecode, datasource, manifest, pages
from kmers_spark.operators import decode as dec, partitioning
from kmers_spark.operators.agg import agg_table
from kmers_spark.operators.delete import delete_keys
from kmers_spark.operators.encode import encode_table
from kmers_spark.operators.upsert import upsert_table
from tests.conftest import jobs_of, reads_no_files

N_B = 8


def _key_rows(rows) -> list[str]:
    """Order-insensitive, NaN/None-safe comparable form of rows."""
    return sorted(repr(tuple(r)) for r in rows)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _both(monkeypatch, read):
    """read() -> DataFrame, collected under the local plan and under
    the forced Spark plan; asserts each plan really ran."""
    local = read()
    assert "LocalRelation" in _plan(local) or "LogicalRDD" in _plan(local)
    got_local = local.collect()
    with monkeypatch.context() as mp:
        mp.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
        remote = read()
        got_spark = remote.collect()
    assert "LocalRelation" not in _plan(remote)
    return got_local, got_spark


def _assert_same(monkeypatch, read):
    got_local, got_spark = _both(monkeypatch, read)
    assert _key_rows(got_local) == _key_rows(got_spark)
    return got_local


# ------------------------------------------------------------- stores

def _pages(spark, n=1200, seed=5):
    return pages.pages_df(spark, n, seed=seed, partitions=2)


def _run_sink(spark, src, schema, out, ckpt):
    sdf = spark.readStream.schema(schema).parquet(src)
    q = (
        partitioning.with_bucket(sdf, N_B, {}).repartition("bucket")
        .writeStream.format("kmers")
        .option("checkpointLocation", ckpt)
        .option("numBuckets", str(N_B))
        .trigger(availableNow=True).start(out)
    )
    q.awaitTermination(120)


def _build(spark, shape: str, root: str) -> dict:
    """One store of `shape` plus the read arguments that suit it."""
    out = f"{root}/snap"
    spec = {"shape": shape, "out": out, "key": "url",
            "cols": ["url", "lang", "warc_ts"],
            "filters": [("lang", "in", ["pl", "de"])]}
    if shape == "hash":
        encode_table(_pages(spark), out, num_buckets=N_B)
    elif shape == "range_ts":
        encode_table(_pages(spark), out, num_buckets=N_B, cluster_by="warc_ts")
        ts = sorted(r[0] for r in _pages(spark).select("warc_ts").collect())
        spec["filters"] = [("warc_ts", ">=", ts[100]), ("warc_ts", "<", ts[400])]
    elif shape == "zorder":
        df = spark.range(3000).select(
            F.format_string("k-%05d", F.col("id")).alias("k"),
            (F.col("id") % 300).alias("ts"),
            ((F.col("id") * 7919) % 97).alias("uid"),
            F.format_string("h-%03d", (F.col("id") * 31) % 50).alias("host"),
        )
        encode_table(df, out, key="k", num_buckets=N_B, cluster_by=["ts", "uid"])
        spec.update(key="k", cols=["k", "host"],
                    filters=[("ts", "<", 60), ("uid", ">=", 40)])
    elif shape == "int_key":
        # keys with gaps: 8, 13, ... are absent but inside bucket ranges
        df = spark.range(3000).filter(F.col("id") % 5 != 3).select(
            F.col("id").alias("k"),
            F.format_string("v-%d", F.col("id") % 17).alias("v"),
            (F.col("id") / 7).alias("d"),
        )
        encode_table(df, out, key="k", num_buckets=N_B, detect_skew=False)
        spec.update(key="k", cols=["k", "d"], filters=[("v", "=", "v-3")])
    elif shape == "streamed":
        src, ckpt = f"{root}/src", f"{root}/ckpt"
        df = _pages(spark, 800, seed=9)
        datasource.register(spark)
        df.filter(F.xxhash64("url") % 2 == 0).write.parquet(src)
        _run_sink(spark, src, df.schema, out, ckpt)
        df.filter(F.xxhash64("url") % 2 != 0).write.mode("append").parquet(src)
        _run_sink(spark, src, df.schema, out, ckpt)
        m = manifest.load(out)
        assert len(m["wave_dirs"]) == 2
        both = set(m["wave_buckets"][m["wave_dirs"][0]]) \
            & set(m["wave_buckets"][m["wave_dirs"][1]])
        assert both, "no bucket holds two generations"
    elif shape == "evolved":
        df = _pages(spark)
        encode_table(df, out, num_buckets=N_B, detect_skew=False,
                     fail_buckets_over=4)
        manifest.evolve_schema(out, {"score": "double"})
        encode_table(df.withColumn("score", F.length("text").cast("double")),
                     out, num_buckets=N_B, detect_skew=False)
        spec.update(cols=["score"], filters=[("lang", "in", ["pl", "en"])])
    elif shape == "mutated":
        df = _pages(spark)
        encode_table(df, out, num_buckets=N_B)
        urls = sorted(r[0] for r in df.select("url").collect())
        upd = df.filter(F.col("url").isin(urls[:40])).withColumn(
            "text", F.concat(F.col("text"), F.lit(" (recrawled)")))
        new = _pages(spark, 30, seed=77)
        upsert_table(spark, out, upd.unionByName(new))
        delete_keys(spark, out, urls[40:70])
        upsert_table(spark, out, upd.withColumn("lang", F.lit("pl")))
    else:
        raise ValueError(shape)
    rows = dec.decode_table(spark, out, columns=[spec["key"]]).collect()
    keys = sorted(str(r[0]) for r in rows)
    spec["hits"] = [keys[0], keys[len(keys) // 2], keys[-1]]
    if shape == "int_key":
        spec["misses"] = ["8", "13", "1998"]
    else:
        # just past a stored key: inside the stored key range
        spec["misses"] = [k + "~" for k in spec["hits"]]
    return spec


SHAPES = ["hash", "range_ts", "zorder", "int_key", "streamed", "evolved",
          "mutated"]


@pytest.fixture(scope="module", params=SHAPES)
def store(request, spark, tmp_path_factory):
    return _build(spark, request.param,
                  str(tmp_path_factory.mktemp(f"local_{request.param}")))


# ----------------------------------------------------------- read paths

def test_decode_colocated_plans_agree(spark, store, monkeypatch):
    out = store["out"]
    _assert_same(monkeypatch, lambda: dec.decode_colocated(spark, out))
    _assert_same(monkeypatch, lambda: dec.decode_colocated(
        spark, out, columns=store["cols"]))
    fcols = {c for c, *_ in store["filters"]}
    cols = [c for c in manifest.ordered_schema(manifest.load(out))
            if c in set(store["cols"]) | fcols]
    got = _assert_same(monkeypatch, lambda: dec.decode_colocated(
        spark, out, columns=cols, filters=store["filters"]))
    assert got


def test_scan_table_plans_agree(spark, store, monkeypatch):
    out = store["out"]
    got = _assert_same(monkeypatch, lambda: dec.scan_table(
        spark, out, store["filters"]))
    assert got
    _assert_same(monkeypatch, lambda: dec.scan_table(
        spark, out, store["filters"], columns=store["cols"]))


def test_lookup_keys_plans_agree(spark, store, monkeypatch):
    out, key = store["out"], store["key"]
    hits, misses = store["hits"], store["misses"]
    got = _assert_same(monkeypatch, lambda: dec.lookup_keys(spark, out, hits))
    assert sorted(str(r[key]) for r in got) == sorted(hits)
    got = _assert_same(
        monkeypatch, lambda: dec.lookup_keys(spark, out, hits[:1] + misses))
    assert [str(r[key]) for r in got] == hits[:1]
    # set semantics: a duplicated probe returns its row once
    got_local, got_spark = _both(
        monkeypatch, lambda: dec.lookup_keys(spark, out, [hits[1]] * 3))
    assert len(got_local) == len(got_spark) == 1
    if store["shape"] == "int_key":
        # int key: a probe matches the key rendered as a string, so
        # "007" does not find 7; a non-numeric probe matches nothing
        got = _assert_same(monkeypatch, lambda: dec.lookup_keys(spark, out, ["007"]))
        assert got == []
        got = _assert_same(
            monkeypatch, lambda: dec.lookup_keys(spark, out, ["7", "007", "x"]))
        assert [r[key] for r in got] == [7]


def test_agg_table_plans_agree(spark, store, monkeypatch):
    out = store["out"]
    col = "warc_ts" if store["key"] == "url" else store["key"]
    aggs = [("count", "*"), ("min", col), ("max", col)]
    local = agg_table(spark, out, aggs, filters=store["filters"])
    with monkeypatch.context() as mp:
        mp.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
        remote = agg_table(spark, out, aggs, filters=store["filters"])
    assert local == remote
    assert local["count_star"] > 0


# ------------------------------------------------------ corrupt blocks

def _corrupt(out: str, how: str) -> None:
    """Rewrite the block file holding bucket 0 with one corruption."""
    m = manifest.load(out)
    for f in sorted(glob.glob(f"{out}/{m['wave_dirs'][0]}/part-*.parquet")):
        t = pq.read_table(f)
        is_b0 = pc.equal(t.column("bucket"), 0)
        if not pc.any(is_b0).as_py():
            continue
        rows = t.filter(is_b0)
        if how == "duplicate":
            t = pa.concat_tables([t, rows.slice(0, 1)])
        elif how == "missing":
            t = t.filter(pc.invert(pc.and_(
                is_b0, pc.equal(t.column("column"), "lang"))))
        else:  # stray
            one = rows.slice(0, 1)
            one = one.set_column(one.schema.get_field_index("column"), "column",
                                 pa.array(["zzz"]))
            t = pa.concat_tables([t, one])
        pq.write_table(t, f, compression="none")
        d, base = f.rsplit("/", 1)
        if os.path.exists(f"{d}/.{base}.crc"):  # Spark checks the checksum
            os.unlink(f"{d}/.{base}.crc")
        return
    raise AssertionError("no block file holds bucket 0")


@pytest.mark.parametrize("how,msg", [
    ("duplicate", "duplicate block rows for bucket 0"),
    ("missing", r"bucket 0 block set is corrupt: missing columns \['lang'\]"),
    ("stray", r"bucket 0 block set is corrupt: missing columns \[\], "
              r"stray columns \['zzz'\]"),
])
def test_corrupt_block_set_raises_on_both_plans(spark, tmp_path, monkeypatch,
                                                how, msg):
    out = str(tmp_path / "snap")
    encode_table(_pages(spark, 400), out, num_buckets=4, detect_skew=False)
    _corrupt(out, how)
    with pytest.raises(ValueError, match=msg):
        dec.decode_colocated(spark, out).collect()
    with monkeypatch.context() as mp:
        mp.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
        with pytest.raises(Exception, match=f"ValueError: {msg}"):
            dec.decode_colocated(spark, out).collect()


# ------------------------------------------------- local-plan contracts

@pytest.fixture(scope="module")
def small_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("local_small") / "snap")
    df = _pages(spark, 1000, seed=13)
    encode_table(df, out, num_buckets=N_B)
    urls = sorted(r[0] for r in df.select("url").collect())
    return out, urls


def test_small_reads_launch_no_spark_job(spark, small_store):
    out, urls = small_store
    cpu = pa.cpu_count()
    rows, jobs = jobs_of(spark, lambda: dec.lookup_keys(spark, out, urls[:1]).collect())
    assert [r["url"] for r in rows] == urls[:1]
    assert jobs == 0
    rows, jobs = jobs_of(spark, lambda: dec.scan_table(
        spark, out, [("lang", "=", "pl")]).collect())
    assert rows and all(r["lang"] == "pl" for r in rows)
    assert jobs == 0
    # the kernel runs in the driver without pinning its Arrow pool
    assert pa.cpu_count() == cpu


def _bloom_pruned_probe(out: str, urls: list[str]) -> str:
    """An absent url inside its bucket's recorded key range that the
    key Bloom sidecar drops: only the Bloom stage can prune it."""
    m = manifest.load(out)
    ranges = m["bucket_key_ranges"]
    for u in urls:
        probe = u + "~"
        (b,) = dec.key_buckets(m, probe)
        if (probe not in urls and dec.may_hold(ranges.get(str(b)), probe)
                and not dec._bloom_prune(out, m, "url", {b: [probe]})):
            return probe
    raise AssertionError("no Bloom-pruned in-range probe")


def test_empty_reads_launch_no_spark_job(spark, small_store, tmp_path):
    """Reads pruned to zero buckets return an empty LocalRelation: no
    parquet relation in the plan, and no Spark job to collect it."""
    out, urls = small_store
    probe = _bloom_pruned_probe(out, urls)
    above = "zzz://never-crawled.invalid/"  # past every stored key range
    ts_lo = [("warc_ts", "<", "1990-01-01T00:00:00")]  # zone-pruned
    for read in (lambda: dec.lookup_keys(spark, out, [probe]),
                 lambda: dec.lookup_keys(spark, out, [above]),
                 lambda: dec.scan_table(spark, out, ts_lo),
                 lambda: dec.scan_table(spark, out, ts_lo, columns=["url"])):
        df, jobs = jobs_of(spark, read)
        assert reads_no_files(df)
        rows, collect_jobs = jobs_of(spark, df.collect)
        assert rows == [] and jobs == collect_jobs == 0
    ik = str(tmp_path / "int_key")
    encode_table(spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")),
        ik, key="k", num_buckets=4, detect_skew=False)
    for keys in (["not-a-number"], ["100000"]):
        rows, jobs = jobs_of(spark, lambda: dec.lookup_keys(spark, ik, keys).collect())
        assert rows == [] and jobs == 0


def test_small_aggregates_launch_no_spark_job(spark, small_store, monkeypatch):
    """A filtered agg_table whose buckets all straddle the filter (a
    hash store scatters warc_ts) decodes in the driver and reduces with
    pyarrow; its sketch pass hashes in the driver too. The Spark plan
    gives the same answers and does launch jobs."""
    out, _urls = small_store
    ts = sorted(r[0] for r in dec.decode_colocated(
        spark, out, columns=["warc_ts"]).collect())
    filt = [("warc_ts", ">=", ts[100]), ("warc_ts", "<", ts[400])]
    aggs = [("count", "*"), ("min", "warc_ts"), ("max", "warc_ts"),
            ("approx_count_distinct", "url")]
    local, jobs = jobs_of(spark, lambda: agg_table(spark, out, aggs, filters=filt))
    assert jobs == 0 and local["count_star"] == 300
    assert local["approx_count_distinct_url"] > 0
    with monkeypatch.context() as mp:
        mp.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
        remote, jobs = jobs_of(spark, lambda: agg_table(spark, out, aggs,
                                                        filters=filt))
    assert jobs > 0 and remote == local


def test_local_plan_fetches_only_candidate_buckets(spark, small_store,
                                                    monkeypatch):
    out, urls = small_store
    m = manifest.load(out)
    probes = urls[:3]
    want = {partitioning.bucket_for_key(u, m["num_buckets"],
                                        m.get("hot_keys") or {})
            for u in probes}
    seen: list[tuple[set, set]] = []
    real = blockdecode.decode_bucket

    def spy(rows, *a, **kw):
        seen.append((set(rows.column("bucket").to_pylist()),
                     set(rows.column("column").to_pylist())))
        return real(rows, *a, **kw)

    monkeypatch.setattr(blockdecode, "decode_bucket", spy)
    got = dec.lookup_keys(spark, out, probes).collect()
    assert sorted(r["url"] for r in got) == probes
    assert set().union(*(b for b, _c in seen)) <= want
    assert all(len(b) == 1 for b, _c in seen)  # one kernel call per bucket
    # a projection fetches only the projected columns' block rows
    seen.clear()
    dec.decode_colocated(spark, out, columns=["url", "lang"], buckets=sorted(want))
    assert {b for bs, _c in seen for b in bs} <= want
    assert all(c == {"url", "lang"} for _b, c in seen)
