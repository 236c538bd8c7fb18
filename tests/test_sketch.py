"""Per-block HLL distinct sketches (kernels/sketch.py, `zhll` stat)
and agg_table's approx_count_distinct.

The load-bearing property is DETERMINISM: per-block build + register
max-merge is a lattice homomorphism, so the merged estimate equals a
single HLL pass over the whole value set — whatever mix of stats-side
sketches and decoded buckets answered the query. Every integration
test here asserts equality against that direct single-pass estimate
(not a tolerance band), plus one loose accuracy band against the true
cardinality.

Reference parity note: the reference engine (COMBINE-lab/kmers) has no
aggregate or sketch surface; this is engine-native functionality in
the Druid/Pinot/Snowflake per-segment-sketch style.
"""
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest
from kmers_spark.kernels import sketch
from kmers_spark.operators import agg as aggmod
from kmers_spark.operators.agg import agg_table
from kmers_spark.operators.encode import encode_table, rebuild_snapshot
from tests.conftest import spy_agg_decodes


def _no_decode(monkeypatch):
    def boom(*a, **k):
        raise AssertionError("stats-only aggregate decoded payload")
    monkeypatch.setattr(aggmod, "_ColocatedRead", boom)
    monkeypatch.setattr(aggmod, "decode_colocated", boom)


def _direct(values, typ):
    """int(round(estimate)) of ONE sketch over all values — the number
    every engine path must reproduce exactly."""
    arrow_t = pa.string() if typ == "string" else pa.int64()
    regs = sketch.hll_build_arrow(pa.array(values, arrow_t), typ)
    return int(round(sketch.estimate(regs)))


# ------------------------------------------------------------- kernel

def test_clz64_exact():
    rng = np.random.default_rng(7)
    vals = np.concatenate([
        np.array([0, 1, 2, (1 << 63), (1 << 64) - 1, (1 << 52) - 1],
                 dtype=np.uint64),
        rng.integers(0, 1 << 63, 500, dtype=np.uint64) * np.uint64(2) + rng.integers(0, 2, 500, dtype=np.uint64),
    ])
    got = sketch._clz64(vals)
    want = np.array([64 - int(v).bit_length() for v in vals])
    assert np.array_equal(got, want)


def test_merge_equals_single_pass_with_overlap():
    a = pa.array([f"u{i}" for i in range(3000)])
    b = pa.array([f"u{i}" for i in range(1500, 5000)])
    both = pa.array([f"u{i}" for i in range(5000)])
    m = sketch.merge([sketch.hll_build_arrow(a, "string"),
                      sketch.hll_build_arrow(b, "string")])
    assert np.array_equal(m, sketch.hll_build_arrow(both, "string"))
    ia = pa.array(range(0, 4000), pa.int64())
    ib = pa.array(range(2000, 6000), pa.int64())
    iboth = pa.array(range(6000), pa.int64())
    m = sketch.merge([sketch.hll_build_arrow(ia, "int64"),
                      sketch.hll_build_arrow(ib, "int64")])
    assert np.array_equal(m, sketch.hll_build_arrow(iboth, "int64"))


def test_duplicates_never_move_the_estimate():
    once = pa.array([f"v{i}" for i in range(400)])
    many = pa.array([f"v{i % 400}" for i in range(40000)])
    assert np.array_equal(sketch.hll_build_arrow(once, "string"),
                          sketch.hll_build_arrow(many, "string"))


@pytest.mark.parametrize("n", [1, 10, 500, 5000, 100_000])
def test_accuracy_band(n):
    regs = sketch.hll_build_arrow(
        pa.array([f"url-{i}" for i in range(n)]), "string")
    est = sketch.estimate(regs)
    assert abs(est - n) / n < 0.10  # 3σ of the p=10 stderr


def test_empty_and_all_null_yield_zero_sketch_not_none():
    for arr in (pa.array([], pa.string()),
                pa.array([None, None], pa.string()),
                pa.array([None], pa.int64())):
        typ = "string" if arr.type == pa.string() else "int64"
        regs = sketch.hll_build_arrow(arr, typ)
        assert regs is not None and not regs.any()
        assert sketch.estimate(regs) == 0.0
    assert sketch.hll_build_arrow(pa.array([1.0]), "double") is None


def test_nulls_dropped_like_count_distinct():
    with_nulls = pa.array(["a", None, "b", None, "c"])
    without = pa.array(["a", "b", "c"])
    assert np.array_equal(sketch.hll_build_arrow(with_nulls, "string"),
                          sketch.hll_build_arrow(without, "string"))


def test_pack_unpack_roundtrip_and_foreign_rejection():
    regs = sketch.hll_build_arrow(
        pa.array([f"x{i}" for i in range(1000)]), "string")
    s = sketch.pack(regs)
    assert s.startswith(sketch.ALGO + ":")
    assert np.array_equal(sketch.unpack(s), regs)
    assert sketch.unpack("hll-other-p12:AAAA") is None
    assert sketch.unpack(sketch.ALGO + ":!!!notb64!!!") is None
    assert sketch.unpack(None) is None
    # right prefix, wrong register count
    import base64
    import zlib
    bad = sketch.ALGO + ":" + base64.b64encode(
        zlib.compress(b"\x00" * 17)).decode()
    assert sketch.unpack(bad) is None


# -------------------------------------------------------- integration

@pytest.fixture(scope="module")
def ndv_store(spark, tmp_path_factory):
    """hash store, 2600 rows: host (string, 219 distinct), grp (int64,
    41 distinct, nulls), url key; host+grp sketched."""
    df = spark.range(2600).select(
        F.format_string("u-%05d", F.col("id")).alias("url"),
        F.format_string("h-%03d", F.col("id") % 219).alias("host"),
        F.when(F.col("id") % 13 == 0, None)
         .otherwise(F.col("id") % 41).alias("grp"),
        (F.col("id") % 100).alias("n"),
    ).cache()
    out = str(tmp_path_factory.mktemp("ndv") / "snap")
    encode_table(df, out, key="url", num_buckets=8,
                 ndv_columns=["host", "grp"], detect_skew=False)
    return df, out


def test_encode_records_zhll_for_ndv_columns_only(spark, ndv_store):
    df, out = ndv_store
    m = manifest.load(out)
    assert m["ndv_columns"] == ["grp", "host"]
    for blocks in m["blocks"].values():
        for s in blocks:
            if s["column"] in ("host", "grp") and s["n_rows"]:
                assert s.get("zhll", "").startswith(sketch.ALGO + ":")
            else:
                assert "zhll" not in s


def test_approx_unfiltered_zero_jobs_and_deterministic(
        spark, ndv_store, monkeypatch):
    df, out = ndv_store
    hosts = [r[0] for r in df.select("host").collect()]
    grps = [r[0] for r in df.select("grp").collect() if r[0] is not None]
    _no_decode(monkeypatch)
    r = agg_table(spark, out, [("approx_count_distinct", "host"),
                               ("approx_count_distinct", "grp")])
    assert r["approx_count_distinct_host"] == _direct(hosts, "string")
    assert r["approx_count_distinct_grp"] == _direct(grps, "int64")
    assert abs(r["approx_count_distinct_host"] - 219) / 219 < 0.10
    assert r["approx_count_distinct_grp"] in range(37, 46)  # true 41


def test_approx_filtered_mixes_contained_and_straddlers(spark, tmp_path):
    """range-clustered store: interior buckets answer from sketches,
    boundary straddlers decode — the mix must equal the single-pass
    estimate over exactly the matching rows."""
    spark_df = spark.range(4000).select(
        F.format_string("k-%05d", F.col("id")).alias("k"),
        F.col("id").alias("ts"),
        F.format_string("h-%03d", F.col("id") % 157).alias("host"),
    )
    out = str(tmp_path / "rng")
    encode_table(spark_df, out, key="k", num_buckets=8, cluster_by="ts",
                 ndv_columns=["host"])
    lo, hi = 900, 2100
    truth_vals = [r[0] for r in spark_df.filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)).select("host").collect()]
    r = agg_table(spark, out, [("approx_count_distinct", "host")],
                  filters=[("ts", ">=", lo), ("ts", "<", hi)])
    assert r["approx_count_distinct_host"] == _direct(truth_vals, "string")


def test_approx_zero_match_filter(spark, ndv_store, monkeypatch):
    _no_decode(monkeypatch)
    df, out = ndv_store
    r = agg_table(spark, out, [("approx_count_distinct", "host")],
                  filters=[("n", ">", 10_000)])
    assert r["approx_count_distinct_host"] == 0


def test_approx_pre_sketch_snapshot_decodes_same_answer(
        spark, ndv_store, tmp_path):
    df, _ = ndv_store
    out = str(tmp_path / "presketch")
    encode_table(df, out, key="url", num_buckets=4, detect_skew=False)
    hosts = [r[0] for r in df.select("host").collect()]
    r = agg_table(spark, out, [("approx_count_distinct", "host")])
    assert r["approx_count_distinct_host"] == _direct(hosts, "string")


def test_approx_after_mutations_still_zero_jobs(spark, ndv_store,
                                                tmp_path, monkeypatch):
    from kmers_spark.operators.delete import delete_keys
    from kmers_spark.operators.upsert import upsert_table

    df, _ = ndv_store
    out = str(tmp_path / "mut")
    encode_table(df, out, key="url", num_buckets=8,
                 ndv_columns=["host", "grp"], detect_skew=False)
    doomed = [f"u-{i:05d}" for i in range(0, 2600, 2)]
    delete_keys(spark, out, doomed)
    batch = spark.createDataFrame(
        [("u-00001", "brand-new-host", 7, 3)],
        "url string, host string, grp bigint, n bigint")
    upsert_table(spark, out, batch)
    live = df.filter(~F.col("url").isin(doomed)).filter(
        F.col("url") != "u-00001").select("host").collect()
    truth_vals = [r[0] for r in live] + ["brand-new-host"]
    _no_decode(monkeypatch)  # rewrites regenerated zhll: still 0 jobs
    r = agg_table(spark, out, [("approx_count_distinct", "host")])
    assert r["approx_count_distinct_host"] == _direct(truth_vals, "string")


def test_rebuild_inherits_ndv_columns(spark, ndv_store, tmp_path,
                                      monkeypatch):
    df, src = ndv_store
    dst = str(tmp_path / "rebuilt")
    rebuild_snapshot(spark, src, dst)
    assert manifest.load(dst)["ndv_columns"] == ["grp", "host"]
    hosts = [r[0] for r in df.select("host").collect()]
    _no_decode(monkeypatch)
    r = agg_table(spark, dst, [("approx_count_distinct", "host")])
    assert r["approx_count_distinct_host"] == _direct(hosts, "string")


def test_validation(spark, ndv_store, tmp_path):
    df, out = ndv_store
    ddf = df.withColumn("d", F.col("n") * 0.5)
    dout = str(tmp_path / "v0")
    encode_table(ddf, dout, key="url", num_buckets=2, detect_skew=False)
    with pytest.raises(TypeError, match="approx_count_distinct"):
        agg_table(spark, dout, [("approx_count_distinct", "d")])
    # double column rejected at encode too
    with pytest.raises(ValueError, match="string and int64"):
        encode_table(ddf, str(tmp_path / "v1"), key="url", num_buckets=2,
                     ndv_columns=["d"])
    with pytest.raises(KeyError, match="not in input schema"):
        encode_table(df, str(tmp_path / "v2"), key="url", num_buckets=2,
                     ndv_columns=["nope"])
    # snapshot-config pinning: resume with a different sketch set raises
    with pytest.raises(ValueError, match="ndv_columns"):
        encode_table(df, out, key="url", num_buckets=8,
                     ndv_columns=["host"], detect_skew=False)


def test_sketch_bytes_trigger_spill(spark, ndv_store, tmp_path,
                                    monkeypatch):
    """inline zhll payload past STATS_SPILL_BYTES moves the wave's
    stats into the spill file; readers merge transparently."""
    monkeypatch.setattr(manifest, "STATS_SPILL_BYTES", 1024)
    df, _ = ndv_store
    out = str(tmp_path / "spill")
    encode_table(df, out, key="url", num_buckets=4,
                 ndv_columns=["host"], detect_skew=False)
    m = manifest.load(out)
    assert m.get("stats_files"), "sketch bytes should have tripped spill"
    assert not m.get("blocks"), "inline stats should have been absorbed"
    hosts = [r[0] for r in df.select("host").collect()]
    r = agg_table(spark, out, [("approx_count_distinct", "host"),
                               ("count", "*")])
    assert r["approx_count_distinct_host"] == _direct(hosts, "string")
    assert r["count_star"] == 2600


def test_batch_sink_ndv_columns(spark, ndv_store, tmp_path, monkeypatch):
    from kmers_spark import datasource
    from kmers_spark.operators import partitioning

    df, _ = ndv_store
    datasource.register(spark)
    out = str(tmp_path / "sink")
    bucketed = partitioning.with_bucket(df, 4, {}, url_col="url") \
        .repartition("bucket")
    (
        bucketed.write.format("kmers")
        .option("key", "url").option("numBuckets", "4")
        .option("ndvColumns", "host")
        .mode("append").save(out)
    )
    assert manifest.load(out)["ndv_columns"] == ["host"]
    hosts = [r[0] for r in df.select("host").collect()]
    _no_decode(monkeypatch)
    r = agg_table(spark, out, [("approx_count_distinct", "host")])
    assert r["approx_count_distinct_host"] == _direct(hosts, "string")
    with pytest.raises(Exception, match="string and int64"):
        (bucketed.withColumn("d", F.lit(0.5)).write.format("kmers")
         .option("key", "url").option("numBuckets", "4")
         .option("ndvColumns", "d").mode("append")
         .save(str(tmp_path / "bad")))


def test_stream_sink_ndv_overlapping_generations(spark, tmp_path,
                                                 monkeypatch):
    """THE case exact zndv can never serve: generations of one bucket
    share keys/values; register union answers stats-only."""
    from kmers_spark import datasource
    from kmers_spark.operators import partitioning

    datasource.register(spark)
    src = str(tmp_path / "src")
    out, ck = str(tmp_path / "snap"), str(tmp_path / "ck")

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.format_string("k-%05d", F.col("id")).alias("k"),
            F.format_string("h-%03d", (F.col("id") % 97)).alias("host"))

    schema = "k string, host string"
    mk(0, 1200).write.mode("append").parquet(src)

    def run(opts):
        sdf = spark.readStream.schema(schema).parquet(src)
        b = partitioning.with_bucket(sdf, 4, {}, url_col="k") \
            .repartition("bucket")
        w = (b.writeStream.format("kmers")
             .option("checkpointLocation", ck)
             .option("key", "k").option("numBuckets", "4"))
        for k, v in opts.items():
            w = w.option(k, v)
        q = w.trigger(availableNow=True).start(out)
        q.awaitTermination(120)

    run({"ndvColumns": "host"})
    mk(600, 1800).write.mode("append").parquet(src)  # 50% overlap
    run({})  # second batch: sketch config inherited from the snapshot
    m = manifest.load(out)
    assert m["streamed"] is True and m["ndv_columns"] == ["host"]
    truth_vals = [f"h-{i % 97:03d}" for i in range(1800)]
    _no_decode(monkeypatch)
    r = agg_table(spark, out, [("approx_count_distinct", "host")])
    assert r["approx_count_distinct_host"] == _direct(truth_vals, "string")


def test_approx_decodes_grouped_one_job(spark, ndv_store, monkeypatch):
    """N approx aggs over the same straddling buckets must decode them
    ONCE (single mapInArrow pass computing every column's registers),
    and the shared decode must not change the answers."""
    df, out = ndv_store
    seen_cols = []
    spy_agg_decodes(monkeypatch,
                    lambda cols, _b: seen_cols.append(list(cols or [])))
    # n < 50 makes every bucket straddle (hash store scatters n)
    r = agg_table(spark, out, [("approx_count_distinct", "host"),
                               ("approx_count_distinct", "grp")],
                  filters=[("n", "<", 50)])
    assert len(seen_cols) == 1 and set(seen_cols[0]) >= {"host", "grp"}
    match = df.filter(F.col("n") < 50)
    hosts = [x[0] for x in match.select("host").collect()]
    grps = [x[0] for x in match.select("grp").collect() if x[0] is not None]
    assert r["approx_count_distinct_host"] == _direct(hosts, "string")
    assert r["approx_count_distinct_grp"] == _direct(grps, "int64")
