"""Z-order multi-column clustering (cluster_by=[a, b]).

Layout: per-column equal-frequency cells (256 each, JVM array-filter
assignment), cell indexes bit-interleaved into a 16-bit z-value, bucket
boundaries cut at the z-distribution's quantiles — each bucket holds a
compact z-range, so the per-block zone bounds the commit already
records become tight on EVERY cluster column at once, and range scans
prune on either dimension (the Databricks/Iceberg Z-ORDER layout; a
single-column range store prunes one dimension and scatters the other,
a hash store scatters both).

Invariants pinned here: assignment determinism (expression == driver
mirror == resume), 2-D pruning actually firing on both dimensions,
scan/mutation exactness, config pinning, rebuild inheritance, and the
count_distinct eligibility guard (zorder buckets are NOT key-disjoint
— the stats path must not add per-bucket counts).
"""
import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest, zonemap
from kmers_spark.operators import partitioning
from kmers_spark.operators.agg import agg_table
from kmers_spark.operators.decode import decode_table, scan_table
from kmers_spark.operators.encode import encode_table, rebuild_snapshot


@pytest.fixture(scope="module")
def zdf(spark):
    """40k rows, two decorrelated dimensions + a string dim."""
    return spark.range(40000).select(
        F.format_string("k-%06d", F.col("id")).alias("k"),
        (F.col("id") % 4000).alias("ts"),
        ((F.col("id") * 7919) % 997).alias("uid"),
        F.format_string("h-%03d", (F.col("id") * 31) % 500).alias("host"),
    ).cache()


@pytest.fixture(scope="module")
def zstore(spark, zdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("zorder") / "snap")
    encode_table(zdf, out, key="k", num_buckets=64,
                 cluster_by=["ts", "uid"])
    return out


def _surviving(out, m, filters):
    blocks = manifest.block_stats(out, m)
    norm = zonemap.normalize_filters(filters, m["schema"])
    return zonemap.prune_buckets(m, norm, blocks=blocks)


def test_manifest_config_and_resume(spark, zdf, zstore):
    m = manifest.load(zstore)
    assert m["bucket_scheme"] == partitioning.ZORDER_SCHEME
    assert m["cluster_by"] == ["ts", "uid"]
    assert len(m["zorder_boundaries"]) == 63
    assert {c: len(v) for c, v in m["zorder_cells"].items()} == \
        {"ts": 255, "uid": 255}
    # resume is a no-op against the recorded boundaries
    m2 = encode_table(zdf, zstore, key="k", num_buckets=64,
                      cluster_by=["ts", "uid"])
    assert m2["wave_dirs"] == m["wave_dirs"]
    # config pinning: a different cluster list (or order) raises
    with pytest.raises(ValueError, match="snapshot format"):
        encode_table(zdf, zstore, key="k", num_buckets=64,
                     cluster_by=["uid", "ts"])
    with pytest.raises(ValueError, match="snapshot format"):
        encode_table(zdf, zstore, key="k", num_buckets=64,
                     cluster_by="ts")
    with pytest.raises(ValueError, match="repeats"):
        encode_table(zdf, "/tmp/never", key="k", num_buckets=4,
                     cluster_by=["ts", "ts"])


def test_two_dimensional_pruning(spark, zdf, zstore, tmp_path):
    m = manifest.load(zstore)
    # a ~5% window on EITHER dimension prunes most buckets; with 64
    # buckets = 3 z-bits per dimension the ideal keep is 1/8 + boundary
    # straddle — assert under 40% to stay robust to cell skew
    kept_ts = _surviving(zstore, m, [("ts", ">=", 1000), ("ts", "<", 1200)])
    kept_uid = _surviving(zstore, m, [("uid", ">=", 100), ("uid", "<", 150)])
    assert len(kept_ts) <= 25, kept_ts
    assert len(kept_uid) <= 25, kept_uid
    # the same windows on a hash store keep every bucket
    hout = str(tmp_path / "hash")
    encode_table(zdf, hout, key="k", num_buckets=64, detect_skew=False)
    hm = manifest.load(hout)
    assert len(_surviving(hout, hm,
                          [("ts", ">=", 1000), ("ts", "<", 1200)])) == 64


def test_scan_exact_on_both_dimensions(spark, zdf, zstore):
    for filt, cond in [
        ([("ts", ">=", 1000), ("ts", "<", 1020)],
         (F.col("ts") >= 1000) & (F.col("ts") < 1020)),
        ([("uid", "=", 500)], F.col("uid") == 500),
        ([("ts", "<", 100), ("uid", ">=", 800)],
         (F.col("ts") < 100) & (F.col("uid") >= 800)),
    ]:
        got = sorted(r["k"] for r in scan_table(spark, zstore, filt).collect())
        want = sorted(r["k"] for r in zdf.filter(cond).collect())
        assert got == want and got


def test_expression_matches_driver_mirror(spark, zdf, zstore):
    m = manifest.load(zstore)
    cols, typs = ["ts", "uid"], ["int64", "int64"]
    heavy = partitioning.heavy_boundary_values(m["zorder_boundaries"])
    assigned = partitioning.with_bucket_zorder(
        zdf.limit(500), cols, typs, m["zorder_cells"],
        m["zorder_boundaries"], key="k",
    ).select("ts", "uid", "bucket").collect()
    checked = 0
    for r in assigned:
        want = partitioning.zorder_bucket_for_row(
            [r["ts"], r["uid"]], typs, m["zorder_cells"], cols,
            m["zorder_boundaries"])
        # rows on heavy z boundaries are salted (mirror excludes that)
        if not heavy:
            assert r["bucket"] == want, r
            checked += 1
    assert heavy or checked == 500


def test_null_and_nan_pin_to_cell_zero(spark):
    cells = {"a": [10.0, 20.0], "b": [5]}
    rows = spark.createDataFrame(
        [(None, None), (float("nan"), 3), (15.0, 99)],
        "a double, b bigint")
    got = partitioning.with_bucket_zorder(
        rows, ["a", "b"], ["double", "int64"], cells, [1, 2, 3]
    ).select("bucket").collect()
    mirror = [
        partitioning.zorder_bucket_for_row(
            [a, b], ["double", "int64"], cells, ["a", "b"], [1, 2, 3])
        for a, b in ((None, None), (float("nan"), 3), (15.0, 99))
    ]
    assert [r["bucket"] for r in got] == mirror
    assert mirror[0] == 0  # all-NULL row: z == 0 -> first bucket


def test_string_dimension(spark, zdf, tmp_path):
    out = str(tmp_path / "zstr")
    encode_table(zdf, out, key="k", num_buckets=32,
                 cluster_by=["host", "ts"])
    m = manifest.load(out)
    assert m["bucket_scheme"] == partitioning.ZORDER_SCHEME
    kept = _surviving(out, m, [("host", ">=", "h-100"), ("host", "<", "h-120")])
    assert len(kept) <= 16, kept  # ~4% string window prunes
    got = sorted(r["k"] for r in scan_table(
        spark, out, [("host", "=", "h-123")]).collect())
    want = sorted(r["k"] for r in zdf.filter(F.col("host") == "h-123").collect())
    assert got == want and got


def test_mutations_on_zorder_store(spark, zdf, tmp_path):
    from kmers_spark.operators.delete import delete_keys
    from kmers_spark.operators.upsert import upsert_table

    out = str(tmp_path / "zmut")
    encode_table(zdf, out, key="k", num_buckets=16,
                 cluster_by=["ts", "uid"])
    doomed = [f"k-{i:06d}" for i in range(0, 40000, 10)]
    delete_keys(spark, out, doomed)
    # re-crawl: keys whose NEW cluster values land in different buckets
    # than their old rows (ts shifted by 2000) — the displaced-old-row
    # probe path must purge them wherever they sit
    batch = zdf.filter(F.col("k").isin([f"k-{i:06d}" for i in range(1, 300, 7)])) \
        .select("k", (F.col("ts") + 2000) % 4000, "uid", "host") \
        .toDF("k", "ts", "uid", "host")
    upsert_table(spark, out, batch)
    truth = (
        zdf.filter(~F.col("k").isin(doomed))
        .filter(~F.col("k").isin([f"k-{i:06d}" for i in range(1, 300, 7)]))
        .unionByName(batch)
    )
    got = decode_table(spark, out).select("k", "ts", "uid", "host")
    assert got.count() == truth.count()
    assert got.exceptAll(truth).count() == 0
    # layout still prunes after the rewrite
    m = manifest.load(out)
    kept = _surviving(out, m, [("ts", ">=", 1000), ("ts", "<", 1200)])
    assert len(kept) < 16


def test_rebuild_inherits_and_converts(spark, zdf, tmp_path):
    # hash -> zorder conversion via rebuild
    hsrc = str(tmp_path / "hashsrc")
    encode_table(zdf, hsrc, key="k", num_buckets=16, detect_skew=False)
    zdst = str(tmp_path / "zdst")
    rebuild_snapshot(spark, hsrc, zdst, cluster_by=["ts", "uid"])
    m = manifest.load(zdst)
    assert m["bucket_scheme"] == partitioning.ZORDER_SCHEME
    kept = _surviving(zdst, m, [("uid", ">=", 100), ("uid", "<", 150)])
    assert len(kept) < 10
    # zorder -> zorder compaction inherits the cluster list
    zdst2 = str(tmp_path / "zdst2")
    rebuild_snapshot(spark, zdst, zdst2)
    assert manifest.load(zdst2)["cluster_by"] == ["ts", "uid"]
    got = sorted(r["k"] for r in decode_table(spark, zdst2).select("k").collect())
    want = sorted(r["k"] for r in zdf.select("k").collect())
    assert got == want


def test_count_distinct_not_stats_added_on_zorder(spark, zdf, zstore,
                                                  monkeypatch):
    """zorder buckets are cut from cluster columns, NOT the key — the
    exact count_distinct must take the decode path (per-bucket zndv
    sums would be wrong if a key's rows ever spanned buckets, and
    eligibility is an allowlist)."""
    from tests.conftest import spy_agg_decodes

    calls = []
    spy_agg_decodes(monkeypatch, lambda *_: calls.append(1))
    r = agg_table(spark, zstore, [("count_distinct", "k")])
    assert r["count_distinct_k"] == 40000
    assert calls, "zorder store must decode for exact count_distinct"


def test_three_column_zorder(spark, zdf, tmp_path):
    """the interleave generalizes: k columns get every k-th z-bit."""
    out = str(tmp_path / "z3")
    encode_table(zdf, out, key="k", num_buckets=32,
                 cluster_by=["ts", "uid", "host"])
    m = manifest.load(out)
    assert m["cluster_by"] == ["ts", "uid", "host"]
    for col, lo, hi in (("ts", 1000, 1400), ("uid", 100, 200),
                        ("host", "h-100", "h-150")):
        kept = _surviving(out, m, [(col, ">=", lo), (col, "<", hi)])
        assert len(kept) < 32, (col, kept)  # every dim prunes SOMETHING
    got = sorted(r["k"] for r in scan_table(
        spark, out, [("uid", ">=", 100), ("uid", "<", 120)]).collect())
    want = sorted(r["k"] for r in zdf.filter(
        (F.col("uid") >= 100) & (F.col("uid") < 120)).collect())
    assert got == want and got


def test_lookup_keys_on_zorder_store(spark, zdf, zstore):
    """REGRESSION: lookup_keys must not hash-derive a bucket on zorder
    stores (the key does not determine the bucket) — present keys were
    reported absent. Candidates fall back to committed buckets pruned
    by key ranges + Bloom sidecars."""
    from kmers_spark.operators.decode import lookup_keys

    probes = ["k-000001", "k-020000", "k-039999"]
    got = lookup_keys(spark, zstore, probes).collect()
    assert sorted(r["k"] for r in got) == probes
    assert lookup_keys(spark, zstore, ["k-999999"]).count() == 0
