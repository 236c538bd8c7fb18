"""agg_table: metadata-only aggregate pushdown (operators/agg.py).

The reference engine has no aggregate surface; this is engine-native
Iceberg-style functionality: count/min/max/sum answered from manifest
block stats (n_rows, zone bounds, znull, zsum), decoding only the
buckets stats cannot prove — none for unfiltered exact-bounds
aggregates, the boundary-straddling buckets for range filters, the
candidate buckets for (truncated-bound) string extremes.

Covers: exactness against Spark truth on every path, the zero-Spark-job
guarantee for stats-only aggregates, candidate pruning for string
extremes, contained/straddle classification on clustered stores,
pre-znull snapshot back-compat, all-null columns, mutation and
evolution interplay, and input validation.
"""
import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest
from kmers_spark.operators import agg as aggmod
from kmers_spark.operators.agg import agg_table, agg_table_df
from kmers_spark.operators.encode import encode_table
from kmers_spark.pages import pages_df
from tests.conftest import jobs_of, spy_agg_decodes


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, 5000, seed=23, partitions=4).cache()


@pytest.fixture(scope="module")
def hash_store(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("agg_hash") / "snap")
    encode_table(pages, out, num_buckets=16)
    return out


@pytest.fixture(scope="module")
def range_store(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("agg_range") / "snap")
    encode_table(pages, out, num_buckets=16, cluster_by="warc_ts")
    return out


@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    """string key + int64 (with nulls) + double (with nulls) + an
    all-null int64 column."""
    rows = [
        (f"k{i:04d}",
         None if i % 7 == 0 else (i - 500) * 1000,
         None if i % 5 == 0 else float(i) / 3.0,
         None)
        for i in range(800)
    ]
    df = spark.createDataFrame(
        rows, "k string, v bigint, d double, nil bigint").cache()
    out = str(tmp_path_factory.mktemp("agg_typed") / "snap")
    encode_table(df, out, key="k", num_buckets=8)
    return df, out


def _truth(df, exprs):
    return tuple(df.agg(*exprs).collect()[0])


def _no_decode(monkeypatch):
    """Fail the test if any decode path runs."""
    def boom(*a, **k):
        raise AssertionError("stats-only aggregate decoded payload")
    monkeypatch.setattr(aggmod, "_ColocatedRead", boom)
    monkeypatch.setattr(aggmod, "decode_colocated", boom)


def _capture_buckets(monkeypatch):
    seen = []
    spy_agg_decodes(monkeypatch, lambda _cols, b: seen.append(list(b or [])))
    return seen


# ------------------------------------------------------------- stats-only

def test_unfiltered_counts_and_ts_extremes_no_jobs(
        spark, pages, hash_store, monkeypatch):
    _no_decode(monkeypatch)
    r = agg_table(spark, hash_store, [
        ("count", "*"), ("count", "lang"),
        ("min", "warc_ts"), ("max", "warc_ts"),
    ])
    c, cl, mn, mx = _truth(pages, [
        F.count(F.lit(1)), F.count("lang"), F.min("warc_ts"),
        F.max("warc_ts")])
    assert r == {"count_star": c, "count_lang": cl,
                 "min_warc_ts": mn, "max_warc_ts": mx}


def test_unfiltered_int_sum_minmax_no_jobs(spark, typed, monkeypatch):
    df, out = typed
    _no_decode(monkeypatch)
    r = agg_table(spark, out, [
        ("sum", "v"), ("min", "v"), ("max", "v"), ("count", "v"),
    ])
    sv, mn, mx, cv = _truth(df, [
        F.sum("v"), F.min("v"), F.max("v"), F.count("v")])
    assert r == {"sum_v": sv, "min_v": mn, "max_v": mx, "count_v": cv}


def test_all_null_column_no_jobs(spark, typed, monkeypatch):
    df, out = typed
    _no_decode(monkeypatch)
    r = agg_table(spark, out, [
        ("count", "nil"), ("min", "nil"), ("max", "nil"), ("sum", "nil")])
    assert r == {"count_nil": 0, "min_nil": None, "max_nil": None,
                 "sum_nil": None}


def test_filter_excluding_everything_no_jobs(
        spark, range_store, monkeypatch):
    _no_decode(monkeypatch)
    r = agg_table(spark, range_store,
                  [("count", "*"), ("min", "warc_ts")],
                  filters=[("warc_ts", "<", "1990-01-01T00:00:00")])
    assert r == {"count_star": 0, "min_warc_ts": None}


# -------------------------------------------------------- decode fallbacks

def test_string_extremes_candidate_pruned(
        spark, pages, hash_store, monkeypatch):
    seen = _capture_buckets(monkeypatch)
    r = agg_table(spark, hash_store, [("min", "url"), ("max", "url")])
    t = _truth(pages, [F.min("url"), F.max("url")])
    assert (r["min_url"], r["max_url"]) == t
    total = len(manifest.load(hash_store)["committed_buckets"])
    # candidate sets must genuinely prune: the extreme url bound lives
    # in a few buckets, not all 16 (text can tie broadly on "" — url
    # values are distinct keys)
    assert all(0 < len(b) < total for b in seen) and seen


def test_string_extremes_with_ties(spark, pages, hash_store):
    # text min ties on the empty string across many buckets: the
    # candidate set may be wide, exactness must hold regardless
    r = agg_table(spark, hash_store, [("min", "text"), ("max", "text")])
    t = _truth(pages, [F.min("text"), F.max("text")])
    assert (r["min_text"], r["max_text"]) == t


def test_double_minmax(spark, typed):
    df, out = typed
    r = agg_table(spark, out, [("min", "d"), ("max", "d"), ("sum", "d")])
    mn, mx, sd = _truth(df, [F.min("d"), F.max("d"), F.sum("d")])
    assert r["min_d"] == mn and r["max_d"] == mx
    assert abs(r["sum_d"] - sd) < 1e-6  # decoded double sum: fp order


def test_binary_minmax_decodes(spark, pages, hash_store):
    r = agg_table(spark, hash_store, [("min", "html"), ("max", "html")])
    mn, mx = _truth(pages, [F.min("html"), F.max("html")])
    assert r["min_html"] == bytes(mn) and r["max_html"] == bytes(mx)


# ---------------------------------------------------------- range filters

def _ts_window(pages, lo_frac=3, hi_frac=6):
    a, b = pages.agg(F.min("warc_ts"), F.max("warc_ts")).collect()[0]
    return (a + (b - a) * lo_frac // 10, a + (b - a) * hi_frac // 10)


def test_clustered_range_filter_partial_decode(
        spark, pages, range_store, monkeypatch):
    lo, hi = _ts_window(pages)
    seen = _capture_buckets(monkeypatch)
    filt = [("warc_ts", ">=", lo), ("warc_ts", "<", hi)]
    r = agg_table(spark, range_store, [
        ("count", "*"), ("min", "warc_ts"), ("max", "warc_ts"),
        ("count", "lang")], filters=filt)
    fdf = pages.filter((F.col("warc_ts") >= F.lit(lo)) &
                       (F.col("warc_ts") < F.lit(hi)))
    c, mn, mx, cl = _truth(fdf, [
        F.count(F.lit(1)), F.min("warc_ts"), F.max("warc_ts"),
        F.count("lang")])
    assert r == {"count_star": c, "min_warc_ts": mn, "max_warc_ts": mx,
                 "count_lang": cl}
    # on a warc_ts-clustered store only the two boundary buckets
    # straddle a contiguous range — the interior is counted from stats
    total = len(manifest.load(range_store)["committed_buckets"])
    assert all(len(b) <= 3 for b in seen) and len(seen) >= 1
    assert all(len(b) < total for b in seen)


def test_hash_store_range_filter_exact(spark, pages, hash_store):
    lo, hi = _ts_window(pages)
    filt = [("warc_ts", ">=", lo), ("warc_ts", "<", hi)]
    r = agg_table(spark, hash_store,
                  [("count", "*"), ("min", "url")], filters=filt)
    fdf = pages.filter((F.col("warc_ts") >= F.lit(lo)) &
                       (F.col("warc_ts") < F.lit(hi)))
    c, mu = _truth(fdf, [F.count(F.lit(1)), F.min("url")])
    assert r == {"count_star": c, "min_url": mu}


def test_eq_filter_on_dict_column(spark, pages, hash_store):
    lang = pages.select("lang").first()["lang"]
    r = agg_table(spark, hash_store, [("count", "*")],
                  filters=[("lang", "=", lang)])
    assert r["count_star"] == pages.filter(F.col("lang") == lang).count()


# ------------------------------------------------------------ back-compat

def test_pre_znull_snapshot_falls_back(spark, typed, tmp_path, monkeypatch):
    """Strip znull/zsum from a snapshot's stats (as a pre-upgrade store
    would lack them): count(col)/sum fall back to decode, stay exact."""
    df, out = typed
    m, v = manifest.load_with_version(out)
    vpath = os.path.join(out, f"{manifest.VERSION_PREFIX}{v}.json")
    with open(vpath) as f:
        raw = json.load(f)
    for b, ents in raw.get("blocks", {}).items():
        for s in ents:
            s.pop("znull", None)
            s.pop("zsum", None)
    stripped = str(tmp_path / "stripped")
    import shutil
    shutil.copytree(out, stripped)
    with open(os.path.join(
            stripped, f"{manifest.VERSION_PREFIX}{v}.json"), "w") as f:
        json.dump(raw, f)
    r = agg_table(spark, stripped, [
        ("count", "*"), ("count", "v"), ("sum", "v"), ("min", "v")])
    c, cv, sv, mn = _truth(df, [
        F.count(F.lit(1)), F.count("v"), F.sum("v"), F.min("v")])
    # count(*) (n_rows) and min (bounds) stay stats-only; count(col)
    # and sum decode
    assert r == {"count_star": c, "count_v": cv, "sum_v": sv, "min_v": mn}


# ------------------------------------------------ mutation and evolution

def test_count_after_delete(spark, pages, tmp_path):
    from kmers_spark.operators.delete import delete_keys

    out = str(tmp_path / "snap")
    encode_table(pages, out, num_buckets=8)
    doomed = [r["url"] for r in
              pages.select("url").distinct().limit(37).collect()]
    delete_keys(spark, out, doomed)
    r = agg_table(spark, out, [("count", "*"), ("min", "warc_ts")])
    surv = pages.filter(~F.col("url").isin(doomed))
    c, mn = _truth(surv, [F.count(F.lit(1)), F.min("warc_ts")])
    assert r == {"count_star": c, "min_warc_ts": mn}


def test_evolved_store_filter_on_new_column(spark, tmp_path):
    """Pre-evolution buckets lack the evolved column -> their rows are
    null for it -> a filter on it must exclude them (the coverage check
    keeps such buckets out of the contained set)."""
    from kmers_spark.operators import partitioning

    df = pages_df(spark, 1200, seed=5, partitions=2).cache()
    out = str(tmp_path / "snap")
    # wave 1: old schema, buckets 0-3 only (same shape as the
    # evolution suite's fixture)
    encode_table(df, out, num_buckets=8, detect_skew=False,
                 fail_buckets_over=4)
    manifest.evolve_schema(out, {"score": "int64"})
    df2 = df.withColumn("score", (F.length("text") % 100).cast("long"))
    m = encode_table(df2, out, num_buckets=8, detect_skew=False)
    assert sorted(m["committed_buckets"]) == list(range(8))
    wb = partitioning.with_bucket(df2, 8, m["hot_keys"])
    scored = wb.filter(F.col("bucket") >= 4).drop("bucket").cache()
    matching = scored.filter(F.col("score") >= 0)  # null text -> null
    # score rows exist even post-evolution; the filter excludes them
    r = agg_table(spark, out, [("count", "*"), ("sum", "score")],
                  filters=[("score", ">=", 0)])
    assert r["count_star"] == matching.count()
    assert r["sum_score"] == matching.agg(F.sum("score")).collect()[0][0]
    # unfiltered: count(*) spans both waves, count(score) skips the
    # pre-evolution rows' nulls AND the null-text rows'
    r2 = agg_table(spark, out, [("count", "*"), ("count", "score")])
    assert r2 == {"count_star": 1200,
                  "count_score": scored.agg(
                      F.count("score")).collect()[0][0]}


# --------------------------------------------------------------- surface

def test_validation(spark, hash_store):
    with pytest.raises(ValueError):
        agg_table(spark, hash_store, [])
    with pytest.raises(ValueError):
        agg_table(spark, hash_store, [("median", "warc_ts")])
    with pytest.raises(ValueError):
        agg_table(spark, hash_store, [("min", "*")])
    with pytest.raises(KeyError):
        agg_table(spark, hash_store, [("count", "nope")])
    with pytest.raises(TypeError):
        agg_table(spark, hash_store, [("sum", "url")])


def test_df_wrapper(spark, pages, hash_store):
    df = agg_table_df(spark, hash_store, [
        ("count", "*"), ("min", "warc_ts"), ("max", "warc_ts")])
    assert df.columns == ["count_star", "min_warc_ts", "max_warc_ts"]
    row = df.collect()[0]
    c, mn, mx = _truth(pages, [F.count(F.lit(1)), F.min("warc_ts"),
                               F.max("warc_ts")])
    assert (row["count_star"], row["min_warc_ts"], row["max_warc_ts"]) \
        == (c, mn, mx)
    assert dict(df.dtypes)["count_star"] == "bigint"
    assert dict(df.dtypes)["min_warc_ts"].startswith("timestamp")


def test_time_travel_agg(spark, pages, tmp_path):
    from kmers_spark.operators.delete import delete_keys

    out = str(tmp_path / "snap")
    encode_table(pages, out, num_buckets=8)
    _m, v0 = manifest.load_with_version(out)
    doomed = [r["url"] for r in
              pages.select("url").distinct().limit(11).collect()]
    delete_keys(spark, out, doomed)
    now = agg_table(spark, out, [("count", "*")])
    then = agg_table(spark, out, [("count", "*")], version=v0)
    assert then["count_star"] == pages.count()
    assert now["count_star"] == pages.count() - 11


def test_streamed_store_agg(spark, tmp_path):
    """Multi-generation (writeStream) stores aggregate from the same
    merged stats stream: count spans generations; filters still
    classify buckets with every generation's entries."""
    from kmers_spark import datasource
    from kmers_spark.operators import partitioning

    datasource.register(spark)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "snap", "ckpt"))
    df = pages_df(spark, 1000, seed=41, partitions=2).cache()
    half1 = df.filter(F.xxhash64("url") % 2 == 0)
    half2 = df.filter(F.xxhash64("url") % 2 != 0)

    def run_sink():
        sdf = spark.readStream.schema(df.schema).parquet(src)
        b = partitioning.with_bucket(sdf, 4, {}).repartition("bucket")
        q = (b.writeStream.format("kmers")
             .option("checkpointLocation", ckpt)
             .option("numBuckets", "4")
             .trigger(availableNow=True).start(out))
        q.awaitTermination(120)

    half1.write.parquet(src)
    run_sink()
    half2.write.mode("append").parquet(src)
    run_sink()
    r = agg_table(spark, out, [
        ("count", "*"), ("min", "warc_ts"), ("max", "warc_ts"),
        ("count", "text")])
    c, mn, mx, ct = _truth(df, [
        F.count(F.lit(1)), F.min("warc_ts"), F.max("warc_ts"),
        F.count("text")])
    assert r == {"count_star": c, "min_warc_ts": mn, "max_warc_ts": mx,
                 "count_text": ct}
    lo, hi = _ts_window(df)
    r2 = agg_table(spark, out, [("count", "*")],
                   filters=[("warc_ts", ">=", lo), ("warc_ts", "<", hi)])
    want = df.filter((F.col("warc_ts") >= F.lit(lo)) &
                     (F.col("warc_ts") < F.lit(hi))).count()
    assert r2["count_star"] == want


def test_in_filter_containment(spark, pages, hash_store):
    langs = [r["lang"] for r in
             pages.select("lang").distinct().limit(2).collect()]
    r = agg_table(spark, hash_store, [("count", "*"), ("min", "warc_ts")],
                  filters=[("lang", "in", langs)])
    fdf = pages.filter(F.col("lang").isin(langs))
    c, mn = _truth(fdf, [F.count(F.lit(1)), F.min("warc_ts")])
    assert r == {"count_star": c, "min_warc_ts": mn}


def test_double_nan_max_semantics(spark, tmp_path):
    """Spark/SQL treat NaN as GREATER than every double; the stats/
    decoded combine must not drop a decoded NaN (Python's max is
    order-dependent on NaN)."""
    rows = ([(f"a{i:03d}", float(i)) for i in range(200)] +
            [("nankey", float("nan"))] +
            [(f"z{i:03d}", float(i)) for i in range(200)])
    df = spark.createDataFrame(rows, "k string, d double")
    out = str(tmp_path / "snap")
    encode_table(df, out, key="k", num_buckets=4)
    import math
    r = agg_table(spark, out, [("max", "d"), ("min", "d")])
    truth_max, truth_min = _truth(df, [F.max("d"), F.min("d")])
    assert math.isnan(truth_max) and math.isnan(r["max_d"])
    assert r["min_d"] == truth_min == 0.0


def test_double_filter_nan_semantics(spark, tmp_path):
    """Spark SQL (and DuckDB) order NaN as the GREATEST double: NaN
    rows MATCH >/>= predicates and fail </<=. Zone bounds are NaN-blind
    (Arrow min_max skips NaN), so containment (znan), bucket pruning,
    and the Arrow kernel mask all carry explicit NaN handling — the
    engine must agree with Spark's own filter on every operator."""
    rows = [(f"k{i:03d}", float(i % 50)) for i in range(300)]
    rows += [(f"n{i:03d}", float("nan")) for i in range(40)]
    # NOT cached: Spark's InMemoryRelation filters NaN IEEE-style
    # (a known engine inconsistency), while uncached Spark and DuckDB
    # are NaN-greatest — the canonical semantics this engine targets
    df = spark.createDataFrame(rows, "k string, d double")
    out = str(tmp_path / "snap")
    encode_table(df, out, key="k", num_buckets=4)
    for filt, cond in [
        ([("d", ">=", 0.0)], F.col("d") >= 0.0),    # NaN rows match
        ([("d", ">", 49.0)], F.col("d") > 49.0),    # only NaN rows
        ([("d", "<", 10.0)], F.col("d") < 10.0),    # NaN rows fail
        ([("d", "<=", 60.0)], F.col("d") <= 60.0),  # NaN rows fail
    ]:
        r = agg_table(spark, out, [("count", "*")], filters=filt)
        want = df.filter(cond).count()
        assert r["count_star"] == want, (filt, r, want)
    # the scan path must agree too (same mask + pruning layers)
    from kmers_spark.operators.decode import scan_table
    assert scan_table(spark, out, [("d", ">", 49.0)]).count() ==         df.filter(F.col("d") > 49.0).count() == 40
    # max over the filtered store: the only matching rows are NaN
    import math
    r2 = agg_table(spark, out, [("max", "d")])
    assert math.isnan(r2["max_d"])


def test_avg_derived(spark, typed, monkeypatch):
    df, out = typed
    _no_decode(monkeypatch)  # int64 avg stays metadata-only
    r = agg_table(spark, out, [("avg", "v"), ("count", "*")])
    av, c = _truth(df, [F.avg("v"), F.count(F.lit(1))])
    assert abs(r["avg_v"] - av) < 1e-9 and r["count_star"] == c
    assert agg_table(spark, out, [("avg", "nil")]) == {"avg_nil": None}


def test_avg_filtered_and_df(spark, typed):
    df, out = typed
    r = agg_table(spark, out, [("avg", "v")],
                  filters=[("v", ">=", 0)])
    want = df.filter(F.col("v") >= 0).agg(F.avg("v")).collect()[0][0]
    assert abs(r["avg_v"] - want) < 1e-9
    adf = agg_table_df(spark, out, [("avg", "v")])
    assert dict(adf.dtypes)["avg_v"] == "double"


# --------------------------------------------------------- count_distinct

@pytest.fixture(scope="module")
def multiset(spark, tmp_path_factory):
    """duplicate keys (3 rows per key value) so count_distinct(key)
    differs from count(*) on every path."""
    df = spark.range(900).select(
        F.concat(F.lit("u"), (F.col("id") % 300).cast("string")).alias("url"),
        (F.col("id") % 11).alias("grp"),
        F.col("id").alias("seq"),
    ).cache()
    out = str(tmp_path_factory.mktemp("agg_cd") / "snap")
    encode_table(df, out, key="url", num_buckets=8, detect_skew=False)
    return df, out


def test_count_distinct_key_no_jobs(spark, multiset, monkeypatch):
    df, out = multiset
    _no_decode(monkeypatch)
    r = agg_table(spark, out, [("count_distinct", "url"), ("count", "*")])
    assert r == {"count_distinct_url": 300, "count_star": 900}


def test_count_distinct_range_on_key_no_jobs(spark, multiset,
                                             tmp_path, monkeypatch):
    df, _ = multiset
    out = str(tmp_path / "rngkey")
    encode_table(df, out, key="url", num_buckets=8, cluster_by="url",
                 detect_skew=False)
    _no_decode(monkeypatch)
    r = agg_table(spark, out, [("count_distinct", "url")])
    assert r["count_distinct_url"] == 300


def test_count_distinct_range_other_column_decodes(spark, multiset,
                                                   tmp_path):
    # range clustered on a NON-key column scatters a duplicated key
    # across buckets: per-bucket counts would overcount, so this path
    # must decode (correctness over speed)
    df, _ = multiset
    out = str(tmp_path / "rngother")
    encode_table(df, out, key="url", num_buckets=8, cluster_by="seq",
                 detect_skew=False)
    r = agg_table(spark, out, [("count_distinct", "url")])
    assert r["count_distinct_url"] == 300


def test_count_distinct_nonkey_column(spark, multiset):
    df, out = multiset
    r = agg_table(spark, out, [("count_distinct", "grp")])
    assert r["count_distinct_grp"] == 11


def test_count_distinct_filtered(spark, multiset, monkeypatch):
    df, out = multiset
    seen = _capture_buckets(monkeypatch)
    r = agg_table(spark, out, [("count_distinct", "url")],
                  filters=[("grp", ">=", 5)])
    truth = df.filter(F.col("grp") >= 5).select(
        F.count_distinct("url")).collect()[0][0]
    assert r["count_distinct_url"] == truth


def test_count_distinct_pre_zndv_falls_back(spark, multiset, tmp_path):
    from kmers_spark import manifest

    df, _ = multiset
    out = str(tmp_path / "prezndv")
    encode_table(df, out, key="url", num_buckets=4, detect_skew=False)

    def strip(m):
        for blocks in m["blocks"].values():
            for s in blocks:
                s.pop("zndv", None)
        return m

    manifest.commit(out, strip)
    r = agg_table(spark, out, [("count_distinct", "url")])
    assert r["count_distinct_url"] == 300


def test_count_distinct_after_mutations(spark, multiset, tmp_path,
                                        monkeypatch):
    from kmers_spark.operators.delete import delete_keys
    from kmers_spark.operators.upsert import upsert_table

    df, _ = multiset
    out = str(tmp_path / "mut")
    encode_table(df, out, key="url", num_buckets=8, detect_skew=False)
    delete_keys(spark, out, [f"u{i}" for i in range(0, 300, 3)])
    survivors = df.filter(~F.col("url").isin(
        [f"u{i}" for i in range(0, 300, 3)]))
    batch = spark.createDataFrame(
        [("brand-new-key", 99, 10_000)], "url string, grp bigint, seq bigint")
    upsert_table(spark, out, batch)
    _no_decode(monkeypatch)  # rewrites regenerated zndv: still 0 jobs
    r = agg_table(spark, out, [("count_distinct", "url"), ("count", "*")])
    assert r["count_distinct_url"] == 200 + 1
    assert r["count_star"] == survivors.count() + 1


# ------------------------------------------------------------ grouped

def test_grouped_matches_spark_truth_all_layouts(spark, tmp_path):
    from kmers_spark.operators.agg import agg_table_grouped

    df = spark.range(3000).select(
        F.format_string("k-%05d", F.col("id")).alias("k"),
        F.element_at(
            F.array(F.lit("de"), F.lit("en"), F.lit("fr"), F.lit("pl")),
            (F.col("id") % 4 + 1).cast("int")).alias("lang"),
        F.when(F.col("id") % 11 == 0, None)
         .otherwise(F.col("id") % 500).alias("n"),
    ).cache()
    truth = sorted(
        tuple(r) for r in df.groupBy("lang").agg(
            F.count(F.lit(1)), F.count("n"), F.sum("n"),
            F.min("n"), F.max("n"), F.avg("n")).collect())
    aggs = [("count", "*"), ("count", "n"), ("sum", "n"),
            ("min", "n"), ("max", "n"), ("avg", "n")]
    for name, kw in [("hash", {}), ("rangelang", {"cluster_by": "lang"}),
                     ("rangen", {"cluster_by": "n"}),
                     ("zorder", {"cluster_by": ["lang", "n"]})]:
        out = str(tmp_path / name)
        encode_table(df, out, key="k", num_buckets=8, detect_skew=False,
                     **kw)
        got = sorted(tuple(r) for r in agg_table_grouped(
            spark, out, ["lang"], aggs).collect())
        assert got == truth, name


def test_grouped_stats_only_on_group_clustered_store(spark, tmp_path,
                                                     monkeypatch):
    """range-on-group-column store: every bucket is single-group, so
    GROUP BY answers with ZERO decode calls — a manifest walk."""
    from kmers_spark.operators.agg import agg_table_grouped

    df = spark.range(2000).select(
        F.format_string("k-%05d", F.col("id")).alias("k"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int")).alias("g"),
        (F.col("id") % 100).alias("n"),
    ).cache()
    out = str(tmp_path / "snap")
    encode_table(df, out, key="k", num_buckets=6, cluster_by="g",
                 detect_skew=False)
    truth = sorted(
        (r["g"], r["count(1)"], r["sum(n)"]) for r in
        df.groupBy("g").agg(F.count(F.lit(1)), F.sum("n")).collect())
    _no_decode(monkeypatch)
    got = sorted(tuple(r) for r in agg_table_grouped(
        spark, out, ["g"], [("count", "*"), ("sum", "n")]).collect())
    assert got == truth


def test_grouped_filtered_and_null_groups(spark, tmp_path):
    from kmers_spark.operators.agg import agg_table_grouped

    df = spark.createDataFrame(
        [(f"k{i}", None if i % 5 == 0 else f"g{i % 3}", i)
         for i in range(300)],
        "k string, g string, n bigint").cache()
    out = str(tmp_path / "snap")
    encode_table(df, out, key="k", num_buckets=4, detect_skew=False)
    truth = {
        r["g"]: r["count(1)"] for r in
        df.filter(F.col("n") >= 100).groupBy("g")
        .agg(F.count(F.lit(1))).collect()}
    got = {r["g"]: r["count_star"] for r in agg_table_grouped(
        spark, out, ["g"], [("count", "*")],
        filters=[("n", ">=", 100)]).collect()}
    assert got == truth and None in got  # NULL group survives


def test_grouped_multi_column_and_timestamps(spark, pages, hash_store):
    from kmers_spark.operators.agg import agg_table_grouped

    truth = sorted(
        tuple(r) for r in pages.groupBy("lang").agg(
            F.count(F.lit(1)), F.min("warc_ts"), F.max("warc_ts")
        ).collect())
    got = sorted(tuple(r) for r in agg_table_grouped(
        spark, hash_store, ["lang"],
        [("count", "*"), ("min", "warc_ts"), ("max", "warc_ts")]).collect())
    assert got == truth


def test_grouped_nan_doubles_decode_exact(spark, tmp_path):
    """a group's double extreme with NaN rows must follow NaN-greatest
    SQL semantics — the stats path refuses NaN buckets, the decode path
    (uncached Spark) provides it."""
    from kmers_spark.operators.agg import agg_table_grouped

    df = spark.createDataFrame(
        [("k1", "a", 1.0), ("k2", "a", float("nan")), ("k3", "b", 2.0),
         ("k4", "b", 5.0)],
        "k string, g string, d double")
    out = str(tmp_path / "snap")
    encode_table(df, out, key="k", num_buckets=2, detect_skew=False)
    got = {r["g"]: r["max_d"] for r in agg_table_grouped(
        spark, out, ["g"], [("max", "d")]).collect()}
    import math
    assert math.isnan(got["a"]) and got["b"] == 5.0


def test_grouped_validation(spark, hash_store):
    from kmers_spark.operators.agg import agg_table_grouped

    with pytest.raises(ValueError, match="group_by"):
        agg_table_grouped(spark, hash_store, [], [("count", "*")])
    with pytest.raises(ValueError, match="unsupported grouped"):
        agg_table_grouped(spark, hash_store, ["lang"],
                          [("count_distinct", "url")])
    with pytest.raises(TypeError, match="binary"):
        agg_table_grouped(spark, hash_store, ["html"], [("count", "*")])
    with pytest.raises(KeyError):
        agg_table_grouped(spark, hash_store, ["nope"], [("count", "*")])


# ------------------------------------------- driver / Spark plan parity

_BASE_TS = datetime.datetime(2021, 3, 4, 5, 6, 7)
_PARITY_DDL = ("url string, i64 bigint, d double, s string, b binary, "
               "ts timestamp, nil bigint")
_PARITY_COLS = ("i64", "d", "s", "b", "ts", "nil")
_PARITY_AGGS = (
    [("count", "*")]
    + [(fn, c) for c in _PARITY_COLS
       for fn in ("count", "min", "max", "count_distinct")]
    + [("sum", "i64"), ("sum", "d"), ("sum", "nil"), ("avg", "i64"),
       ("avg", "d")]
    + [("approx_count_distinct", c) for c in ("url", "i64", "s", "nil")]
)
_PARITY_FILTERS = [
    None,
    [("url", ">=", "http://h5")],  # hosts: mixes contained + straddling
    [("i64", ">=", 0)],            # scattered values: every bucket straddles
    [("i64", "=", 1)],             # odd: inside every range, matches nothing
    [("d", ">", 10.0)],            # NaN is the greatest double: NaN rows match
    [("d", "<", 0.5)],             # the +/-0.0 rows match, NaN rows do not
]
_FP_ORDER = ("sum_d", "avg_d")  # decoded double sums: summation order


def _parity_rows(lo: int, hi: int) -> list[tuple]:
    """Nulls in every column, NaN and +/-0.0 doubles, astral and BMP
    strings (bytewise order differs from UTF-16 order), binary with
    0x00/0xff bytes, timestamps and an all-null column."""
    rows = []
    for i in range(lo, hi):
        d = (None if i % 11 == 0 else float("nan") if i % 13 == 0
             else -0.0 if i % 17 == 0 else 0.0 if i % 19 == 0
             else i / 7 - 40)
        s = (None if i % 5 == 0 else "\U0001F600" if i % 29 == 0
             else "￿" if i % 23 == 0 else f"s{(i * 31) % 97:03d}")
        rows.append((
            f"http://h{i % 13}.example/p{i:04d}",
            None if i % 7 == 0 else 2 * (i % 250) - 250,  # even values
            d, s,
            None if i % 6 == 0 else bytes([(i * 13) % 256, i % 7]),
            None if i % 8 == 0 else _BASE_TS + datetime.timedelta(seconds=i * 3601),
            None,
        ))
    return rows


def _parity_store(spark, kind: str, root) -> tuple[str, list[tuple]]:
    """A 600-row store of `kind` and the rows it holds (evolved
    columns read as null in the buckets written before evolution)."""
    from kmers_spark import datasource
    from kmers_spark.operators import partitioning

    rows = _parity_rows(0, 600)
    df = spark.createDataFrame(rows, _PARITY_DDL)
    out = str(root / "snap")
    if kind == "hash":
        encode_table(df, out, num_buckets=4, detect_skew=False)
    elif kind == "streamed":
        datasource.register(spark)
        src, ckpt = str(root / "src"), str(root / "ckpt")
        for i, half in enumerate((df.filter(F.xxhash64("url") % 2 == 0),
                                  df.filter(F.xxhash64("url") % 2 != 0))):
            half.write.mode("append").parquet(src)
            sdf = spark.readStream.schema(df.schema).parquet(src)
            q = (partitioning.with_bucket(sdf, 4, {}).repartition("bucket")
                 .writeStream.format("kmers")
                 .option("checkpointLocation", ckpt)
                 .option("numBuckets", "4")
                 .trigger(availableNow=True).start(out))
            q.awaitTermination(120)
        assert len(manifest.load(out)["wave_dirs"]) == 2
    else:  # evolved: buckets 0-1 predate the b and ts columns
        encode_table(df.drop("b", "ts"), out, num_buckets=4,
                     detect_skew=False, fail_buckets_over=2)
        manifest.evolve_schema(out, {"b": "binary", "ts": "timestamp"})
        m = encode_table(df, out, num_buckets=4, detect_skew=False)
        hot = m.get("hot_keys") or {}
        rows = [r if partitioning.bucket_for_key(r[0], 4, hot) >= 2
                else r[:4] + (None, None) + r[6:] for r in rows]
    return out, rows


def _duckdb_truth(rows: list[tuple], filters) -> dict:
    import duckdb
    import pyarrow as pa

    cols = ["url"] + list(_PARITY_COLS)
    types = [pa.string(), pa.int64(), pa.float64(), pa.string(),
             pa.binary(), pa.timestamp("us"), pa.int64()]
    t = pa.table({c: pa.array([r[i] for r in rows], type=typ)
                  for i, (c, typ) in enumerate(zip(cols, types))})
    con = duckdb.connect()
    # a native table: filters pushed into an Arrow scan compare NaN the
    # IEEE way, while DuckDB's own semantics make NaN the greatest
    con.register("src", t)
    con.execute("CREATE TABLE t AS SELECT * FROM src")
    sel = []
    for fn, col in _PARITY_AGGS:
        if col == "*":
            sel.append("count(*)")
        elif fn in ("count_distinct", "approx_count_distinct"):
            sel.append(f"count(DISTINCT {col})")  # approx: checked loosely
        else:
            sel.append(f"{fn}({col})")
    where = " AND ".join(f"{c} {op} ?" for c, op, _v in filters or [])
    got = con.execute(f"SELECT {', '.join(sel)} FROM t"
                      + (f" WHERE {where}" if where else ""),
                      [v for _c, _op, v in filters or []]).fetchone()
    return {("count_star" if c == "*" else f"{fn}_{c}"): v
            for (fn, c), v in zip(_PARITY_AGGS, got)}


def _same(a, b, tol: float = 0.0) -> bool:
    import math

    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    if tol:
        return abs(a - b) <= tol
    return a == b


@pytest.mark.parametrize("kind", ["hash", "streamed", "evolved"])
def test_driver_and_spark_plans_agree(spark, tmp_path, monkeypatch, kind):
    """Every aggregate over every column type gives the same value, of
    the same Python type, on the driver plan (pyarrow.compute over the
    driver-decoded table, no Spark job) and on the Spark plan
    (LOCAL_READ_MAX_BYTES = 0), and both match DuckDB."""
    from kmers_spark.operators import decode as dec

    out, rows = _parity_store(spark, kind, tmp_path)
    for filt in _PARITY_FILTERS:
        local, jobs = jobs_of(spark, lambda: agg_table(
            spark, out, _PARITY_AGGS, filters=filt))
        assert jobs == 0, filt
        with monkeypatch.context() as mp:
            mp.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
            remote, jobs = jobs_of(spark, lambda: agg_table(
                spark, out, _PARITY_AGGS, filters=filt))
        assert jobs > 0, filt  # the decode really ran in Spark
        truth = _duckdb_truth(rows, filt)
        for name, want in truth.items():
            a, b = local[name], remote[name]
            tol = 1e-6 if name in _FP_ORDER else 0.0
            assert _same(a, b, tol), (filt, name, a, b)
            assert type(a) is type(b), (filt, name, a, b)
            if name.startswith("approx_"):
                assert abs(a - want) <= max(2, want // 10), (filt, name, a, want)
            else:
                assert _same(a, want, tol), (filt, name, a, want)


def test_int_sum_overflow_raises_on_both_plans(spark, tmp_path, monkeypatch):
    """An int64 sum past 2^63 raises on both plans (Spark's ANSI sum
    does); the driver plan never wraps."""
    from kmers_spark.operators import decode as dec

    rows = [(f"http://h{i % 3}.example/{i}",
             (1 << 62) if i < 10 else -5 if i % 2 else 1) for i in range(60)]
    out = str(tmp_path / "snap")
    encode_table(spark.createDataFrame(rows, "url string, v bigint"), out,
                 num_buckets=3, detect_skew=False)
    filt = [("v", ">", 0)]  # every bucket holds a -5 row: all straddle
    with pytest.raises(Exception, match="(?i)overflow"):
        agg_table(spark, out, [("sum", "v")], filters=filt)
    with monkeypatch.context() as mp:
        mp.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
        with pytest.raises(Exception, match="(?i)overflow"):
            agg_table(spark, out, [("sum", "v")], filters=filt)
    # in range: exact on both plans
    small = [("v", ">", 0), ("v", "<", 1 << 62)]
    want = sum(1 for _u, v in rows if 0 < v < (1 << 62))
    assert agg_table(spark, out, [("sum", "v")], filters=small) == {"sum_v": want}


def test_spark_plan_decode_reads_block_stats_once(spark, pages, hash_store,
                                                  monkeypatch):
    """An over-budget decode tries the driver plan and then runs the
    Spark plan on ONE read set-up: the call reads block stats as often
    as a driver-plan call does (the set-up's one read included), not
    once more."""
    from kmers_spark.operators import decode as dec

    real = manifest.block_stats
    calls = []

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(manifest, "block_stats", counting)
    ts = sorted(r[0] for r in pages.select("warc_ts").collect())
    filt = [("warc_ts", ">=", ts[len(ts) // 2])]  # straddles: decodes
    aggs = [("count", "*"), ("max", "lang")]
    seen = []
    spy_agg_decodes(monkeypatch, lambda cols, b: seen.append(cols))
    local = agg_table(spark, hash_store, aggs, filters=filt)
    n_local, calls[:] = len(calls), []
    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
    remote, jobs = jobs_of(spark, lambda: agg_table(spark, hash_store, aggs,
                                                    filters=filt))
    assert jobs > 0 and len(seen) == 2  # each call decoded once
    assert len(calls) == n_local
    assert remote == local
