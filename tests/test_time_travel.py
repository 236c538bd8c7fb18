"""Time travel: every read path at a past version returns exactly that
version's rows, on both plans of the decode reader.

One store is built at version v0 and then changed by an appended wave,
a delete and an upsert. Reads pinned to v0 (decode_table with and
without a projection or a bucket list, scan_table under a filter,
agg_table under a filter that straddles block bounds so it decodes,
topk_table) must equal the v0 source rows, under the driver plan (the
default LOCAL_READ_MAX_BYTES) and under the Spark plan (the threshold
monkeypatched to 0). An evolved store reads its pre-evolution version
without the added column, and the version after the evolution with it
null-filled.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest, pages
from kmers_spark.operators import decode as dec, partitioning
from kmers_spark.operators.agg import agg_table
from kmers_spark.operators.delete import delete_keys
from kmers_spark.operators.encode import encode_table
from kmers_spark.operators.topk import topk_table
from kmers_spark.operators.upsert import upsert_table
from tests.conftest import spy_agg_decodes

N_B = 4
PLANS = ("driver", "spark")


def _rows(rows) -> list[str]:
    """Order-insensitive, None-safe comparable form of rows."""
    return sorted(repr(tuple(r)) for r in rows)


def _plan(monkeypatch, plan: str) -> None:
    if plan == "spark":
        monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """(store, v0, v0 source rows as a DataFrame) after the store moved on."""
    out = str(tmp_path_factory.mktemp("time_travel") / "snap")
    df = pages.pages_df(spark, 600, seed=23, partitions=2).cache()
    # v0: a snapshot in progress, buckets 0 and 1 committed
    encode_table(df, out, num_buckets=N_B, detect_skew=False,
                 fail_buckets_over=2)
    m0, v0 = manifest.load_with_version(out)
    src = (partitioning.with_bucket(df, N_B, m0["hot_keys"])
           .filter(F.col("bucket").isin(m0["committed_buckets"]))
           .drop("bucket").cache())
    assert 0 < src.count() < df.count()
    # an appended wave (the remaining buckets), then a delete and an
    # upsert that both touch v0's buckets
    encode_table(df, out, num_buckets=N_B, detect_skew=False)
    doomed = [r.url for r in src.limit(40).collect()]
    assert delete_keys(spark, out, doomed)["rows_deleted"] == 40
    changed = src.exceptAll(src.filter(F.col("url").isin(doomed))).limit(30) \
        .withColumn("lang", F.lit("xx"))
    fresh = pages.pages_df(spark, 20, seed=99, partitions=1).withColumn(
        "url", F.concat(F.lit("https://fresh.example/"), F.col("url")))
    upsert_table(spark, out, changed.unionByName(fresh))
    assert manifest.current_version(out) > v0
    return out, v0, src


@pytest.mark.parametrize("plan", PLANS)
def test_decode_table_at_v0(spark, history, monkeypatch, plan):
    out, v0, src = history
    _plan(monkeypatch, plan)
    assert _rows(dec.decode_table(spark, out, version=v0).collect()) \
        == _rows(src.collect())
    got = dec.decode_table(spark, out, version=v0, columns=["lang", "url"])
    assert got.columns == ["url", "lang"]  # manifest schema order
    assert _rows(got.collect()) == _rows(src.select("url", "lang").collect())
    m0 = manifest.load(out, version=v0)
    b = m0["committed_buckets"][0]
    in_b = partitioning.with_bucket(src, N_B, m0["hot_keys"]) \
        .filter(F.col("bucket") == b).drop("bucket")
    got = dec.decode_table(spark, out, version=v0, buckets=[b])
    assert _rows(got.collect()) == _rows(in_b.collect())
    # the latest version differs: the test reads history, not the present
    assert _rows(dec.decode_table(spark, out).collect()) != _rows(src.collect())


@pytest.mark.parametrize("plan", PLANS)
def test_scan_table_at_v0(spark, history, monkeypatch, plan):
    out, v0, src = history
    _plan(monkeypatch, plan)
    got = dec.scan_table(spark, out, [("lang", "=", "en")], version=v0)
    want = src.filter(src.lang == "en")
    assert want.count() > 0
    assert _rows(got.collect()) == _rows(want.collect())


@pytest.mark.parametrize("plan", PLANS)
def test_agg_table_at_v0(spark, history, monkeypatch, plan):
    out, v0, src = history
    _plan(monkeypatch, plan)
    ts = sorted(r[0] for r in src.select("warc_ts").collect())
    mid = ts[len(ts) // 2]
    decodes = []
    spy_agg_decodes(monkeypatch, lambda cols, b: decodes.append(cols))
    got = agg_table(spark, out, [("count", "*"), ("min", "lang"), ("max", "warc_ts")],
                    filters=[("warc_ts", ">=", mid)], version=v0)
    assert decodes, "a straddling filter must decode"
    want = src.filter(src.warc_ts >= mid).agg(
        F.count(F.lit(1)), F.min("lang"), F.max("warc_ts")).collect()[0]
    assert (got["count_star"], got["min_lang"], got["max_warc_ts"]) == tuple(want)


@pytest.mark.parametrize("plan", PLANS)
def test_topk_table_at_v0(spark, history, monkeypatch, plan):
    out, v0, src = history
    _plan(monkeypatch, plan)
    got = topk_table(spark, out, ["warc_ts", "url"], 7, version=v0,
                     columns=["url", "warc_ts"])
    want = src.orderBy(F.col("warc_ts").desc(), F.col("url").desc()) \
        .select("url", "warc_ts").limit(7)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_version_past_the_chain_raises(spark, history):
    out, _v0, _src = history
    past = manifest.current_version(out) + 100
    with pytest.raises(FileNotFoundError):
        dec.decode_table(spark, out, version=past)
    with pytest.raises(FileNotFoundError):
        dec.scan_table(spark, out, [("lang", "=", "en")], version=past)
    with pytest.raises(FileNotFoundError):
        agg_table(spark, out, [("count", "*")], version=past)


@pytest.mark.parametrize("plan", PLANS)
def test_evolved_store_history(spark, tmp_path, monkeypatch, plan):
    _plan(monkeypatch, plan)
    out = str(tmp_path / "evo")
    df = pages.pages_df(spark, 300, seed=31, partitions=2).cache()
    encode_table(df, out, num_buckets=N_B, detect_skew=False)
    v0 = manifest.current_version(out)
    manifest.evolve_schema(out, {"score": "double"})
    v1 = manifest.current_version(out)
    upsert_table(spark, out, df.limit(25).withColumn(
        "score", F.lit(1.5)))
    assert dec.decode_table(spark, out).filter(F.col("score") == 1.5).count() == 25
    before = dec.decode_table(spark, out, version=v0)
    assert before.columns == df.columns
    assert _rows(before.collect()) == _rows(df.collect())
    evolved = dec.decode_table(spark, out, version=v1)
    assert evolved.columns == df.columns + ["score"]
    want = df.withColumn("score", F.lit(None).cast("double"))
    assert _rows(evolved.collect()) == _rows(want.collect())
    cut = datetime.datetime(1970, 1, 1)
    got = dec.scan_table(spark, out, [("warc_ts", ">=", cut)], version=v1,
                         columns=["url", "score"])
    assert _rows(got.collect()) == _rows(want.select("url", "score").collect())
