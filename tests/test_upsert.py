"""upsert_table: key-granular merge-on-write (operators/upsert.py).

Replace-all-rows-of-key + insert semantics on every placeable bucket
scheme; bucket birth for never-committed buckets; evolved-column
materialization; multiset in-batch duplicates; refusals (streamed,
external scheme, schema mismatch); wave pruning."""
import os

import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest
from kmers_spark.operators import partitioning
from kmers_spark.operators.decode import decode_table, lookup_keys
from kmers_spark.operators.delete import delete_keys
from kmers_spark.operators.encode import encode_table
from kmers_spark.operators.upsert import upsert_table
from kmers_spark.pages import pages_df


def _sorted_rows(df):
    return sorted(
        tuple(x.hex() if isinstance(x, (bytes, bytearray)) else x for x in row)
        for row in df.collect()
    )


def _expected_merge(base, batch):
    return base.join(
        batch.select("url").distinct(), "url", "left_anti"
    ).unionByName(batch)


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, 5000, seed=21, partitions=4).cache()


@pytest.fixture()
def batch(spark, pages):
    recrawl = pages.limit(150).withColumn(
        "text", F.concat(F.lit("RECRAWL:"), F.col("text"))
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
    fresh = pages_df(spark, 80, seed=77, partitions=2).withColumn(
        "url", F.concat(F.lit("https://fresh.example/"), F.col("url"))
    )
    return recrawl.unionByName(fresh).cache()


class TestHashScheme:
    def test_merge_bit_identical(self, spark, pages, batch, tmp_path):
        out = str(tmp_path / "snap")
        encode_table(pages, out, key="url", num_buckets=8, commit_every=3)
        res = upsert_table(spark, out, batch)
        assert res["rows_inserted"] == 230
        assert res["rows_replaced"] == 150
        got = decode_table(spark, out)
        assert _sorted_rows(got) == _sorted_rows(_expected_merge(pages, batch))
        url = batch.limit(1).collect()[0]["url"]
        assert lookup_keys(spark, out, [url]).count() >= 1

    def test_upsert_into_rowless_buckets(self, spark, tmp_path):
        """A complete snapshot commits EVERY bucket id, many row-less on
        a tiny table; incoming rows landing there encode directly (empty
        blocks side of the cogroup)."""
        tiny = pages_df(spark, 30, seed=1, partitions=2).cache()
        out = str(tmp_path / "snap")
        encode_table(tiny, out, key="url", num_buckets=64, detect_skew=False)
        m0 = manifest.load(out)
        st0 = manifest.block_stats(out, m0)
        assert sum(1 for v in st0.values() if v) < 64  # row-less exist
        big = pages_df(spark, 2000, seed=33, partitions=4).withColumn(
            "url", F.concat(F.lit("https://born.example/"), F.col("url"))
        ).cache()
        res = upsert_table(spark, out, big)
        assert res["rows_inserted"] == 2000 and res["rows_replaced"] == 0
        got = decode_table(spark, out)
        assert _sorted_rows(got) == _sorted_rows(_expected_merge(tiny, big))
        u = big.limit(1).collect()[0]["url"]
        assert lookup_keys(spark, out, [u]).count() == 1

    def test_partial_encode_refused(self, spark, tmp_path):
        """Uncommitted bucket ids mean an in-progress encode: refuse."""
        base = pages_df(spark, 500, seed=4, partitions=2).cache()
        out = str(tmp_path / "snap")
        encode_table(base, out, key="url", num_buckets=8)
        manifest.commit(out, lambda c: {
            **c, "committed_buckets": c["committed_buckets"][:-2]})
        with pytest.raises(ValueError, match="not committed"):
            upsert_table(spark, out, base.limit(50))

    def test_untouched_waves_survive(self, spark, pages, tmp_path):
        out = str(tmp_path / "snap")
        encode_table(pages, out, key="url", num_buckets=8, commit_every=2)
        m = manifest.load(out)
        wb = m["wave_buckets"]
        from kmers_spark.operators import partitioning
        one = partitioning.with_bucket(
            pages, m["num_buckets"], m.get("hot_keys") or {}, "url",
            m["bucket_scheme"]).filter(F.col("bucket") == 5).drop("bucket")
        batch = one.limit(10).withColumn("lang", F.lit("xx"))
        before = {w: sorted(os.listdir(os.path.join(out, w)))
                  for w in m["wave_dirs"]}
        res = upsert_table(spark, out, batch)
        assert res["buckets_rewritten"] == [5]
        untouched = [w for w, bs in wb.items() if 5 not in bs]
        assert untouched
        for w in untouched:
            assert sorted(os.listdir(os.path.join(out, w))) == before[w]

    def test_multiset_duplicates(self, spark, pages, tmp_path):
        """ALL incoming rows of a key land (in-batch duplicates kept),
        ALL old rows of that key go."""
        out = str(tmp_path / "snap")
        encode_table(pages, out, key="url", num_buckets=4)
        url = pages.limit(1).collect()[0]["url"]
        dup = pages.filter(F.col("url") == url)
        batch = dup.unionByName(
            dup.withColumn("lang", F.lit("v2"))
        )  # 2 rows, same key
        res = upsert_table(spark, out, batch)
        assert res["rows_inserted"] == 2 and res["rows_replaced"] == 1
        got = decode_table(spark, out).filter(F.col("url") == url)
        assert got.count() == 2
        assert sorted(r["lang"] for r in got.collect()) \
            == sorted(r["lang"] for r in batch.collect())

    def test_empty_batch_noop(self, spark, pages, tmp_path):
        out = str(tmp_path / "snap")
        encode_table(pages, out, key="url", num_buckets=4)
        v0 = manifest.current_version(out)
        res = upsert_table(spark, out, pages.limit(0))
        assert res["rows_inserted"] == 0 and res["waves_rewritten"] == []
        assert manifest.current_version(out) == v0

    def test_upsert_then_delete_roundtrip(self, spark, pages, tmp_path):
        """The two mutations compose: upsert then delete the upserted
        keys returns the store to base-minus-those-keys."""
        out = str(tmp_path / "snap")
        encode_table(pages, out, key="url", num_buckets=4)
        batch = pages.limit(50).withColumn("lang", F.lit("zz")).cache()
        upsert_table(spark, out, batch)
        keys = [r["url"] for r in batch.select("url").collect()]
        delete_keys(spark, out, keys)
        got = decode_table(spark, out)
        exp = pages.filter(~F.col("url").isin(keys))
        assert _sorted_rows(got) == _sorted_rows(exp)

    def test_hot_key_salted(self, spark, tmp_path):
        """Upsert of a hot (salted) host's rows replaces across all its
        salted buckets — placement is key-deterministic."""
        hot = pages_df(spark, 3000, seed=5, partitions=4).withColumn(
            "url", F.when(
                F.rand(seed=1) < 0.5,
                F.concat(F.lit("https://hot.example/p"),
                         F.monotonically_increasing_id().cast("string")),
            ).otherwise(F.col("url"))
        ).cache()
        out = str(tmp_path / "snap")
        encode_table(hot, out, key="url", num_buckets=8, commit_every=4)
        assert manifest.load(out).get("hot_keys")
        batch = hot.filter(F.col("url").startswith("https://hot.example/")) \
            .limit(40).withColumn("lang", F.lit("hh")).cache()
        res = upsert_table(spark, out, batch)
        assert res["rows_inserted"] == 40 and res["rows_replaced"] == 40
        got = decode_table(spark, out)
        assert _sorted_rows(got) == _sorted_rows(_expected_merge(hot, batch))


class TestRangeSchemes:
    def test_cluster_on_key(self, spark, pages, batch, tmp_path):
        out = str(tmp_path / "snap")
        encode_table(pages, out, key="url", num_buckets=8, cluster_by="url")
        res = upsert_table(spark, out, batch)
        assert res["rows_inserted"] == 230 and res["rows_replaced"] == 150
        got = decode_table(spark, out)
        assert _sorted_rows(got) == _sorted_rows(_expected_merge(pages, batch))

    def test_cluster_on_other_column(self, spark, pages, batch, tmp_path):
        """Range store on warc_ts: incoming rows place by their OWN
        cluster value, so a re-crawled url with a new warc_ts may land
        in a different bucket than its old rows — the old rows must
        still be replaced (candidates include both buckets)."""
        out = str(tmp_path / "snap")
        encode_table(pages, out, key="url", num_buckets=8,
                     cluster_by="warc_ts")
        res = upsert_table(spark, out, batch)
        assert res["rows_inserted"] == 230
        got = decode_table(spark, out)
        assert _sorted_rows(got) == _sorted_rows(_expected_merge(pages, batch))


class TestEvolution:
    def test_evolved_column_materializes(self, spark, tmp_path):
        base = pages_df(spark, 600, seed=13, partitions=2).cache()
        out = str(tmp_path / "snap")
        encode_table(base, out, key="url", num_buckets=4)
        manifest.evolve_schema(out, {"score": "double"})
        batch = base.limit(30).withColumn(
            "score", F.length("url").cast("double")).cache()
        res = upsert_table(spark, out, batch)
        assert res["rows_inserted"] == 30
        got = decode_table(spark, out)
        assert got.filter(F.col("score").isNotNull()).count() == 30
        keys = {r["url"] for r in batch.select("url").collect()}
        for r in got.filter(F.col("score").isNotNull()).collect():
            assert r["url"] in keys
            assert r["score"] == float(len(r["url"]))
        # old rows in untouched buckets still read as null
        assert got.filter(F.col("score").isNull()).count() == 570

    def test_delete_on_evolved_store(self, spark, tmp_path):
        base = pages_df(spark, 600, seed=13, partitions=2).cache()
        out = str(tmp_path / "snap")
        encode_table(base, out, key="url", num_buckets=4)
        manifest.evolve_schema(out, {"score": "double"})
        m = manifest.load(out)

        def bucket(url):
            return partitioning.bucket_for_key(
                url, 4, m.get("hot_keys") or {}, scheme=m["bucket_scheme"])

        urls = sorted(r["url"] for r in base.select("url").collect())
        b0 = [u for u in urls if bucket(u) == 0]
        b1 = [u for u in urls if bucket(u) == 1]
        # bucket 0 gets a real score block; bucket 1 predates the column
        upsert_table(spark, out, base.filter(F.col("url").isin(b0[:10]))
                     .withColumn("score", F.length("url").cast("double")))
        before = _sorted_rows(decode_table(spark, out))
        doomed = [b0[0], b0[-1], b1[0]]  # scored, null, pre-evolution
        res = delete_keys(spark, out, doomed)
        assert res["rows_deleted"] == 3
        got = _sorted_rows(decode_table(spark, out))
        url_at = decode_table(spark, out).columns.index("url")
        assert got == [r for r in before if r[url_at] not in doomed]
        assert lookup_keys(spark, out, doomed).count() == 0
        # the rewrite materialized the gap column as nulls
        cols = {s["column"] for s in manifest.block_stats(
            out, manifest.load(out))[str(1)]}
        assert "score" in cols


class TestRefusals:
    def test_streamed_refused(self, spark, tmp_path):
        out = str(tmp_path / "snap")
        encode_table(pages_df(spark, 100, seed=2, partitions=2), out,
                     key="url", num_buckets=2)
        manifest.commit(out, lambda c: {**c, "streamed": True})
        with pytest.raises(ValueError, match="streamed"):
            upsert_table(spark, out, pages_df(spark, 5, seed=3, partitions=1))

    def test_external_scheme_refused(self, spark, tmp_path):
        out = str(tmp_path / "snap")
        encode_table(pages_df(spark, 100, seed=2, partitions=2), out,
                     key="url", num_buckets=2)
        manifest.commit(out, lambda c: {**c, "bucket_scheme": "external"})
        with pytest.raises(ValueError, match="external|place"):
            upsert_table(spark, out, pages_df(spark, 5, seed=3, partitions=1))

    def test_schema_mismatch(self, spark, pages, tmp_path):
        out = str(tmp_path / "snap")
        encode_table(pages, out, key="url", num_buckets=2)
        with pytest.raises(ValueError, match="missing"):
            upsert_table(spark, out, pages.drop("lang"))
        with pytest.raises(ValueError, match="extra"):
            upsert_table(spark, out, pages.withColumn("x", F.lit(1)))
