"""Schema evolution: add-column with Iceberg read-as-null semantics.

Buckets committed before evolve_schema have no block for the added
column; decode null-fills them (both paths), buckets encoded after
carry real values, and the bucket-integrity check still catches a
genuinely missing column."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest, pages
from kmers_spark.operators import partitioning
from kmers_spark.operators.decode import decode_colocated, decode_table, scan_table
from kmers_spark.operators.encode import encode_table

N_B = 8


@pytest.fixture(scope="module")
def evolved_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("evo") / "store")
    df = pages.pages_df(spark, 2000, seed=11, partitions=4).cache()
    # wave 1: old schema, buckets 0-3 only (a snapshot in progress)
    encode_table(df, out, num_buckets=N_B, detect_skew=False,
                 fail_buckets_over=4)
    manifest.evolve_schema(out, {"score": "double"})
    # wave 2: remaining buckets, encoded WITH the evolved column
    df2 = df.withColumn("score", F.length("text").cast("double"))
    m = encode_table(df2, out, num_buckets=N_B, detect_skew=False)
    assert sorted(m["committed_buckets"]) == list(range(N_B))
    # expected: score only for rows whose bucket committed post-evolve
    hot = m["hot_keys"]
    expected = partitioning.with_bucket(df2, N_B, hot).withColumn(
        "score", F.when(F.col("bucket") >= 4, F.col("score"))
    ).drop("bucket").cache()
    return out, expected, m


def test_evolve_validates(spark, evolved_store):
    out, _e, _m = evolved_store
    with pytest.raises(ValueError, match="already exists"):
        manifest.evolve_schema(out, {"score": "double"})
    with pytest.raises(ValueError, match="not in"):
        manifest.evolve_schema(out, {"x": "decimal"})
    with pytest.raises(ValueError, match="no columns"):
        manifest.evolve_schema(out, {})


def test_decode_null_fills_old_buckets(spark, evolved_store):
    out, expected, _m = evolved_store
    got = decode_table(spark, out).toPandas().sort_values("url").reset_index(drop=True)
    want = expected.toPandas().sort_values("url").reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    assert got.columns[-1] == "score"  # evolved column appends
    assert got.equals(want)
    # both regimes actually occur
    assert got["score"].isna().any() and got["score"].notna().any()


def test_colocated_matches_groupby_after_evolution(spark, evolved_store,
                                                   monkeypatch):
    """The reader's Spark plan null-fills like its driver plan
    (test_decode_null_fills_old_buckets)."""
    from kmers_spark.operators import decode as dec

    out, expected, _m = evolved_store
    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
    got = decode_colocated(spark, out).toPandas().sort_values("url").reset_index(drop=True)
    want = expected.toPandas().sort_values("url").reset_index(drop=True)
    assert got.equals(want)


def test_projection_of_only_evolved_column(spark, evolved_store):
    """Old buckets have NO block for the projected column — the key
    anchor supplies their row count, then drops out of the output."""
    out, expected, _m = evolved_store
    got = decode_table(spark, out, columns=["score"])
    assert got.columns == ["score"]
    assert got.count() == expected.count()
    nulls = got.filter(F.col("score").isNull()).count()
    want_nulls = expected.filter(F.col("score").isNull()).count()
    assert nulls == want_nulls > 0
    # colocated path, same projection
    got2 = decode_colocated(spark, out, columns=["score"])
    assert got2.columns == ["score"] and got2.count() == expected.count()


def test_scan_filter_on_evolved_column(spark, evolved_store):
    out, expected, _m = evolved_store
    got = scan_table(spark, out, [("score", ">=", 100.0)]).toPandas()
    want = expected.filter(F.col("score") >= 100.0).toPandas()
    got = got.sort_values("url").reset_index(drop=True)
    want = want.sort_values("url").reset_index(drop=True)
    assert got.equals(want)
    assert len(got)  # matches exist (post-evolve buckets only)


def test_table_stats_logical_rows_for_evolved_column(spark, evolved_store):
    """`rows` is the logical count even for a column only some buckets
    physically store; physical_rows shows the stored subset."""
    from kmers_spark.metrics import table_stats

    out, expected, _m = evolved_store
    stats = table_stats(out)
    n = expected.count()
    assert stats["score"]["rows"] == n
    assert stats["url"]["rows"] == n
    # physical = rows of buckets that HAVE a score block (stored nulls
    # count too — physical is about block presence, not values)
    _out2, _e2, m = evolved_store
    phys = sum(
        s["n_rows"] for ss in m["blocks"].values() for s in ss
        if s["column"] == "score"
    )
    assert stats["score"]["physical_rows"] == phys < n
    assert stats["url"]["physical_rows"] == n


def test_resume_with_wrong_schema_fails_loudly(spark, evolved_store, tmp_path):
    """A df missing a snapshot column must not silently write blocks
    the decoder would null-fill."""
    out, _e, _m = evolved_store
    df_old = pages.pages_df(spark, 100, seed=11, partitions=2)  # no score
    with pytest.raises(ValueError, match="evolve_schema"):
        encode_table(df_old, out, num_buckets=N_B, detect_skew=False)


def test_truly_missing_column_still_raises(spark, evolved_store, tmp_path,
                                           monkeypatch):
    """Null-fill must not mask corruption: a column the manifest says a
    bucket HAS, but whose block row is gone, is a hard error on both
    plans of the reader."""
    import glob
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from kmers_spark.operators import decode as dec

    src, _e, _m = evolved_store
    out = str(tmp_path / "store")
    shutil.copytree(src, out)
    for f in glob.glob(f"{out}/blocks/*/part-*.parquet"):
        t = pq.read_table(f)
        pq.write_table(t.filter(pc.not_equal(t.column("column"), "lang")), f)
    for limit in (dec.LOCAL_READ_MAX_BYTES, 0):
        monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", limit)
        with pytest.raises(Exception, match="missing columns"):
            decode_table(spark, out).collect()
