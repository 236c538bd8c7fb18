"""The merge-on-write path (operators/rewrite.py) that delete_keys and
upsert_table share: a corrupt block set raises the readers' error
instead of committing a rewrite, and each mutation's (and a multi-wave
encode's) Spark job count stays within its pinned bound."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest, pages
from kmers_spark.operators import partitioning
from kmers_spark.operators.delete import delete_keys
from kmers_spark.operators.encode import encode_table
from kmers_spark.operators.upsert import upsert_table
from tests.test_local_read import _corrupt, _jobs_of


def _keys_by_bucket(df, m) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for r in df.select("url").collect():
        b = partitioning.bucket_for_key(r["url"], m["num_buckets"],
                                        m.get("hot_keys") or {},
                                        scheme=m["bucket_scheme"])
        out.setdefault(b, []).append(r["url"])
    return {b: sorted(v) for b, v in out.items()}


# the readers' error for each of _corrupt's cases
CORRUPT_MSG = {
    "duplicate": "duplicate block rows for bucket 0",
    "missing": r"bucket 0 block set is corrupt: missing columns \['lang'\]",
    "stray": r"bucket 0 block set is corrupt: missing columns \[\], "
             r"stray columns \['zzz'\]",
}


@pytest.mark.parametrize("op", ["delete", "upsert"])
@pytest.mark.parametrize("how", list(CORRUPT_MSG))
def test_corrupt_bucket_is_not_rewritten(spark, tmp_path, op, how):
    out = str(tmp_path / "snap")
    df = pages.pages_df(spark, 300, seed=5, partitions=2).cache()
    encode_table(df, out, num_buckets=4, detect_skew=False)
    key = _keys_by_bucket(df, manifest.load(out))[0][0]
    _corrupt(out, how)
    version = manifest.current_version(out)
    with pytest.raises(Exception, match=f"ValueError: {CORRUPT_MSG[how]}"):
        if op == "delete":
            delete_keys(spark, out, [key])
        else:
            upsert_table(spark, out, df.filter(F.col("url") == key))
    assert manifest.current_version(out) == version


# Spark jobs each operation launches since every writer's tasks return
# their block stats instead of a job reading the wave back (2,000 rows,
# 8 hash buckets, local[4]): the bounds below. With the read-back they
# were delete 10, upsert 11 and a 4-wave encode 19.
DELETE_JOBS = 9
UPSERT_JOBS = 10
ENCODE_4_WAVES_JOBS = 15


def test_mutation_job_counts(spark, tmp_path):
    out = str(tmp_path / "snap")
    df = pages.pages_df(spark, 2000, seed=7, partitions=4).cache()
    encode_table(df, out, num_buckets=8)
    by_bucket = _keys_by_bucket(df, manifest.load(out))
    doomed = [keys[0] for keys in by_bucket.values()]
    res, jobs = _jobs_of(spark, lambda: delete_keys(spark, out, doomed))
    assert res["rows_deleted"] == len(doomed)
    assert jobs <= DELETE_JOBS
    recrawl = df.filter(F.col("url").isin(by_bucket[0][1:6])) \
        .withColumn("lang", F.lit("xx"))
    res, jobs = _jobs_of(spark, lambda: upsert_table(spark, out, recrawl))
    assert (res["rows_inserted"], res["rows_replaced"]) == (5, 5)
    assert jobs <= UPSERT_JOBS


def test_encode_job_count_per_wave(spark, tmp_path):
    df = pages.pages_df(spark, 2000, seed=7, partitions=4).cache()
    df.count()
    m, jobs = _jobs_of(spark, lambda: encode_table(
        df, str(tmp_path / "snap"), num_buckets=8, commit_every=2))
    assert len(m["wave_dirs"]) == 4
    assert jobs <= ENCODE_4_WAVES_JOBS
