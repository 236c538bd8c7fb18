import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from kmers_spark.session import get_spark

    s = get_spark("kmers_spark_tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def jobs_of(spark, fn) -> tuple[object, int]:
    """fn()'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = "job-count-probe"
    sc.setJobGroup(group, group)
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        result = fn()
        return result, len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def reads_no_files(df) -> bool:
    """True when df's plan holds no file-source (parquet) relation."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return not df.inputFiles() and "parquet" not in plan.lower()


def spy_agg_decodes(monkeypatch, record) -> None:
    """Call record(columns, buckets) for every latest-version decode
    agg_table runs, on either plan (decode_local answers None when it
    leaves the read to decode_colocated)."""
    from kmers_spark.operators import agg as aggmod

    def spying(real):
        def spy(spark, out_dir, columns=None, filters=None, buckets=None,
                snapshot=None):
            got = real(spark, out_dir, columns=columns, filters=filters,
                       buckets=buckets, snapshot=snapshot)
            if got is not None:
                record(columns, buckets)
            return got
        return spy

    for name in ("decode_local", "decode_colocated"):
        monkeypatch.setattr(aggmod, name, spying(getattr(aggmod, name)))
