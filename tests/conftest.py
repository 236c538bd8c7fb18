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
    """Call record(columns, buckets) for every decode agg_table runs,
    on either plan (both start from one _ColocatedRead set-up)."""
    from kmers_spark.operators import agg as aggmod

    real = aggmod._ColocatedRead

    def spy(spark, out_dir, columns, filters, buckets, snapshot):
        record(columns, buckets)
        return real(spark, out_dir, columns, filters, buckets, snapshot)

    monkeypatch.setattr(aggmod, "_ColocatedRead", spy)
