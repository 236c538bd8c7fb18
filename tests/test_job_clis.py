"""The spark-submit job entry points, driven as real subprocesses.

The CLIs are the operator surface; several past review findings lived
only here (--filter ignoring --version, ANSI-cast crashes, quoted
error messages), caught by manual runs — this pins them in CI. One
shared snapshot per module keeps the suite to a few Spark boots."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_job(*args: str) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, *args], cwd=REPO, capture_output=True, text=True,
        timeout=420,
    )
    return p.returncode, p.stdout.strip().splitlines()[-1] if p.stdout.strip() else p.stderr[-400:]


@pytest.fixture(scope="module")
def cli_snapshot(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("cli")
    src = str(base / "pages_parquet")
    snap = str(base / "snap")
    from kmers_spark import pages

    pages.pages_df(spark, 1500, seed=131, partitions=3).write.mode(
        "overwrite"
    ).parquet(src)
    code, out = run_job(
        "jobs/encode.py", "--input", src, "--output", snap,
        "--num-buckets", "6", "--no-skew-detect", "--commit-every", "3",
        "--codec", "text=words_seg",
    )
    assert code == 0, out
    summary = json.loads(out)
    assert summary["committed_buckets"] == 6
    return src, snap, str(base)


def test_decode_verify_bit_identity(cli_snapshot):
    src, snap, base = cli_snapshot
    code, out = run_job(
        "jobs/decode.py", "--snapshot", snap,
        "--output", f"{base}/dec", "--verify", src,
    )
    assert code == 0, out
    r = json.loads(out)
    assert r == {"rows": 1500, "mismatched_rows": 0}


def test_decode_filter_respects_version_and_engine(cli_snapshot):
    src, snap, base = cli_snapshot
    code, latest = run_job(
        "jobs/decode.py", "--snapshot", snap, "--output", f"{base}/f1",
        "--filter", "lang:=:en",
    )
    assert code == 0, latest
    # version 2 = first wave only: strictly fewer rows than latest
    code, old = run_job(
        "jobs/decode.py", "--snapshot", snap, "--output", f"{base}/f2",
        "--filter", "lang:=:en", "--version", "2",
    )
    assert code == 0, old
    assert 0 < json.loads(old)["rows"] < json.loads(latest)["rows"]


def test_decode_filter_error_is_clean(cli_snapshot):
    _src, snap, base = cli_snapshot
    code, out = run_job(
        "jobs/decode.py", "--snapshot", snap, "--output", f"{base}/f4",
        "--filter", "nope:=:x",
    )
    assert code != 0
    assert "nope" in out and not out.strip().startswith('"')  # unquoted message


def test_stats_modes(cli_snapshot):
    _src, snap, _base = cli_snapshot
    code, out = run_job("jobs/stats.py", "--snapshot", snap,
                        "--stats", "--blocks", "--history")
    assert code == 0, out
    d = json.loads(out)
    assert d["columns"]["url"]["rows"] == 1500
    assert d["blocks"]["text"]["codecs"] == ["words_seg"]
    assert d["current_version"] >= 3  # config + 2 waves


def test_stream_decode_catchup_then_incremental(cli_snapshot, spark):
    src, snap, base = cli_snapshot
    sink, ckpt = f"{base}/ssink", f"{base}/sckpt"
    code, out = run_job(
        "jobs/stream_decode.py", "--snapshot", snap,
        "--sink", sink, "--checkpoint", ckpt, "--filter", "lang:=:en",
    )
    assert code == 0, out
    total = json.loads(out)["decoded_rows_total"]
    batch = spark.read.parquet(src)
    assert total == batch.filter(batch.lang == "en").count() > 0
    # second catch-up run: nothing new
    code, out = run_job(
        "jobs/stream_decode.py", "--snapshot", snap,
        "--sink", sink, "--checkpoint", ckpt, "--filter", "lang:=:en",
    )
    assert code == 0 and json.loads(out)["decoded_rows_total"] == total


def test_delete_job(cli_snapshot, spark, tmp_path):
    """jobs/delete.py on a COPY of the shared snapshot (delete mutates):
    parquet doomed-set path, then the --key literal path, then the
    arg-validation error."""
    import shutil

    src, snap, _base = cli_snapshot
    mine = str(tmp_path / "snap_copy")
    shutil.copytree(snap, mine)
    doomed_pq = str(tmp_path / "doomed")
    batch = spark.read.parquet(src)
    batch.select("url").distinct().limit(40).write.parquet(doomed_pq)
    doomed = spark.read.parquet(doomed_pq)  # pin the materialized set

    code, out = run_job("jobs/delete.py", "--snapshot", mine,
                        "--keys-parquet", doomed_pq)
    assert code == 0, out
    d = json.loads(out)
    assert d["rows_deleted"] == 40 and d["buckets_rewritten"] >= 1

    one = doomed.limit(1).collect()[0]["url"]  # already gone: no-op
    code, out = run_job("jobs/delete.py", "--snapshot", mine, "--key", one)
    assert code == 0 and json.loads(out)["rows_deleted"] == 0

    survivor = (batch.join(doomed.withColumnRenamed("url", "u"),
                           batch.url == "u", "left_anti")
                .select("url").limit(1).collect()[0]["url"])
    code, out = run_job("jobs/delete.py", "--snapshot", mine,
                        "--key", survivor)
    assert code == 0 and json.loads(out)["rows_deleted"] == 1

    code, out = run_job("jobs/delete.py", "--snapshot", mine)
    assert code != 0


def test_upsert_job(cli_snapshot, spark, tmp_path):
    """jobs/upsert.py merges a re-crawl batch parquet into a COPY of
    the shared snapshot."""
    import shutil

    from pyspark.sql import functions as F

    src, snap, _base = cli_snapshot
    mine = str(tmp_path / "snap_copy")
    shutil.copytree(snap, mine)
    batch_pq = str(tmp_path / "batch")
    batch = spark.read.parquet(src).limit(25).withColumn(
        "text", F.concat(F.lit("V2:"), F.col("text")))
    batch.write.parquet(batch_pq)

    code, out = run_job("jobs/upsert.py", "--snapshot", mine,
                        "--input", batch_pq)
    assert code == 0, out
    d = json.loads(out)
    assert d["rows_inserted"] == 25 and d["rows_replaced"] == 25
    from kmers_spark.operators.decode import decode_table
    got = decode_table(spark, mine)
    assert got.count() == 1500
    assert got.filter(got.text.startswith("V2:")).count() == 25


def test_agg_job(cli_snapshot, spark):
    """jobs/agg.py: stats-only aggregates + a filtered run + validation."""
    src, snap, _base = cli_snapshot
    import datetime

    from pyspark.sql import functions as F

    code, out = run_job(
        "jobs/agg.py", "--snapshot", snap,
        "--agg", "count:*", "--agg", "min:warc_ts", "--agg", "max:warc_ts",
    )
    assert code == 0, out
    r = json.loads(out)
    truth = spark.read.parquet(src).agg(
        F.count(F.lit(1)), F.min("warc_ts"), F.max("warc_ts")
    ).collect()[0]
    assert r["count_star"] == truth[0]
    assert r["min_warc_ts"] == str(truth[1])
    assert r["max_warc_ts"] == str(truth[2])

    mid = truth[1] + (truth[2] - truth[1]) / 2
    code, out = run_job(
        "jobs/agg.py", "--snapshot", snap, "--agg", "count:*",
        "--filter", f"warc_ts:>=:{mid.isoformat()}",
    )
    assert code == 0, out
    want = spark.read.parquet(src).filter(
        F.col("warc_ts") >= F.lit(mid)).count()
    assert json.loads(out)["count_star"] == want

    code, _ = run_job("jobs/agg.py", "--snapshot", snap, "--agg", "bad")
    assert code != 0


def test_join_job(cli_snapshot, spark, tmp_path):
    """jobs/join.py over a --layout-from twin: aligned encode, zero-
    shuffle join, misalignment refusal carries the reason."""
    src, snap, _base = cli_snapshot
    from pyspark.sql import functions as F

    scores_src = str(tmp_path / "scores_parquet")
    twin = str(tmp_path / "scores_snap")
    out = str(tmp_path / "joined")
    df = spark.read.parquet(src)
    df.select("url", F.length("text").alias("score")).filter(
        F.xxhash64("url") % 4 != 0
    ).write.mode("overwrite").parquet(scores_src)

    code, o = run_job(
        "jobs/encode.py", "--input", scores_src, "--output", twin,
        "--key", "url", "--no-skew-detect", "--layout-from", snap,
    )
    assert code == 0, o

    code, o = run_job(
        "jobs/join.py", "--left", snap, "--right", twin, "--output", out,
        "--columns-left", "url,lang", "--columns-right", "url,score",
    )
    assert code == 0, o
    want = spark.read.parquet(scores_src).count()
    assert json.loads(o)["rows"] == want
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["lang", "score", "url"]
    assert got.count() == want

    # misaligned right (different bucket count): refused with the reason
    bad = str(tmp_path / "bad_snap")
    code, o = run_job(
        "jobs/encode.py", "--input", scores_src, "--output", bad,
        "--key", "url", "--num-buckets", "5", "--no-skew-detect",
    )
    assert code == 0, o
    code, o = run_job(
        "jobs/join.py", "--left", snap, "--right", bad, "--output", out,
    )
    assert code != 0 and "num_buckets differ" in o
