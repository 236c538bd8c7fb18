"""The merge-on-write path (operators/rewrite.py) that delete_keys and
upsert_table share. Its two plans agree: the driver plan (a key list
or a driver-local batch on a store that leaves it room in
decode.LOCAL_READ_MAX_BYTES) and the Spark plan (the threshold
monkeypatched to 0, or a Spark-side input) write identical block rows
and manifest stats. A corrupt block set raises instead of committing
on either plan, and each plan's Spark job count stays within its
pinned bound."""
from __future__ import annotations

import shutil

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from kmers_spark import manifest, pages
from kmers_spark.operators import decode as dec, partitioning
from kmers_spark.operators import rewrite as rw, upsert as up
from kmers_spark.operators.delete import _candidate_pairs, delete_keys
from kmers_spark.operators.encode import encode_table
from kmers_spark.operators.upsert import upsert_table
from tests.conftest import jobs_of
from tests.test_local_read import _corrupt
from tests.test_wavewrite import _per_bucket, _rows_on_disk

PLANS = ["driver", "spark"]


def _local(df):
    """`df`'s rows as a driver-local DataFrame (a LocalRelation)."""
    return df.sparkSession.createDataFrame(df.toArrow())


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


# each operation on both plans; the driver plan, which a key list or a
# local batch on a small store takes, keeps the operation's name
OP_PLANS = pytest.mark.parametrize("op,plan", [
    pytest.param(op, plan, id=op if plan == "driver" else f"{op}-{plan}")
    for op in ("delete", "upsert") for plan in PLANS
])


@OP_PLANS
@pytest.mark.parametrize("how", list(CORRUPT_MSG))
def test_corrupt_bucket_is_not_rewritten(spark, tmp_path, monkeypatch, op,
                                         how, plan):
    out = str(tmp_path / "snap")
    df = pages.pages_df(spark, 300, seed=5, partitions=2).cache()
    encode_table(df, out, num_buckets=4, detect_skew=False)
    key = _keys_by_bucket(df, manifest.load(out))[0][0]
    batch = _local(df.filter(F.col("url") == key))
    _corrupt(out, how)
    version = manifest.current_version(out)
    if plan == "spark":
        monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
        # a task's error reaches the driver wrapped, named by its type
        raises = pytest.raises(Exception, match=f"ValueError: {CORRUPT_MSG[how]}")
    else:
        raises = pytest.raises(ValueError, match=CORRUPT_MSG[how])
    with raises:
        if op == "delete":
            delete_keys(spark, out, [key])
        else:
            upsert_table(spark, out, batch)
    assert manifest.current_version(out) == version


# Spark jobs each Spark-plan operation launches (2,000 rows, 8 hash
# buckets, local[4]): the bounds below. Before every writer's tasks
# returned their block stats they were delete 10, upsert 11 and a
# 4-wave encode 19. The driver plan launches none.
DELETE_JOBS = 9
UPSERT_JOBS = 10
ENCODE_4_WAVES_JOBS = 15


@pytest.fixture(scope="module")
def jobs_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("jobs") / "snap")
    df = pages.pages_df(spark, 2000, seed=7, partitions=4).cache()
    encode_table(df, out, num_buckets=8)
    return out, df, _keys_by_bucket(df, manifest.load(out))


def test_mutation_job_counts(spark, jobs_store, monkeypatch):
    out, df, by_bucket = jobs_store
    doomed = [keys[0] for keys in by_bucket.values()]
    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
    res, jobs = jobs_of(spark, lambda: delete_keys(spark, out, doomed))
    assert (res["rows_deleted"], res["plan"]) == (len(doomed), "spark")
    assert jobs <= DELETE_JOBS
    monkeypatch.undo()
    recrawl = df.filter(F.col("url").isin(by_bucket[0][1:6])) \
        .withColumn("lang", F.lit("xx"))
    res, jobs = jobs_of(spark, lambda: upsert_table(spark, out, recrawl))
    assert (res["rows_inserted"], res["rows_replaced"]) == (5, 5)
    assert res["plan"] == "spark"  # the input is not in the driver
    assert jobs <= UPSERT_JOBS


def test_small_mutations_launch_no_spark_job(spark, jobs_store):
    out, df, by_bucket = jobs_store
    doomed = [keys[-1] for keys in by_bucket.values()]
    res, jobs = jobs_of(spark, lambda: delete_keys(spark, out, doomed))
    assert (res["rows_deleted"], res["plan"], jobs) == (len(doomed), "driver", 0)
    recrawl = _local(df.filter(F.col("url").isin(by_bucket[1][1:6]))
                     .withColumn("lang", F.lit("yy")))
    cpu, io = pa.cpu_count(), pa.io_thread_count()
    res, jobs = jobs_of(spark, lambda: upsert_table(spark, out, recrawl))
    assert (res["rows_inserted"], res["rows_replaced"]) == (5, 5)
    assert (res["plan"], jobs) == ("driver", 0)
    # the kernels ran in the driver without pinning its Arrow pools
    assert (pa.cpu_count(), pa.io_thread_count()) == (cpu, io)
    got = dec.lookup_keys(spark, out, by_bucket[1][1:6] + doomed).collect()
    assert sorted(r["url"] for r in got) == sorted(by_bucket[1][1:6])
    assert {r["lang"] for r in got} == {"yy"}


def test_driver_plan_is_chosen_before_placement(spark, tmp_path,
                                                monkeypatch):
    """The room a store leaves in the read budget decides the plan
    before an input is placed: a key list or a local batch whose
    placed rows do not fit it runs on Spark, a local batch of more
    rows than could fit is not collected whole, and a key list on a
    store where the key does not place a row runs on Spark. A key of
    the wrong type raises the same TypeError on both plans."""
    out = str(tmp_path / "snap")
    encode_table(_int_rows(spark, 400, 0), out, key="k", num_buckets=4,
                 detect_skew=False)
    room = rw.driver_room(out, manifest.load(out))
    assert 0 < room < dec.LOCAL_READ_MAX_BYTES

    def leave(n: int):
        """Set the budget so that the store leaves `n` bytes of room."""
        left = rw.driver_room(out, manifest.load(out))
        monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES",
                            dec.LOCAL_READ_MAX_BYTES - left + n)

    # 600 bytes of room: 3 int64 probe rows (~37 bytes) fit, 60 do not
    # (~730 bytes, though their keys alone take 480), nor do 100 keys
    for keys, plan in (([1000, 1001, 1002], "driver"),
                       (list(range(1010, 1070)), "spark"),
                       (list(range(1100, 1200)), "spark")):
        leave(600)
        res = delete_keys(spark, out, keys)
        assert (res["rows_deleted"], res["plan"]) == (len(keys), plan)
    # ~35 bytes a placed row: 10 rows fit 600 bytes, 40 do not; with
    # 5,000 bytes a batch longer than SLICE_ROWS is sized by its first
    # rows: 120 rows fit, and of 200 rows no more than ~145 are
    # collected before the batch goes to Spark
    collected: list[int] = []
    frame = type(spark.range(1))
    collect = frame.collect

    def spy(self):
        rows = collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    for room_left, n, plan in ((600, 10, "driver"), (600, 40, "spark"),
                               (5000, 120, "driver"), (5000, 200, "spark")):
        leave(room_left)
        collected.clear()
        res = upsert_table(spark, out, _local(_int_rows(spark, n, 0, 1000)))
        assert (res["rows_inserted"], res["plan"]) == (n, plan)
    assert max(collected) < 200
    with pytest.raises(TypeError, match="does not match the int64 key"):
        delete_keys(spark, out, [1300, "1301"])
    monkeypatch.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
    with pytest.raises(TypeError, match="does not match the int64 key"):
        delete_keys(spark, out, [True])
    monkeypatch.undo()
    clustered = str(tmp_path / "clustered")
    encode_table(_int_rows(spark, 400, 0), clustered, key="k",
                 num_buckets=4, cluster_by="d")
    res = delete_keys(spark, clustered, [1000, 1001])
    assert (res["rows_deleted"], res["plan"]) == (2, "spark")


def test_encode_job_count_per_wave(spark, tmp_path):
    df = pages.pages_df(spark, 2000, seed=7, partitions=4).cache()
    df.count()
    m, jobs = jobs_of(spark, lambda: encode_table(
        df, str(tmp_path / "snap"), num_buckets=8, commit_every=2))
    assert len(m["wave_dirs"]) == 4
    assert jobs <= ENCODE_4_WAVES_JOBS


# ------------------------------------------------------- plan parity

def _state(out: str) -> dict:
    """Everything a rewrite writes: block rows (payload by md5), block
    stats, key ranges and Bloom registrations (per bucket: wave names
    differ between runs)."""
    m = manifest.load(out)
    stats = manifest.block_stats(out, m)
    return {
        "rows": _rows_on_disk(out),
        "stats": {b: sorted(v, key=lambda s: s["column"])
                  for b, v in stats.items() if v},
        "key_ranges": m.get("bucket_key_ranges"),
        "bloom": _per_bucket(m.get("bloom_buckets")),
        "bloom_cols": _per_bucket(m.get("bloom_cols")),
        "committed": m["committed_buckets"],
    }


def _int_rows(spark, n: int, hot: int, offset: int = 0):
    """n int64-key rows, the first `hot` of them all key 7."""
    return spark.range(n).select(
        F.when(F.col("id") < hot, F.lit(7))
        .otherwise(F.col("id") + offset + 1000).alias("k"),
        F.format_string("v-%d", F.col("id") + offset).alias("v"),
        (F.col("id") / 3).alias("d"),
    )


def _build(spark, shape: str, out: str) -> dict:
    """A store of `shape`, the keys a delete dooms and the batch an
    upsert merges (present keys with new values, plus new keys)."""
    if shape == "hash_hot":
        df = pages.pages_df(spark, 1200, seed=5, partitions=2).cache()
        encode_table(df, out, num_buckets=8, detect_skew=True,
                     bloom_columns=["lang"], ndv_columns=["lang"])
        m = manifest.load(out)
        assert m["hot_keys"]
        hot = next(iter(m["hot_keys"]))
        urls = sorted(r["url"] for r in df.select("url").collect())
        on_hot = [u for u in urls if f"//{hot}/" in u]
        assert len(on_hot) > 10
        doomed = on_hot[:4] + urls[::150]
        batch = df.filter(F.col("url").isin(on_hot[4:10] + urls[7::200])) \
            .withColumn("lang", F.lit("xx")) \
            .unionByName(pages.pages_df(spark, 20, seed=77, partitions=1))
    elif shape == "int_key":
        encode_table(_int_rows(spark, 1000, 600), out, key="k", num_buckets=8,
                     detect_skew=True)
        assert manifest.load(out)["hot_keys"]["7"] >= 4
        doomed = [7, 1500, 1901, 123456]
        batch = _int_rows(spark, 40, 5, offset=600)
    elif shape == "range_int_key":
        # 7 holds a third of the rows: a heavy boundary value, salted
        # across overflow buckets by the typed key
        encode_table(_int_rows(spark, 900, 300), out, key="k", num_buckets=8,
                     cluster_by="k")
        assert partitioning.heavy_boundary_values(
            manifest.load(out)["range_boundaries"])
        doomed = [7, 1400, 1899, 5]
        batch = _int_rows(spark, 30, 4, offset=500)
    elif shape == "range_key":
        df = pages.pages_df(spark, 1200, seed=6, partitions=2).cache()
        encode_table(df, out, num_buckets=8, cluster_by="url")
        urls = sorted(r["url"] for r in df.select("url").collect())
        doomed = urls[::100]
        batch = df.filter(F.col("url").isin(urls[5::90])) \
            .withColumn("text", F.lit("re-crawled")) \
            .unionByName(pages.pages_df(spark, 20, seed=78, partitions=1))
    elif shape == "evolved":
        df = pages.pages_df(spark, 1200, seed=8, partitions=2).cache()
        encode_table(df, out, num_buckets=8, detect_skew=False,
                     fail_buckets_over=4)
        manifest.evolve_schema(out, {"score": "double"})
        encode_table(df.withColumn("score", F.length("text").cast("double")),
                     out, num_buckets=8, detect_skew=False)
        urls = sorted(r["url"] for r in df.select("url").collect())
        doomed = urls[::100]
        batch = df.filter(F.col("url").isin(urls[3::120])) \
            .withColumn("score", F.lit(0.5))
    elif shape == "empty_bucket":
        df = pages.pages_df(spark, 3, seed=9, partitions=1).cache()
        encode_table(df, out, num_buckets=16, detect_skew=False)
        m = manifest.load(out)
        held = {partitioning.bucket_for_key(r["url"], 16, {})
                for r in df.select("url").collect()}
        new = pages.pages_df(spark, 40, seed=79, partitions=1).cache()
        into_empty = [r["url"] for r in new.select("url").collect()
                      if partitioning.bucket_for_key(r["url"], 16, {})
                      not in held][:3]
        assert into_empty and len(m["committed_buckets"]) == 16
        doomed = into_empty[:1] + [df.first()["url"]]
        batch = new.filter(F.col("url").isin(into_empty))
    else:
        raise ValueError(shape)
    return {"doomed": doomed, "batch": batch.cache()}


SHAPES = ["hash_hot", "int_key", "range_int_key", "range_key", "evolved",
          "empty_bucket"]


@pytest.fixture(scope="module", params=SHAPES)
def template(request, spark, tmp_path_factory):
    root = tmp_path_factory.mktemp(f"parity_{request.param}")
    spec = _build(spark, request.param, str(root / "snap"))
    spec["out"] = str(root / "snap")
    return spec


def _run(spark, template, tmp_path, monkeypatch, name: str, op: str,
         plan: str, local: bool) -> tuple[dict, dict]:
    """`op` on a copy of the template under `plan`, its input driver-
    local or Spark-side: (its result counts, the store's _state)."""
    out = str(tmp_path / name)
    shutil.copytree(template["out"], out)
    with monkeypatch.context() as mp:
        if plan == "spark":
            mp.setattr(dec, "LOCAL_READ_MAX_BYTES", 0)
        if op == "delete":
            keys = template["doomed"]
            if not local:
                m = manifest.load(out)
                t = manifest.SPARK_DDL_TYPES[m["schema"][m["key"]]]
                keys = spark.createDataFrame([(k,) for k in keys], f"k {t}")
            res = delete_keys(spark, out, keys)
        else:
            batch = template["batch"]
            res = upsert_table(spark, out, _local(batch) if local else batch)
    assert res.pop("plan") == plan
    res.pop("manifest")
    res["waves_rewritten"] = len(res["waves_rewritten"])
    return res, _state(out)


@pytest.mark.parametrize("op", ["delete", "upsert"])
def test_mutation_plans_agree(spark, template, tmp_path, monkeypatch, op):
    """The driver plan, the Spark plan over the same driver-local input
    (threshold 0) and the Spark plan over a Spark-side input write the
    same block rows, stats, key ranges and Bloom registrations, and
    return the same counts."""
    res, state = _run(spark, template, tmp_path, monkeypatch, "driver", op,
                      "driver", local=True)
    assert res["buckets_rewritten"]
    for name, local in (("spark_local", True), ("spark", False)):
        got = _run(spark, template, tmp_path, monkeypatch, name, op, "spark",
                   local)
        assert got == (res, state), name


def test_driver_placement_matches_spark_candidates(spark, template):
    """decode.key_buckets (the driver placement rule lookups and deletes
    share) returns delete._candidate_pairs' buckets on every scheme;
    schemes where the key does not place a row fall back to the key
    ranges (here: the store's own manifest relabelled external)."""
    m = manifest.load(template["out"])
    key = m["key"]
    ktype = m["schema"][key]
    keys = list(template["doomed"])
    if ktype == "string":
        keys += [k + "~" for k in keys] + ["", "zzz://absent"]
    else:
        keys += [-1, 10**12, 8]
    t = manifest.SPARK_DDL_TYPES[ktype]
    kdf = spark.createDataFrame([(k,) for k in keys], f"`{key}` {t}")
    for scheme in (m.get("bucket_scheme"), partitioning.EXTERNAL_SCHEME):
        mm = {**m, "bucket_scheme": scheme}
        want: dict = {}
        for r in _candidate_pairs(spark, kdf, mm, key, ktype).collect():
            want.setdefault(r[key], set()).add(r["bucket"])
        for k in keys:
            assert set(dec.key_buckets(mm, k)) == want.get(k, set()), (scheme, k)
