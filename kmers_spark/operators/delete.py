"""Key-granular DELETE on a compressed snapshot (merge-on-write).

This is the mutation behind every dedup pipeline: a dedup job names N
doomed keys, and their rows must leave the store WITHOUT rewriting the
store. The reference engine (COMBINE-lab/kmers) has no mutation surface
— its sequence stores are write-once (SURVEY §2.7) — so delete_keys is
part of this engine's own training-data-pipeline surface (dedup ->
prune), alongside functions/dedup.py which produces the doomed sets.

A delete is an upsert that appends nothing: the doomed keys become key
probes of their candidate buckets, and operators/rewrite.py (the one
merge-on-write path, described there) rewrites those buckets.

Scale shape (what bounds what at 100 TB):

  * doomed keys -> candidate buckets through the snapshot's OWN bucket
    rule (hot-key and heavy-boundary salts are key-deterministic, so
    under the hash scheme and the cluster==key range scheme every key
    maps to exactly one bucket). Range-on-another-column, zorder and
    externally-bucketed stores fall back to the recorded per-bucket
    [key_min, key_max] ranges.
  * a key LIST is placed in the driver (decode.key_buckets, the rule
    lookup_keys uses) when the key alone places a row and its probe
    rows fit rewrite.driver_room: the whole delete then runs in the
    driver and launches no Spark job. Any other list becomes a key
    DataFrame.
  * a key DATAFRAME (a dedup job's output) never leaves the executors:
    the same rule runs as the JVM expressions encode used, or as a
    broadcast range join, and ONE bounded driver collect fetches the
    distinct candidate-bucket ids (<= num_buckets ints, whatever the
    doomed-set cardinality).
  * rewrite I/O = the wave dirs that HOLD affected buckets.
"""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest, zonemap
from . import decode, partitioning
from .rewrite import PROBE, driver_room, open_batch_store, rewrite_buckets

# probes join/compare against the key column; same restriction as the
# manifest key-range stats (string and int64 keys carry ranges)
KEY_TYPES = ("string", "int64")


def _candidate_pairs(spark: SparkSession, kdf: DataFrame, m: dict,
                     key_col: str, ktype: str) -> DataFrame:
    """(bucket, key) candidate pairs under the snapshot's bucket rule —
    the distributed twin of lookup_keys' driver-side candidates()."""
    scheme = m.get("bucket_scheme", partitioning.LEGACY_SCHEME)
    if scheme == partitioning.RANGE_SCHEME and m.get("cluster_by") == key_col:
        pairs = partitioning.with_bucket_range(
            kdf, key_col, ktype, m["range_boundaries"], key=key_col
        )
    elif scheme in (partitioning.BUCKET_SCHEME, partitioning.LEGACY_SCHEME):
        pairs = partitioning.with_bucket(
            kdf, m["num_buckets"], m.get("hot_keys") or {}, key_col, scheme
        )
    else:
        # external, or range on a non-key column: the key value does not
        # determine placement. Candidates = committed buckets whose
        # recorded [key_min, key_max] may hold the key; buckets without
        # a usable range stay candidates (lookup_keys' may_hold rule).
        # The range table is <= num_buckets rows -> broadcast range join.
        want = str if ktype == "string" else int
        ranges = m.get("bucket_key_ranges", {})
        rows = []
        for b in sorted(int(x) for x in m.get("committed_buckets", [])):
            rng = ranges.get(str(b))
            if rng is not None and isinstance(rng[0], want) \
                    and isinstance(rng[1], want) and not isinstance(rng[0], bool):
                rows.append((b, rng[0], rng[1]))
            else:
                rows.append((b, None, None))
        t = manifest.SPARK_DDL_TYPES[ktype]
        rdf = spark.createDataFrame(rows, f"bucket int, `__lo` {t}, `__hi` {t}")
        cond = F.col("__lo").isNull() | (
            (F.col(key_col) >= F.col("__lo")) & (F.col(key_col) <= F.col("__hi"))
        )
        pairs = kdf.join(F.broadcast(rdf), cond, "inner")
    return pairs.select(F.col("bucket").cast("int").alias("bucket"), key_col)


def _checked_keys(keys, ktype: str) -> list:
    """A key list's distinct non-null keys; a TypeError names the first
    key that is not of the key column's Python type (str, or int for an
    int64 key), as Spark's schema check would."""
    want = str if ktype == "string" else int
    keys = [k for k in dict.fromkeys(keys) if k is not None]
    bad = next((k for k in keys if type(k) is not want), None)
    if bad is not None:
        raise TypeError(
            f"delete_keys: key {bad!r} ({type(bad).__name__}) does not "
            f"match the {ktype} key column"
        )
    return keys


def _place_in_driver(out_dir: str, m: dict, keys: list,
                     ktype: str) -> "pa.Table | None":
    """A key list's probe rows (bucket, key, PROBE), placed in the
    driver by decode.key_buckets over the committed buckets; None when
    the delete runs on Spark: the key does not place a row (its
    candidates would be every bucket whose key range may hold it), or
    the probe rows do not fit rewrite.driver_room."""
    if not partitioning.key_places(m):
        return None
    room = driver_room(out_dir, m)
    arr = pa.array(keys, zonemap.arrow_type(ktype))
    if arr.nbytes > room:  # before any per-key work
        return None
    committed = {int(b) for b in m.get("committed_buckets", [])}
    placed = [(b, i) for i, k in enumerate(keys)
              for b in decode.key_buckets(m, k) if b in committed]
    placed = pa.table({
        "bucket": pa.array([b for b, _i in placed], pa.int32()),
        m["key"]: arr.take(pa.array([i for _b, i in placed], pa.int64())),
        PROBE: pa.array([True] * len(placed), pa.bool_()),
    })
    return placed if placed.nbytes <= room else None


def delete_keys(spark: SparkSession, out_dir: str,
                keys: "DataFrame | list") -> dict:
    """Delete every row whose key column equals a doomed key; returns
    {"rows_deleted", "buckets_rewritten", "waves_rewritten", "manifest",
    "plan"} (plan: "driver" or "spark", see operators/rewrite.py).

    `keys`: a list of key values, or a DataFrame whose single column
    (or column named like the snapshot's key) holds them — the
    DataFrame form is the 100-TB path (a dedup job's doomed-key output
    flows in without ever being collected)."""
    m = open_batch_store(out_dir, "delete_keys")
    key_col = m["key"]
    ktype = m["schema"].get(key_col)
    if ktype not in KEY_TYPES:
        raise ValueError(
            f"delete_keys needs a string or int64 key column; "
            f"{key_col!r} is {ktype!r}"
        )
    spark_type = manifest.SPARK_DDL_TYPES[ktype]

    def rewrite(probes, affected: list[int], plan: str) -> dict:
        if not affected:
            return {"rows_deleted": 0, "buckets_rewritten": [],
                    "waves_rewritten": [], "manifest": m, "plan": plan}
        res = rewrite_buckets(spark, out_dir, m, probes, affected, 0)
        return {"rows_deleted": res.pop("rows_removed"), **res}

    if not isinstance(keys, DataFrame):
        keys = _checked_keys(keys, ktype)
        placed = _place_in_driver(out_dir, m, keys, ktype)
        if placed is not None:
            return rewrite(placed, sorted(set(
                placed.column("bucket").to_pylist())), "driver")
        keys = spark.createDataFrame(
            [(k,) for k in keys], f"`{key_col}` {spark_type}"
        )
    if key_col in keys.columns:
        kdf = keys.select(key_col)
    elif len(keys.columns) == 1:
        kdf = keys.select(F.col(keys.columns[0]).alias(key_col))
    else:
        raise ValueError(
            f"keys DataFrame must have one column or one named "
            f"{key_col!r}; got {keys.columns}"
        )
    kdf = (
        kdf.select(F.col(key_col).cast(spark_type).alias(key_col))
        .dropna().distinct()
    )

    # persisted: the placement pipeline (upstream dedup output + bucket
    # rule) otherwise re-runs for the bucket-id collect AND the cogroup
    # rewrite (guide §5: reused + expensive to recompute;
    # MEMORY_AND_DISK spills, so a 10^9-key doomed set stays bounded)
    pairs = _candidate_pairs(spark, kdf, m, key_col, ktype).persist()
    try:
        committed = {int(b) for b in m.get("committed_buckets", [])}
        # the one driver collect: distinct candidate buckets, <= num_buckets
        affected = sorted(
            {int(r["bucket"]) for r in pairs.select("bucket").distinct().collect()}
            & committed
        )
        probes = pairs.filter(F.col("bucket").isin(affected)) \
            .withColumn(PROBE, F.lit(True))
        return rewrite(probes, affected, "spark")
    finally:
        pairs.unpersist()
