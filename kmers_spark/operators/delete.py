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
    rule — the same JVM expressions the encode job used (hot-key and
    heavy-boundary salts are key-deterministic, so under the hash
    scheme and the cluster==key range scheme every key maps to exactly
    one bucket). Range-on-another-column and externally-bucketed
    stores fall back to the recorded per-bucket [key_min, key_max]
    ranges (lookup_keys' rule, run as a broadcast range join instead
    of a driver loop so a billion-key doomed set never leaves the
    executors).
  * ONE bounded driver collect: the distinct candidate-bucket ids
    (<= num_buckets ints, whatever the doomed-set cardinality).
  * rewrite I/O = the wave dirs that HOLD affected buckets.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest
from . import partitioning
from .rewrite import PROBE, open_batch_store, rewrite_buckets

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


def delete_keys(spark: SparkSession, out_dir: str,
                keys: "DataFrame | list") -> dict:
    """Delete every row whose key column equals a doomed key; returns
    {"rows_deleted", "buckets_rewritten", "waves_rewritten", "manifest"}.

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
    noop = {"rows_deleted": 0, "buckets_rewritten": [],
            "waves_rewritten": [], "manifest": m}

    if isinstance(keys, DataFrame):
        if key_col in keys.columns:
            kdf = keys.select(key_col)
        elif len(keys.columns) == 1:
            kdf = keys.select(F.col(keys.columns[0]).alias(key_col))
        else:
            raise ValueError(
                f"keys DataFrame must have one column or one named "
                f"{key_col!r}; got {keys.columns}"
            )
    else:
        keys = list(keys)
        if not keys:
            return noop
        kdf = spark.createDataFrame(
            [(k,) for k in keys], f"`{key_col}` {spark_type}"
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
        if not affected:
            return noop
        probes = pairs.filter(F.col("bucket").isin(affected)) \
            .withColumn(PROBE, F.lit(True))
        res = rewrite_buckets(spark, out_dir, m, probes, affected, 0)
        return {"rows_deleted": res.pop("rows_removed"), **res}
    finally:
        pairs.unpersist()
