"""Key-granular UPSERT (merge-on-write) into a compressed snapshot.

Completes the mutation surface next to delete_keys: `upsert_table`
replaces every existing row whose key appears in the incoming batch
and inserts the batch — MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN
NOT MATCHED THEN INSERT, collapsed to whole-row semantics. The
reference engine's stores are write-once (SURVEY §2.7), so like
delete this is engine-own surface: re-crawled pages arrive as (url,
new html/text/ts) batches and must supersede their old rows without
rewriting the store.

The incoming rows are placed and handed to operators/rewrite.py, the
one merge-on-write path (protocol, crash safety and time travel are
described there). What is upsert's own:

  * incoming rows are bucketed by the snapshot's OWN rule (salted hot
    keys and heavy boundary values stay key-deterministic).
    Externally-bucketed stores are refused: no recorded rule can place
    a NEW row.
  * a driver-local batch (a LocalRelation: createDataFrame of pandas
    or Arrow data) on a scheme where the key alone places a row (hash,
    or range-clustered on the key) and a small store (rewrite.py's
    driver_room, checked first) comes back by collect(), which
    launches no job, and is placed by the driver mirrors of that rule;
    a long batch is sized by its first rows, so no more rows are
    collected than could fit. When it fits, the whole upsert runs in
    the driver and launches no Spark job.
  * any other batch is placed by the JVM expressions encode used, and
    ONE bounded driver collect fetches the distinct incoming bucket
    ids.
  * committed but row-less buckets take the same path with an empty
    blocks side: the incoming rows encode directly. Uncommitted bucket
    ids are refused — they mean an in-progress encode whose resume
    would duplicate the upserted keys.
  * multiplicity contract: ALL existing rows of an incoming key are
    replaced by ALL incoming rows of that key (multiset semantics —
    in-batch duplicates survive as duplicates, same as encode would
    have written them).

Evolved columns: blocks written before an evolution lack the column —
survivors null-fill it (the documented read-as-null semantics) and the
rewritten block then materializes the column for the whole bucket.
"""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest, zonemap
from . import partitioning
from .delete import KEY_TYPES, _candidate_pairs
from .rewrite import PROBE, driver_room, open_batch_store, rewrite_buckets


def _place(df: DataFrame, m: dict, key_col: str) -> DataFrame:
    """Assign the snapshot's bucket rule to incoming rows."""
    scheme = m.get("bucket_scheme", partitioning.LEGACY_SCHEME)
    if scheme in (partitioning.BUCKET_SCHEME, partitioning.LEGACY_SCHEME):
        return partitioning.with_bucket(
            df, m["num_buckets"], m.get("hot_keys") or {}, key_col, scheme
        )
    if scheme == partitioning.RANGE_SCHEME:
        cl = m["cluster_by"]
        return partitioning.with_bucket_range(
            df, cl, m["schema"][cl], m["range_boundaries"], key=key_col
        )
    if scheme == partitioning.ZORDER_SCHEME:
        zc = m["cluster_by"]
        return partitioning.with_bucket_zorder(
            df, zc, [m["schema"][c] for c in zc],
            m["zorder_cells"], m["zorder_boundaries"], key=key_col
        )
    raise ValueError(
        f"snapshot records bucket_scheme={scheme!r}: no rule can place "
        "new rows (sink-created store?) — rebuild_snapshot into a "
        "hash- or range-bucketed store first"
    )


# a local batch comes back in one collect() when it has at most this
# many rows; a longer one is sized by them first (_place_in_driver)
SLICE_ROWS = 64


def _place_in_driver(df: DataFrame, cast: dict, out_dir: str, m: dict,
                     schema: dict[str, str]) -> "pa.Table | None":
    """The placed rows of a driver-local batch `df`, each column
    projected by its `cast` to the snapshot schema: the rows come back
    by collect(), which a projection over a LocalRelation serves
    without a Spark job, and are
    placed by the key mirrors of the snapshot's bucket rule. None when
    the upsert runs on Spark: a scheme where the key does not place a
    row (upsert also probes other buckets for a key's old rows), a key
    type without a mirror, a null key, or placed rows that do not fit
    rewrite.driver_room. A batch of more than SLICE_ROWS rows is sized
    by its first SLICE_ROWS before more are collected: no more rows
    than their mean size says could fit."""
    key_col = m["key"]
    ktype = schema[key_col]
    if ktype not in KEY_TYPES or not partitioning.key_places(m):
        return None
    room = driver_room(out_dir, m)
    if room <= 0:
        return None
    scheme = m.get("bucket_scheme", partitioning.LEGACY_SCHEME)
    hot = m.get("hot_keys") or {}

    def place(rows) -> "pa.Table | None":
        keys = [r[key_col] for r in rows]
        if any(k is None for k in keys):
            return None
        if scheme == partitioning.RANGE_SCHEME:
            buckets = [partitioning.range_bucket_for_key(
                k, m["range_boundaries"], ktype) for k in keys]
        else:
            buckets = [partitioning.bucket_for_key(
                k, m["num_buckets"], hot, scheme=scheme) for k in keys]
        cols = {c: pa.array([r[i] for r in rows], zonemap.arrow_type(t))
                for i, (c, t) in enumerate(schema.items())}
        return pa.table({"bucket": pa.array(buckets, pa.int32()), **cols,
                         PROBE: pa.array([False] * len(rows), pa.bool_())})

    # tz-aware timestamps travel as epoch-us ints: collect() would turn
    # them into naive datetimes in the driver's local time zone
    proj = [F.unix_micros(e).alias(c) if schema[c] == "timestamp"
            else e.alias(c) for c, e in cast.items()]

    def collect(n: int) -> list:
        # limit first: the projection then folds over n rows, not all
        return df.limit(n).select(*proj).collect()

    rows = collect(SLICE_ROWS + 1)
    if len(rows) > SLICE_ROWS:
        first = place(rows[:SLICE_ROWS])
        if first is None or first.nbytes > room:
            return None
        cap = int(room * SLICE_ROWS // max(first.nbytes, 1))
        if cap <= SLICE_ROWS:
            return None
        rows = collect(cap + 1)
        if len(rows) > cap:
            return None
    placed = place(rows)
    return placed if placed is not None and placed.nbytes <= room else None


def upsert_table(spark: SparkSession, out_dir: str, df: DataFrame) -> dict:
    """Merge the incoming rows into the snapshot by key; returns
    {"rows_inserted", "rows_replaced", "buckets_rewritten",
    "waves_rewritten", "manifest", "plan"} (plan: "driver" or "spark",
    see operators/rewrite.py)."""
    m = open_batch_store(out_dir, "upsert_table")
    key_col = m["key"]
    schema = manifest.ordered_schema(m)
    missing = set(schema) - set(df.columns)
    extra = set(df.columns) - set(schema)
    if missing or extra:
        raise ValueError(
            f"incoming columns must match the snapshot schema exactly; "
            f"missing={sorted(missing)} extra={sorted(extra)}"
        )
    cast = {c: F.col(c).cast(manifest.SPARK_DDL_TYPES[t])
            for c, t in schema.items()}
    # a LocalRelation: the rows are in the driver
    placed = _place_in_driver(df, cast, out_dir, m, schema) \
        if df.isLocal() else None
    if placed is not None:
        return _merge(spark, out_dir, m, placed,
                      sorted(set(placed.column("bucket").to_pylist())),
                      placed.num_rows)

    df = df.select(*[e.alias(c) for c, e in cast.items()])
    bdf = _place(df, m, key_col).withColumn(PROBE, F.lit(False))
    cl = m.get("cluster_by")
    scheme = m.get("bucket_scheme")
    if (scheme == partitioning.RANGE_SCHEME and cl != key_col) or \
            scheme == partitioning.ZORDER_SCHEME:
        # placement follows the incoming row's OWN cluster value(s),
        # but a re-crawled key's OLD rows may sit in a different bucket
        # (their old cluster values — a zorder bucket is a function of
        # every cluster column, so this holds even when the key is one
        # of them). Those buckets get key-only probe rows — delete's
        # key-range candidate rule — so the kernel purges the key there
        # without inserting anything.
        ktype = schema[key_col]
        if ktype not in KEY_TYPES:
            raise ValueError(
                f"upsert on a store clustered on {cl!r} needs a "
                f"string or int64 key to locate old rows; {key_col!r} "
                f"is {ktype!r}"
            )
        kdf = df.select(key_col).dropna().distinct()
        probes = _candidate_pairs(spark, kdf, m, key_col, ktype).select(
            "bucket", key_col,
            *[F.lit(None).cast(manifest.SPARK_DDL_TYPES[t]).alias(c)
              for c, t in schema.items() if c != key_col],
            F.lit(True).alias(PROBE),
        )
        bdf = bdf.unionByName(probes.select(*bdf.columns))
    # persisted: the placement pipeline (incoming batch + bucket rule +
    # probe derivation) otherwise re-runs for the bucket-id collect AND
    # the cogroup (guide §5: reused + expensive to recompute;
    # MEMORY_AND_DISK spills, so batch size stays bounded)
    bdf = bdf.persist()
    try:
        # the one driver collect: distinct incoming buckets, <= num_buckets
        # (this action also materializes the cache, so the n_in count —
        # formerly a separate full pass over the placement pipeline —
        # is served from it)
        affected = sorted(
            int(r["bucket"]) for r in bdf.select("bucket").distinct().collect()
        )
        n_in = bdf.filter(~F.col(PROBE)).count()
        return _merge(spark, out_dir, m, bdf, affected, n_in)
    finally:
        bdf.unpersist()


def _merge(spark: SparkSession, out_dir: str, m: dict,
           placed: "DataFrame | pa.Table", affected: list[int],
           n_in: int) -> dict:
    """Both plans' tail: refuse uncommitted buckets, then rewrite."""
    if n_in == 0:
        return {"rows_inserted": 0, "rows_replaced": 0,
                "buckets_rewritten": [], "waves_rewritten": [],
                "manifest": m,
                "plan": "driver" if isinstance(placed, pa.Table) else "spark"}
    committed = {int(b) for b in m.get("committed_buckets", [])}
    born = [b for b in affected if b not in committed]
    if born:
        # a complete snapshot commits EVERY bucket id (row-less ones
        # included); an uncommitted id means an in-progress encode
        # whose resume would re-encode those buckets from source and
        # duplicate the upserted keys in a second wave
        raise ValueError(
            f"buckets {born} are not committed — the snapshot has an "
            "in-progress encode; resume it to completion before upserting"
        )
    res = rewrite_buckets(spark, out_dir, m, placed, affected, n_in)
    return {"rows_inserted": n_in, "rows_replaced": res.pop("rows_removed"),
            **res}
