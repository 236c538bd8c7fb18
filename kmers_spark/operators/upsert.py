"""Key-granular UPSERT (merge-on-write) into a compressed snapshot.

Completes the mutation surface next to delete_keys: `upsert_table`
replaces every existing row whose key appears in the incoming batch
and inserts the batch — MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN
NOT MATCHED THEN INSERT, collapsed to whole-row semantics. The
reference engine's stores are write-once (SURVEY §2.7), so like
delete this is engine-own surface: re-crawled pages arrive as (url,
new html/text/ts) batches and must supersede their old rows without
rewriting the store.

Scale shape (mirrors operators/delete.py):

  * incoming rows are bucketed by the snapshot's OWN rule — the same
    JVM expressions encode used (salted hot keys and heavy boundary
    values stay key-deterministic). Externally-bucketed stores are
    refused: no recorded rule can place a NEW row.
  * ONE bounded driver collect: the distinct incoming bucket ids.
  * rewrite I/O = wave dirs holding affected committed buckets;
    co-resident untouched buckets copy payload-verbatim. Affected
    buckets decode -> anti-filter on the incoming keys (cogrouped per
    bucket, so a billion-row batch never broadcasts) -> concat with
    the incoming rows -> re-encode through the SAME kernel encode used
    (codec re-selection, zone maps, key ranges regenerate). Committed
    but row-less buckets take the same path with an empty blocks side:
    the incoming rows encode directly. Uncommitted bucket ids are
    refused — they mean an in-progress encode whose resume would
    duplicate the upserted keys.
  * multiplicity contract: ALL existing rows of an incoming key are
    replaced by ALL incoming rows of that key (multiset semantics —
    in-batch duplicates survive as duplicates, same as encode would
    have written them).
  * the manifest swap is delete_keys' CAS pattern; time travel to
    pre-upsert versions keeps working until retired dirs are swept.

Streamed snapshots are refused (a key's rows may span generations);
rebuild_snapshot merges them first. Evolved columns: blocks written
before an evolution lack the column — survivors null-fill it (the
documented read-as-null semantics) and the rewritten block then
materializes the column for the whole bucket.
"""
from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest
from ..kernels import bloom as _bloomkern
from . import partitioning
from .delete import _empty_blocks_arrow, collect_fresh_stats
from .encode import (
    BLOCK_SCHEMA,
    _blocks_path,
    _wave_name,
    _wave_rel,
    make_encode_fn_arrow,
    migrate_legacy_layout,
    sweep_orphan_waves,
)

_SPARK_TYPE = {
    "string": "string",
    "binary": "binary",
    "int64": "long",
    "double": "double",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
    "float_array": "array<float>",
}
_BLOCK_COLS = [
    "bucket", "column", "codec", "n_rows",
    "raw_nbytes", "enc_nbytes", "payload", "meta",
]


def _make_upsert_fn_arrow(schema: dict[str, str], key: str,
                          overrides: dict[str, str] | None,
                          sort_by: list[str] | None,
                          bloom_dir: str | None = None,
                          bloom_cols: list[str] | None = None,
                          ndv_cols: list[str] | None = None):
    """Cogrouped (block rows of one bucket, incoming rows of that
    bucket) -> new block rows. Existing rows whose key appears in the
    incoming batch are dropped; survivors and the batch concat and
    re-encode. A brand-new bucket arrives with an empty blocks side."""
    encode_group = make_encode_fn_arrow(schema, key, overrides, sort_by,
                                        bloom_dir=bloom_dir,
                                        bloom_cols=bloom_cols,
                                        ndv_cols=ndv_cols)

    def fn(blocks_tbl, rows_tbl):
        import json as _json

        import pyarrow as pa
        import pyarrow.compute as pc

        from .. import arrowcodecs

        if rows_tbl.num_rows == 0:  # defensive: blocks filtered to
            return blocks_tbl.select(_BLOCK_COLS)  # affected buckets
        # probe keys = every incoming key (real rows AND delete-only
        # probes for old rows displaced to other buckets); only the
        # real rows append
        append = rows_tbl.filter(
            pc.invert(rows_tbl.column("__delete_only").combine_chunks())
        )
        bucket_id = rows_tbl.column("bucket")[0].as_py()
        if blocks_tbl.num_rows == 0:
            if append.num_rows == 0:
                return _empty_blocks_arrow()
            # committed row-less bucket: encode the batch directly
            return encode_group(append.select([*schema, "bucket"]))
        arrowcodecs.pin_worker_threads()
        col_names = blocks_tbl.column("column").to_pylist()
        if len(set(col_names)) != len(col_names):
            raise ValueError(
                f"duplicate block rows for bucket {bucket_id} during "
                f"upsert: {sorted(col_names)}"
            )
        idx = {c: i for i, c in enumerate(col_names)}
        if key not in idx:
            raise ValueError(
                f"bucket {bucket_id} has no block for key column {key!r}"
            )
        metas = blocks_tbl.column("meta").to_pylist()
        payloads = blocks_tbl.column("payload")
        key_arr = arrowcodecs.decode_column_arrow(
            payloads[idx[key]].as_py(), _json.loads(metas[idx[key]])
        )
        probe = rows_tbl.column(key).combine_chunks().cast(key_arr.type)
        # NULL store keys never match a probe
        hitmask = pc.fill_null(pc.is_in(key_arr, value_set=probe), False)
        n_hit = pc.sum(pc.cast(hitmask, pa.int64())).as_py() or 0
        if append.num_rows == 0 and n_hit == 0:
            # probe-only bucket, no old rows here: candidates
            # over-approximate by design — pass through verbatim
            return blocks_tbl.select(_BLOCK_COLS)
        keep = pc.invert(hitmask)
        n_keep = len(key_arr) - n_hit
        incoming = {
            c: append.column(c).combine_chunks() for c in schema
        }
        cols: dict[str, pa.Array] = {}
        for c in schema:
            if c in idx:
                arr = key_arr if c == key else arrowcodecs.decode_column_arrow(
                    payloads[idx[c]].as_py(), _json.loads(metas[idx[c]])
                )
                surv = arr.filter(keep) if n_hit else arr
                new = incoming[c].cast(surv.type)
            else:  # evolved gap: read-as-null, materialized by this write
                new = incoming[c]
                surv = pa.nulls(n_keep, new.type)
            cols[c] = pa.concat_arrays([surv, new])
        n_out = n_keep + append.num_rows
        if n_out == 0:
            return _empty_blocks_arrow()
        return encode_group(pa.table({
            **cols, "bucket": pa.array([bucket_id] * n_out, pa.int32()),
        }))

    return fn


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


def upsert_table(spark: SparkSession, out_dir: str, df: DataFrame) -> dict:
    """Merge the incoming rows into the snapshot by key; returns
    {"rows_inserted", "rows_replaced", "buckets_rewritten",
    "waves_rewritten", "manifest"}."""
    m = manifest.load(out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    if m.get("streamed"):
        raise ValueError(
            f"{out_dir} is a streamed (multi-generation) snapshot; "
            "compact_stream + to_batch (in place) or rebuild_snapshot "
            "(fresh dir) merge generations, then upsert_table applies"
        )
    m = migrate_legacy_layout(out_dir, m)
    sweep_orphan_waves(out_dir)
    key_col = m["key"]
    schema = manifest.ordered_schema(m)
    missing = set(schema) - set(df.columns)
    extra = set(df.columns) - set(schema)
    if missing or extra:
        raise ValueError(
            f"incoming columns must match the snapshot schema exactly; "
            f"missing={sorted(missing)} extra={sorted(extra)}"
        )
    df = df.select(*[
        F.col(c).cast(_SPARK_TYPE[t]).alias(c) for c, t in schema.items()
    ])

    bdf = _place(df, m, key_col).withColumn("__delete_only", F.lit(False))
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
        from .delete import _candidate_pairs

        ktype = schema[key_col]
        if ktype not in ("string", "int64"):
            raise ValueError(
                f"upsert on a store clustered on {cl!r} needs a "
                f"string or int64 key to locate old rows; {key_col!r} "
                f"is {ktype!r}"
            )
        kdf = df.select(key_col).dropna().distinct()
        probes = _candidate_pairs(spark, kdf, m, key_col, ktype).select(
            "bucket", key_col,
            *[F.lit(None).cast(_SPARK_TYPE[t]).alias(c)
              for c, t in schema.items() if c != key_col],
            F.lit(True).alias("__delete_only"),
        )
        bdf = bdf.unionByName(probes.select(*bdf.columns))
    # persisted: the placement pipeline (incoming batch + bucket rule +
    # probe derivation) otherwise re-runs for the bucket-id collect AND
    # the cogroup below (guide §5: reused + expensive to recompute;
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
        n_in = bdf.filter(~F.col("__delete_only")).count()
        if n_in == 0:
            return {"rows_inserted": 0, "rows_replaced": 0,
                    "buckets_rewritten": [], "waves_rewritten": [],
                    "manifest": m}
        return _upsert_rewrite(spark, out_dir, m, schema, key_col, bdf,
                               n_in, affected)
    finally:
        bdf.unpersist()


def _upsert_rewrite(spark: SparkSession, out_dir: str, m: dict,
                    schema: dict[str, str], key_col: str, bdf: DataFrame,
                    n_in: int, affected: list[int]) -> dict:
    """The rewrite half of upsert_table: cogroup affected buckets' block
    rows with the placed incoming rows (bdf arrives persisted), merge +
    re-encode, swap the manifest."""
    committed = {int(b) for b in m.get("committed_buckets", [])}
    born = [b for b in affected if b not in committed]
    if born:
        # a complete snapshot commits EVERY bucket id (row-less ones
        # included); an uncommitted id means an in-progress encode whose
        # resume would re-encode those buckets from source and duplicate
        # the upserted keys in a second wave
        raise ValueError(
            f"buckets {born} are not committed — the snapshot has an "
            "in-progress encode; resume it to completion before upserting"
        )
    hit = affected

    aset = set(hit)
    wb = m.get("wave_buckets", {})
    retired = [
        w for w in m.get("wave_dirs", [])
        if w not in wb or aset.intersection(wb[w])
    ]
    old_stats = manifest.block_stats(out_dir, m, buckets=hit) if hit else {}

    def _rows_of(stats_list) -> int:
        for st in stats_list:
            if st.get("column") == key_col:
                return int(st.get("n_rows", 0))
        return max((int(st.get("n_rows", 0)) for st in stats_list), default=0)

    rows_before = sum(_rows_of(old_stats.get(str(b), [])) for b in hit)

    if retired:
        blocks = spark.read.schema(BLOCK_SCHEMA).parquet(
            *[os.path.join(out_dir, w) for w in retired]
        )
        rewrite = blocks.filter(F.col("bucket").isin(affected))
        verbatim = blocks.filter(~F.col("bucket").isin(affected))
    else:
        rewrite = spark.createDataFrame([], BLOCK_SCHEMA)
        verbatim = None

    overrides = m.get("codec_overrides") or {}
    cl = m.get("cluster_by")
    sort_by = (
        [cl, key_col]
        if m.get("bucket_scheme") == partitioning.RANGE_SCHEME and cl
        and cl != key_col else None
    )
    if m.get("bucket_scheme") == partitioning.ZORDER_SCHEME and cl:
        sort_by = [c for c in cl if c != key_col] + [key_col]
    new_dir = f"{_blocks_path(out_dir)}/{_wave_name()}"
    bloom_dir = _bloomkern.stage_dir(new_dir)
    rewritten = (
        rewrite.groupBy("bucket").cogroup(bdf.groupBy("bucket"))
        .applyInArrow(
            _make_upsert_fn_arrow(schema, key_col, overrides, sort_by,
                                  bloom_dir=bloom_dir,
                                  bloom_cols=m.get("bloom_columns"),
                                  ndv_cols=m.get("ndv_columns")),
            BLOCK_SCHEMA,
        )
    )

    out = rewritten if verbatim is None else rewritten.unionByName(verbatim)
    (
        out.repartition(F.col("bucket"))
        .write.mode("error")
        .option("compression", "none")
        .parquet(new_dir)
    )

    _bloomkern.finalize(new_dir)
    fresh, key_ranges = collect_fresh_stats(
        spark, new_dir, affected, m, key_col)
    rows_after = sum(_rows_of(fresh[b]) for b in affected)

    # Bloom sidecars: fresh filters were side-written for re-encoded
    # buckets; verbatim buckets' key sets are unchanged, so their old
    # filters stay exact and are copied forward (delete_keys' rule)
    changed = _bloomkern.changed_buckets(affected, fresh, old_stats, _rows_of)
    # COLUMN filters: an equal-count upsert replaces rows key-for-key —
    # the key set (and so the key filter) is unchanged, but non-key
    # VALUES may differ, so no affected bucket's old column filter may
    # be carried (the kernel side-wrote fresh ones for every bucket it
    # re-encoded; a missing one degrades to no pruning, never staleness)
    new_bloom, new_bloom_cols = _bloomkern.carry_forward(
        out_dir, m, retired, new_dir, changed,
        changed_cols={int(b) for b in affected})

    retired_set = set(retired)
    new_rel = _wave_rel(new_dir, out_dir)

    def _owner(rel: str) -> str:
        return rel.rsplit("/", 1)[0]

    import json as _json

    retired_spills = [
        rel for rel in m.get("stats_files", []) if _owner(rel) in retired_set
    ]
    spill_payload: dict = {}
    for rel in retired_spills:
        with open(os.path.join(out_dir, rel)) as f:
            spill_payload.update(_json.load(f))
    for b in affected:
        if str(b) in spill_payload:
            spill_payload[str(b)] = fresh[b]
    new_stats_rel = None
    if spill_payload:
        new_stats_rel = f"{new_rel}/{manifest.BLOCK_STATS_NAME}"
        with open(os.path.join(out_dir, new_stats_rel), "w") as f:
            _json.dump(spill_payload, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
    inline_updates = {
        str(b): fresh[b] for b in affected if str(b) not in spill_payload
    }
    # spill MIGRATION may have parked affected buckets' entries in a
    # SURVIVING wave's stats file; purge them (manifest helper) so no
    # read path can see the pre-rewrite stats
    stats_swaps = manifest.amend_surviving_stats_files(
        out_dir, m, retired_set, set(affected), new_rel)

    def swap(cur: dict | None) -> dict:
        if cur is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        if cur.get("streamed"):
            raise ValueError(
                f"{out_dir} became a streamed snapshot during upsert"
            )
        kept = [d for d in cur.get("wave_dirs", []) if d not in retired_set]
        cur["wave_dirs"] = [new_rel] + kept
        wbm = cur.get("wave_buckets", {})
        if all(d in wbm for d in retired):
            merged = sorted(
                {b for d in retired for b in wbm[d]} | set(affected)
            )
        else:  # a legacy wave had no bucket list: safe superset
            merged = sorted(set(cur["committed_buckets"]) | set(affected))
        cur["wave_buckets"] = {
            k: v for k, v in wbm.items() if k not in retired_set
        }
        cur["wave_buckets"][new_rel] = merged
        cur["committed_buckets"] = sorted(
            set(cur["committed_buckets"]) | set(affected)
        )
        inline = cur.setdefault("blocks", {})
        for b_str, st in inline_updates.items():
            inline[b_str] = st
        if "stats_files" in cur:
            cur["stats_files"] = [
                stats_swaps.get(rel, rel)
                for rel in cur["stats_files"]
                if _owner(rel) not in retired_set
                and stats_swaps.get(rel, rel) is not None
            ]
            if new_stats_rel:
                cur["stats_files"].append(new_stats_rel)
            if not cur["stats_files"]:
                del cur["stats_files"]
        kr = cur.get("bucket_key_ranges")
        if kr is not None:
            for b in affected:
                if b in key_ranges:
                    kr[str(b)] = key_ranges[b]
                else:
                    kr.pop(str(b), None)
        _bloomkern.swap_registration(cur, retired_set, new_rel, new_bloom,
                                     new_bloom_cols)
        return cur

    m2 = manifest.commit(out_dir, swap)
    now = time.time()
    for d in retired:
        try:
            os.utime(os.path.join(out_dir, d), (now, now))
        except OSError:
            pass
    sweep_orphan_waves(out_dir)
    return {
        "rows_inserted": n_in,
        "rows_replaced": rows_before + n_in - rows_after,
        "buckets_rewritten": hit,
        "waves_rewritten": retired,
        "manifest": m2,
    }
