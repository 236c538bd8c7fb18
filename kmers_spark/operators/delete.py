"""Key-granular DELETE on a compressed snapshot (merge-on-write).

This is the mutation behind every dedup pipeline: a dedup job names N
doomed keys, and their rows must leave the store WITHOUT rewriting the
store. The reference engine (COMBINE-lab/kmers) has no mutation surface
— its sequence stores are write-once (SURVEY §2.7) — so delete_keys is
part of this engine's own training-data-pipeline surface (dedup ->
prune), alongside functions/dedup.py which produces the doomed sets.

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
  * rewrite I/O = the wave dirs that HOLD affected buckets. Co-resident
    unaffected buckets are copied payload-verbatim (no decode, no
    re-encode); affected buckets decode -> Arrow `is_in` anti-filter
    (doomed keys arrive cogrouped per bucket — no unbounded broadcast)
    -> re-encode through the SAME kernel encode_table used, so codec
    selection, zone maps, and the manifest key ranges all regenerate
    for the surviving rows. `commit_every` at ingestion time is what
    bounds wave size; a store written as one giant wave degrades to a
    full rewrite — the documented trade against a per-bucket tombstone
    design, which would touch only affected bytes but put a
    merge-on-read anti-join in every reader's hot path forever.
  * the manifest swap is compact_waves' CAS pattern: crash before the
    commit leaves an unregistered orphan dir (swept later); crash
    after it leaves the retired dirs for lagged readers (utime + grace
    sweep). Readers are untouched — time travel to pre-delete versions
    keeps working until the retired dirs are reclaimed, and a rewritten
    bucket's rows keep their original bucket ids (salted rows must NOT
    be re-assigned: a hot key's surviving rows re-hashing into a bucket
    owned by an untouched wave would duplicate block rows there).

Streamed snapshots are refused: a bucket there holds one block set per
GENERATION, so a key's rows can live in several generations at once;
rebuild_snapshot (the streamed-store compactor) merges generations
first, after which delete_keys applies.
"""
from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest
from ..kernels import bloom as _bloomkern
from . import partitioning
from .encode import (
    BLOCK_SCHEMA,
    _blocks_path,
    _wave_name,
    _wave_rel,
    make_encode_fn_arrow,
    migrate_legacy_layout,
    sweep_orphan_waves,
)

_BLOCK_COLS = [
    "bucket", "column", "codec", "n_rows",
    "raw_nbytes", "enc_nbytes", "payload", "meta",
]
# delete probes join/compare against the key column; same restriction
# as the manifest key-range stats (string and int64 keys carry ranges)
_KEY_SPARK_TYPE = {"string": "string", "int64": "long"}


def _empty_blocks_arrow():
    import pyarrow as pa

    return pa.table({
        "bucket": pa.array([], pa.int32()),
        "column": pa.array([], pa.string()),
        "codec": pa.array([], pa.string()),
        "n_rows": pa.array([], pa.int64()),
        "raw_nbytes": pa.array([], pa.int64()),
        "enc_nbytes": pa.array([], pa.int64()),
        "payload": pa.array([], pa.binary()),
        "meta": pa.array([], pa.string()),
    })


def _make_delete_fn_arrow(schema: dict[str, str], key: str,
                          overrides: dict[str, str] | None,
                          sort_by: list[str] | None,
                          bloom_dir: str | None = None,
                          bloom_cols: list[str] | None = None,
                          ndv_cols: list[str] | None = None):
    """Cogrouped (block rows of one bucket, doomed keys of that bucket)
    -> new block rows. Decode only happens when a doomed key actually
    hits the bucket; a candidate bucket with zero hits passes its block
    rows through payload-verbatim (key-range candidates over-approximate
    by design)."""

    def fn(blocks_tbl, keys_tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        from .. import arrowcodecs

        if blocks_tbl.num_rows == 0:
            return _empty_blocks_arrow()
        col_names = blocks_tbl.column("column").to_pylist()
        if len(set(col_names)) != len(col_names):
            raise ValueError(
                f"duplicate block rows for bucket "
                f"{blocks_tbl.column('bucket')[0].as_py()} during delete: "
                f"{sorted(col_names)} (multi-generation store, or stray "
                "rows from an uncommitted write)"
            )
        idx = {c: i for i, c in enumerate(col_names)}
        if key not in idx:
            raise ValueError(
                f"bucket {blocks_tbl.column('bucket')[0].as_py()} has no "
                f"block for key column {key!r}; cannot delete by key"
            )
        verbatim = blocks_tbl.select(_BLOCK_COLS)
        if keys_tbl.num_rows == 0:
            return verbatim
        arrowcodecs.pin_worker_threads()
        metas = blocks_tbl.column("meta").to_pylist()
        payloads = blocks_tbl.column("payload")
        bucket_id = blocks_tbl.column("bucket")[0].as_py()
        key_arr = arrowcodecs.decode_column_arrow(
            payloads[idx[key]].as_py(), json.loads(metas[idx[key]])
        )
        doomed = keys_tbl.column(key)
        if isinstance(doomed, pa.ChunkedArray):
            doomed = doomed.combine_chunks()
        doomed = doomed.cast(key_arr.type)
        # a NULL store key can never equal a probe: fill_null keeps it
        hit = pc.fill_null(pc.is_in(key_arr, value_set=doomed), False)
        n_hit = pc.sum(pc.cast(hit, pa.int64())).as_py() or 0
        if n_hit == 0:
            return verbatim
        n_keep = len(key_arr) - n_hit
        if n_keep == 0:
            return _empty_blocks_arrow()
        keep = pc.invert(hit)
        arrays: dict[str, pa.Array] = {}
        for c in schema:  # manifest column order; present columns only
            if c not in idx:
                continue  # schema-evolved gap stays a gap
            arr = key_arr if c == key else arrowcodecs.decode_column_arrow(
                payloads[idx[c]].as_py(), json.loads(metas[idx[c]])
            )
            arrays[c] = arr.filter(keep)
        sub = {c: t for c, t in schema.items() if c in arrays}
        tbl = pa.table({
            **arrays,
            "bucket": pa.array([bucket_id] * n_keep, pa.int32()),
        })
        # same kernel encode_table runs: codec re-selection, zone maps,
        # and key-range meta regenerate for the survivors. The filter
        # preserved the stored row order, which IS the sort_by order
        # (order is part of the block format), so presorted=True skips
        # the in-kernel re-sort and its full-table take() copy.
        return make_encode_fn_arrow(sub, key, overrides, sort_by,
                                    bloom_dir=bloom_dir,
                                    bloom_cols=bloom_cols,
                                    ndv_cols=ndv_cols,
                                    presorted=True)(tbl)

    return fn


def collect_fresh_stats(spark: SparkSession, new_dir: str, affected: list,
                        m: dict, key_col: str):
    """Per-bucket block stats + key ranges of the freshly written wave,
    restricted to the rewritten buckets (verbatim buckets keep their
    committed stats) — the same bounded collect encode_table does:
    a handful of scalars per (bucket, column), never payloads."""
    written = (
        spark.read.schema(BLOCK_SCHEMA).parquet(new_dir)
        .filter(F.col("bucket").isin(list(affected)))
        .select(
            "bucket", "column", "codec", "n_rows", "raw_nbytes", "enc_nbytes",
            F.when(F.col("column") == key_col, F.col("meta")).alias("key_meta"),
            F.get_json_object(F.col("meta"), "$.zmin").alias("zmin"),
            F.get_json_object(F.col("meta"), "$.zmax").alias("zmax"),
            F.get_json_object(F.col("meta"), "$.znull").alias("znull"),
            F.get_json_object(F.col("meta"), "$.zsum").alias("zsum"),
            F.get_json_object(F.col("meta"), "$.znan").alias("znan"),
            F.get_json_object(F.col("meta"), "$.zndv").alias("zndv"),
            F.get_json_object(F.col("meta"), "$.zhll").alias("zhll"),
        )
        .collect()
    )
    fresh: dict[int, list[dict]] = {b: [] for b in affected}
    key_ranges: dict[int, list] = {}
    for r in written:
        st = {
            "column": r["column"], "codec": r["codec"], "n_rows": r["n_rows"],
            "raw_nbytes": r["raw_nbytes"], "enc_nbytes": r["enc_nbytes"],
        }
        if r["zmin"] is not None and r["zmax"] is not None:
            typ = m["schema"][r["column"]]
            if typ in ("int64", "timestamp", "timestamp_ntz"):
                st["zmin"], st["zmax"] = int(r["zmin"]), int(r["zmax"])
            elif typ == "double":
                st["zmin"], st["zmax"] = float(r["zmin"]), float(r["zmax"])
            else:
                st["zmin"], st["zmax"] = r["zmin"], r["zmax"]
        if r["znull"] is not None:
            st["znull"] = int(r["znull"])
        if r["zsum"] is not None:
            st["zsum"] = int(r["zsum"])
        if r["znan"] is not None:
            st["znan"] = int(r["znan"])
        if r["zndv"] is not None:
            st["zndv"] = int(r["zndv"])
        if r["zhll"] is not None:
            st["zhll"] = r["zhll"]
        fresh.setdefault(int(r["bucket"]), []).append(st)
        if r["key_meta"] is not None:
            km = json.loads(r["key_meta"])
            if "key_min" in km:
                key_ranges[int(r["bucket"])] = [km["key_min"], km["key_max"]]
    return fresh, key_ranges


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
        t = _KEY_SPARK_TYPE[ktype]
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
    m = manifest.load(out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    if m.get("streamed"):
        raise ValueError(
            f"{out_dir} is a streamed (multi-generation) snapshot; a key's "
            "rows may span generations — compact_stream + to_batch (in "
            "place) or rebuild_snapshot (fresh dir) merge them, then "
            "delete_keys applies"
        )
    m = migrate_legacy_layout(out_dir, m)
    sweep_orphan_waves(out_dir)
    key_col = m["key"]
    ktype = m["schema"].get(key_col)
    if ktype not in _KEY_SPARK_TYPE:
        raise ValueError(
            f"delete_keys needs a string or int64 key column; "
            f"{key_col!r} is {ktype!r}"
        )

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
            return {"rows_deleted": 0, "buckets_rewritten": [],
                    "waves_rewritten": [], "manifest": m}
        kdf = spark.createDataFrame(
            [(k,) for k in keys], f"`{key_col}` {_KEY_SPARK_TYPE[ktype]}"
        )
    kdf = (
        kdf.select(F.col(key_col).cast(_KEY_SPARK_TYPE[ktype]).alias(key_col))
        .dropna().distinct()
    )

    # persisted: the placement pipeline (upstream dedup output + bucket
    # rule) otherwise re-runs for the bucket-id collect AND the cogroup
    # rewrite below (guide §5: reused + expensive to recompute;
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
            return {"rows_deleted": 0, "buckets_rewritten": [],
                    "waves_rewritten": [], "manifest": m}
        return _delete_rewrite(spark, out_dir, m, key_col,
                               pairs.filter(F.col("bucket").isin(affected)),
                               affected)
    finally:
        pairs.unpersist()


def _delete_rewrite(spark: SparkSession, out_dir: str, m: dict, key_col: str,
                    pairs: DataFrame, affected: list[int]) -> dict:
    """The rewrite half of delete_keys: cogroup the affected buckets'
    block rows with their doomed keys, re-encode survivors, swap the
    manifest (pairs arrives persisted and bucket-filtered)."""
    aset = set(affected)
    wb = m.get("wave_buckets", {})
    # a wave without a recorded bucket list may hold anything: rewrite it
    retired = [
        w for w in m.get("wave_dirs", [])
        if w not in wb or aset.intersection(wb[w])
    ]
    if not retired:
        return {"rows_deleted": 0, "buckets_rewritten": [],
                "waves_rewritten": [], "manifest": m}
    old_stats = manifest.block_stats(out_dir, m, buckets=affected)

    def _rows_of(stats_list) -> int:
        for st in stats_list:
            if st.get("column") == key_col:
                return int(st.get("n_rows", 0))
        return max((int(st.get("n_rows", 0)) for st in stats_list), default=0)

    rows_before = sum(_rows_of(old_stats.get(str(b), [])) for b in affected)

    blocks = spark.read.schema(BLOCK_SCHEMA).parquet(
        *[os.path.join(out_dir, w) for w in retired]
    )
    rewrite = blocks.filter(F.col("bucket").isin(affected))
    verbatim = blocks.filter(~F.col("bucket").isin(affected))

    schema_order = manifest.ordered_schema(m)
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
        rewrite.groupBy("bucket").cogroup(pairs.groupBy("bucket"))
        .applyInArrow(
            _make_delete_fn_arrow(schema_order, key_col, overrides, sort_by,
                                  bloom_dir=bloom_dir,
                                  bloom_cols=m.get("bloom_columns"),
                                  ndv_cols=m.get("ndv_columns")),
            BLOCK_SCHEMA,
        )
    )
    (
        # one partition per hash(bucket): every bucket's block rows land
        # whole in one file (decode_colocated's contract), same as
        # compact_waves' rewrite
        rewritten.unionByName(verbatim)
        .repartition(F.col("bucket"))
        .write.mode("error")
        .option("compression", "none")
        .parquet(new_dir)
    )

    _bloomkern.finalize(new_dir)
    fresh, key_ranges = collect_fresh_stats(spark, new_dir, affected, m, key_col)
    rows_after = sum(_rows_of(fresh[b]) for b in affected)

    # Bloom sidecars: the re-encode kernel side-wrote fresh filters for
    # buckets whose key set shrank; buckets whose rows are unchanged
    # (zero-hit verbatim, or co-resident unaffected) keep exact old
    # filters — copy those forward into the new wave
    changed = _bloomkern.changed_buckets(affected, fresh, old_stats, _rows_of)
    # delete never alters values of surviving rows: a count-unchanged
    # bucket passed through payload-verbatim, so its COLUMN filters are
    # exact too — changed_cols defaults to `changed`
    new_bloom, new_bloom_cols = _bloomkern.carry_forward(
        out_dir, m, retired, new_dir, changed)

    retired_set = set(retired)
    new_rel = _wave_rel(new_dir, out_dir)

    def _owner(rel: str) -> str:
        return rel.rsplit("/", 1)[0]

    # consolidate spilled stats of retired waves (compact_waves' rule),
    # REPLACING rewritten buckets' entries with their fresh stats
    retired_spills = [
        rel for rel in m.get("stats_files", []) if _owner(rel) in retired_set
    ]
    spill_payload: dict = {}
    for rel in retired_spills:
        with open(os.path.join(out_dir, rel)) as f:
            spill_payload.update(json.load(f))
    for b in affected:
        if str(b) in spill_payload:
            spill_payload[str(b)] = fresh[b]
    new_stats_rel = None
    if spill_payload:
        new_stats_rel = f"{new_rel}/{manifest.BLOCK_STATS_NAME}"
        with open(os.path.join(out_dir, new_stats_rel), "w") as f:
            json.dump(spill_payload, f, sort_keys=True)
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
                f"{out_dir} became a streamed snapshot during delete"
            )
        kept = [d for d in cur.get("wave_dirs", []) if d not in retired_set]
        cur["wave_dirs"] = [new_rel] + kept
        wbm = cur.get("wave_buckets", {})
        if all(d in wbm for d in retired):
            merged = sorted({b for d in retired for b in wbm[d]})
        else:  # a legacy wave had no bucket list: safe superset
            merged = sorted(cur["committed_buckets"])
        cur["wave_buckets"] = {
            k: v for k, v in wbm.items() if k not in retired_set
        }
        cur["wave_buckets"][new_rel] = merged
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
                else:  # bucket emptied, or range unknowable: no stale bound
                    kr.pop(str(b), None)
        _bloomkern.swap_registration(cur, retired_set, new_rel, new_bloom,
                                     new_bloom_cols)
        return cur

    m2 = manifest.commit(out_dir, swap)
    # lagged readers may still scan the retired dirs: refresh their
    # mtime so they sit out the sweep grace window (compact_waves'
    # reader contract), then reclaim previously-retired dirs
    now = time.time()
    for d in retired:
        try:
            os.utime(os.path.join(out_dir, d), (now, now))
        except OSError:
            pass
    sweep_orphan_waves(out_dir)
    return {
        "rows_deleted": rows_before - rows_after,
        "buckets_rewritten": affected,
        "waves_rewritten": retired,
        "manifest": m2,
    }
