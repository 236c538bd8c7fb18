"""Merge-on-write: the one bucket-rewrite path of batch snapshots.

delete_keys and upsert_table are the same operation. Each names the
buckets it touches ("affected") and a set of placed rows per bucket:
key probes (`__delete_only` rows: "drop every stored row with this
key") and, for an upsert, the incoming rows to append. A delete is an
upsert whose placed rows are all probes. The protocol:

  * retire = every wave dir holding an affected bucket (a wave without
    a recorded bucket list may hold anything, so it is retired too).
    `commit_every` at ingestion time is what bounds wave size; a store
    written as one giant wave degrades to a full rewrite — the
    documented trade against a per-bucket tombstone design, which would
    touch only affected bytes but put a merge-on-read anti-join in every
    reader's hot path forever.
  * the merge kernel (_make_merge_fn) pairs each affected bucket's
    block rows with its placed rows. It decodes through
    blockdecode.decode_bucket — the readers' block-set integrity checks
    and schema-evolution allowance, so a corrupt bucket raises instead
    of committing a rewrite — drops the probed keys (Arrow `is_in`
    anti-filter), appends the new rows and re-encodes through the
    kernel encode_table runs: codec selection, zone maps, key ranges,
    Bloom filters and sketches regenerate. An evolved gap column is
    materialized as nulls. Rows are re-sorted only when some were
    appended; survivors alone keep the stored order. An affected
    bucket no probe hits, and every co-resident unaffected bucket, is
    copied payload-verbatim (only its key column decodes).
    Rewritten buckets keep their bucket ids: salted rows must NOT be
    re-assigned (a hot key's surviving rows re-hashing into a bucket
    owned by an untouched wave would duplicate block rows there).
  * two plans run that kernel; they differ only in how the new wave's
    block records are produced, and write identical block rows:
      - the DRIVER plan, when the placed rows are in the driver (a
        key list, a LocalRelation batch, on a scheme where the key
        alone places a row) and the store is small: every wave's
        committed payload (block-stats enc_nbytes over every bucket
        in its wave_buckets list) plus the placed rows' Arrow bytes
        is at most decode.LOCAL_READ_MAX_BYTES (driver_room, checked
        before anything is placed). pyarrow reads the retired waves'
        block rows, the kernel runs bucket by bucket in one thread,
        and the merged and verbatim buckets are staged as one record.
        No Spark job runs.
      - the SPARK plan otherwise: one job cogroups the affected
        buckets' block rows with their placed rows (so a billion-key
        probe set never broadcasts), and its write tasks stage the
        merged and verbatim buckets by bucket.
    Both stage through the write protocol (kmers_spark/wavewrite.py):
    whole buckets per file (decode_colocated's contract) and their
    fresh Bloom sidecars as hidden files plus their block stats, which
    the driver claims and publishes.
  * commit_rewrite, shared with compact_waves: retired waves' spilled
    stats consolidate into the new wave (rewritten buckets replaced by
    their fresh stats), still-exact Bloom sidecars carry forward, and
    one CAS manifest swap replaces the retired waves by the new one.
    A crash before the swap leaves an unregistered orphan dir (swept
    later); after it, the retired dirs get a fresh mtime so lagged
    readers finish inside the sweep grace window, and time travel to
    pre-rewrite versions works until they are reclaimed.

Streamed snapshots are refused: a bucket there holds one block set per
GENERATION, so a key's rows may span several; compact_stream merges
them (operators/compact.py, which keeps its own streamed swap).
"""
from __future__ import annotations

import json
import math
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import arrowcodecs, manifest, wavewrite
from ..kernels import bloom as bloomkern
from ..wavewrite import empty_blocks_arrow
from .encode import (
    BLOCK_SCHEMA,
    _blocks_path,
    _wave_name,
    _wave_rel,
    make_encode_fn_arrow,
    migrate_legacy_layout,
    sweep_orphan_waves,
)
from . import decode
from .partitioning import block_sort_by

BLOCK_COLS = [
    "bucket", "column", "codec", "n_rows",
    "raw_nbytes", "enc_nbytes", "payload", "meta",
]
# placed-row flag: True = key probe only (drop stored rows of this key),
# False = a row to append
PROBE = "__delete_only"


def open_batch_store(out_dir: str, op: str) -> dict:
    """The mutations' shared preamble: the current manifest of a batch
    snapshot, legacy layout migrated and orphan waves swept."""
    m = manifest.load(out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    if m.get("streamed"):
        raise ValueError(
            f"{out_dir} is a streamed (multi-generation) snapshot; a key's "
            "rows may span generations — compact_stream + to_batch (in "
            "place) or rebuild_snapshot (fresh dir) merge them, then "
            f"{op} applies"
        )
    m = migrate_legacy_layout(out_dir, m)
    sweep_orphan_waves(out_dir)
    return m


def driver_room(out_dir: str, m: dict) -> float:
    """What a mutation's placed rows may take of the driver plan's read
    budget: decode.LOCAL_READ_MAX_BYTES less every wave's committed
    payload, which bounds what any rewrite of the store retires. The
    mutations check it before placing an input in the driver. -inf when
    nothing cheap bounds that payload: a wave without a bucket list, a
    bucket without stats, or stats spilled out of the manifest
    (bounding those would open every stats file)."""
    wb = m.get("wave_buckets", {})
    waves = m.get("wave_dirs", [])
    if m.get("stats_files") or not all(w in wb for w in waves):
        return -math.inf
    held = {int(b) for w in waves for b in wb[w]}
    stats = manifest.block_stats(out_dir, m)
    if not all(str(b) in stats for b in held):
        return -math.inf
    return decode.LOCAL_READ_MAX_BYTES - decode._payload_bytes(
        stats, held, manifest.ordered_schema(m))


def _make_merge_fn(schema: dict[str, str], key: str,
                   overrides: dict[str, str], sort_by: list[str] | None,
                   missing: dict[int, set], bloom_cols: list[str] | None,
                   ndv_cols: list[str] | None):
    """Cogrouped (block rows of one bucket, its placed rows) -> new block
    rows. `missing` is the readers' evolution allowance per bucket."""

    def fn(blocks_tbl, placed):
        import pyarrow as pa
        import pyarrow.compute as pc

        from .. import blockdecode

        if placed.num_rows == 0:  # defensive: blocks are filtered to
            return blocks_tbl.select(BLOCK_COLS)  # affected buckets
        bucket_id = placed.column("bucket")[0].as_py()
        append = placed.filter(pc.invert(placed.column(PROBE).combine_chunks()))
        if blocks_tbl.num_rows == 0:
            # committed row-less bucket: encode the appended rows directly
            if append.num_rows == 0:
                return empty_blocks_arrow()
            rows = append.select(list(schema))
        else:
            allowed = missing.get(bucket_id, ())
            keys = blockdecode.decode_bucket(
                blocks_tbl, schema, allowed_missing=allowed, out_cols=[key]
            ).column(key)
            probe = placed.column(key).combine_chunks().cast(keys.type)
            # a NULL store key never matches a probe
            hit = pc.fill_null(pc.is_in(keys, value_set=probe), False)
            n_hit = pc.sum(pc.cast(hit, pa.int64())).as_py() or 0
            if n_hit == 0 and append.num_rows == 0:
                # candidates over-approximate by design: pass through
                return blocks_tbl.select(BLOCK_COLS)
            rest = blockdecode.decode_bucket(
                blocks_tbl, schema, allowed_missing=allowed,
                out_cols=[c for c in schema if c != key],
            )
            rows = pa.table({c: keys if c == key else rest.column(c)
                             for c in schema})
            if n_hit:
                rows = rows.filter(pc.invert(hit))
            if append.num_rows:
                rows = pa.concat_tables([
                    rows, append.select(list(schema)).cast(rows.schema)])
        if rows.num_rows == 0:
            return empty_blocks_arrow()
        rows = rows.append_column(
            "bucket", pa.array([bucket_id] * rows.num_rows, pa.int32()))
        return wavewrite.with_blooms(
            make_encode_fn_arrow(schema, key, overrides, sort_by,
                                 ndv_cols=ndv_cols,
                                 presorted=append.num_rows == 0),
            schema, key, bloom_cols)(rows)

    return fn


def rewrite_buckets(spark: SparkSession, out_dir: str, m: dict,
                    placed: "DataFrame | pa.Table", affected: list[int],
                    n_appended: int) -> dict:
    """Merge `placed` (bucket, key, PROBE and, for appended rows, every
    schema column; restricted to `affected`) into the affected buckets
    and commit. `n_appended` counts the non-probe rows. A DataFrame
    runs the Spark plan, a driver-side Arrow table the driver plan
    (which the callers hand over only within driver_room; module
    docstring). Returns {"rows_removed", "buckets_rewritten",
    "waves_rewritten", "manifest", "plan"}; rows_removed counts stored
    rows whose key was probed, plan is "driver" or "spark"."""
    plan = "driver" if isinstance(placed, pa.Table) else "spark"
    aset = set(affected)
    wb = m.get("wave_buckets", {})
    retired = [
        w for w in m.get("wave_dirs", [])
        if w not in wb or aset.intersection(wb[w])
    ]
    if not retired and not n_appended:
        return {"rows_removed": 0, "buckets_rewritten": [],
                "waves_rewritten": [], "manifest": m, "plan": plan}
    key_col = m["key"]
    schema = manifest.ordered_schema(m)
    held = {int(b) for w in retired for b in wb.get(w, ())}
    old_stats = manifest.block_stats(out_dir, m, buckets=sorted(aset | held))

    def rows_of(stats_list) -> int:
        for st in stats_list:
            if st.get("column") == key_col:
                return int(st.get("n_rows", 0))
        return max((int(st.get("n_rows", 0)) for st in stats_list), default=0)

    rows_before = sum(rows_of(old_stats.get(str(b), [])) for b in affected)
    missing = manifest.missing_columns(m, list(schema), old_stats) \
        if m.get("evolved") else {}
    merge = _make_merge_fn(
        schema, key_col, m.get("codec_overrides") or {},
        block_sort_by(m.get("bucket_scheme"), m.get("cluster_by"), key_col),
        missing, m.get("bloom_columns"), m.get("ndv_columns"))
    new_dir = f"{_blocks_path(out_dir)}/{_wave_name()}"
    if plan == "driver":
        published = _write_in_driver(out_dir, retired, affected, placed,
                                     merge, new_dir, schema, key_col)
    else:
        published = _write_in_spark(spark, out_dir, retired, affected, placed,
                                    merge, new_dir, schema, key_col)
    stats, key_ranges, _bb, _bc = published
    # verbatim buckets keep their committed stats
    fresh = {b: stats.get(b, []) for b in affected}
    rows_after = sum(rows_of(fresh[b]) for b in affected)
    m2 = commit_rewrite(
        out_dir, m, retired, new_dir, fresh, key_ranges,
        changed=bloomkern.changed_buckets(affected, fresh, old_stats,
                                          rows_of),
        appended=n_appended > 0,
    )
    return {
        "rows_removed": rows_before + n_appended - rows_after,
        "buckets_rewritten": affected,
        "waves_rewritten": retired,
        "manifest": m2,
        "plan": plan,
    }


def _write_in_spark(spark: SparkSession, out_dir: str, retired: list[str],
                    affected: list[int], placed: DataFrame, merge,
                    new_dir: str, schema: dict[str, str], key_col: str):
    """The Spark plan: one job cogroups the affected buckets' block rows
    with their placed rows, and its write tasks stage the merged and the
    verbatim buckets. Returns what wavewrite.publish returns."""
    if retired:
        blocks = spark.read.schema(BLOCK_SCHEMA).parquet(
            *[os.path.join(out_dir, w) for w in retired]
        )
        rewrite = blocks.filter(F.col("bucket").isin(affected))
        verbatim = blocks.filter(~F.col("bucket").isin(affected))
    else:
        rewrite = spark.createDataFrame([], BLOCK_SCHEMA)
        verbatim = None

    def merge_in_task(blocks_tbl, placed_tbl):
        arrowcodecs.pin_worker_threads()
        return merge(blocks_tbl, placed_tbl)

    rewritten = (
        rewrite.groupBy("bucket").cogroup(placed.groupBy("bucket"))
        .applyInArrow(merge_in_task, BLOCK_SCHEMA)
    )
    out = rewritten if verbatim is None else rewritten.unionByName(verbatim)
    # one partition per hash(bucket): every bucket's block rows land
    # whole in one file (decode_colocated's contract)
    return wavewrite.write_wave(out.repartition(F.col("bucket")), new_dir,
                                schema, key_col)


def _write_in_driver(out_dir: str, retired: list[str], affected: list[int],
                     placed: pa.Table, merge, new_dir: str,
                     schema: dict[str, str], key_col: str):
    """The driver plan: the retired waves' block rows are read with
    pyarrow (as decode_colocated's local plan reads them), the merge
    kernel runs bucket by bucket in this thread, and the merged and the
    verbatim buckets are staged as one record. Returns what
    wavewrite.publish returns."""
    import pyarrow.dataset as pads

    from .. import blockdecode

    empty = empty_blocks_arrow()
    tables = [
        frag.to_table(columns=BLOCK_COLS).cast(empty.schema)
        for w in retired
        for frag in pads.dataset(os.path.join(out_dir, w),
                                 format="parquet").get_fragments()
    ]
    blocks = dict(blockdecode.split_rows(pa.concat_tables(tables))) \
        if tables else {}
    placed_by = dict(blockdecode.split_rows(placed))
    # one thread: the kernel holds the GIL for most of its work, so a
    # pool only adds contention
    merged = [merge(blocks.pop(b, empty), placed_by[b]) for b in affected]
    rec = wavewrite.stage_blocks(
        pa.concat_tables([empty, *merged, *blocks.values()]), new_dir,
        schema, key_col)
    return wavewrite.publish([rec], new_dir, new_dir)


def commit_rewrite(out_dir: str, m: dict, retired: list[str], new_dir: str,
                   fresh: dict | None = None, key_ranges: dict | None = None,
                   changed: set[int] = frozenset(),
                   appended: bool = False) -> dict:
    """Retire `retired` in favour of the written `new_dir` with one CAS
    manifest swap; returns the new manifest. `fresh` holds the rewritten
    buckets' stats and `key_ranges` their key ranges (none for
    compact_waves, whose payloads move verbatim). `changed` buckets lost
    or gained keys, so their old key Bloom filters are not carried.
    `appended` rewrites may change any value of a rewritten bucket and
    may give rows to a bucket no retired wave held."""
    fresh = fresh or {}
    key_ranges = key_ranges or {}
    affected = set(fresh)
    retired_set = set(retired)
    new_rel = _wave_rel(new_dir, out_dir)

    def _owner(rel: str) -> str:
        return rel.rsplit("/", 1)[0]

    # spilled block-stats files live INSIDE wave dirs; retiring the dirs
    # would take their stats with them — consolidate every retired spill
    # into one stats file in the new dir (written before the CAS swap,
    # so it shares the new wave's visibility), REPLACING rewritten
    # buckets' entries with their fresh stats
    spill_payload: dict = {}
    for rel in m.get("stats_files", []):
        if _owner(rel) in retired_set:
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
        out_dir, m, retired_set, affected, new_rel) if affected else {}

    # Bloom sidecars live inside wave dirs too. The re-encode side-wrote
    # fresh filters for the buckets it rewrote; every other bucket kept
    # its rows, so its old filters stay exact and are copied forward. An
    # append may change every non-key value of a rewritten bucket, so
    # none of those buckets' old COLUMN filters may be carried.
    new_bloom, new_bloom_cols = bloomkern.carry_forward(
        out_dir, m, retired, new_dir, set(changed),
        changed_cols=affected if appended else None)
    grown = affected if appended else set()

    def swap(cur: dict | None) -> dict:
        if cur is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        if cur.get("streamed"):
            raise ValueError(
                f"{out_dir} became a streamed snapshot during a rewrite"
            )
        # waves committed during the rewrite stay registered
        kept = [d for d in cur.get("wave_dirs", []) if d not in retired_set]
        cur["wave_dirs"] = [new_rel] + kept
        wbm = cur.get("wave_buckets", {})
        if all(d in wbm for d in retired):
            merged = sorted({b for d in retired for b in wbm[d]} | grown)
        else:  # a legacy wave had no bucket list: safe superset
            merged = sorted(set(cur["committed_buckets"]) | grown)
        cur["wave_buckets"] = {
            k: v for k, v in wbm.items() if k not in retired_set
        }
        cur["wave_buckets"][new_rel] = merged
        if grown:
            cur["committed_buckets"] = sorted(
                set(cur["committed_buckets"]) | grown)
        if inline_updates:
            cur.setdefault("blocks", {}).update(inline_updates)
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
        bloomkern.swap_registration(cur, retired_set, new_rel, new_bloom,
                                    new_bloom_cols)
        return cur

    m2 = manifest.commit(out_dir, swap)
    # The swap unregistered the retired dirs, but a reader that loaded
    # the pre-swap manifest may still be scanning them — deleting them
    # now would fail it mid-flight. Touch them instead: as fresh
    # unregistered dirs they sit out sweep_orphan_waves' grace window
    # (readers finish), then a later sweep reclaims them. Same reader
    # contract as Iceberg: expire/vacuum lags the metadata swap.
    now = time.time()
    for d in retired:
        try:
            os.utime(os.path.join(out_dir, d), (now, now))
        except OSError:
            pass
    sweep_orphan_waves(out_dir)  # reclaims PREVIOUSLY retired dirs
    return m2
