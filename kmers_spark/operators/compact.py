"""In-place generation compaction for STREAMED snapshots.

A writeStream sink commits one generation per (micro-batch, bucket):
a year of 1-minute batches leaves ~500k generations per bucket, and
every read pays one file open + one block decode per generation —
read amplification grows without bound while the data doesn't.
`compact_stream` merges each bucket's generations into ONE (decode ->
concat -> re-encode through the same kernel encode_table runs), in
place, while the stream keeps appending. This is the streamed twin of
`compact_waves` (operators/encode.py), which refuses streamed stores
because its payload-verbatim rewrite would collapse generations into
duplicate (bucket, column) rows; the reference engine has no streaming
or mutation surface (SURVEY §2.7) — this is part of the engine's own
100-TB ingestion story, like delete/upsert.

Scale shape:
  * one Spark write job: block rows of the merged waves, grouped per
    bucket (applyInArrow), staged through the write protocol
    (kmers_spark/wavewrite.py); per-task memory is bounded at one
    bucket's generations (the same bound every read of that bucket
    already pays). Payload bytes never visit the driver; the write
    tasks return the per-(bucket, column) stat scalars.
  * concurrency: appends may land DURING the compaction. The manifest
    swap is a CAS mutation that re-validates the merged waves are
    still the list's PREFIX (wave_dirs is append-only for streamed
    stores between compactions) — concurrently appended generations
    stay registered untouched, and their inline stat entries survive
    via suffix arithmetic (commit order == list order).
  * running readers: the stream reader's offset counts generations
    ever appended. Compaction advances `stream_wave_base`; a reader
    positioned at/after the watermark is untouched (its slice maps
    into the surviving tail), a VIRGIN checkpoint reads merged history
    + tail exactly once, and a checkpoint strictly inside the merged
    range raises (manifest.stream_dirs_between) — re-emitting merged
    rows would duplicate what it already consumed. Iceberg's
    incremental-read-across-rewrite rule; `keep_last` leaves the
    newest N generations unmerged so active readers with bounded lag
    never hit it.
  * crash safety: compact_waves' contract — crash before the CAS swap
    leaves an unregistered orphan dir (swept later); crash after it
    leaves the retired dirs for lagged readers (utime + grace sweep);
    time travel to pre-compaction versions works until reclamation.

Evolution watermarks survive: `evolution_waves` marks are wave-list
indexes, so the swap remaps them into the post-compaction list (the
merged wave carries REAL blocks for every evolved column — the kernel
null-fills generations the per-wave allowance permits and raises on
corrupt post-evolution generations, same rule as every reader).
"""
from __future__ import annotations

import json
import os
import time

import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import manifest, wavewrite
from ..kernels import bloom as _bloomkern
from ..wavewrite import empty_blocks_arrow
from .encode import (
    BLOCK_SCHEMA,
    _blocks_path,
    _wave_name,
    _wave_rel,
    make_encode_fn_arrow,
    sweep_orphan_waves,
)


def _make_merge_fn_arrow(schema: dict[str, str], key: str,
                         overrides: dict[str, str] | None,
                         wave_order: dict[str, int],
                         gen_allow: dict[str, set] | None,
                         bloom_cols: list[str] | None,
                         ndv_cols: list[str] | None):
    """(block rows of one bucket across generations, with _gen file
    provenance) -> merged block rows. Decodes each generation through
    the bucket-decode kernel with the per-wave evolution allowance
    (null-fill what a generation legitimately predates, RAISE on a
    corrupt post-evolution generation), concatenates in generation
    order, and re-encodes through the same kernel encode_table uses —
    codec re-selection, zone maps, key ranges, blooms and sketches all
    regenerate for the merged rows."""

    def fn(tbl):
        import pyarrow as pa

        from .. import arrowcodecs
        from ..blockdecode import decode_bucket, split_rows, wave_of

        if tbl.num_rows == 0:
            return empty_blocks_arrow()
        arrowcodecs.pin_worker_threads()
        bucket_id = tbl.column("bucket")[0].as_py()
        waves = [wave_of(p) for p in tbl.column("_gen").to_pylist()]
        stray = sorted(set(waves) - set(wave_order))
        if stray:
            raise ValueError(
                f"bucket {bucket_id}: block rows from waves {stray} which "
                "are not in the compaction's merge set (stray file?)"
            )
        gens = split_rows(tbl.append_column("_w", pa.array(waves)), "_w")
        decoded = []
        for w, rows in sorted(gens, key=lambda g: wave_order[g[0]]):
            try:
                decoded.append(decode_bucket(
                    rows, schema, allowed_missing=(gen_allow or {}).get(w, ())
                ))
            except ValueError as e:  # name the corrupt generation
                raise ValueError(f"generation {w!r}: {e}") from e
        merged = pa.concat_tables(decoded)
        merged = merged.append_column(
            "bucket", pa.array([bucket_id] * merged.num_rows, pa.int32())
        )
        return wavewrite.with_blooms(
            make_encode_fn_arrow(schema, key, overrides, ndv_cols=ndv_cols),
            schema, key, bloom_cols)(merged)

    return fn


def compact_stream(spark: SparkSession, out_dir: str, *,
                   keep_last: int = 0) -> dict:
    """Merge a streamed snapshot's committed generations (all but the
    newest `keep_last` waves) into one generation per bucket, in place.
    Returns {"merged_waves", "buckets", "manifest"}. See module
    docstring for the reader/offset contract."""
    m = manifest.load(out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest in {out_dir}")
    if not m.get("streamed"):
        raise ValueError(
            f"{out_dir} is a batch snapshot; compact_waves is its "
            "(payload-verbatim, cheaper) compactor"
        )
    sweep_orphan_waves(out_dir)
    L = list(m.get("wave_dirs", []))
    cut = max(0, len(L) - max(0, int(keep_last)))
    old = L[:cut]
    if len(old) < 2:
        return {"merged_waves": [], "buckets": [], "manifest": m}
    old_set = set(old)
    wb = m.get("wave_buckets", {})
    if not all(d in wb for d in old):
        raise ValueError(
            "a merged wave has no recorded bucket list (corrupt streamed "
            "manifest: commit_wave_append always records wave_buckets)"
        )
    affected = sorted({int(b) for d in old for b in wb[d]})
    schema_order = manifest.ordered_schema(m)
    key_col = m["key"]
    overrides = m.get("codec_overrides") or {}
    gen_allow = manifest.wave_allowance(m, list(schema_order))
    old_names = {d.rsplit("/", 1)[-1] for d in old}
    wave_order = {d.rsplit("/", 1)[-1]: i for i, d in enumerate(old)}
    if gen_allow is not None:
        gen_allow = {w: v for w, v in gen_allow.items() if w in old_names}

    blocks = (
        spark.read.schema(BLOCK_SCHEMA)
        .parquet(*[os.path.join(out_dir, d) for d in old])
        .withColumn("_gen", F.input_file_name())
    )
    # inline-stat attribution for the swap: commit order == list order,
    # so the entries old generations contributed are a PREFIX of each
    # bucket's inline list, one per block row. Waves that spilled their
    # stats contributed none. Counted in the driver from the bucket
    # column alone (payloads pruned): no Spark job.
    spilled_old = {
        rel.rsplit("/", 1)[0] for rel in m.get("stats_files", [])
    } & old_set
    inline_old = [d for d in old if d not in spilled_old]
    old_inline_len: dict[int, int] = {}
    if inline_old:
        buckets = pads.dataset([
            pads.dataset(os.path.join(out_dir, d), format="parquet")
            for d in inline_old
        ]).to_table(columns=["bucket"]).column("bucket")
        for r in pc.value_counts(buckets).to_pylist():
            old_inline_len[int(r["values"])] = int(r["counts"])

    new_dir = f"{_blocks_path(out_dir)}/{_wave_name()}"
    merged = blocks.groupBy("bucket").applyInArrow(
        _make_merge_fn_arrow(schema_order, key_col, overrides,
                             wave_order, gen_allow,
                             m.get("bloom_columns"),
                             m.get("ndv_columns")),
        BLOCK_SCHEMA,
    )
    # each group is a whole bucket, so the write tasks hold whole
    # buckets; every Bloom filter is rebuilt fresh (nothing to carry)
    stats, key_ranges, new_bloom, new_bloom_cols = wavewrite.write_wave(
        merged, new_dir, schema_order, key_col)
    fresh = {b: stats.get(b, []) for b in affected}
    new_rel = _wave_rel(new_dir, out_dir)

    # fresh stats spill to the new wave's file when the store already
    # runs spilled (or the merged stats alone cross the threshold) —
    # deterministic before the CAS so mutation retries see one truth
    n_fresh = sum(len(v) for v in fresh.values())
    spill = bool(m.get("stats_files")) or (
        n_fresh + len(fresh) > manifest.STATS_SPILL_ENTRIES
        or manifest._zhll_bytes({str(b): v for b, v in fresh.items()})
        > manifest.STATS_SPILL_BYTES
    )
    new_stats_rel = None
    if spill:
        new_stats_rel = f"{new_rel}/{manifest.BLOCK_STATS_NAME}"
        with open(os.path.join(out_dir, new_stats_rel), "w") as f:
            json.dump({str(b): v for b, v in fresh.items()}, f,
                      sort_keys=True)
            f.flush()
            os.fsync(f.fileno())

    def _owner(rel: str) -> str:
        return rel.rsplit("/", 1)[0]

    def swap(cur: dict | None) -> dict:
        if cur is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        if not cur.get("streamed"):
            raise ValueError(f"{out_dir} stopped being streamed mid-compact")
        cl = cur.get("wave_dirs", [])
        if cl[:len(old)] != old:
            raise ValueError(
                "concurrent compaction detected: the merged waves are no "
                "longer the wave list's prefix — re-run compact_stream "
                "against the fresh manifest"
            )
        kept = cl[len(old):]
        cur["wave_dirs"] = [new_rel] + kept
        # stream offset watermark: sequences consumed by this merge.
        # A previously-merged head wave has no sequence of its own.
        base = cur.get("stream_wave_base")
        consumed = len(old) if base is None else len(old) - 1
        cur["stream_wave_base"] = (base or 0) + consumed
        # evolution marks are wave-list indexes; remap into the new
        # list. mark <= len(old): every merged generation's evolution
        # status was resolved by the re-encode (real blocks for every
        # column) -> nothing predates the column any more (mark 0).
        # mark > len(old): the merged wave predates the column (index
        # 0 < remapped mark keeps its allowance); kept wave at old
        # index i predates iff i < mark <=> new index < mark-len(old)+1.
        ev = cur.get("evolution_waves")
        if ev:
            for c, w in list(ev.items()):
                w = int(w)
                ev[c] = 0 if w <= len(old) else w - len(old) + 1
        wbm = cur.get("wave_buckets", {})
        cur["wave_buckets"] = {
            k: v for k, v in wbm.items() if k not in old_set
        }
        cur["wave_buckets"][new_rel] = list(affected)
        # inline stats: old generations' entries are each bucket's
        # prefix; fresh merged stats replace them, entries appended by
        # kept/concurrent generations survive as the suffix
        inline = cur.setdefault("blocks", {})
        for b in affected:
            suffix = inline.get(str(b), [])[old_inline_len.get(b, 0):]
            head = [] if spill else fresh.get(b, [])
            if head or suffix:
                inline[str(b)] = head + suffix
            else:
                inline.pop(str(b), None)
        if "stats_files" in cur or new_stats_rel:
            rels = [rel for rel in cur.get("stats_files", [])
                    if _owner(rel) not in old_set]
            if new_stats_rel:
                rels.append(new_stats_rel)
            if rels:
                cur["stats_files"] = rels
            else:
                cur.pop("stats_files", None)
        # key ranges: exact for buckets only the merge holds; widened
        # (never replaced) where a kept/concurrent generation may hold
        # rows outside the merged range
        kr = cur.get("bucket_key_ranges")
        if kr is not None:
            kept_holds = {
                int(b) for d in cur["wave_dirs"][1:]
                for b in cur["wave_buckets"].get(d, ())
            }
            for b in affected:
                rng = key_ranges.get(b)
                if b in kept_holds:
                    if rng is not None and str(b) in kr \
                            and type(kr[str(b)][0]) is type(rng[0]):
                        kr[str(b)] = [min(kr[str(b)][0], rng[0]),
                                      max(kr[str(b)][1], rng[1])]
                elif rng is not None:
                    kr[str(b)] = rng
                else:
                    kr.pop(str(b), None)
        _bloomkern.swap_registration(cur, old_set, new_rel, new_bloom,
                                     new_bloom_cols)
        return cur

    m2 = manifest.commit(out_dir, swap)
    # lagged readers may still scan the retired dirs: refresh mtime so
    # they sit out the sweep grace window, then reclaim previously
    # retired dirs (compact_waves' reader contract)
    now = time.time()
    for d in old:
        try:
            os.utime(os.path.join(out_dir, d), (now, now))
        except OSError:
            pass
    sweep_orphan_waves(out_dir)
    return {"merged_waves": old, "buckets": affected, "manifest": m2}


def to_batch(out_dir: str) -> dict:
    """Freeze a FULLY-compacted streamed snapshot into batch semantics
    (streamed=False), unlocking the whole batch surface: delete_keys,
    upsert_keys, compact_waves, exact count(DISTINCT key) stats. The
    retirement path for a finished ingest: stop the sink, run
    compact_stream(keep_last=0), then to_batch.

    Refuses while any bucket still holds more than one generation —
    batch readers assume one block set per bucket (their duplicate-
    block integrity check would reject the store, and the batch
    block_stats merge rule would hide generations). The conversion is
    metadata-only and reversible by nature: a restarted sink's next
    commit_wave_append sets streamed=True again and the preserved
    stream_epochs keep replay detection exact. Stop stream READERS
    first, too: a batch store's offsets carry no generation count, so
    a streamed checkpoint can't continue against it."""

    def mutate(m: dict | None) -> dict:
        if m is None:
            raise FileNotFoundError(f"no manifest in {out_dir}")
        if not m.get("streamed"):
            return m  # already batch: idempotent
        seen: dict[int, str] = {}
        wb = m.get("wave_buckets", {})
        for d in m.get("wave_dirs", []):
            if d not in wb:
                raise ValueError(
                    f"wave {d} has no recorded bucket list; cannot prove "
                    "single-generation layout"
                )
            for b in wb[d]:
                if int(b) in seen:
                    raise ValueError(
                        f"bucket {b} still holds generations in {seen[int(b)]} "
                        f"and {d}: run compact_stream(keep_last=0) first"
                    )
                seen[int(b)] = d
        m["streamed"] = False
        return m

    return manifest.commit(out_dir, mutate)
