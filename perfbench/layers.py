"""Per-layer facts the traced run reports: in-process replays of the
codec layer on seeded sample buckets, and counts read from a store's
manifest and files."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from kmers_spark import arrowcodecs, manifest, selector
from kmers_spark.operators import partitioning

# every codec select_codec can return for the type
CANDIDATES = {
    "string": ["plain", "dict", "dict_rle", "fsst", "prefix", "words"],
    "binary": ["plain", "dict", "dict_rle", "fsst", "prefix", "words"],
    "timestamp": ["plain", "rle_int", "dict_rle_int", "for_bitpack"],
}
REPLAY_REPS = 3


def file_sizes(root: str) -> dict[str, int]:
    """path -> size of every file under root, Hadoop .crc checksum
    files excluded."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".crc"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def store_bytes(out_dir: str) -> int:
    """Bytes the live store occupies: the committed wave dirs plus the
    current manifest version (retired waves awaiting their sweep and
    past manifest versions are not counted)."""
    m = manifest.load(out_dir)
    total = sum(sum(file_sizes(os.path.join(out_dir, w)).values())
                for w in m.get("wave_dirs", []))
    v = manifest.current_version(out_dir)
    return total + os.path.getsize(
        os.path.join(out_dir, f"{manifest.VERSION_PREFIX}{v}.json"))


def bucket_rows(out_dir: str) -> dict[int, int]:
    m = manifest.load(out_dir)
    key = m["key"]
    out = {}
    for b, stats in manifest.block_stats(out_dir, m).items():
        out[int(b)] = sum(int(s["n_rows"]) for s in stats if s["column"] == key)
    return out


def codec_ratio(out_dir: str) -> dict[str, float]:
    """Per column: encoded payload bytes / raw bytes over the store."""
    m = manifest.load(out_dir)
    raw: dict[str, int] = {}
    enc: dict[str, int] = {}
    for stats in manifest.block_stats(out_dir, m).values():
        for s in stats:
            raw[s["column"]] = raw.get(s["column"], 0) + int(s["raw_nbytes"])
            enc[s["column"]] = enc.get(s["column"], 0) + int(s["enc_nbytes"])
    return {c: enc[c] / raw[c] for c in raw if raw[c]}


def sample_buckets(src_dir: str, out_dir: str, rng: np.random.Generator,
                   n: int = 2) -> list[pa.Table]:
    """`n` seeded buckets of the source, assigned by the store's own
    bucket rule and sorted by key as the encode kernel sorts them."""
    m = manifest.load(out_dir)
    table = pq.read_table(src_dir)
    urls = table.column("url").to_pylist()
    hot = m.get("hot_keys") or {}
    scheme = m.get("bucket_scheme", partitioning.BUCKET_SCHEME)
    ids = np.array([partitioning.bucket_for_key(u, m["num_buckets"], hot,
                                                scheme=scheme) for u in urls])
    present = np.unique(ids)
    picked = rng.choice(present, size=min(n, len(present)), replace=False)
    out = []
    for b in sorted(int(x) for x in picked):
        t = table.filter(pa.array(ids == b))
        out.append(t.take(pc.sort_indices(t, sort_keys=[("url", "ascending")])))
    return out


def install_spans(tracer) -> None:
    """Span the driver-side layer entry points the operators call. Each
    wrapper also records, at the same boundary, the count that layer's
    ratio metric needs."""
    from kmers_spark import zonemap
    from kmers_spark.operators import agg, decode

    def kept(span, args, _kw, result):
        span.attrs.update(kept=len(result),
                          total=len(args[0].get("committed_buckets", [])))

    def bloom_filters(span, args, kw, result):
        buckets = args[3] if len(args) > 3 else kw["buckets"]
        span.attrs.update({"in": len(buckets), "out": len(result)})

    def bloom_keys(span, args, _kw, result):
        span.attrs.update({"in": len(args[3]), "out": len(result)})

    def decoded(span, args, kw, _result):
        b = kw.get("buckets")
        span.attrs.update(out_dir=args[1], buckets=None if b is None else list(b))

    tracer.wrap(manifest, "load", "manifest.load")
    tracer.wrap(manifest, "load_with_version", "manifest.load")
    tracer.wrap(manifest, "block_stats", "manifest.block_stats")
    tracer.wrap(manifest, "commit", "manifest.commit")
    tracer.wrap(zonemap, "prune_buckets", "zonemap.prune", on_call=kept)
    # lookups probe the key sidecars, scans and aggregates the column ones
    tracer.wrap(decode, "_bloom_prune", "bloom.probe", on_call=bloom_keys)
    for mod in (decode, agg):
        tracer.wrap(mod, "bloom_prune_filters", "bloom.probe", on_call=bloom_filters)
        tracer.wrap(mod, "decode_colocated", "decode.colocated", on_call=decoded)


def annotate_decodes(ops, spans) -> None:
    """Per op: buckets and rows its decode_colocated calls decoded."""
    rows_of: dict[str, dict[int, int]] = {}
    by_op: dict[int, list] = {}
    for s in spans:
        if s.name == "decode.colocated":
            by_op.setdefault(s.op, []).append(s)
    for op in ops:
        buckets: set[tuple[str, int]] = set()
        for s in by_op.get(op.info["op_id"], []):
            d = s.attrs["out_dir"]
            if d not in rows_of:
                rows_of[d] = bucket_rows(d)
            chosen = rows_of[d] if s.attrs["buckets"] is None else s.attrs["buckets"]
            buckets.update((d, int(b)) for b in chosen)
        op.info["buckets_decoded"] = len(buckets)
        op.info["rows_decoded"] = sum(rows_of[d].get(b, 0) for d, b in buckets)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def replay_codecs(buckets: list[pa.Table], schema: dict[str, str],
                  rng: np.random.Generator) -> tuple[dict, list[str]]:
    """Replays the encode kernel's per-column steps in this process.
    Returns ({metric: value}, [errors]); a decode that does not give
    back the input is an error."""
    metrics: dict[str, float] = {}
    errors: list[str] = []
    for col, typ in schema.items():
        t_stats, t_enc, t_dec, t_sel = [], [], [], []
        chosen_bytes = best_bytes = 0
        for t in buckets:
            arr = t.column(col).combine_chunks()
            sel = np.zeros(len(arr), dtype=bool)
            sel[rng.choice(len(arr), size=max(1, len(arr) // 100), replace=False)] = True
            for _ in range(REPLAY_REPS):
                dt_s, stats = _timed(arrowcodecs.column_stats_arrow, arr, typ)
                dt_c, codec = _timed(selector.select_codec, stats, typ)
                t_stats.append(dt_s + dt_c)
                dt, (payload, meta) = _timed(arrowcodecs.encode_column_arrow,
                                             arr, codec, typ)
                t_enc.append(dt)
                dt, back = _timed(arrowcodecs.decode_column_arrow, payload, meta)
                t_dec.append(dt)
                dt, picked = _timed(arrowcodecs.decode_column_arrow_selected,
                                    payload, meta, sel)
                t_sel.append(dt)
            if not back.cast(arr.type).equals(arr):
                errors.append(f"decode_column_arrow({col}, {codec}) != input")
            if not picked.cast(arr.type).equals(arr.filter(pa.array(sel))):
                errors.append(f"decode_column_arrow_selected({col}, {codec}) != input")
            sizes = []
            for cand in CANDIDATES[typ]:
                try:
                    sizes.append(len(arrowcodecs.encode_column_arrow(arr, cand, typ)[0]))
                except (ValueError, KeyError, OverflowError):
                    continue  # codec does not apply to this block
            chosen_bytes += len(payload)
            best_bytes += min(sizes + [len(payload)])
        metrics[f"arrowcodecs.encode_s.{col}"] = statistics.median(t_enc)
        metrics[f"arrowcodecs.decode_s.{col}"] = statistics.median(t_dec)
        metrics[f"arrowcodecs.decode_selected_s.{col}"] = statistics.median(t_sel)
        metrics[f"selector.stats_s.{col}"] = statistics.median(t_stats)
        metrics[f"selector.size_regret.{col}"] = chosen_bytes / best_bytes
    return metrics, errors
