"""Arrow-native codec layer — the one every encode/decode job runs.

Produces payloads byte-compatible with codecs.encode_column (same block
formats, same meta), but operates on Arrow buffers end-to-end:
dictionary/token encoding via pyarrow.compute (C++), bit-level packing
via numpy over the raw uint8 data buffer. No per-value Python objects —
this is what makes the encode job scale across 32 cores instead of
thrashing the allocator (see BENCH notes).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import arrowview as av
from . import codecs as codecs_mod
from .codecs import _maybe_unzlib, _maybe_zlib
from .kernels import bitpack, dictenc, foren, fsst, rle, sortdelta

_PINNED = False


def pin_worker_threads() -> None:
    """Inside a Spark python worker, Arrow's internal thread pool must be
    1: N workers x N-thread pools oversubscribe the host quadratically
    (measured: local[32] slower than local[16] until pinned)."""
    global _PINNED
    if not _PINNED:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        _PINNED = True


def _freq_order_dictionary(indices: np.ndarray, dict_arr: pa.Array):
    """Reorder an Arrow dictionary by (-count, value-bytes); returns
    (perm-mapped codes, dictionary as list[bytes]) matching
    kernels.dictenc.build_dictionary exactly."""
    d = len(dict_arr)
    if d == 0:
        return indices.astype(np.int64), []
    counts = np.bincount(indices, minlength=d)
    data, offs = av.bytes_view(dict_arr)
    vals = [data[offs[i] : offs[i + 1]].tobytes() for i in range(d)]
    order = sorted(range(d), key=lambda i: (-int(counts[i]), vals[i]))
    perm = np.empty(d, dtype=np.int64)
    for rank, old in enumerate(order):
        perm[old] = rank
    return perm[indices], [vals[i] for i in order]


def _dict_encode_arrow(arr: pa.Array):
    """(codes int64 numpy, dictionary list[bytes]) — nulls map to b""."""
    filled = arr.fill_null("" if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type) else b"")
    denc = pc.dictionary_encode(filled)
    if isinstance(denc, pa.ChunkedArray):
        denc = denc.combine_chunks()
    indices = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return _freq_order_dictionary(indices, denc.dictionary)


def encode_column_arrow(arr: pa.Array, codec: str, typ: str) -> tuple[bytes, dict]:
    """Arrow array -> (payload, meta); byte-compatible with
    codecs.encode_column on the same logical values."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if codec.startswith("seg:"):
        return _encode_segmented_arrow(arr, codec[4:], typ)
    n = len(arr)
    mask = av.validity_mask(arr)
    vblob = np.packbits(mask, bitorder="little").tobytes() if mask is not None else b""
    meta: dict = {"codec": codec, "type": typ, "n": n, "null_nbytes": len(vblob)}

    if typ in ("string", "binary"):
        buf, offs = av.bytes_view(arr)
        lens = np.diff(offs)
        codecs_mod._check_block_bytes(int(offs[-1] - offs[0]))
        if codec == "plain":
            o32 = np.zeros(n + 1, dtype="<u4")
            o32[1:] = np.cumsum(lens)
            body = o32.tobytes() + buf.tobytes()
        elif codec in ("dict", "dict_rle"):
            codes, dictionary = _dict_encode_arrow(arr)
            width = bitpack.width_for(max(len(dictionary) - 1, 0))
            dict_blob = dictenc.serialize_dictionary(dictionary)
            meta["dict_size"] = len(dictionary)
            meta["dict_nbytes"] = len(dict_blob)
            meta["code_width"] = width
            if codec == "dict":
                body = dict_blob + bitpack.pack(codes.astype(np.uint64), width)
            else:
                rle_blob, rmeta = rle.encode(codes.astype(np.uint64))
                meta["rle"] = rmeta
                body = dict_blob + rle_blob
        elif codec == "fsst":
            cut = int(offs[min(n, 4096)])
            table = fsst.train_arrays(buf[:cut], lens[: min(n, 4096)])
            body, fmeta = fsst.encode_arrays(buf, lens, table)
            meta["fsst"] = fmeta
        elif codec == "words":
            body, wmeta = _words_encode_arrow(arr)
            meta["words"] = wmeta
        elif codec == "words_seg":
            from .kernels import words as words_kernel

            codes, counts, dictionary = _words_tokenize_arrow(arr)
            body, wmeta = words_kernel.encode_shared(
                codes, counts, dictionary, codecs_mod.SEG_ROWS
            )
            meta["words_seg"] = wmeta
            # per-segment backstops inside the kernel; no outer pass
            return vblob + body, meta
        elif codec == "fsst_seg":
            body, fmeta = fsst.encode_shared_seg(
                np.ascontiguousarray(buf), lens.astype(np.int64),
                codecs_mod.SEG_ROWS,
            )
            meta["fsst_seg"] = fmeta
            # per-segment backstops inside the kernel; no outer pass
            return vblob + body, meta
        elif codec == "prefix":
            body, pmeta = _prefix_encode_arrow(buf, offs)
            meta["prefix"] = pmeta
        else:
            raise ValueError(f"codec {codec!r} not valid for type {typ!r}")

    elif typ in ("int64", "timestamp", "timestamp_ntz"):
        v = av.int64_values(arr)
        if codec == "plain":
            body = v.astype("<i8").tobytes()
        elif codec == "for_bitpack":
            body, fmeta = foren.encode(v)
            meta["for"] = fmeta
        elif codec == "rle_int":
            body, rmeta = rle.encode(v.view(np.uint64))
            meta["rle"] = rmeta
        elif codec == "sortdelta":
            body, sdmeta = sortdelta.encode(v)
            meta["sortdelta"] = sdmeta
        elif codec == "dict_rle_int":
            uniq, codes = np.unique(v, return_inverse=True)
            rle_blob, rmeta = rle.encode(codes.astype(np.uint64))
            meta["rle"] = rmeta
            meta["dict_size"] = len(uniq)
            body = uniq.astype("<i8").tobytes() + rle_blob
        else:
            raise ValueError(f"codec {codec!r} not valid for type {typ!r}")

    elif typ == "double":
        v = arr.cast(pa.float64()).to_numpy(zero_copy_only=False).copy()
        if mask is not None:
            v[~mask] = 0.0
        body, codec = codecs_mod._encode_double(v, codec, meta)

    elif typ == "float_array":
        if codec != "vec_plain":
            raise ValueError(f"codec {codec!r} not valid for type {typ!r}")
        # element counts with nulls as 0, then one flat float32 buffer —
        # byte-identical to the pandas path (flatten drops null slots)
        lens = pc.fill_null(pc.list_value_length(arr), 0) \
            .to_numpy(zero_copy_only=False).astype(np.int64)
        codecs_mod._check_block_bytes(int(lens.sum()) * 4)
        offs = np.zeros(n + 1, dtype="<u4")
        offs[1:] = np.cumsum(lens, dtype=np.uint64)
        flat = arr.flatten().cast(pa.float32()) \
            .to_numpy(zero_copy_only=False).astype("<f4")
        body = offs.tobytes() + flat.tobytes()
    else:
        raise ValueError(f"unknown type {typ!r}")

    return _maybe_zlib(vblob + body, meta), meta


def _words_tokenize_arrow(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, list]:
    """Arrow-native twin of kernels.words.tokenize_dict: identical
    (codes, counts, dictionary) for the same logical values."""
    is_str = pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)
    filled = arr.fill_null("" if is_str else b"")
    lst = pc.split_pattern(filled, " ")
    if isinstance(lst, pa.ChunkedArray):
        lst = lst.combine_chunks()
    counts = np.diff(np.frombuffer(lst.buffers()[1], dtype=np.int32)[lst.offset : lst.offset + len(lst) + 1]).astype(np.int64)
    flat = lst.flatten()
    denc = pc.dictionary_encode(flat)
    if isinstance(denc, pa.ChunkedArray):
        denc = denc.combine_chunks()
    indices = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    codes, dictionary = _freq_order_dictionary(indices, denc.dictionary)
    return codes.astype(np.int64), counts, dictionary


def _words_encode_arrow(arr: pa.Array) -> tuple[bytes, dict]:
    """Arrow path of kernels.words: split/flatten/dict-encode in C++."""
    codes, counts, dictionary = _words_tokenize_arrow(arr)
    n = len(arr)
    width = bitpack.width_for(max(len(dictionary) - 1, 0))
    dict_blob = dictenc.serialize_dictionary(dictionary)
    codes_blob = bitpack.pack(codes.astype(np.uint64), width)
    cw = bitpack.width_for(int(counts.max()) if n else 0)
    counts_blob = bitpack.pack(counts.astype(np.uint64), cw)
    meta = {
        "n": n,
        "n_tokens": int(len(codes)),
        "dict_size": len(dictionary),
        "dict_nbytes": len(dict_blob),
        "code_width": width,
        "codes_nbytes": len(codes_blob),
        "count_width": cw,
    }
    return dict_blob + codes_blob + counts_blob, meta


def _prefix_encode_arrow(buf: np.ndarray, offs: np.ndarray) -> tuple[bytes, dict]:
    """Arrow path of kernels.prefix: padded-matrix common prefixes from
    the raw buffer, suffix gather, FSST over suffixes."""
    n = len(offs) - 1
    lens = np.diff(offs)
    cps = np.zeros(n, dtype=np.int64)
    if n > 1 and buf.size:
        maxlen = int(lens.max())
        if maxlen > 0:
            idx = offs[:-1, None] + np.arange(maxlen)
            valid = np.arange(maxlen) < lens[:, None]
            mat = np.where(valid, buf[np.minimum(idx, buf.size - 1)], 0).astype(np.uint8)
            eq = (mat[1:] == mat[:-1]) & valid[1:] & valid[:-1]
            neq = ~eq
            mismatch = np.argmax(neq, axis=1)
            all_eq = ~neq.any(axis=1)
            pairmin = np.minimum(lens[1:], lens[:-1])
            mm = np.where(all_eq, pairmin, mismatch)
            cps[1:] = np.minimum(mm, pairmin)
    suf_lens = lens - cps
    total = int(suf_lens.sum())
    if total:
        reps = suf_lens
        intra = _intra(reps)
        src = np.repeat(offs[:-1] + cps, reps) + intra
        suf_buf = buf[src]
    else:
        suf_buf = np.zeros(0, dtype=np.uint8)
    cw = bitpack.width_for(int(cps.max()) if n else 0)
    cp_blob = bitpack.pack(cps.astype(np.uint64), cw)
    cut_n = min(n, 4096)
    cut = int(suf_lens[:cut_n].sum())
    # short suffix fragments: full 1-2 byte table, no merge rounds (measured)
    table = fsst.train_arrays(suf_buf[:cut], suf_lens[:cut_n], round1_cap=fsst.MAX_SYMBOLS)
    body, fmeta = fsst.encode_arrays(suf_buf, suf_lens, table, merge_rounds=0)
    meta = {"n": n, "cp_width": cw, "cp_nbytes": len(cp_blob), "fsst": fmeta}
    return cp_blob + body, meta


def _intra(reps: np.ndarray) -> np.ndarray:
    """[0..reps[0]), [0..reps[1]), ... concatenated; robust to zero reps."""
    total = int(reps.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    gid = np.repeat(np.arange(len(reps)), reps)
    starts = np.concatenate(([0], np.cumsum(reps)))[:-1]
    return np.arange(total, dtype=np.int64) - starts[gid]


# ------------------------------------------------------------------ stats

def column_stats_arrow(arr: pa.Array, typ: str, sample_max: int = 8192) -> dict:
    """Deterministic stats over (a prefix sample of) one column chunk,
    computed from buffers (no per-value Python objects);
    selector.select_codec maps them to a codec."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    s = arr.slice(0, min(len(arr), sample_max))
    n = len(s)
    stats: dict = {"n": n, "n_null": s.null_count, "n_total": len(arr)}
    if typ == "float_array":
        return stats  # vectors: no distinct/run stats, codec is vec_plain
    if n == 0 or s.null_count == n:
        stats.update(distinct=0, mean_run=0.0)
        return stats

    stats["distinct"] = int(pc.count_distinct(s).as_py()) + (1 if s.null_count else 0)
    if n > 1:
        a, b = s.slice(1), s.slice(0, n - 1)
        neq = pc.fill_null(pc.not_equal(a, b), True)
        changes = int(pc.sum(neq.cast(pa.int32())).as_py() or 0) + 1
        stats["mean_run"] = n / changes
    else:
        stats["mean_run"] = 1.0

    if typ in ("string", "binary"):
        sb = s.slice(0, min(n, 1024))
        buf, offs = av.bytes_view(sb)
        lens = np.diff(offs)
        if buf.size:
            counts = np.bincount(buf, minlength=256)
            p = counts[counts > 0] / buf.size
            stats["byte_entropy"] = float(-(p * np.log2(p)).sum())
        else:
            stats["byte_entropy"] = 0.0
        n_valid = len(sb) - sb.null_count
        stats["avg_len"] = float(buf.size / max(n_valid, 1))
        # consecutive common prefix (sorted-key / front-coding signal)
        sb512 = s.slice(0, min(n, 512))
        b512, o512 = av.bytes_view(sb512)
        if len(sb512) > 1:
            stats["avg_common_prefix"] = float(
                _common_prefix_lens_arrays(b512, o512)[1:].mean()
            )
        # token stats (word-dictionary signal)
        is_str = pa.types.is_string(s.type) or pa.types.is_large_string(s.type)
        try:
            lst = pc.split_pattern(sb.fill_null("" if is_str else b""), " ")
            flat = lst.flatten()
            n_tok = len(flat)
            if n_tok:
                stats["tokens_per_value"] = n_tok / len(sb)
                stats["distinct_tokens"] = int(pc.count_distinct(flat).as_py())
                fb, _ = av.bytes_view(flat)
                stats["avg_tok_len"] = fb.size / n_tok
        except pa.ArrowInvalid:
            pass
    elif typ in ("int64", "timestamp", "timestamp_ntz"):
        iv = av.int64_values(s)
        mask = av.validity_mask(s)
        if mask is not None:
            iv = iv[mask]
        if len(iv) > 1:
            stats["sortedness"] = float((np.diff(iv) >= 0).mean())
        else:
            stats["sortedness"] = 1.0
        if len(iv):
            stats["range_bits"] = max(int(iv.max()) - int(iv.min()), 0).bit_length()
    elif typ == "double":
        from .kernels import floats

        fv = s.cast(pa.float64()).to_numpy(zero_copy_only=False)
        mask = av.validity_mask(s)
        if mask is not None:
            fv = fv[mask]
        fv = np.ascontiguousarray(fv)
        stats["dec_scale"] = floats.find_dec_scale(fv)
        stats["xor_zero_frac"] = floats.xor_zero_frac(fv)
    return stats


def _common_prefix_lens_arrays(buf: np.ndarray, offs: np.ndarray) -> np.ndarray:
    n = len(offs) - 1
    lens = np.diff(offs)
    cps = np.zeros(n, dtype=np.int64)
    if n > 1 and buf.size:
        maxlen = int(lens.max())
        if maxlen > 0:
            idx = offs[:-1, None] + np.arange(maxlen)
            valid = np.arange(maxlen) < lens[:, None]
            mat = np.where(valid, buf[np.minimum(idx, buf.size - 1)], 0).astype(np.uint8)
            eq = (mat[1:] == mat[:-1]) & valid[1:] & valid[:-1]
            neq = ~eq
            mismatch = np.argmax(neq, axis=1)
            all_eq = ~neq.any(axis=1)
            pairmin = np.minimum(lens[1:], lens[:-1])
            mm = np.where(all_eq, pairmin, mismatch)
            cps[1:] = np.minimum(mm, pairmin)
    return cps


# ------------------------------------------------------------------ decode

def _encode_segmented_arrow(arr: pa.Array, inner: str, typ: str) -> tuple[bytes, dict]:
    """Arrow twin of codecs.encode_segmented: same SEG_ROWS boundaries,
    same inner encoders — byte-identical payloads to the pandas path."""
    n = len(arr)
    parts: list[bytes] = []
    inner_metas: list[dict] = []
    for off in range(0, n, codecs_mod.SEG_ROWS):
        seg = arr.slice(off, codecs_mod.SEG_ROWS)
        payload, m = encode_column_arrow(seg, inner, typ)
        parts.append(payload)
        inner_metas.append(m)
    meta = {
        "codec": f"seg:{inner}", "type": typ, "n": n,
        "seg_lens": [len(p) for p in parts], "inner": inner_metas,
    }
    return b"".join(parts), meta


def _concat_arrays(parts: list, typ: str) -> pa.Array:
    from . import zonemap

    if not parts:
        return pa.array([], type=zonemap.arrow_type(typ))
    if len(parts) == 1:
        return parts[0]
    return pa.chunked_array(parts).combine_chunks()


def decode_segmented_arrow(payload: bytes, meta: dict) -> pa.Array:
    parts = []
    off = 0
    for m, ln in zip(meta["inner"], meta["seg_lens"]):
        parts.append(decode_column_arrow(payload[off : off + ln], m))
        off += ln
    return _concat_arrays(parts, meta["type"])


def decode_column_arrow_selected(payload: bytes, meta: dict, sel: np.ndarray) -> pa.Array:
    """Rows `sel` (bool ndarray, len n) selects, in order — the
    page-skipping read: segments with no selected row are neither
    decompressed nor decoded. Non-segmented codecs fall back to
    decode-all-then-filter (identical result)."""
    sel = np.asarray(sel, dtype=bool)
    if meta["codec"] == "words_seg":
        n = meta["n"]
        nb = meta.get("null_nbytes", 0)
        mask = None
        if nb:
            mask = np.unpackbits(
                np.frombuffer(payload, np.uint8, count=nb), count=n,
                bitorder="little",
            ).astype(bool)
        return _words_seg_decode_arrow(
            payload[nb:], meta["words_seg"], meta["type"], mask, sel
        )
    if meta["codec"] == "fsst_seg":
        n = meta["n"]
        nb = meta.get("null_nbytes", 0)
        mask = None
        if nb:
            mask = np.unpackbits(
                np.frombuffer(payload, np.uint8, count=nb), count=n,
                bitorder="little",
            ).astype(bool)
        from . import zonemap

        atype = zonemap.arrow_type(meta["type"])
        buf, offs = fsst.decode_shared_seg_arrays(payload[nb:],
                                                  meta["fsst_seg"], sel)
        m2 = mask[sel] if mask is not None else None
        return _bytes_array(atype, len(offs) - 1, offs.astype(np.int32),
                            buf, m2)
    if not meta["codec"].startswith("seg:"):
        return decode_column_arrow(payload, meta).filter(pa.array(sel))
    parts = []
    off_b = 0
    off_r = 0
    for m, ln in zip(meta["inner"], meta["seg_lens"]):
        seg_sel = sel[off_r : off_r + m["n"]]
        if seg_sel.any():
            arr = decode_column_arrow(payload[off_b : off_b + ln], m)
            parts.append(arr.filter(pa.array(seg_sel)))
        off_b += ln
        off_r += m["n"]
    return _concat_arrays(parts, meta["type"])


def decode_column_arrow(payload: bytes, meta: dict, spark_type: "pa.DataType | None" = None) -> pa.Array:
    """payload -> Arrow array (the decode hot path: values are assembled
    as buffers, dictionary/token expansion happens in C++)."""
    n, typ, codec = meta["n"], meta["type"], meta["codec"]
    if codec.startswith("seg:"):
        return decode_segmented_arrow(payload, meta)
    payload = _maybe_unzlib(payload, meta)
    nb = meta.get("null_nbytes", 0)
    mask = None
    if nb:
        mask = np.unpackbits(
            np.frombuffer(payload, np.uint8, count=nb), count=n, bitorder="little"
        ).astype(bool)
    body = payload[nb:]

    if typ in ("string", "binary"):
        atype = pa.string() if typ == "string" else pa.binary()
        if codec == "plain":
            offs = np.frombuffer(body, dtype="<u4", count=n + 1).astype(np.int32)
            data = body[4 * (n + 1) :]
            return _bytes_array(atype, n, offs, np.frombuffer(data, np.uint8), mask)
        if codec in ("dict", "dict_rle"):
            dictionary = dictenc.deserialize_dictionary(body[: meta["dict_nbytes"]])
            rest = body[meta["dict_nbytes"] :]
            if codec == "dict":
                codes = bitpack.unpack(rest, meta["code_width"], n)
            else:
                codes = rle.decode(rest, meta["rle"])
            dict_arr = pa.array(dictionary, type=pa.binary())
            dense = pc.take(dict_arr, pa.array(codes.astype(np.int64)))
            out = dense if typ == "binary" else dense.cast(pa.string())
            return _with_mask(out, mask)
        if codec == "fsst":
            buf, offs = fsst.decode_arrays(body, meta["fsst"])
            return _bytes_array(atype, n, offs.astype(np.int32), buf, mask)
        if codec == "words":
            return _words_decode_arrow(body, meta["words"], typ, mask)
        if codec == "words_seg":
            return _words_seg_decode_arrow(body, meta["words_seg"], typ, mask)
        if codec == "fsst_seg":
            buf, offs = fsst.decode_shared_seg_arrays(body, meta["fsst_seg"])
            return _bytes_array(atype, n, offs.astype(np.int32), buf, mask)
        if codec == "prefix":
            return _prefix_decode_arrow(body, meta["prefix"], typ, mask)
        raise ValueError(f"unknown codec {codec!r}")

    if typ in ("int64", "timestamp", "timestamp_ntz"):
        if codec == "plain":
            v = np.frombuffer(body, dtype="<i8", count=n).astype(np.int64)
        elif codec == "for_bitpack":
            v = np.asarray(foren.decode(body, meta["for"]))
        elif codec == "rle_int":
            v = rle.decode(body, meta["rle"]).view(np.int64)
        elif codec == "sortdelta":
            v = sortdelta.decode(body, meta["sortdelta"])
        elif codec == "dict_rle_int":
            ds = meta["dict_size"]
            uniq = np.frombuffer(body, dtype="<i8", count=ds).astype(np.int64)
            codes = rle.decode(body[8 * ds :], meta["rle"])
            v = uniq[codes.astype(np.int64)] if n else np.zeros(0, dtype=np.int64)
        else:
            raise ValueError(f"unknown codec {codec!r}")
        arr = pa.array(v, type=pa.int64())
        if typ == "timestamp":
            arr = arr.cast(pa.timestamp("us", tz="UTC"))
        elif typ == "timestamp_ntz":
            arr = arr.cast(pa.timestamp("us"))
        return _with_mask(arr, mask)

    if typ == "double":
        v = codecs_mod._decode_double(body, meta, n)
        return _with_mask(pa.array(v, type=pa.float64()), mask)

    if typ == "float_array":
        offs = np.frombuffer(body, dtype="<u4", count=n + 1).astype("<i4")
        flat = np.frombuffer(body[4 * (n + 1):], dtype="<f4",
                             count=int(offs[-1]))
        values = pa.Array.from_buffers(
            pa.float32(), len(flat), [None, pa.py_buffer(flat.tobytes())]
        )
        null_buf = None
        nc = 0
        if mask is not None:
            null_buf = pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())
            nc = int((~mask).sum())
        return pa.Array.from_buffers(
            pa.list_(pa.float32()), n,
            [null_buf, pa.py_buffer(np.ascontiguousarray(offs).tobytes())],
            null_count=nc, children=[values],
        )
    raise ValueError(f"unknown type {typ!r}")


def _bytes_array(atype, n, offs32, data: np.ndarray, mask) -> pa.Array:
    if n and int(offs32[-1]) < 0:  # int32 overflow from a corrupt block
        raise ValueError("decoded offsets overflow int32; corrupt block")
    null_buf = None
    nc = 0
    if mask is not None:
        null_buf = pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())
        nc = int((~mask).sum())
    return pa.Array.from_buffers(
        atype, n,
        [null_buf, pa.py_buffer(np.ascontiguousarray(offs32, dtype="<i4").tobytes()),
         pa.py_buffer(data.tobytes())],
        null_count=nc,
    )


def _with_mask(arr: pa.Array, mask) -> pa.Array:
    if mask is None:
        return arr
    return pc.if_else(pa.array(mask), arr, pa.scalar(None, arr.type))


def _words_seg_decode_arrow(body: bytes, wmeta: dict, typ: str, mask,
                            sel: np.ndarray | None = None) -> pa.Array:
    """Shared-dict segment decode, Arrow-native per segment; with `sel`,
    unselected segments are neither decompressed nor decoded and only
    selected rows are materialized."""
    from .kernels import words as words_kernel

    atype = pa.string() if typ == "string" else pa.binary()
    n = wmeta["n"]
    if n == 0:
        return pa.array([], type=atype)
    dictionary = words_kernel.shared_dictionary(body, wmeta)
    dict_arr = pa.array(dictionary, type=pa.binary())
    parts = []
    for r0, codes, counts in words_kernel.iter_segments(body, wmeta, sel):
        dense = pc.take(dict_arr, pa.array(codes))
        offs = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=offs[1:])
        lists = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)), dense)
        joined = pc.binary_join(lists, b" ")
        if sel is not None:
            joined = joined.filter(pa.array(sel[r0 : r0 + len(counts)]))
        parts.append(joined)
    out = _concat_arrays(parts, "binary")
    if typ == "string":
        out = out.cast(pa.string())
    if mask is not None and sel is not None:
        mask = mask[sel]
    return _with_mask(out, mask)


def _words_decode_arrow(body: bytes, wmeta: dict, typ: str, mask) -> pa.Array:
    n = wmeta["n"]
    if n == 0:
        return pa.array([], type=pa.string() if typ == "string" else pa.binary())
    dictionary = dictenc.deserialize_dictionary(body[: wmeta["dict_nbytes"]])
    rest = body[wmeta["dict_nbytes"] :]
    codes = bitpack.unpack(rest[: wmeta["codes_nbytes"]], wmeta["code_width"], wmeta["n_tokens"])
    counts = bitpack.unpack(rest[wmeta["codes_nbytes"] :], wmeta["count_width"], n)
    dict_arr = pa.array(dictionary, type=pa.binary())
    dense = pc.take(dict_arr, pa.array(codes.astype(np.int64)))
    offs_i64 = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts.astype(np.int64), out=offs_i64[1:])
    lists = pa.ListArray.from_arrays(pa.array(offs_i64.astype(np.int32)), dense)
    joined = pc.binary_join(lists, b" ")
    out = joined if typ == "binary" else joined.cast(pa.string())
    return _with_mask(out, mask)


def _prefix_decode_arrow(body: bytes, pmeta: dict, typ: str, mask) -> pa.Array:
    n = pmeta["n"]
    atype = pa.string() if typ == "string" else pa.binary()
    if n == 0:
        return pa.array([], type=atype)
    cps = bitpack.unpack(body[: pmeta["cp_nbytes"]], pmeta["cp_width"], n).astype(np.int64)
    suf_buf, suf_offs = fsst.decode_arrays(body[pmeta["cp_nbytes"] :], pmeta["fsst"])
    suf_lens = np.diff(suf_offs)
    lens = cps + suf_lens
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    maxcps = int(cps.max()) if n else 0
    prefix_total = int(cps.sum())
    # Front coding resolves without row order: byte j of row i equals
    # suf[k][j - cps[k]] for k = last row <= i with cps[k] <= j (row i
    # inherits [0, cps[i]) from row i-1, recursively; valid front coding
    # guarantees j < lens[k] at the stop row). Columnwise that k is a
    # running maximum, so the whole decode is one suffix scatter plus
    # maxcps accumulate/gather passes -- no per-row Python. Guard: the
    # columnwise pass costs O(maxcps*n); a lone deep prefix (maxcps*n >>
    # prefix bytes) degenerates it, so fall back to the sequential copy.
    if suf_buf.size:
        dst = np.repeat(offs[:-1] + cps, suf_lens) + _intra(suf_lens)
        out[dst] = suf_buf
    if maxcps and maxcps * n <= 64 * prefix_total:
        idx = np.arange(n, dtype=np.int64)
        for j in range(maxcps):
            need = cps > j
            src = np.maximum.accumulate(np.where(cps <= j, idx, -1))
            rows = idx[need]
            k = src[rows]
            out[offs[rows] + j] = suf_buf[suf_offs[k] + (j - cps[k])]
    elif maxcps:
        for i in range(1, n):
            if cps[i]:
                out[offs[i] : offs[i] + cps[i]] = out[offs[i - 1] : offs[i - 1] + cps[i]]
    return _bytes_array(atype, n, offs.astype(np.int32), out, mask)
