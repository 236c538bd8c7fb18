"""Pandas reference codec: pd.Series <-> (payload bytes, meta dict).

The engine encodes and decodes through arrowcodecs. This module is the
reference implementation the tests compare the Arrow code against
(same block formats, same meta), and it holds the shared helpers
arrowcodecs imports. The block format stores what the kmers crate
deliberately does not — logical lengths and validity — in block
metadata, the lesson of `Naive::decode` emitting trailing pad symbols
(SURVEY.md §2.2 D7:
/root/reference/src/encoding/naive.rs:306,327 test comments).

Block contract (all little-endian):
  * meta is a JSON-safe dict: {"codec", "type", "n", "null_nbytes", ...}
  * nulls: validity bitmap (np.packbits little) prepended to the payload;
    null slots are encoded as the type's zero value and restored to None.
  * string round-trips are bit-identical: values travel as UTF-8 bytes.

Logical types: string, binary, int64, timestamp (int64 us), double.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

ZLIB_MIN_GAIN = 0.92  # keep backstopped payload only if it shrinks >8%


def _zstd():
    """zstd-6 one-shot codec (pyarrow bundles libzstd). Lazy: workers
    construct it once per process. Level choice measured on the five
    pages column bodies (BENCH/ROUND3.md): zstd plateaus ~1.4% larger
    than zlib-6 from level 6 up (0.474 vs 0.468 body ratio), while the
    attempt runs 1.7x faster (40 ms vs 69 ms per 2.8 MB) and
    decompression is faster still; level 3 was 2.5x faster but 6%
    larger — level 6 is the balance point."""
    import pyarrow as pa

    global _ZSTD_CODEC
    try:
        return _ZSTD_CODEC
    except NameError:
        _ZSTD_CODEC = pa.Codec("zstd", compression_level=6)
        return _ZSTD_CODEC


def _maybe_zlib(payload: bytes, meta: dict) -> bytes:
    """Entropy backstop: deterministic zstd-3 over the final payload
    when the codec output still has byte-level redundancy (e.g.
    front-coded url residuals). Decode inverts via meta["z"].

    The ATTEMPT runs on every block payload even when discarded, so its
    cost is pure encode overhead. Measured warm on the five pages
    column bodies (2.8 MB, BENCH/ROUND3.md): zlib-6 takes 69 ms to
    0.468 body ratio; zstd-6 takes 40 ms to 0.474 (zstd plateaus there
    — level 12 is no smaller); zstd decompression is also faster.
    Net: ~1.7x cheaper attempt and faster decode for ~0.1% on the
    table-level ratio. meta z=1 (legacy zlib blocks) still decodes;
    new blocks write z="zstd" + zn (raw length for one-shot
    decompress)."""
    z = _zstd().compress(payload)
    if len(z) < ZLIB_MIN_GAIN * len(payload):
        meta["z"] = "zstd"
        meta["zn"] = len(payload)
        return bytes(z)
    return payload


def _maybe_unzlib(payload: bytes, meta: dict) -> bytes:
    z = meta.get("z")
    if not z:
        return payload
    if z == "zstd":
        return bytes(_zstd().decompress(payload, meta["zn"]))
    return zlib.decompress(payload)  # legacy z=1 blocks

from .kernels import bitpack, dictenc, floats, foren, fsst, prefix, rle, sortdelta, words

STRING_CODECS = ("plain", "dict", "dict_rle", "fsst", "words", "prefix")
# scan-optimized storage, OVERRIDE-ONLY (never auto-selected): segments
# cost compression ratio — zstd loses cross-row template redundancy at
# segment boundaries (measured on the pages fixture: words_seg 1.44×
# on html even with the dictionary shared; generic per-segment dicts
# 1.5-1.7×) — in exchange for 6-7× faster selective decode (a scan
# touches the dict part + matching segments only). The default path
# already late-materializes via the kernel mask at zero ratio cost;
# pick these per column (codec_overrides={"html": "words_seg"}) when a
# column is read mostly through selective scans.
# fsst_seg (shared symbol table + segmented code streams) measured at
# 200k pages rows (BENCH/ROUND4.md): vs seg:fsst it compresses slightly
# better (url 0.2259 vs 0.2274, html 0.0459 vs 0.0463) and
# selective-decodes ~1.7x faster on url; encode was 3-5x slower until
# sample-learned merge rounds + cache-chunked apply (kernels/fsst.py
# LEARN_MAX_BYTES/APPLY_CHUNK_BYTES) brought it within ~1.3x of
# seg:fsst at a better ratio (23 MB fixture: 7.0s vs 5.3s, 0.1498 vs
# 0.1507), making fsst_seg the preferred override for segmented
# strings; vs whole-block fsst it selective-decodes 4-19x faster at
# +1-8% ratio.
SEGMENTED_CODECS = ("words_seg", "fsst_seg")  # + any "seg:<inner>" wrapper name
INT_CODECS = ("plain", "for_bitpack", "dict_rle_int", "rle_int", "sortdelta")
FLOAT_CODECS = ("plain", "dec_scale", "xor_float")
# float32 vectors (embeddings): u32 element offsets + raw little-endian
# float32 values. Dense embeddings are near-incompressible, so the only
# codec is the offset/values layout; the generic entropy backstop
# (_maybe_zlib) still fires when a table IS compressible (zero-padded
# or quantized vectors).
VEC_CODECS = ("vec_plain",)
TYPE_DEFAULT_CODEC = {
    "string": "fsst",
    "binary": "fsst",
    "int64": "for_bitpack",
    "timestamp": "for_bitpack",
    "timestamp_ntz": "for_bitpack",
    "double": "plain",
    "float_array": "vec_plain",
}


MAX_BLOCK_BYTES = 1 << 31  # offsets are 32-bit (u32 on disk, int32 in Arrow)


def _check_block_bytes(total: int) -> None:
    """Block formats carry 32-bit offsets and decode to non-large Arrow
    string/binary arrays (int32 offsets): a bucket-column over 2 GiB would
    silently wrap instead of failing. Raise at encode time — the fix is
    more buckets (smaller blocks), not wider offsets."""
    if total >= MAX_BLOCK_BYTES:
        raise ValueError(
            f"bucket-column holds {total} bytes, over the 2 GiB block limit "
            "(32-bit offsets); increase num_buckets so blocks shrink"
        )


# ---------------------------------------------------------------- validity

def _split_nulls(series: pd.Series):
    mask = series.notna().to_numpy(dtype=bool)
    has_nulls = not mask.all()
    vblob = np.packbits(mask, bitorder="little").tobytes() if has_nulls else b""
    return mask, vblob


def _validity(meta: dict, payload: bytes, n: int):
    nb = meta.get("null_nbytes", 0)
    if nb == 0:
        return None, payload
    mask = np.unpackbits(np.frombuffer(payload, np.uint8, count=nb), count=n, bitorder="little").astype(bool)
    return mask, payload[nb:]


# ---------------------------------------------------------------- bytes domain

def _to_bytes_list(series: pd.Series, mask: np.ndarray, typ: str) -> list[bytes]:
    vals = series.to_numpy(dtype=object)
    if typ == "string":
        return [vals[i].encode("utf-8") if mask[i] else b"" for i in range(len(vals))]
    return [bytes(vals[i]) if mask[i] else b"" for i in range(len(vals))]


def _from_bytes_list(values: list[bytes], mask, typ: str) -> pd.Series:
    out = np.empty(len(values), dtype=object)
    if typ == "string":
        for i, v in enumerate(values):
            out[i] = v.decode("utf-8")
    else:
        for i, v in enumerate(values):
            out[i] = v
    if mask is not None:
        out[~mask] = None
    return pd.Series(out, dtype=object)


def _to_int64(series: pd.Series, mask: np.ndarray, typ: str) -> np.ndarray:
    if typ.startswith("timestamp"):
        v = series.astype("datetime64[us]").to_numpy().view(np.int64).copy()
        v[~mask] = 0
        return v
    return series.astype("Int64").fillna(0).to_numpy(dtype=np.int64)


def _from_int64(arr: np.ndarray, mask, typ: str) -> pd.Series:
    if typ.startswith("timestamp"):
        ts = pd.Series(arr.view("datetime64[us]"))
        if mask is not None:
            ts[~mask] = pd.NaT
        return ts
    out = pd.Series(arr.astype(np.int64), dtype="Int64")
    if mask is not None:
        out[~mask] = pd.NA
    return out


# ---------------------------------------------------------------- doubles

def _encode_double(v: np.ndarray, codec: str, meta: dict) -> tuple[bytes, str]:
    """Shared double-column encoder (pandas and Arrow paths feed the same
    float64 array). dec_scale re-verifies bitwise exactness over the FULL
    block and falls back to xor_float if a value breaks it (the selector
    only saw a sample); the actual codec lands in meta["codec"]."""
    if codec == "dec_scale":
        s = floats.find_dec_scale(v)
        if s < 0:
            codec = "xor_float"
        else:
            body, fm = floats.encode_dec_scale(v, s)
            meta.update(fm)
    if codec == "xor_float":
        body = floats.encode_xor(v)
    elif codec == "plain":
        body = v.astype("<f8").tobytes()
    elif codec != "dec_scale":
        raise ValueError(f"codec {codec!r} not valid for type 'double'")
    meta["codec"] = codec
    return body, codec


def _decode_double(body: bytes, meta: dict, n: int) -> np.ndarray:
    codec = meta["codec"]
    if codec == "plain":
        return np.frombuffer(body, dtype="<f8", count=n).astype(np.float64)
    if codec == "dec_scale":
        return floats.decode_dec_scale(body, meta)
    if codec == "xor_float":
        return floats.decode_xor(body, n)
    raise ValueError(f"unknown codec {codec!r}")


# ---------------------------------------------------------------- encode/decode

SEG_ROWS = 8192  # rows per independently decodable segment (seg: codecs)


def encode_segmented(series: pd.Series, inner: str, typ: str) -> tuple[bytes, dict]:
    """Wrap any codec into fixed-row segments, each a complete inner
    block (parquet data-page analogue). The payload is the segments'
    concatenation; meta records per-segment byte lengths + inner metas,
    so a selective decode (decode_column_selected) touches only the
    segments whose rows the scan mask selects. Rows are key-sorted
    within a block, so host-correlated predicates (lang, source) select
    CONTIGUOUS row ranges — segment skipping then reads ~selectivity of
    the payload instead of all of it. Each segment carries its own
    entropy backstop; no outer compression is applied."""
    n = len(series)
    parts: list[bytes] = []
    inner_metas: list[dict] = []
    for off in range(0, n, SEG_ROWS):
        payload, m = encode_column(series.iloc[off : off + SEG_ROWS], inner, typ)
        parts.append(payload)
        inner_metas.append(m)
    meta = {
        "codec": f"seg:{inner}", "type": typ, "n": n,
        "seg_lens": [len(p) for p in parts], "inner": inner_metas,
    }
    return b"".join(parts), meta


def decode_segmented(payload: bytes, meta: dict) -> pd.Series:
    parts = []
    off = 0
    for m, ln in zip(meta["inner"], meta["seg_lens"]):
        parts.append(decode_column(payload[off : off + ln], m))
        off += ln
    if not parts:
        return pd.Series([], dtype=object)
    return pd.concat(parts, ignore_index=True)


def decode_column_selected(payload: bytes, meta: dict, sel) -> pd.Series:
    """Rows `sel` (bool array, len n) selects, in order. Segment-skipping
    for seg: codecs; decode-all-then-filter otherwise."""
    import numpy as np

    sel = np.asarray(sel, dtype=bool)
    if meta["codec"] == "words_seg":
        mask, body = _validity(meta, payload, meta["n"])
        data = words.decode_shared(body, meta["words_seg"], sel)
        m2 = mask[sel] if mask is not None else None
        return _from_bytes_list(data, m2, meta["type"]).reset_index(drop=True)
    if meta["codec"] == "fsst_seg":
        mask, body = _validity(meta, payload, meta["n"])
        data = fsst.decode_shared_seg(body, meta["fsst_seg"], sel)
        m2 = mask[sel] if mask is not None else None
        return _from_bytes_list(data, m2, meta["type"]).reset_index(drop=True)
    if not meta["codec"].startswith("seg:"):
        s = decode_column(payload, meta)
        return s[sel].reset_index(drop=True)
    parts = []
    off_b = 0
    off_r = 0
    for m, ln in zip(meta["inner"], meta["seg_lens"]):
        seg_sel = sel[off_r : off_r + m["n"]]
        if seg_sel.any():
            s = decode_column(payload[off_b : off_b + ln], m)
            parts.append(s[seg_sel])
        off_b += ln
        off_r += m["n"]
    if not parts:
        return pd.Series([], dtype=object)
    return pd.concat(parts, ignore_index=True)


def encode_column(series: pd.Series, codec: str, typ: str) -> tuple[bytes, dict]:
    """Encode one column chunk. Deterministic for a given (series, codec)."""
    if codec.startswith("seg:"):
        return encode_segmented(series, codec[4:], typ)
    n = len(series)
    mask, vblob = _split_nulls(series)
    meta: dict = {"codec": codec, "type": typ, "n": n, "null_nbytes": len(vblob)}

    if typ in ("string", "binary"):
        data = _to_bytes_list(series, mask, typ)
        _check_block_bytes(sum(len(v) for v in data))
        if codec == "plain":
            # u32 offsets (checked above: blocks must stay < 2 GiB)
            offs = np.zeros(n + 1, dtype="<u4")
            offs[1:] = np.cumsum([len(v) for v in data], dtype=np.uint64)
            body = offs.tobytes() + b"".join(data)
        elif codec in ("dict", "dict_rle"):
            arr = np.empty(n, dtype=object)
            arr[:] = data
            codes, dictionary = dictenc.build_dictionary(arr)
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
            sample = data[: min(n, 4096)]
            table = fsst.train(sample)
            body, fmeta = fsst.encode(data, table)
            meta["fsst"] = fmeta
        elif codec == "words":
            body, wmeta = words.encode(data)
            meta["words"] = wmeta
        elif codec == "words_seg":
            # shared-dict segments: per-segment backstops inside the
            # kernel; no outer compression (it would force whole-block
            # decompress and defeat segment skipping)
            codes, counts, dictionary = words.tokenize_dict(data)
            body, wmeta = words.encode_shared(codes, counts, dictionary, SEG_ROWS)
            meta["words_seg"] = wmeta
            return vblob + body, meta
        elif codec == "fsst_seg":
            # shared symbol table + segmented code streams (words_seg's
            # layout applied to FSST); per-segment backstops, no outer
            # compression
            buf = np.frombuffer(b"".join(data), dtype=np.uint8)
            lens = np.array([len(v) for v in data], dtype=np.int64)
            body, fmeta = fsst.encode_shared_seg(buf, lens, SEG_ROWS)
            meta["fsst_seg"] = fmeta
            return vblob + body, meta
        elif codec == "prefix":
            body, pmeta = prefix.encode(data)
            meta["prefix"] = pmeta
        else:
            raise ValueError(f"codec {codec!r} not valid for type {typ!r}")

    elif typ in ("int64", "timestamp", "timestamp_ntz"):
        v = _to_int64(series, mask, typ)
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
            # dict over distinct ints (low-cardinality ids), then RLE
            uniq, codes = np.unique(v, return_inverse=True)
            rle_blob, rmeta = rle.encode(codes.astype(np.uint64))
            meta["rle"] = rmeta
            meta["dict_size"] = len(uniq)
            body = uniq.astype("<i8").tobytes() + rle_blob
        else:
            raise ValueError(f"codec {codec!r} not valid for type {typ!r}")

    elif typ == "double":
        v = series.to_numpy(dtype=np.float64).copy()
        v[~mask] = 0.0
        body, codec = _encode_double(v, codec, meta)

    elif typ == "float_array":
        if codec != "vec_plain":
            raise ValueError(f"codec {codec!r} not valid for type {typ!r}")
        vals = series.to_numpy(dtype=object)
        lens = np.array(
            [len(vals[i]) if mask[i] else 0 for i in range(n)], dtype=np.int64
        )
        _check_block_bytes(int(lens.sum()) * 4)
        offs = np.zeros(n + 1, dtype="<u4")
        offs[1:] = np.cumsum(lens, dtype=np.uint64)
        flat = (
            np.concatenate([np.asarray(vals[i], dtype="<f4")
                            for i in range(n) if mask[i] and lens[i]])
            if int(lens.sum())
            else np.zeros(0, dtype="<f4")
        )
        body = offs.tobytes() + flat.astype("<f4").tobytes()
    else:
        raise ValueError(f"unknown type {typ!r}")

    return _maybe_zlib(vblob + body, meta), meta


def decode_column(payload: bytes, meta: dict) -> pd.Series:
    n, typ, codec = meta["n"], meta["type"], meta["codec"]
    if codec.startswith("seg:"):
        return decode_segmented(payload, meta)
    payload = _maybe_unzlib(payload, meta)
    mask, body = _validity(meta, payload, n)

    if typ in ("string", "binary"):
        if codec == "plain":
            offs = np.frombuffer(body, dtype="<u4", count=n + 1).astype(np.int64)
            base = 4 * (n + 1)
            data = [body[base + offs[i] : base + offs[i + 1]] for i in range(n)]
        elif codec in ("dict", "dict_rle"):
            dict_blob = body[: meta["dict_nbytes"]]
            dictionary = dictenc.deserialize_dictionary(dict_blob)
            rest = body[meta["dict_nbytes"] :]
            if codec == "dict":
                codes = bitpack.unpack(rest, meta["code_width"], n)
            else:
                codes = rle.decode(rest, meta["rle"])
            lut = np.empty(max(len(dictionary), 1), dtype=object)
            for i, v in enumerate(dictionary):
                lut[i] = v
            data = list(lut[codes.astype(np.int64)]) if n else []
        elif codec == "fsst":
            data = fsst.decode(body, meta["fsst"])
        elif codec == "words":
            data = words.decode(body, meta["words"])
        elif codec == "words_seg":
            data = words.decode_shared(body, meta["words_seg"])
        elif codec == "fsst_seg":
            data = fsst.decode_shared_seg(body, meta["fsst_seg"])
        elif codec == "prefix":
            data = prefix.decode(body, meta["prefix"])
        else:
            raise ValueError(f"unknown codec {codec!r}")
        return _from_bytes_list(data, mask, typ)

    if typ in ("int64", "timestamp", "timestamp_ntz"):
        if codec == "plain":
            v = np.frombuffer(body, dtype="<i8", count=n).astype(np.int64)
        elif codec == "for_bitpack":
            v = foren.decode(body, meta["for"])
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
        return _from_int64(np.asarray(v), mask, typ)

    if typ == "double":
        v = _decode_double(body, meta, n)
        if mask is None:
            return pd.Series(v)
        out = pd.Series(v, dtype="Float64")
        out[~mask] = pd.NA
        return out

    if typ == "float_array":
        offs = np.frombuffer(body, dtype="<u4", count=n + 1).astype(np.int64)
        flat = np.frombuffer(body[4 * (n + 1):], dtype="<f4",
                             count=int(offs[-1]))
        out = np.empty(n, dtype=object)
        for i in range(n):
            out[i] = flat[offs[i]:offs[i + 1]].copy()
        if mask is not None:
            out[~mask] = None
        return pd.Series(out, dtype=object)

    raise ValueError(f"unknown type {typ!r}")
