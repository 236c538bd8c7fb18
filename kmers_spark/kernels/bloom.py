"""Per-bucket key Bloom filters (Iceberg puffin / Parquet bloom
analogue), stored as sidecar files inside each wave directory.

The filter is built from the bucket's key column in the same task pass
that encodes the bucket (wavewrite.with_blooms, beside
make_encode_fn_arrow) and handed to the write protocol
(kmers_spark/wavewrite.py) as a tagged row of the block stream. The
writing task stages it as a hidden file beside the bucket's staged
data file; the driver's publish renames the claimed file to
`<wave_dir>/_blooms/b<bucket>_<uuid>.bloom` — no driver collect, no
second job, and the underscore prefix keeps Spark and pyarrow dataset
listings blind to it (the same convention the spilled stats files rely
on). A failed or speculative attempt's staged filter is never claimed,
so a filter is visible iff its bucket's data is, and each bucket of a
wave has at most one. The commit registers which buckets of the wave
carry a filter (manifest `bloom_buckets`, from the claimed records),
so readers never have to guess coverage from file existence alone.

Every writer (encode_table, the delete/upsert merge-on-write,
compact_stream, both DataSource sinks) stages filters this one way,
and every writer that re-encodes a bucket regenerates its filter in
the same pass; blooms of untouched buckets consolidated into a rewrite
wave are copied forward driver-side (small metadata files, like the
spilled-stats consolidation in compact_waves). A replayed or aborted
micro-batch's staged blooms are cleaned with its data. Readers treat a
missing filter as "maybe present" — pre-bloom snapshots and partial
coverage degrade to today's behavior, never to wrong answers.

lookup_keys probes filters driver-side (a few KB per candidate
bucket), dropping buckets where every probe key tests negative — an
absent key INSIDE a bucket's recorded key range then costs a ~KB
metadata read instead of a bucket decode.

`encode_table(bloom_columns=[...])` extends the same machinery to
NON-key string/int64 columns: per-bucket sidecars named
c<bucket>_<colhex>_<uuid>.bloom, registered per wave under manifest
`bloom_cols` ({column: [buckets]}), probed by scan_table /
the DataSource / agg_table for `=` and `in` predicates — the pruning
layer zone bounds cannot provide on high-cardinality equality probes
(an exact URL is inside every bucket's min/max on a hash-bucketed
store, but in only ~1 bucket's filter). Mutations regenerate rewritten
buckets' column filters in the same kernel pass; upsert never carries
an affected bucket's old column filter forward (equal-count upserts
keep the key SET but may change every VALUE — see carry_forward).

Hashing is engine-defined (recorded in the row's meta as `algo`), NOT
Spark's xxhash64: it must run vectorized over Arrow string buffers in
the encode kernel and per-key in pure Python at probe time. Scheme
"poly64sm-1": two independent 64-bit polynomial rolling hashes
(Horner, distinct odd multipliers, bytes offset by +1 so trailing NULs
count) finalized with the splitmix64 avalanche, combined by double
hashing h1 + j*h2 (Kirsch-Mitzenmacher) into k probe positions.
"""

from __future__ import annotations

import json
import os
import struct
import uuid

import numpy as np

BLOOM_DIR = "_blooms"
SUFFIX = ".bloom"
ALGO = "poly64sm-1"

_P1 = np.uint64(0x9E3779B97F4A7C15)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_MASK = (1 << 64) - 1

DEFAULT_BITS_PER_KEY = 10
DEFAULT_K = 7
# beyond this the filter stops paying for its storage (fpr still
# ~1% at 10 bits/key; 2^27 bits = 16 MiB per bucket ceiling)
MAX_BITS = 1 << 27

_pow_cache: dict[int, np.ndarray] = {}


def _pow_table(p: np.uint64, n: int) -> np.ndarray:
    """[p^0, p^1, ..., p^(n-1)] mod 2^64 (grown geometrically, cached
    per multiplier — key lengths are bounded by the longest key seen)."""
    t = _pow_cache.get(int(p))
    if t is None or len(t) < n:
        size = max(n, 1024, 0 if t is None else 2 * len(t))
        with np.errstate(over="ignore"):
            t = np.empty(size, np.uint64)
            t[0] = 1
            t[1:] = p
            np.multiply.accumulate(t, out=t)
        _pow_cache[int(p)] = t
    return t[:n]


def _mix64_np(h: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = h ^ (h >> np.uint64(30))
        h = h * _M1
        h = h ^ (h >> np.uint64(27))
        h = h * _M2
        return h ^ (h >> np.uint64(31))


def _mix64_py(h: int) -> int:
    h &= _MASK
    h ^= h >> 30
    h = (h * int(_M1)) & _MASK
    h ^= h >> 27
    h = (h * int(_M2)) & _MASK
    return h ^ (h >> 31)


def _poly_hashes_bytes_np(buf: np.ndarray, offs: np.ndarray
                          ) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 per key over a flat byte buffer + offsets
    (zonemap/arrowview bytes_view layout). Equals the per-key Horner
    loop in _poly_hashes_bytes_py, computed as a positional sum with
    precomputed power tables + segmented reduceat."""
    offs = offs.astype(np.int64)
    n = len(offs) - 1
    lens = np.diff(offs)
    h1 = np.zeros(n, np.uint64)
    h2 = np.zeros(n, np.uint64)
    if buf.size:
        # exponent of each byte: len-1-i within its key, global form
        idx = np.arange(offs[0], offs[-1], dtype=np.int64)
        ends = np.repeat(offs[1:], lens)
        exp = ends - 1 - idx
        b = buf[offs[0]:offs[-1]].astype(np.uint64) + np.uint64(1)
        starts = (offs[:-1] - offs[0])
        maxlen = int(lens.max())
        with np.errstate(over="ignore"):
            c1 = b * _pow_table(_P1, maxlen)[exp]
            c2 = b * _pow_table(_P2, maxlen)[exp]
        # reduceat can't take an index == len(a): guard trailing
        # empties with a sentinel element
        c1 = np.append(c1, np.uint64(0))
        c2 = np.append(c2, np.uint64(0))
        with np.errstate(over="ignore"):
            raw1 = np.add.reduceat(c1, starts)
            raw2 = np.add.reduceat(c2, starts)
        # reduceat yields a[start] for empty segments: zero them
        empty = lens == 0
        raw1[empty] = 0
        raw2[empty] = 0
        h1, h2 = raw1, raw2
    ul = lens.astype(np.uint64)
    with np.errstate(over="ignore"):
        h1 = _mix64_np(h1 ^ ul)
        h2 = _mix64_np(h2 + ul) | np.uint64(1)  # odd: double-hash step
    return h1, h2


def _poly_hashes_bytes_py(data: bytes) -> tuple[int, int]:
    raw1 = raw2 = 0
    for b in data:
        raw1 = (raw1 * int(_P1) + b + 1) & _MASK
        raw2 = (raw2 * int(_P2) + b + 1) & _MASK
    ln = len(data)
    return (_mix64_py(raw1 ^ ln), _mix64_py((raw2 + ln) & _MASK) | 1)


def _poly_hashes_int_np(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    u = v.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        return (_mix64_np(u ^ _P1),
                _mix64_np(u ^ _P2) | np.uint64(1))


def _poly_hashes_int_py(v: int) -> tuple[int, int]:
    u = v & _MASK
    return (_mix64_py(u ^ int(_P1)), _mix64_py(u ^ int(_P2)) | 1)


def build_from_hashes(h1: np.ndarray, h2: np.ndarray,
                      bits_per_key: int = DEFAULT_BITS_PER_KEY,
                      k: int = DEFAULT_K) -> tuple[bytes, dict]:
    """(payload, meta) for a bucket's non-null key hashes. Sizing
    rounds up to whole 64-bit words; capped at MAX_BITS (meta records
    the real parameters, so an overfull filter just raises fpr — it
    never lies)."""
    n = len(h1)
    m_bits = max(64, ((n * bits_per_key + 63) // 64) * 64)
    m_bits = min(m_bits, MAX_BITS)
    bits = np.zeros(m_bits // 8, np.uint8)
    m = np.uint64(m_bits)
    with np.errstate(over="ignore"):
        for j in range(k):
            pos = (h1 + np.uint64(j) * h2) % m
            np.bitwise_or.at(
                bits, (pos >> np.uint64(3)).astype(np.int64),
                np.left_shift(
                    np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                ),
            )
    meta = {"algo": ALGO, "m_bits": m_bits, "k": k, "n_keys": n}
    return bits.tobytes(), meta


def build_for_key_arrow(arr, typ: str,
                        bits_per_key: int = DEFAULT_BITS_PER_KEY,
                        k: int = DEFAULT_K) -> tuple[bytes, dict] | None:
    """Bloom over an Arrow key array (string or int64 — the key types
    encode_table accepts). None for other types / empty input (a null
    key never matches a probe, so nulls are dropped)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    if len(arr) == 0:
        return None
    if typ == "string":
        from .. import arrowview as av

        buf, offs = av.bytes_view(arr)
        h1, h2 = _poly_hashes_bytes_np(buf, offs)
    elif typ == "int64":
        h1, h2 = _poly_hashes_int_np(
            arr.to_numpy(zero_copy_only=False).astype(np.int64)
        )
    else:
        return None
    return build_from_hashes(h1, h2, bits_per_key, k)


# ------------------------------------------------------------- sidecars

def sweep_stages(blocks_root: str, live_basenames: set[str],
                 grace_sec: float) -> None:
    """Remove `.bloomstage-<wave>` dirs, where writers older than the
    staged-file protocol (kmers_spark/wavewrite.py) staged filters,
    whose wave is gone or whose write crashed (same grace rule as
    sweep_orphan_waves, which calls this — a stage for a LIVE in-flight
    wave is younger than the grace)."""
    import shutil
    import time

    try:
        names = os.listdir(blocks_root)
    except FileNotFoundError:
        return
    now = time.time()
    for n in names:
        if not n.startswith(".bloomstage-"):
            continue
        wave = n[len(".bloomstage-"):]
        p = os.path.join(blocks_root, n)
        try:
            old = now - os.path.getmtime(p) > grace_sec
        except OSError:
            continue
        if wave not in live_basenames and old:
            shutil.rmtree(p, ignore_errors=True)


def write_named(dir_: str, name: str, payload: bytes, meta: dict) -> str:
    """Atomic write of a sidecar under an explicit name: stage under a
    hidden temp name, then same-dir rename — a listed file is always
    complete. Format: u32 header length + JSON meta + raw bit array."""
    os.makedirs(dir_, exist_ok=True)
    header = json.dumps(meta, sort_keys=True).encode()
    tmp = os.path.join(dir_, f".tmp-{uuid.uuid4().hex[:8]}-{name.lstrip('.')}")
    with open(tmp, "wb") as f:
        f.write(struct.pack("<I", len(header)))
        f.write(header)
        f.write(payload)
    final = os.path.join(dir_, name)
    os.replace(tmp, final)
    return final


def sidecar_name(bucket: int) -> str:
    return f"b{int(bucket)}_{uuid.uuid4().hex[:12]}{SUFFIX}"


def write_sidecar(bloom_dir: str, bucket: int, payload: bytes,
                  meta: dict) -> str:
    """Write under the canonical b<bucket>_<uuid> name."""
    return write_named(bloom_dir, sidecar_name(bucket), payload, meta)


def col_sidecar_name(bucket: int, col: str) -> str:
    """Sidecar name for a NON-key column filter (`bloom_columns=`):
    the column name rides hex-encoded so parsing never fights the
    underscores/uuid layout and arbitrary column names stay legal.
    Starts with 'c', so list_sidecars (key filters, 'b' prefix)
    ignores these and pre-column-bloom readers never misparse one."""
    return (f"c{int(bucket)}_{col.encode('utf-8').hex()}_"
            f"{uuid.uuid4().hex[:12]}{SUFFIX}")


def read_sidecar(path: str) -> tuple[bytes, dict]:
    with open(path, "rb") as f:
        (hlen,) = struct.unpack("<I", f.read(4))
        meta = json.loads(f.read(hlen))
        return f.read(), meta


def list_sidecars(bloom_dir: str) -> dict[int, list[str]]:
    """{bucket: [paths]} of completed sidecars in a wave's bloom dir
    (retries may leave several per bucket — identical content, pick
    any). Empty dict when the dir doesn't exist."""
    try:
        names = os.listdir(bloom_dir)
    except FileNotFoundError:
        return {}
    out: dict[int, list[str]] = {}
    for n in names:
        if not (n.startswith("b") and n.endswith(SUFFIX)):
            continue
        try:
            b = int(n[1:].split("_", 1)[0])
        except ValueError:
            continue
        out.setdefault(b, []).append(os.path.join(bloom_dir, n))
    return out


def list_col_sidecars(bloom_dir: str) -> dict[str, dict[int, list[str]]]:
    """{column: {bucket: [paths]}} of completed NON-key column sidecars
    (c<bucket>_<colhex>_<uuid>.bloom). Unparseable names are skipped —
    a reader never errors on foreign files in the dir."""
    try:
        names = os.listdir(bloom_dir)
    except FileNotFoundError:
        return {}
    out: dict[str, dict[int, list[str]]] = {}
    for n in names:
        if not (n.startswith("c") and n.endswith(SUFFIX)):
            continue
        parts = n[1 : -len(SUFFIX)].split("_")
        if len(parts) != 3:
            continue
        try:
            b = int(parts[0])
            col = bytes.fromhex(parts[1]).decode("utf-8")
        except ValueError:
            continue
        out.setdefault(col, {}).setdefault(b, []).append(
            os.path.join(bloom_dir, n)
        )
    return out


def carry_forward(
    out_dir: str, m: dict, retired: list[str], new_dir: str,
    changed: set[int], changed_cols: set[int] | None = None,
) -> tuple[list[int], dict[str, list[int]]]:
    """Consolidating rewrites (operators/rewrite.commit_rewrite, behind
    delete_keys, upsert_table and compact_waves) retire whole wave dirs;
    buckets that passed through verbatim keep EXACTLY their old key
    set, so their old filters stay exact — copy them into the new
    wave's bloom dir (small driver-side metadata copies, the spilled-
    stats consolidation pattern). `changed` buckets (key set altered,
    fresh filter published with the re-encoded bucket or intentionally
    absent for an emptied bucket) are never copied.

    `changed_cols` plays the same role for NON-key column sidecars
    (bloom_cols registration) and may be WIDER than `changed`: a
    rewrite that appends rows may replace them key-for-key (old KEY
    filter stays exact) yet change every non-key VALUE, so such a
    rewrite passes its whole rewritten set here — a stale value filter
    would prune rows that exist. Defaults to `changed` (a rewrite that
    only removes rows keeps every surviving value, so count-unchanged
    buckets are exact for every column).

    Returns (key bloom-bucket list, {column: bucket list}) for the
    manifest swap."""
    import shutil

    if changed_cols is None:
        changed_cols = changed
    bdir = os.path.join(new_dir, BLOOM_DIR)
    have = set(list_sidecars(bdir))
    bb = m.get("bloom_buckets") or {}
    copied: set[int] = set()
    for d in retired:
        src = None
        for b in bb.get(d, []):
            b = int(b)
            if b in have or b in copied or b in changed:
                continue
            if src is None:
                src = list_sidecars(os.path.join(out_dir, d, BLOOM_DIR))
            paths = src.get(b)
            if not paths:
                continue  # registered but vanished: degrade to no filter
            os.makedirs(bdir, exist_ok=True)
            shutil.copy(paths[0],
                        os.path.join(bdir, os.path.basename(paths[0])))
            copied.add(b)
    # column sidecars: same copy rule against the bloom_cols registration
    col_have = list_col_sidecars(bdir)
    col_done: dict[str, set[int]] = {c: set(v) for c, v in col_have.items()}
    bc = m.get("bloom_cols") or {}
    for d in retired:
        src_cols = None
        for col, bkts in (bc.get(d) or {}).items():
            for b in bkts:
                b = int(b)
                if b in col_done.get(col, ()) or b in changed_cols:
                    continue
                if src_cols is None:
                    src_cols = list_col_sidecars(
                        os.path.join(out_dir, d, BLOOM_DIR)
                    )
                paths = (src_cols.get(col) or {}).get(b)
                if not paths:
                    continue  # vanished: degrade to no filter
                os.makedirs(bdir, exist_ok=True)
                shutil.copy(paths[0],
                            os.path.join(bdir, os.path.basename(paths[0])))
                col_done.setdefault(col, set()).add(b)
    return sorted(have | copied), {c: sorted(v) for c, v in col_done.items()}


def swap_registration(cur: dict, retired: set[str], new_rel: str,
                      new_bloom: list[int],
                      new_cols: dict[str, list[int]] | None = None) -> None:
    """Shared manifest-swap step for consolidating rewrites
    (delete/upsert/compact): drop retired waves' bloom registrations,
    register the new wave's. Mutates `cur` in place inside the
    caller's CAS mutation."""
    bbm = cur.get("bloom_buckets")
    if bbm or new_bloom:
        bbm = {k: v for k, v in (bbm or {}).items() if k not in retired}
        if new_bloom:
            bbm[new_rel] = new_bloom
        if bbm:
            cur["bloom_buckets"] = bbm
        else:
            cur.pop("bloom_buckets", None)
    bcm = cur.get("bloom_cols")
    if bcm or new_cols:
        bcm = {k: v for k, v in (bcm or {}).items() if k not in retired}
        if new_cols:
            bcm[new_rel] = new_cols
        if bcm:
            cur["bloom_cols"] = bcm
        else:
            cur.pop("bloom_cols", None)


def changed_buckets(affected, fresh: dict, old_stats: dict,
                    rows_of) -> set[int]:
    """Buckets whose row count changed across a merge-on-write rewrite
    — their key sets differ, so their OLD filters must not be carried
    forward (equal counts imply an unchanged key set: a bucket no probe
    hit passes through verbatim, and an equal-count rewrite that
    appended rows replaced them key-for-key — both keep the old filter
    exact)."""
    return {
        b for b in affected
        if rows_of(fresh[b]) != rows_of(old_stats.get(str(b), []))
    }


def probe(payload: bytes, meta: dict, key) -> bool:
    """True = MAYBE present, False = definitely absent. `key` is a
    python str or int matching the store's key type."""
    if meta.get("algo") != ALGO:
        return True  # unknown scheme: cannot prune
    m_bits = int(meta["m_bits"])
    k = int(meta["k"])
    if isinstance(key, str):
        h1, h2 = _poly_hashes_bytes_py(key.encode("utf-8"))
    elif isinstance(key, (bytes, bytearray)):
        h1, h2 = _poly_hashes_bytes_py(bytes(key))
    else:
        h1, h2 = _poly_hashes_int_py(int(key))
    for j in range(k):
        # mod-2^64 wrap first: the build side runs in uint64
        pos = ((h1 + j * h2) & _MASK) % m_bits
        if not (payload[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True
