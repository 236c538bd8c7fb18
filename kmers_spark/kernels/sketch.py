"""Per-block HyperLogLog distinct sketches (the `zhll` stat).

`encode_table(ndv_columns=[...])` records, for each opted-in
string/int64 column, a small HLL register array per (bucket, column,
generation) block — built inside the encode kernels from the same
vectorized poly64sm hashes the Bloom sidecars use (kernels/bloom.py),
serialized into the block's stat entry, and maintained by the same
machinery that keeps zone bounds exact (merge-on-write rewrites
regenerate, verbatim carries keep, sinks stream per generation).

Why a sketch when `zndv` already records the block's EXACT distinct
count: exact per-block counts only ADD when the bucket scheme makes
key sets bucket-disjoint (operators/agg.py eligibility) — they answer
count(DISTINCT key) on hash/salted stores and nothing else. HLL
register-max union is insensitive to overlap, so merged sketches
answer approx_count_distinct for ANY column over ANY layout the
engine can produce: non-key columns, range-clustered-on-other-column
stores, externally-bucketed sink stores, and streamed stores whose
generations share keys — all with ZERO Spark jobs. At 10^12 rows,
"roughly how many distinct hosts does the crawl hold" becomes a
driver-side register walk. (The per-block-sketch design is the
Druid/Pinot/Snowflake pattern; the estimator is the published
HyperLogLog of Flajolet, Fusy, Gandouet & Meunier, AofA 2007, with
the standard small-range linear-counting correction. 64-bit hashes
make the large-range correction unnecessary.)

Determinism invariant (tested): building one sketch over all values
equals max-merging per-block sketches — HLL is a lattice homomorphism
— so `approx_count_distinct` returns the SAME estimate whether every
block carried a sketch or some buckets had to decode: decoded values
are hashed through this same kernel and merged, never counted by a
different algorithm.

Size: p=10 -> 1024 1-byte registers, standard error ~1.04/sqrt(1024)
= 3.2%; serialized as zlib+base64 (~40 B for low-cardinality blocks,
<=1.4 KB dense). Stat entries carrying sketches count toward a
byte-aware spill trigger (manifest.STATS_SPILL_BYTES) so wide stores
move them into per-wave spill files instead of the root manifest.
"""

from __future__ import annotations

import base64
import math
import zlib

import numpy as np

from .bloom import _poly_hashes_bytes_np, _poly_hashes_int_np

P = 10                      # 2^10 = 1024 registers
M = 1 << P
ALGO = f"hll-poly64sm-p{P}"
_RANK_CAP = 64 - P + 1      # rank of an all-zero (64-P)-bit suffix
_ALPHA = 0.7213 / (1.0 + 1.079 / M)


def _clz64(x: np.ndarray) -> np.ndarray:
    """Exact vectorized count-leading-zeros over uint64 (x == 0 -> 64).
    float log2 would misround near 2^64; six compare-and-shift passes
    are exact and stay vectorized."""
    x = x.copy()
    res = np.zeros(x.shape, np.int64)
    zero = x == 0
    for s in (32, 16, 8, 4, 2, 1):
        small = x < (np.uint64(1) << np.uint64(64 - s))
        res += np.where(small, s, 0)
        x = np.where(small, x << np.uint64(s), x)
    res[zero] = 64
    return res


def hll_from_hashes(h1: np.ndarray) -> np.ndarray:
    """uint8[M] registers from 64-bit hashes: top P bits pick the
    register, the rank is 1 + leading zeros of the remaining bits."""
    regs = np.zeros(M, np.uint8)
    if len(h1) == 0:
        return regs
    idx = (h1 >> np.uint64(64 - P)).astype(np.int64)
    rest = h1 << np.uint64(P)
    rank = np.minimum(_clz64(rest) + 1, _RANK_CAP).astype(np.uint8)
    np.maximum.at(regs, idx, rank)
    return regs


def hll_build_arrow(arr, typ: str) -> np.ndarray | None:
    """Registers over an Arrow array's NON-NULL values (count_distinct
    skips nulls). None for unsupported types; an all-null/empty block
    yields the zero sketch (estimate 0), NOT None — absence must mean
    "pre-sketch block", never "empty block"."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    if typ == "string":
        from .. import arrowview as av

        if len(arr) == 0:
            return np.zeros(M, np.uint8)
        buf, offs = av.bytes_view(arr)
        h1, _h2 = _poly_hashes_bytes_np(buf, offs)
    elif typ == "int64":
        if len(arr) == 0:
            return np.zeros(M, np.uint8)
        h1, _h2 = _poly_hashes_int_np(
            arr.to_numpy(zero_copy_only=False).astype(np.int64)
        )
    else:
        return None
    return hll_from_hashes(h1)


def merge(sketches: list[np.ndarray]) -> np.ndarray:
    """Register-wise max — exact union of the underlying value sets'
    sketches, whatever the overlap."""
    regs = np.zeros(M, np.uint8)
    for s in sketches:
        np.maximum(regs, s, out=regs)
    return regs


def estimate(regs: np.ndarray) -> float:
    """Bias-corrected harmonic-mean estimate with the small-range
    linear-counting switch (E <= 2.5m and empty registers exist)."""
    r = regs.astype(np.float64)
    e = _ALPHA * M * M / np.sum(np.exp2(-r))
    if e <= 2.5 * M:
        v = int(np.count_nonzero(regs == 0))
        if v:
            return M * math.log(M / v)
    return float(e)


def pack(regs: np.ndarray) -> str:
    """Stat-entry serialization: algo-prefixed zlib+base64 (the prefix
    pins P and the hash scheme, so a future parameter change reads old
    sketches as foreign instead of misdecoding them)."""
    return ALGO + ":" + base64.b64encode(
        zlib.compress(regs.tobytes(), 6)
    ).decode("ascii")


def unpack(s: str) -> np.ndarray | None:
    """None for foreign/corrupt payloads (callers treat that as a
    pre-sketch block and decode — degraded cost, never a wrong set)."""
    if not isinstance(s, str) or not s.startswith(ALGO + ":"):
        return None
    try:
        raw = zlib.decompress(base64.b64decode(s[len(ALGO) + 1:]))
    except Exception:
        return None
    if len(raw) != M:
        return None
    return np.frombuffer(raw, np.uint8).copy()
